"""Targeted unit tests for the training-data operators."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.functions import fuzzy
from aws_ipl_data_pipeline_spark.operators.asof import asof_join, range_join_bucketed
from aws_ipl_data_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
    shingle_jaccard_pairs,
)
from aws_ipl_data_pipeline_spark.operators.multimodal import extract_features
from aws_ipl_data_pipeline_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)

SF = "/root/testdata/sf0.001"


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double, tag string"
    )


def test_asof_join_strict_and_nonstrict(spark):
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = _events(
        spark,
        [
            (1, ts("2024-01-01 10:00:00"), 1.0, "L1"),
            (1, ts("2024-01-01 12:00:00"), 2.0, "L2"),
            (2, ts("2024-01-01 10:30:00"), 3.0, "L3"),
        ],
    )
    right = _events(
        spark,
        [
            (1, ts("2024-01-01 09:00:00"), 10.0, "R1"),
            (1, ts("2024-01-01 10:00:00"), 20.0, "R2"),  # equal-ts vs L1
            (1, ts("2024-01-01 11:00:00"), 30.0, "R3"),
            (2, ts("2024-01-01 11:00:00"), 40.0, "R4"),  # after L3
        ],
    )
    strict = {
        r["tag"]: r["asof_value"]
        for r in asof_join(left, right, "user_id", value_cols=["value"]).collect()
    }
    # L1 at 10:00 must NOT see R2 at 10:00 (strict <)
    assert strict == {"L1": 10.0, "L2": 30.0, "L3": None}
    nonstrict = {
        r["tag"]: r["asof_value"]
        for r in asof_join(
            left, right, "user_id", value_cols=["value"], strict=False
        ).collect()
    }
    assert nonstrict == {"L1": 20.0, "L2": 30.0, "L3": None}


def test_range_join_bucket_boundary(spark):
    """Pairs straddling a bucket boundary are still found (the +1
    neighbor bucket join)."""
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = _events(spark, [(1, ts("2024-01-01 10:04:59"), 0.0, "L")])
    right = _events(
        spark,
        [
            (1, ts("2024-01-01 10:05:01"), 1.0, "in-next-bucket"),
            (1, ts("2024-01-01 10:09:58"), 2.0, "in-window-edge"),
            (1, ts("2024-01-01 10:10:00"), 3.0, "outside"),
            (1, ts("2024-01-01 10:04:00"), 4.0, "before"),
        ],
    )
    out = range_join_bucketed(left, right, "user_id", window_seconds=300)
    tags = sorted(r["r_tag"] for r in out.collect())
    assert tags == ["in-next-bucket", "in-window-edge"]


def test_minhash_recall_equals_exact(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]) for r in shingle_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert lsh == exact  # precision exact by construction; recall on this corpus


def test_minhash_hot_bucket_star_fallback(spark):
    """Degenerate corpus (1k boilerplate-identical docs): every band
    bucket blows past the ceiling, so candidates come from the O(b)
    star fallback, not an O(b²) self-join — and because the docs are
    true duplicates, exact verification keeps every star pair: the
    whole cluster stays connected through the pivot."""
    txt = "the same boilerplate sentence repeated across the whole crawl"
    rows = [(i, txt) for i in range(1000)] + [
        (2000, "a genuinely unique document about something else entirely"),
        (2001, "another unique document with its own words and phrasing"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_lsh_pairs(docs, threshold=0.8, max_bucket_size=64).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # exactly the star: pivot 0 paired with each of the other 999 dups
    assert got == {(0, i) for i in range(1, 1000)}
    assert all(r["jaccard"] == 1.0 for r in pairs)

    from aws_ipl_data_pipeline_spark.operators.dedup import near_dup_groups

    # downstream clustering sees ONE component covering all 1000 dups
    groups = near_dup_groups(
        docs,
        pairs=minhash_lsh_pairs(docs, threshold=0.8, max_bucket_size=64),
    )
    sizes = {
        r["group_id"]: r["n"]
        for r in groups.groupBy("group_id").agg(F.count("*").alias("n")).collect()
    }
    assert sizes[0] == 1000


def test_simhash_hot_bucket_star_fallback(spark):
    """Same ceiling contract for the SimHash block join: identical docs
    collapse to one fingerprint, all four block cells go hot, and the
    star keeps every member Hamming-0-connected to the pivot."""
    from aws_ipl_data_pipeline_spark.operators.dedup import simhash_pairs

    txt = "copy of the exact same page text served from every mirror"
    rows = [(i, txt) for i in range(500)] + [
        (9000, "some totally different words in this one document"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_pairs(docs, max_bucket_size=64).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {(0, i) for i in range(1, 500)}
    assert all(r["hamming"] == 0 for r in pairs)


@pytest.mark.slow
def test_hot_bucket_ceiling_inert_below_threshold(spark):
    """On the real corpus no bucket approaches the default ceiling, so
    the guarded plan returns bit-identical pairs to the unguarded one
    (this is what keeps the SQL oracles exact); also pins that the
    driver corpus stays far from the ceiling."""
    from aws_ipl_data_pipeline_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    guarded = {
        tuple(r) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    unguarded = {
        tuple(r)
        for r in minhash_lsh_pairs(docs, threshold=0.8, max_bucket_size=None).collect()
    }
    assert guarded == unguarded
    sg = {tuple(r) for r in simhash_pairs(docs).collect()}
    su = {tuple(r) for r in simhash_pairs(docs, max_bucket_size=None).collect()}
    assert sg == su
    # margin check: biggest real bucket is nowhere near the 256 default,
    # so a ceiling of 64 is inert too
    at_64 = {
        tuple(r)
        for r in minhash_lsh_pairs(docs, threshold=0.8, max_bucket_size=64).collect()
    }
    assert at_64 == unguarded


def test_lsh_ann_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=10, exclude_id=0).collect()]
    approx = [
        r["vec_id"]
        for r in lsh_bucketed_topk(emb, q, k=10, bits=6, probe_hamming=2)
        .where(F.col("vec_id") != 0)
        .collect()
    ]
    # approximate by design: this corpus has no tight clusters (max
    # pairwise cosine ≈ 0.5), so sign-LSH recall is modest — require
    # meaningful overlap, not equality
    assert len(set(exact) & set(approx)) >= 4


def test_multimodal_plumbing(spark):
    media = spark.createDataFrame(
        [
            (1, "image", "image/png", b"0123456789" * 300, {"w": "10"}),
            (2, "video", "video/mp4", b"abcdef" * 1000, {}),
            (3, "audio", "audio/wav", None, {}),
        ],
        "media_id long, kind string, mime string, payload binary, meta map<string,string>",
    )
    feats = {r["media_id"]: r.asDict() for r in extract_features(media, dim=4).collect()}
    assert feats[1]["n_bytes"] == 3000 and len(feats[1]["feature"]) == 4
    assert feats[3]["n_bytes"] == 0  # null payload tolerated
    # deterministic: same payload → same sha/features
    feats2 = {r["media_id"]: r.asDict() for r in extract_features(media, dim=4).collect()}
    assert feats[2]["content_sha"] == feats2[2]["content_sha"]
    assert feats[1]["feature"] == feats2[1]["feature"]


def test_fuzzy_scorer_cutoffs():
    assert fuzzy.match_name("Arjun Sharm", ["Arjun Sharma", "Bharat Rao"]) == "Arjun Sharma"
    # below cutoff → cleaned raw name passthrough
    assert fuzzy.match_name("  Zzz Qqq ", ["Arjun Sharma"]) == "Zzz Qqq"
    assert fuzzy.match_name("N/A", ["Arjun Sharma"]) == "N/A"
    assert fuzzy.match_name(None, ["Arjun Sharma"]) == "N/A"
    tm = {"Alpha XI": ["A"], "Bravo XI": ["B"]}
    assert fuzzy.team_choices("Alpha XI", tm, ["X"]) == ["A"]
    assert fuzzy.team_choices("Alpha X1", tm, ["X"]) == ["A"]  # fuzzy team key
    assert fuzzy.team_choices("Zeta FC", tm, ["X"]) == ["X"]  # no match → all
    assert fuzzy.team_choices("N/A", tm, ["X"]) == ["X"]


@pytest.mark.parametrize(
    "a,b,hi",
    [("alpha xi", "alpha xi", True), ("arjun sharma", "arjun sharm", True), ("abc", "xyz", False)],
)
def test_fuzzy_score_scale(a, b, hi):
    s = fuzzy.score(a, b)
    assert (s >= 75) == hi


def test_fuzzy_banded_indel_exact_at_or_above_cutoff():
    """r13: _indel_ratio(min_sim) runs a Ukkonen-banded DP — it must be
    EXACT whenever the true similarity >= min_sim (including exactly at
    the boundary, where float truncation once undersized the band) and
    never OVERestimate below it, so extract_one decisions are unchanged."""
    import random

    def full(a, b):
        if not a and not b:
            return 100.0
        if not a or not b:
            return 0.0
        la, lb = len(a), len(b)
        prev = [0] * (lb + 1)
        for i in range(1, la + 1):
            cur = [0] * (lb + 1)
            ca = a[i - 1]
            for j in range(1, lb + 1):
                cur[j] = prev[j - 1] + 1 if ca == b[j - 1] else max(cur[j - 1], prev[j])
            prev = cur
        return 200.0 * prev[lb] / (la + lb)

    # the float-truncation boundary case: true sim == min_sim == 80
    assert fuzzy._indel_ratio("a  ", "  ", 80.0) == 80.0
    rng = random.Random(7)
    for _ in range(4000):
        a = "".join(rng.choice("abcd ") for _ in range(rng.randint(0, 12)))
        b = "".join(rng.choice("abcd ") for _ in range(rng.randint(0, 12)))
        ms = rng.choice([0.0, 50.0, 70.0, 75.0, 80.0, 90.0])
        t, g = full(a, b), fuzzy._indel_ratio(a, b, ms)
        if t >= ms:
            assert abs(t - g) < 1e-9, (a, b, ms, t, g)
        else:
            assert g <= t + 1e-9, (a, b, ms, t, g)


def test_leakage_safe_split_invariants(spark):
    from aws_ipl_data_pipeline_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [
            (1, "the same exact text"),
            (50, "THE  same exact   text "),  # dup modulo normalization
            (3, "something entirely different"),
            (200, "the same exact text"),  # another copy
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["canonical_id"], r["split"]) for r in
           leakage_safe_split(docs, n_splits=4).collect()}
    assert len(out) == 4  # every doc assigned
    # all copies share canonical id AND split
    assert out[1] == out[50] == out[200] == (1, 1 % 4)
    assert out[3][0] == 3
    # deterministic across recomputation
    out2 = {r["doc_id"]: (r["canonical_id"], r["split"]) for r in
            leakage_safe_split(docs, n_splits=4).collect()}
    assert out2 == out


def test_near_dup_groups_connected_components(spark):
    from aws_ipl_data_pipeline_spark.operators.dedup import near_dup_groups

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 8)], "doc_id long, text string"
    )
    # chain 1-2-3 (diameter > 1), pair 5-6, singletons 4 and 7
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.85), (5, 6, 0.95)],
        "id_a long, id_b long, jaccard double",
    )
    got = {r["doc_id"]: r["group_id"] for r in near_dup_groups(docs, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


@pytest.mark.slow
def test_near_dup_groups_raises_on_non_convergence(spark):
    """A component whose diameter (minlabel) or size (star) exceeds the
    round bound must raise, never silently return unconverged labels
    (half-labeled clusters would leak near-dups across a downstream
    split)."""
    import pytest

    from aws_ipl_data_pipeline_spark.operators.dedup import near_dup_groups

    n = 16
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(n)], "doc_id long, text string"
    )
    # path graph 0-1-2-...-15: min-label 0 walks one hop per round
    chain = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(n - 1)],
        "id_a long, id_b long, jaccard double",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_groups(docs, chain, max_iter=3, algorithm="minlabel")
    with pytest.raises(RuntimeError, match="did not converge"):
        near_dup_groups(docs, chain, max_iter=1, algorithm="star")
    # and with an adequate bound the same graph converges to one group
    got = {
        r["doc_id"]: r["group_id"]
        for r in near_dup_groups(docs, chain, max_iter=n).collect()
    }
    assert got == {i: 0 for i in range(n)}


@pytest.mark.slow
def test_star_contraction_long_chain_beats_diameter(spark):
    """The capability minlabel cannot have: a 200-node path (diameter
    199) labels completely in ≤12 star rounds — O(log n), not
    O(diameter). This is the VERDICT r5 scale fix for near-dup graphs
    with long weak-link chains."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.dedup import (
        connected_components_star,
    )

    n = 200
    nodes = spark.range(n).select(F.col("id").alias("node"))
    chain = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    labels = connected_components_star(nodes, chain, max_iter=12).collect()
    assert {r["label"] for r in labels} == {0}
    assert len(labels) == n


@pytest.mark.slow
def test_star_equals_minlabel_on_random_graph(spark):
    """Star contraction and min-label propagation are independent CC
    implementations; identical labels on a seeded random multigraph
    (dup edges, self-loops, both orientations) pin each against the
    other."""
    import random

    from aws_ipl_data_pipeline_spark.operators.dedup import near_dup_groups

    rng = random.Random(1234)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges += edges[:20] + [(7, 7), (n - 1, n - 1)]  # dups + self-loops
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {
        (r["doc_id"], r["group_id"])
        for r in near_dup_groups(docs, pairs=pairs, max_iter=15).collect()
    }
    ml = {
        (r["doc_id"], r["group_id"])
        for r in near_dup_groups(
            docs, pairs=pairs, max_iter=60, algorithm="minlabel"
        ).collect()
    }
    assert star == ml


def test_leakage_safe_split_near_dups(spark):
    from aws_ipl_data_pipeline_spark.operators.dedup import leakage_safe_split

    # docs 1 and 2 are near-dups (not exact): 60 unique tokens shared,
    # one token differs → distinct-shingle jaccard ≈ 0.9
    base = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            (1, base + " one extra tail"),
            (2, base + " one other tail"),
            (9, "completely different content with no shared shingles at all here"),
        ],
        "doc_id long, text string",
    )
    exact = {r["doc_id"]: r["split"] for r in leakage_safe_split(docs, 4).collect()}
    near = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(docs, 4, near_dups=True, threshold=0.8).collect()
    }
    # exact split CAN separate the near-dups; the near-dup split cannot
    assert exact[1] != exact[2]
    assert near[1] == near[2]
    assert len(near) == 3  # singleton still assigned


def test_repetition_metrics_edges(spark):
    from aws_ipl_data_pipeline_spark.operators.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # dup-heavy: top token 'a' 3/4, bigram 'a a' 2/3
            (2, "x"),                # single token: no bigrams
            (3, "p q r"),           # all distinct
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in repetition_metrics(docs).collect()}
    assert got[1]["n_tokens"] == 4 and got[1]["n_distinct_tokens"] == 2
    assert got[1]["dup_token_ratio"] == 0.5
    assert got[1]["top_token_frac"] == 0.75
    assert got[1]["top_bigram_frac"] == round(2 / 3, 4)
    assert got[2]["n_tokens"] == 1 and got[2]["top_bigram_frac"] == 0.0
    assert got[3]["dup_token_ratio"] == 0.0 and got[3]["top_token_frac"] == round(1 / 3, 4)


def test_redact_pii(spark):
    from aws_ipl_data_pipeline_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org and call 555-123-4567 now"),
            (2, "no pii here"),
            (3, "a@b.io b@c.net 111-222-3333 444-555-6666"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in redact_pii(docs).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"]) == (1, 1)
    assert (got[2]["n_emails"], got[2]["n_phones"]) == (0, 0)
    assert (got[3]["n_emails"], got[3]["n_phones"]) == (2, 2)
    # redaction is applied: length reflects '<EMAIL>'/'<PHONE>' substitution
    assert got[2]["n_chars_redacted"] == len("no pii here")
    assert got[3]["n_chars_redacted"] == len("<EMAIL> <EMAIL> <PHONE> <PHONE>")


def test_blocked_cosine_equals_exact(spark):
    """The blocked GEMM plan is exact: identical pairs + rounded sims as
    the single-cartesian baseline, at several block counts (including
    n_blocks > distinct hash values, leaving some block pairs empty)."""
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs_blocked,
    )
    from aws_ipl_data_pipeline_spark.queries import t
    from tests.oracles import embedding_cosine_pairs

    emb = t(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    want = sorted(map(tuple, embedding_cosine_pairs(emb, threshold=0.4).collect()))
    assert want  # fixture must produce at least one qualifying pair
    for g in (1, 3, 8):
        got = sorted(
            map(
                tuple,
                embedding_cosine_pairs_blocked(
                    emb, threshold=0.4, n_blocks=g
                ).collect(),
            )
        )
        assert got == want, f"n_blocks={g}"


def test_incremental_near_dedup_contract(spark):
    """Batch-vs-corpus near-dup: a batch doc paraphrasing a corpus doc
    is caught; within-batch duplicates are NOT reported (that's the
    batch-internal pass's job); novel batch docs produce no row."""
    from aws_ipl_data_pipeline_spark.operators.dedup import incremental_near_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "completely unrelated corpus text about databases and queries"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one word changed)
            (100, "the quick brown fox jumps over the lazy cat near the river bank"),
            # identical twins WITHIN the batch, novel vs the corpus
            (101, "a brand new document that matches nothing in the corpus at all"),
            (102, "a brand new document that matches nothing in the corpus at all"),
        ],
        "doc_id long, text string",
    )
    # one changed word flips 3 of 11 trigrams → true jaccard 8/14 ≈ 0.57
    rows = incremental_near_dedup(batch, corpus, threshold=0.5).collect()
    got = {(r["new_id"], r["corpus_id"]) for r in rows}
    assert got == {(100, 1)}
    assert all(r["jaccard"] >= 0.5 for r in rows)


def test_embedding_cosine_ivf_precision_and_degenerate_recall(spark):
    """The IVF-celled variant is a same-cell SUBSET of the exact pair
    set (precision 1.0 — every emitted pair is a true ≥-threshold
    pair with the identical rounded sim), and at n_cells=1 (everything
    in one cell) it degrades gracefully to exactly the exact set."""
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs_blocked,
        embedding_cosine_pairs_ivf,
    )
    from aws_ipl_data_pipeline_spark.queries import t

    emb = t(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_cosine_pairs_blocked(emb, threshold=0.4).collect()
    }
    assert exact
    ivf = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_cosine_pairs_ivf(emb, threshold=0.4, n_cells=16).collect()
    }
    assert ivf  # cells must capture at least one near-dup pair
    assert set(ivf) <= set(exact)
    for k, v in ivf.items():
        assert v == exact[k]
    one = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_cosine_pairs_ivf(emb, threshold=0.4, n_cells=1).collect()
    }
    assert one == exact


def test_fuzzy_scorer_pinned(monkeypatch):
    from aws_ipl_data_pipeline_spark.functions import fuzzy

    monkeypatch.setenv("SPARK_GRAFT_FUZZY_SCORER", "indel")
    assert fuzzy.resolve_scorer() == "indel"
    monkeypatch.setenv("SPARK_GRAFT_FUZZY_SCORER", "nonsense")
    with pytest.raises(ValueError):
        fuzzy.resolve_scorer()
    monkeypatch.setenv("SPARK_GRAFT_FUZZY_SCORER", "rapidfuzz")
    if fuzzy.HAVE_RAPIDFUZZ:
        assert fuzzy.resolve_scorer() == "rapidfuzz"
        # parity: same canonical choices at the reference cutoffs either way
        names = ["V Kohli", "Virat Kohli", "R Sharma", "Rohit Sharma"]
        rf = [fuzzy.extract_one(n, names[1::2], 75.0) for n in names[::2]]
        monkeypatch.setenv("SPARK_GRAFT_FUZZY_SCORER", "indel")
        il = [fuzzy.extract_one(n, names[1::2], 75.0) for n in names[::2]]
        assert rf == il
    else:
        with pytest.raises(ImportError):
            fuzzy.resolve_scorer()


def test_normalize_multi_single_scoring_pass(spark):
    """With >1 spec the scored pairs frame is materialized once; the
    returned plan must read the checkpointed rows, not re-run the
    Arrow scoring UDF (and the whole upstream lineage) per column."""
    df = spark.createDataFrame(
        [("V Kohli", "RCB", "J Bumrah"), ("Rohit Shrama", "MI", "J Bumrah")],
        "batsman string, team string, bowler string",
    )
    players = spark.createDataFrame(
        [("Virat Kohli", "RCB"), ("Rohit Sharma", "MI"), ("Jasprit Bumrah", "MI")],
        "Name string, Team string",
    )
    out = fuzzy.normalize_names_multi(
        df, players, [("batsman", "team"), ("bowler", "team")]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    rows = {r["batsman"] for r in out.collect()}
    assert rows == {"Virat Kohli", "Rohit Sharma"}


def test_funnel_operator_arbitrary_stages(spark):
    """Parameterized funnel: 2- and 4-stage chains obey strict order,
    and the plan stays one Exchange regardless of stage count."""
    import re

    from aws_ipl_data_pipeline_spark.operators.behavior import funnel

    ev = spark.createDataFrame(
        [
            (1, "a", 10), (1, "b", 20), (1, "c", 30), (1, "d", 40),
            (2, "b", 5), (2, "a", 6), (2, "c", 4),   # c before a: unreachable
            (3, "a", 1),
        ],
        "user_id long, event_type string, us long",
    )
    out4 = {r["user_id"]: (r["t_a"], r["t_b"], r["t_c"], r["t_d"], r["funnel_stage"])
            for r in funnel(ev, ["a", "b", "c", "d"]).collect()}
    assert out4[1] == (10, 20, 30, 40, 4)
    assert out4[2] == (6, None, None, None, 1)  # b at 5 precedes a; c at 4 too
    assert out4[3] == (1, None, None, None, 1)

    df2 = funnel(ev, ["a", "c"])
    # plan check on the un-executed frame (post-action AQE explains
    # print final+initial sections and double-count nodes)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df2._jdf.queryExecution().explainString(mode)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    out2 = {r["user_id"]: r["funnel_stage"] for r in df2.collect()}
    assert out2 == {1: 2, 2: 1, 3: 1}

    with pytest.raises(ValueError):
        funnel(ev, [])


def test_decontaminate_shingle_ceiling(spark):
    """max_shingle_df drops boilerplate shingles shared by too many
    eval docs — the skew lever when eval sets contain templates."""
    from aws_ipl_data_pipeline_spark.operators.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "common prefix words here tail one"),
            (2, "common prefix words here tail two"),
            (10, "common prefix words here tail ten"),
            (11, "common prefix words here tail elf"),
            (20, "unique eval doc content entirely new"),
        ],
        "doc_id long, text string",
    )
    train = docs.where("doc_id < 10")
    ev = docs.where("doc_id >= 10")
    assert decontaminate(train, ev, n=3, min_overlap=1).count() == 4
    # boilerplate shingles appear in 2 eval docs; ceiling 1 removes them
    assert decontaminate(train, ev, n=3, min_overlap=1, max_shingle_df=1).count() == 0


def test_sharded_packing_no_single_partition_window(spark):
    """The sharded form must shuffle on the shard key — never collapse
    to a single-partition global window — and keep the same per-shard
    layout invariants as the global form."""
    import re

    from aws_ipl_data_pipeline_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, i % 4, 100 + (i * 37) % 400) for i in range(200)],
        "doc_id long, shard int, n_tokens long",
    )
    out = pack_sequences(docs, budget=1000, shard_col="shard")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan
    assert re.search(r"hashpartitioning\(shard", plan)

    rows = out.collect()
    # per shard: gapless layout in hash order, offsets in [0, budget)
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    import hashlib

    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"]))
        start = 0
        pack_ids = set()
        for r in rs:
            assert r["pack_offset"] == start % 1000
            assert 0 <= r["pack_offset"] < 1000
            pack_ids.add(r["pack_id"])
            start += r["n_tokens"]
        # pack ids of different shards never collide
    all_ids = [r["pack_id"] for r in rows]
    assert len({i >> 32 for i in all_ids}) == 4  # four distinct shard spaces


def test_global_packing_matches_registered_query(spark):
    """The operator's global form computes the same layout as the
    registered oracle query's inline expression."""
    from aws_ipl_data_pipeline_spark.operators.packing import pack_sequences
    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    want = {
        (r["doc_id"], r["pack_id"], r["pack_offset"])
        for r in REGISTRY["sequence_packing_global"].fn(spark, SF).collect()
    }
    docs = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id",
        "CAST(size(filter(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' '), x -> x != '')) AS BIGINT) AS n_tokens",
    )
    got = {
        (r["doc_id"], r["pack_id"], r["pack_offset"])
        for r in pack_sequences(docs, budget=2048).collect()
    }
    assert got == want


def test_datasketches_accuracy_bounds(spark):
    """Every sketch estimate lands within its published error bound of
    the exact answer (KLL default k: ~1.7% rank error; theta/HLL
    default lgK: a few % relative error on cardinality)."""
    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    sf = "/root/testdata/sf0.01"
    got = {r["l_returnflag"]: r for r in REGISTRY["datasketches_battery"].fn(spark, sf).collect()}
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
            F.countDistinct("l_partkey").alias("nd_parts"),
            F.countDistinct("l_orderkey").alias("nd_orders"),
        )
        .collect()
    }
    assert got.keys() == exact.keys()
    for flag, e in exact.items():
        g = got[flag]
        # quantile sketches: value at a slightly-off rank — allow 5% of
        # the exact value as a generous envelope on this distribution
        assert abs(g["approx_median_price"] - e["p50"]) <= 0.05 * e["p50"]
        assert abs(g["kll_median_price"] - e["p50"]) <= 0.05 * e["p50"]
        assert abs(g["kll_p95_price"] - e["p95"]) <= 0.05 * e["p95"]
        assert abs(g["theta_distinct_parts"] - e["nd_parts"]) <= 0.05 * e["nd_parts"]
        assert abs(g["hll_distinct_orders"] - e["nd_orders"]) <= 0.05 * e["nd_orders"]


# ---------------------------------------------------------------------------
# round 4: segment dedup / domain cap / robust outliers / batched ANN
# ---------------------------------------------------------------------------


def test_segment_dedup_first_wins_and_full_removal(spark):
    from aws_ipl_data_pipeline_spark.operators.dedup import segment_dedup

    boiler = " ".join(f"w{i}" for i in range(4))  # one whole 4-token segment
    uniq = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} {uniq}"),          # first occurrence keeps both segs
            (2, boiler),                       # exact repeat -> fully excised
            (3, f"{boiler} epsilon zeta eta theta"),  # repeat + novel tail
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_tokens=4).collect()
    }
    assert out[1]["text_kept"] == f"{boiler} {uniq}"
    assert out[1]["n_segments_kept"] == 2 and out[1]["n_segments"] == 2
    # doc 2 survives as a row but with every segment removed
    assert out[2]["text_kept"] == ""
    assert out[2]["n_segments_kept"] == 0 and out[2]["n_tokens_kept"] == 0
    assert out[3]["text_kept"] == "epsilon zeta eta theta"
    assert out[3]["n_segments_kept"] == 1 and out[3]["n_segments"] == 2


def test_segment_dedup_short_tail_segment(spark):
    from aws_ipl_data_pipeline_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )  # 5 tokens, seg=4 -> segments of 4 and 1
    row = segment_dedup(docs, seg_tokens=4).collect()[0]
    assert row["n_segments"] == 2
    assert row["n_tokens_kept"] == 5
    assert row["text_kept"] == "a b c d e"


def test_domain_cap_paths_and_null_domain(spark):
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.sampling import domain_cap

    rows = [(i, "hot") for i in range(40)] + [(100 + i, "cold") for i in range(3)]
    rows += [(200, None), (201, None)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = domain_cap(docs, domain_col="source", cap=5)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["hot"] == 5            # over-cap domain capped exactly
    assert counts["cold"] == 3           # under-cap domain untouched
    assert counts[None] == 2             # NULL domain kept (eqNullSafe join)
    # determinism: same admitted set on rerun
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in domain_cap(docs, "source", 5).collect())
    assert a == b


def test_robust_outlier_stats_constant_group_and_spike(spark):
    from aws_ipl_data_pipeline_spark.operators.quality import robust_outlier_stats

    rows = [(i, "flat", 100) for i in range(9)]
    rows += [(100 + i, "spiky", v) for i, v in enumerate([10, 11, 9, 10, 12, 10, 11, 500])]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r["source"]: r for r in robust_outlier_stats(df, "n_chars", "source").collect()}
    # constant group: MAD = 0 -> nothing flagged (not everything)
    assert out["flat"]["mad"] == 0.0 and out["flat"]["n_outliers"] == 0
    # the 500 spike is far beyond 3 * 1.4826 * MAD of the tight group
    assert out["spiky"]["n_outliers"] == 1
    assert abs(out["spiky"]["median"] - 10.5) < 1e-9


def test_batch_topk_matches_per_query_brute_force(spark):
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        _as_double_vec,
        batch_topk,
        brute_force_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id").isin([0, 7])).select(
        F.col("vec_id").alias("query_id"),
        _as_double_vec("embedding").alias("query_vec"),
    )
    got = batch_topk(emb, queries, k=5)
    by_q = {
        qid: [(r["vec_id"], r["cos_sim"]) for r in got.where(F.col("query_id") == qid)
              .orderBy("rk").collect()]
        for qid in (0, 7)
    }
    for qid in (0, 7):
        qvec = [float(x) for x in emb.where(F.col("vec_id") == qid).collect()[0]["embedding"]]
        want = [
            (r["vec_id"], r["cos_sim"])
            for r in brute_force_topk(emb, qvec, k=5, exclude_id=qid).collect()
        ]
        assert by_q[qid] == want


def test_batch_topk_single_corpus_scan(spark):
    """The whole point of batching: Q queries, ONE parquet scan."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        _as_double_vec,
        batch_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        _as_double_vec("embedding").alias("query_vec"),
    )
    plan = batch_topk(emb, queries, k=5)._jdf.queryExecution().executedPlan().toString()
    # corpus side: exactly one non-broadcast-side scan of the parquet.
    # the broadcast (query) side scans it once more; anything beyond two
    # means the corpus is being re-read per query.
    assert plan.count("Scan parquet") <= 2, plan


def test_quality_scores_keep_cols_guard(spark):
    """keep_cols may not repeat a name or collide with id_col or an
    output column (an ambiguous duplicate); text_col may be kept."""
    from aws_ipl_data_pipeline_spark.operators.text import quality_scores

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat", "web")], "doc_id int, text string, source string"
    )
    for bad in (("source", "source"), ("doc_id",), ("n_tokens",),
                ("punct_ratio",), ("stopword_ratio",), ("quality_pass",)):
        with pytest.raises(ValueError):
            quality_scores(docs, keep_cols=bad)
    out = quality_scores(docs, keep_cols=("source", "text"))
    assert out.columns[:3] == ["doc_id", "source", "text"]


def test_quality_classifier_monotone_in_stopwords(spark):
    """More stopword mass (w=+2.0) must raise the score, holding the
    other features roughly fixed; score stays in (0,1)."""
    from aws_ipl_data_pipeline_spark.operators.text import quality_classifier_score

    docs = spark.createDataFrame(
        [
            (1, "the of and to is in the of"),   # all stopwords
            (2, "xx yy zz qq rr ss tt uu"),      # none
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_classifier_score(docs).collect()}
    assert out[1]["stopword_ratio"] == 1.0 and out[2]["stopword_ratio"] == 0.0
    assert out[1]["score"] > out[2]["score"]
    for r in out.values():
        assert 0.0 < r["score"] < 1.0
        assert r["keep"] in (0, 1)


def test_bigram_perplexity_hand_computed(spark):
    """Two docs: 'a b a b' and 'a b a c'. Corpus bigrams: ab x2+ab... =
    (a,b):3 (b,a):2 (a,c):1 → P(b|a)=3/4, P(a|b)=1, P(c|a)=1/4."""
    import math

    from aws_ipl_data_pipeline_spark.operators.text import bigram_perplexity

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in bigram_perplexity(docs).collect()}
    lp_ba, lp_ab, lp_ca = math.log(3 / 4), math.log(1.0), math.log(1 / 4)
    want1 = round((lp_ba + lp_ab + lp_ba) / 3, 4)
    want2 = round((lp_ba + lp_ab + lp_ca) / 3, 4)
    assert out[1]["n_bigrams"] == 3 and out[2]["n_bigrams"] == 3
    assert abs(out[1]["avg_logp"] - want1) < 1e-9
    assert abs(out[2]["avg_logp"] - want2) < 1e-9
    # the doc with the rarer continuation is more perplexing
    assert out[2]["ppl"] > out[1]["ppl"]


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        random_hyperplanes,
        random_projection,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    row = emb.where("vec_id = 3").collect()[0]
    planes = np.asarray(random_hyperplanes(64, 8, seed=7))
    want = planes @ np.asarray(row["embedding"], dtype=np.float64)
    got = (
        random_projection(emb.where("vec_id = 3"), out_dim=8, in_dim=64, seed=7)
        .orderBy("j")
        .collect()
    )
    assert [r["j"] for r in got] == list(range(8))
    for r, w in zip(got, want):
        assert abs(r["val"] - round(float(w), 4)) < 1e-9


def test_recursive_spine_fills_gap_months(spark):
    """The point of the date spine: a month with NO orders still gets a
    row (zeros) instead of silently vanishing from the series."""
    docs = spark.createDataFrame(
        [
            (1, "1996-01-15", 10.0),
            (2, "1996-03-20", 30.0),  # february has no orders
        ],
        "o_orderkey long, d string, o_totalprice double",
    ).selectExpr("o_orderkey", "CAST(d AS TIMESTAMP) AS o_orderdate", "o_totalprice")
    docs.createOrReplaceTempView("_spine_orders")
    out = spark.sql(
        """
        WITH RECURSIVE spine(m, mx) AS (
          SELECT date_trunc('MONTH', MIN(o_orderdate)),
                 date_trunc('MONTH', MAX(o_orderdate))
          FROM _spine_orders
          UNION ALL
          SELECT m + INTERVAL '1' MONTH, mx FROM spine WHERE m < mx
        ),
        agg AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m,
                 COUNT(*) AS n_orders, SUM(o_totalprice) AS rev
          FROM _spine_orders GROUP BY 1
        )
        SELECT s.m, coalesce(a.n_orders, 0) AS n_orders,
               coalesce(a.rev, 0.0) AS revenue
        FROM spine s LEFT JOIN agg a ON a.m = s.m ORDER BY s.m
        """
    ).collect()
    assert len(out) == 3  # jan, feb, mar
    assert out[1]["n_orders"] == 0 and out[1]["revenue"] == 0.0
    assert out[0]["n_orders"] == 1 and out[2]["revenue"] == 30.0


def test_batch_ivf_full_probe_equals_batch_exact(spark):
    """n_probe == n_cells degrades batched IVF to the exact batched
    scan — same contract the single-query ivf_topk test proves."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        _as_double_vec,
        batch_ivf_topk,
        batch_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id").isin([0, 5])).select(
        F.col("vec_id").alias("query_id"),
        _as_double_vec("embedding").alias("query_vec"),
    )
    full = batch_ivf_topk(emb, queries, k=5, n_cells=8, n_probe=8)
    exact = batch_topk(emb, queries, k=5)
    a = sorted(map(tuple, full.select("query_id", "vec_id", "cos_sim", "rk").collect()))
    b = sorted(map(tuple, exact.select("query_id", "vec_id", "cos_sim", "rk").collect()))
    assert a == b


def test_segment_dedup_degenerate_boilerplate_corpus(spark):
    """1000 identical docs (the adversarial hot-key case for near-dup
    band joins) stays LINEAR here: one row_number partition per unique
    segment, no candidate pairs. Exactly one doc keeps text."""
    import time

    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.dedup import segment_dedup

    text = " ".join(f"b{i}" for i in range(16))
    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    t0 = time.perf_counter()
    out = segment_dedup(docs, seg_tokens=8)
    kept = out.agg(
        F.sum("n_segments_kept").alias("k"), F.count("*").alias("n")
    ).collect()[0]
    elapsed = time.perf_counter() - t0
    assert kept["n"] == 1000          # every doc surfaces
    assert kept["k"] == 2             # only doc 0's two segments survive
    assert elapsed < 30               # linear pass, not a pair blowup


def test_stat_surface_freqitems_sampleby_crosstab(spark):
    """DataFrame stat surface: freqItems heavy hitters (single-pass,
    bounded memory), sampleBy stratified fractions (seeded,
    deterministic), crosstab contingency counts."""
    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    total = sum(exact.values())
    # heavy hitters: every value with support >= 20% must be surfaced
    hh = li.stat.freqItems(["l_returnflag"], support=0.2).collect()[0][0]
    for flag, n in exact.items():
        if n / total >= 0.2:
            assert flag in hh
    # stratified sample: seeded -> identical twice; fractions honored
    fr = {flag: 0.1 for flag in exact}
    s1 = li.sampleBy("l_returnflag", fractions=fr, seed=11)
    s2 = li.sampleBy("l_returnflag", fractions=fr, seed=11)
    assert s1.count() == s2.count()
    got = {
        r["l_returnflag"]: r["n"]
        for r in s1.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()
    }
    for flag, n in exact.items():
        assert abs(got.get(flag, 0) - 0.1 * n) <= 0.05 * n + 10
    # crosstab: row sums must equal the per-flag exact counts
    ct = li.stat.crosstab("l_returnflag", "l_linestatus").collect()
    for row in ct:
        d = row.asDict()
        flag = d.pop("l_returnflag_l_linestatus")
        assert sum(int(v) for v in d.values()) == exact[flag]


def test_containment_catches_embedded_doc(spark):
    """The asymmetric case the registered corpus lacks: a short doc
    quoted verbatim inside a much longer one is containment 1.0 while
    its jaccard is far below any dedup threshold — shingle_containment
    must flag it, shingle_jaccard must not. Also pins the tie rule
    (equal sizes → the LARGER id is 'contained', so keep-smallest-id
    composes) and the min_size floor (trivially small sets excluded)."""
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    small = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    fill_a = " ".join(f"w{i}" for i in range(40))
    fill_b = " ".join(f"v{i}" for i in range(40))
    fill_c = " ".join(f"x{i}" for i in range(40))
    fill_d = " ".join(f"y{i}" for i in range(40))
    tiny = "kilo lima mike november"  # 2 shingles — under min_size=5
    rows = [
        (1, small),
        (2, f"{fill_a} {small} {fill_b}"),  # embeds doc 1
        (3, tiny),
        (4, f"{fill_c} {tiny} {fill_d}"),  # embeds doc 3 (gated out)
        (5, small),  # exact copy of doc 1 — the tie case
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"], r["containment"])
        for r in shingle_containment_pairs(
            docs, threshold_pct=90, min_size=5
        ).collect()
    }
    assert got == {(1, 2, 1.0), (5, 2, 1.0), (5, 1, 1.0)}
    # jaccard at the dedup threshold sees ONLY the exact copy
    jac = {
        (r["id_a"], r["id_b"])
        for r in shingle_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert jac == {(1, 5)}


def test_prefix_filtered_jaccard_equals_plain(spark):
    """PPJoin prefix filtering is a pure candidate-pruning step: the
    surviving pair set and jaccard values must be bit-identical to the
    plain inverted-index join, while generating strictly fewer
    candidate postings."""
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        shingle_jaccard_pairs,
        shingle_jaccard_pairs_prefix,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plain = sorted(
        map(tuple, shingle_jaccard_pairs(docs, threshold=0.8).collect())
    )
    pref = sorted(
        map(tuple, shingle_jaccard_pairs_prefix(docs, threshold=0.8).collect())
    )
    assert pref == plain
    assert len(pref) > 0  # the fixture contains near-dups; non-vacuous


def test_substring_dedup_first_wins_any_alignment(spark):
    """A passage pasted mid-document at an arbitrary offset must be
    excised from the LATER doc only; the first occurrence and all
    unique text survive verbatim."""
    from aws_ipl_data_pipeline_spark.operators.dedup import substring_dedup

    passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"{passage} unique one tail"),
            # same passage shifted by a 3-token prefix: tile-aligned
            # segment dedup would MISS this; stride-1 must catch it
            (2, f"lead in words {passage} and more unique text"),
            (3, "completely unrelated content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, k=8).collect()}
    assert out[1]["text_kept"] == f"{passage} unique one tail"
    assert out[1]["n_dup_windows"] == 0
    assert passage not in out[2]["text_kept"]
    assert "lead in words" in out[2]["text_kept"]
    assert "unique text" in out[2]["text_kept"]
    assert out[2]["n_tokens_removed"] == 8
    assert out[3]["n_dup_windows"] == 0


def test_substring_dedup_exact_duplicate_doc_fully_excised(spark):
    """An exact duplicate document loses every token; docs shorter
    than k pass through untouched."""
    from aws_ipl_data_pipeline_spark.operators.dedup import substring_dedup

    body = " ".join(f"tok{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, body), (2, body), (3, "short doc only")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, k=8).collect()}
    assert out[1]["text_kept"] == body
    assert out[2]["text_kept"] == ""
    assert out[2]["n_tokens_removed"] == 20
    assert out[3]["text_kept"] == "short doc only"  # n < k: no windows
    assert out[3]["n_dup_windows"] == 0


def test_substring_dedup_overlapping_hits_merge(spark):
    """Two overlapping duplicate windows must merge into one excised
    span (coverage, not double-counted span bookkeeping)."""
    from aws_ipl_data_pipeline_spark.operators.dedup import substring_dedup

    # doc2 repeats a 9-token run from doc1 -> two overlapping dup
    # 8-windows covering 9 distinct positions
    run = "a b c d e f g h i"
    docs = spark.createDataFrame(
        [(1, f"{run} x y z"), (2, f"p q {run} r s")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in substring_dedup(docs, k=8).collect()}
    assert out[2]["n_dup_windows"] == 2
    assert out[2]["n_tokens_removed"] == 9  # merged coverage, not 16
    assert out[2]["text_kept"] == "p q r s"


def test_corpus_diff_classifies_all_statuses(spark):
    from aws_ipl_data_pipeline_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "kept the same"), (2, "will change"), (3, "will be removed")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "kept  the   same"),  # whitespace-normalized: unchanged
         (2, "has changed"),
         (4, "brand new doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_ivf_edge_source_is_dropin_for_clustering(spark):
    """VERDICT r5 item 6: the IVF-celled pair generator is a drop-in
    edge source for semantic clustering. On a corpus whose near-dups
    are duplicated vectors (argmax cell assignment is identical for
    identical vectors, so every true edge is same-cell by
    construction), clusters from IVF edges equal clusters from the
    blocked exact GEMM edges bit-for-bit."""
    import random

    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs_blocked,
        embedding_cosine_pairs_ivf,
        near_dup_groups,
    )

    rng = random.Random(99)
    dim = 16
    rows = []
    vid = 0
    # 4 duplicate-groups of sizes 2..5 (exact copies -> cos == 1.0,
    # same IVF cell guaranteed), plus 40 random background vectors
    for size in (2, 3, 4, 5):
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        for _ in range(size):
            rows.append((vid, [float(x) for x in base]))
            vid += 1
    for _ in range(40):
        rows.append((vid, [float(rng.uniform(-1, 1)) for _ in range(dim)]))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def clusters(pairs):
        labels = near_dup_groups(
            emb, pairs=pairs, id_col="vec_id", max_iter=15
        )
        return {
            (r["vec_id"], r["group_id"]) for r in labels.collect()
        }

    blocked = embedding_cosine_pairs_blocked(
        emb, id_col="vec_id", threshold=0.999
    )
    ivf = embedding_cosine_pairs_ivf(
        emb, id_col="vec_id", threshold=0.999, n_cells=8
    )
    c_blocked = clusters(blocked)
    c_ivf = clusters(ivf)
    assert c_blocked == c_ivf
    # and the duplicate groups actually clustered (not vacuous)
    groups = {}
    for v, g in c_blocked:
        groups.setdefault(g, 0)
        groups[g] += 1
    assert sorted(n for n in groups.values() if n > 1) == [2, 3, 4, 5]


def test_frame_fingerprint_overlap(spark):
    from aws_ipl_data_pipeline_spark.operators.multimodal import (
        frame_fingerprints,
        frame_overlap_pairs,
    )

    base = b"0123456789abcdef" * 32  # 512 bytes = 8 frames at 64B
    media = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact copy
            (3, base[:256]),  # trimmed prefix copy: 4 frames, all shared
            (4, b"Z" * 512),  # unrelated
            (5, b""),  # empty: no frames
        ],
        "media_id long, payload binary",
    )
    frames = frame_fingerprints(media, frame_bytes=64)
    per_media = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").count().withColumnRenamed("count", "n").collect()
    }
    # base repeats one 16-byte unit, so all 8 frames of 1/2 are the SAME
    # fingerprint; distinct-set semantics live in the overlap op while
    # fingerprints keep positional frame_no
    assert per_media == {1: 8, 2: 8, 3: 4, 4: 8}

    pairs = {
        (r["id_a"], r["id_b"]): r
        for r in frame_overlap_pairs(frames, min_containment_pct=50).collect()
    }
    # distinct fingerprints: media 1/2/3 share their single repeated
    # frame digest -> containment 1.0 for all three pairs; 4 nowhere
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}
    assert all(r["containment"] == 1.0 for r in pairs.values())


def test_frame_fingerprint_distinguishes_content(spark):
    from aws_ipl_data_pipeline_spark.operators.multimodal import (
        frame_fingerprints,
        frame_overlap_pairs,
    )

    # non-repeating payloads: a copy with the SECOND HALF replaced
    # shares exactly half its distinct frames
    head = bytes(range(256))
    a = head + bytes((i * 7 + 3) % 256 for i in range(256))
    b = head + bytes((i * 11 + 5) % 256 for i in range(256))
    media = spark.createDataFrame(
        [(1, a), (2, b)], "media_id long, payload binary"
    )
    pairs = frame_overlap_pairs(
        frame_fingerprints(media, frame_bytes=64), min_containment_pct=50
    ).collect()
    assert len(pairs) == 1
    r = pairs[0]
    assert (r["n_common"], r["n_a"], r["n_b"]) == (4, 8, 8)
    assert r["containment"] == 0.5
    # below-threshold gate: demand 51% and the pair disappears
    assert (
        frame_overlap_pairs(
            frame_fingerprints(media, frame_bytes=64), min_containment_pct=51
        ).count()
        == 0
    )


def test_semantic_decontamination_guard_and_totality(spark):
    """r9: the broadcast-benchmark decontamination scan must (a) raise
    on a benchmark larger than bench_limit instead of silently
    truncating (no-silent-caps rule), (b) return an EMPTY typed frame
    for an empty benchmark (oracle totality — the SQL twin yields zero
    rows there), and (c) flag an exact train copy of a benchmark doc
    at cosine 1.0."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.dedup import (
        semantic_decontamination,
    )

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 0.0, 0.0]),  # exact copy of benchmark id=1
        ],
        "vec_id long, embedding array<double>",
    )
    bench = vecs.where(F.col("vec_id") == 1)
    train = vecs.where(F.col("vec_id") != 1)

    with _pytest.raises(ValueError, match="bench_limit"):
        semantic_decontamination(train, bench, bench_limit=0)

    empty = semantic_decontamination(
        train, bench.where(F.lit(False)), threshold=0.5
    )
    assert empty.columns == ["vec_id", "n_bench_hits", "max_cos"]
    assert empty.count() == 0

    got = {
        r["vec_id"]: (r["n_bench_hits"], r["max_cos"])
        for r in semantic_decontamination(train, bench, threshold=0.5).collect()
    }
    assert got == {3: (1, 1.0)}  # the copy flagged, the orthogonal doc not


def test_pmi_collocations_degenerate_docs(spark):
    """Degenerate rows the SQL oracle can't probe (DuckDB's range() is
    empty where Spark's sequence() counts DOWN — the ANSI
    INVALID_ARRAY_INDEX class): empty text, whitespace-only, one-token
    and exactly-two-token docs must all pass through pmi_collocations
    without an array-index error, and a hand-built corpus yields the
    hand-computed collocation."""
    from aws_ipl_data_pipeline_spark.operators.text import pmi_collocations

    rows = (
        [("",), ("   ",), ("solo",), ("ping pong",)]
        # "ping pong" co-occurs far above chance vs a "noise" background
        + [("ping pong",)] * 9
        + [(f"noise{i} noise{j}",) for i in range(5) for j in range(5)]
    )
    docs = spark.createDataFrame(rows, "text string")
    out = pmi_collocations(docs, min_pair_count=5, top_k=10).collect()
    got = {(r["w1"], r["w2"]): r for r in out}
    assert ("ping", "pong") in got
    r = got[("ping", "pong")]
    # 10 "ping pong" docs → pair_count 10, each word appears 10 times
    assert r["pair_count"] == 10 and r["w1_count"] == 10 and r["w2_count"] == 10
    # the uniform noise background (each pair once) never clears
    # min_pair_count, let alone the lift gate
    assert all(k == ("ping", "pong") for k in got)


def test_pmi_collocations_lift_gate_is_exact(spark):
    """The lift inequality is exact integer math: a pair sitting
    EXACTLY at lift = lift_num/lift_den must be excluded (strict >),
    which float log-PMI could flip either way. Corpus: the four docs
    'a a','a b','b a','b b' — N_tok=8, N_pair=4, c(a)=c(b)=4, every
    pair_count=1 → lift = 1·64/(4·16) = 1 exactly for all four pairs;
    with lift 1/1 everything must drop, with 99/100 everything stays."""
    from aws_ipl_data_pipeline_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [("a a",), ("a b",), ("b a",), ("b b",)], "text string"
    )
    at_one = pmi_collocations(docs, min_pair_count=1, lift_num=1, lift_den=1)
    assert at_one.count() == 0
    below = pmi_collocations(docs, min_pair_count=1, lift_num=99, lift_den=100)
    assert sorted(
        (r["w1"], r["w2"], r["pair_count"]) for r in below.collect()
    ) == [("a", "a", 1), ("a", "b", 1), ("b", "a", 1), ("b", "b", 1)]


def test_gap_fill_linear_constructed_series(spark):
    """Interpolation semantics on a constructed grid: interior gaps
    linearly filled (exact on integer-spaced values), multi-bucket gap
    positions each interpolated at their own offset, negative slopes
    quantized by truncating division (Spark div ≡ DuckDB //), per-key
    spines independent, observed rows flagged filled=false."""
    from datetime import datetime, timezone

    from aws_ipl_data_pipeline_spark.operators.timeseries import (
        gap_fill_linear,
    )

    def ts(h):
        return datetime(2024, 1, 1, h, 30, tzinfo=timezone.utc)

    rows = [
        # key 1: hours 0, 3 observed -> gap at 1, 2 on slope (10 -> 40)
        (1, ts(0), 10.0),
        (1, ts(3), 40.0),
        # key 2: negative slope 5 -> 4 over 2 hours; midpoint 4.5
        (2, ts(0), 5.0),
        (2, ts(2), 4.0),
        # key 3: single observation -> spine is 1 bucket, no gap
        (3, ts(5), 7.5),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    out = gap_fill_linear(ev, key_col="user_id").collect()
    got = {
        (r["user_id"], r["bucket"] % 24): (r["value"], r["filled"])
        for r in out
    }
    assert len(out) == 4 + 3 + 1
    assert got[(1, 0)] == (10.0, False)
    assert got[(1, 1)] == (20.0, True)
    assert got[(1, 2)] == (30.0, True)
    assert got[(1, 3)] == (40.0, False)
    assert got[(2, 0)] == (5.0, False)
    # exact midpoint 4.5: integer units 50000 + (40000-50000)*1 div 2
    # = 45000 -> 4.5 (no float-boundary coin flip)
    assert got[(2, 1)] == (4.5, True)
    assert got[(2, 2)] == (4.0, False)
    assert got[(3, 5)] == (7.5, False)


def test_cusum_closed_form_equals_sequential_fold(spark):
    """The window closed form S_t = P_t - min(0, prefix-min(P)) must
    reproduce the sequential recurrence S_t = max(0, S_{t-1} + d_t)
    exactly — checked against a pure-Python fold on series that
    exercise resets to zero, recovery after deep negative runs, ties
    broken by the trailing order key, and multiple keys."""
    import random

    from aws_ipl_data_pipeline_spark.operators.timeseries import cusum_stat

    rng = random.Random(7)
    rows = []
    for k in (1, 2, 3):
        for i in range(200):
            rows.append((k, i, rng.randint(-50, 55)))
    # adversarial tail for key 9: big swings + a tie on the order col
    rows += [(9, 0, 100), (9, 1, -300), (9, 2, 250), (9, 3, -1), (9, 4, 7)]
    df = spark.createDataFrame(rows, "k long, i long, d long")
    got = {
        (r["k"], r["i"]): r["cusum"]
        for r in cusum_stat(df, "k", ("i",), "d").collect()
    }
    series: dict[int, list[tuple[int, int]]] = {}
    for k, i, d in rows:
        series.setdefault(k, []).append((i, d))
    for k, pts in series.items():
        s = 0
        for i, d in sorted(pts):
            s = max(0, s + d)
            assert got[(k, i)] == s, (k, i, got[(k, i)], s)


def test_decayed_engagement_horizon_and_halving(spark, tmp_path_factory):
    """The corpus spans 30 days, so the >41-day horizon branch is dead
    in the oracle battery — pin it here: events older than the horizon
    contribute exactly 0, each day of age exactly halves the integer
    weight, and same-day events share the full 2^40 quantum."""
    from datetime import datetime, timedelta, timezone

    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    base = datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)
    rows = [
        # user 1: reference event (age 0) + one exactly 1 day older +
        # one 40 days old (weight 1) + one 41 days old (weight 0) +
        # one 300 days old (shift guard: must be 0, not overflow)
        (1, base, 1.0),
        (1, base - timedelta(days=1), 1.0),
        (1, base - timedelta(days=40), 1.0),
        (1, base - timedelta(days=41), 1.0),
        (1, base - timedelta(days=300), 1.0),
        # user 2: two same-day events
        (2, base - timedelta(hours=1), 1.0),
        (2, base - timedelta(hours=2), 1.0),
    ]
    df = spark.createDataFrame(
        [(u, i, ts, v) for i, (u, ts, v) in enumerate(rows)],
        "user_id long, event_id long, ts timestamp, value double",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.select("user_id", "event_id", "ts", "value").write.parquet(
            f"{td}/events.parquet"
        )
        got = {
            r["user_id"]: (r["score_scaled"], r["n_7d"])
            for r in REGISTRY["decayed_engagement"].fn(spark, td).collect()
        }
    w = 1 << 40
    # score = 2^40 + 2^39 + 2^0 + 0 + 0; n_7d counts ages 0 AND 1
    assert got[1] == (w + w // 2 + 1, 2)
    assert got[2] == (2 * w, 2)


def test_chi2_independent_table_has_zero_contributions(spark, tmp_path_factory):
    """A perfectly independent contingency table must produce contrib
    exactly 0.0 in every cell and expected_1e4 == observed*1e4 — the
    null-hypothesis fixed point the synthetic corpus never hits."""
    import tempfile

    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    rows = []
    did = 0
    # counts: source s_i has 10*(i+1) docs, split 50/50 across 2 langs
    for i, src in enumerate(("a", "b", "c")):
        for lang in ("en", "de"):
            for _ in range(5 * (i + 1)):
                rows.append((did, "t", lang, src, 1))
                did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/documents.parquet")
        out = REGISTRY["chi2_source_lang"].fn(spark, td).collect()
    assert len(out) == 6
    for r in out:
        assert r["contrib"] == 0.0, r
        assert r["expected_1e4"] == r["observed"] * 10000, r


def test_bpe_apply_token_count_known_words(spark):
    """bpe_apply_token_count under the demo merge table: 'the'
    collapses to ONE token through the topological chain
    (e+</w> → th → th+e</w>), 'then' keeps th/en/</w>, single chars
    keep char+</w>, and a word with no applicable merges stays
    chars+1. Also pins the single-pass replace semantics on a
    repeated-pair run ('tttt' → t,t,t,t</w>: the (t,</w>) merge
    applies once at the end, no (t,t) merge exists)."""
    from aws_ipl_data_pipeline_spark.operators.text import (
        bpe_apply_token_count,
    )

    df = spark.createDataFrame(
        [("the",), ("then",), ("a",), ("tttt",), ("xyz",)], "word string"
    )
    got = {
        r["word"]: r["n"]
        for r in df.select(
            "word", bpe_apply_token_count("word").alias("n")
        ).collect()
    }
    assert got == {"the": 1, "then": 3, "a": 2, "tttt": 4, "xyz": 4}
    # and the generated SQL twin agrees symbol-for-symbol
    import duckdb

    from aws_ipl_data_pipeline_spark.operators.text import bpe_apply_sql_expr

    e = bpe_apply_sql_expr("w")
    sql = duckdb.sql(
        f"SELECT w, {e} AS n FROM (VALUES ('the'), ('then'), ('a'), "
        "('tttt'), ('xyz')) t(w)"
    ).fetchall()
    assert dict(sql) == got


def test_bpe_train_merges_hand_traced(spark):
    """bpe_train_merges on a 4-word vocab reproduces the hand-traced
    training run: round argmaxes under the (count DESC, sym_a, sym_b)
    tie-break — round 1 ties (h,e)/(t,h) at 7 and 'h' < 't' wins;
    rounds 3-5 tie at 5 and resolve a < t < the — and pre-merge counts
    recorded. Round 6 exercises a merged symbol ('at</w>') re-entering
    the pair pool. Also pins early-stop: training past pair
    exhaustion returns fewer rounds, never loops."""
    from aws_ipl_data_pipeline_spark.operators.text import bpe_train_merges

    w = spark.createDataFrame(
        [("the", 5), ("then", 2), ("at", 3), ("hat", 2)],
        "word string, tf long",
    )
    got = bpe_train_merges(w, n_merges=6)
    assert got == [
        ("h", "e", 7),
        ("t", "he", 7),
        ("a", "t", 5),
        ("at", "</w>", 5),
        ("the", "</w>", 5),
        ("h", "at</w>", 2),
    ]
    # exhaustion: a single 2-char word has 2 mergeable pairs, then the
    # fully-merged single symbol offers none — request 10, get 2
    one = spark.createDataFrame([("ab", 1)], "word string, tf long")
    assert len(bpe_train_merges(one, n_merges=10)) == 2


def test_bpe_trained_table_drives_apply_path(spark):
    """The trained table composes with the APPLY path (VERDICT r10
    item 4's closing check): tokenizing a fixture under
    bpe_train_merges' output via bpe_apply_token_count yields the
    bpe_apply_stats token counts, bit-identical to the DuckDB twin
    generated from the SAME trained table (bpe_apply_sql_expr) and to
    a pure-Python replay of the leftmost non-overlapping single-pass
    replace semantics."""
    import duckdb

    from aws_ipl_data_pipeline_spark.operators.text import (
        bpe_apply_sql_expr,
        bpe_apply_token_count,
        bpe_train_merges,
    )

    words = [
        ("the", 9), ("there", 4), ("then", 3), ("other", 5),
        ("at", 6), ("hat", 2), ("that", 7), ("a", 8),
    ]
    w = spark.createDataFrame(words, "word string, tf long")
    table = [(a, b) for a, b, _ in bpe_train_merges(w, n_merges=5)]

    got = {
        r["word"]: r["n"]
        for r in w.select(
            "word", bpe_apply_token_count("word", merges=table).alias("n")
        ).collect()
    }

    def py_apply(word: str) -> int:
        syms = list(word) + ["</w>"]
        s = " " + " ".join(syms) + " "
        for a, b in table:
            s = s.replace(f" {a} {b} ", f" {a}{b} ")
        return len(s.split())

    assert got == {wd: py_apply(wd) for wd, _ in words}

    vals = ", ".join(f"('{wd}')" for wd, _ in words)
    e = bpe_apply_sql_expr("w", merges=table)
    sql = duckdb.sql(f"SELECT w, {e} AS n FROM (VALUES {vals}) t(w)").fetchall()
    assert dict(sql) == got
