"""Property-based tests (SURVEY §5): invariants of the medallion plans
over randomized ball sequences."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
from aws_ipl_data_pipeline_spark.schemas import RAW_DELIVERIES
from tests.fixtures_ipl import match_meta, players

EVENTS = [
    "no run", "1 run", "2 runs", "four", "six", "wide", "no ball",
    "byes", "leg byes", "5 wides", "out Bowled !", "out Caught !",
]

_spark = None
_prev_shuffle_partitions = None


def _get_spark():
    # hypothesis drives many examples; reuse one session (pytest fixture
    # injection doesn't compose with @given)
    global _spark, _prev_shuffle_partitions
    if _spark is None:
        from pyspark.sql import SparkSession

        from aws_ipl_data_pipeline_spark.session import get_spark

        active = SparkSession.getActiveSession()
        if active is not None:  # getOrCreate will mutate, not create
            _prev_shuffle_partitions = active.conf.get(
                "spark.sql.shuffle.partitions"
            )
        _spark = get_spark(app_name="props", master="local[2]", shuffle_partitions=2)
    return _spark


def teardown_module():
    # getOrCreate applied shuffle_partitions=2 to the SHARED session's
    # runtime conf — restore it so later test modules (e.g. the AQE skew
    # gate, whose median-size math needs real partition counts) see the
    # suite default again
    if _spark is not None and _prev_shuffle_partitions is not None:
        _spark.conf.set(
            "spark.sql.shuffle.partitions", _prev_shuffle_partitions
        )


@st.composite
def ball_sequences(draw):
    n_innings = draw(st.integers(1, 3))
    seq = []
    t = 0
    for _ in range(n_innings):
        n_balls = draw(st.integers(1, 8))
        for b in range(n_balls):
            t += 1
            ev = draw(st.sampled_from(EVENTS))
            # over 0, balls numbered 1..n (rebowls repeat the number
            # naturally via the event type; keep the raw ball counter
            # simple — innings boundaries need over=0 ball=1 fresh)
            seq.append((0, b + 1, ev, t))
    return seq


def _raw_df(spark, seq):
    rows = [
        ("M1", "Apr 01", "7:30", "V", over, ball, "Bowler A", "Batter B", ev, "",
         f"2026-04-01 19:{t // 60:02d}:{t % 60:02d}.000000")
        for (over, ball, ev, t) in seq
    ]
    return spark.createDataFrame(rows, schema=RAW_DELIVERIES)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(ball_sequences())
def test_bronze_invariants(seq):
    spark = _get_spark()
    bronze = to_bronze(_raw_df(spark, seq)).orderBy("extract_time").collect()
    assert len(bronze) > 0
    # invariant 1: score is the prefix-sum of total_runs within innings
    # invariant 2: fallen_wickets is the prefix-sum of wicket
    # invariant 3: innings is non-decreasing in scrape order
    run_sum: dict[int, int] = {}
    wkt_sum: dict[int, int] = {}
    prev_inn = 1
    for r in bronze:
        inn = r["innings"]
        assert inn >= prev_inn
        prev_inn = inn
        run_sum[inn] = run_sum.get(inn, 0) + r["total_runs"]
        wkt_sum[inn] = wkt_sum.get(inn, 0) + r["wicket"]
        assert r["score"] == run_sum[inn], (r, run_sum)
        assert r["fallen_wickets"] == wkt_sum[inn]
        # invariant 4: total_runs = runs + extra_runs; flags consistent
        assert r["total_runs"] == r["runs"] + r["extra_runs"]
        assert (r["extra_type"] in ("wide", "no ball", "no-ball")) == (r["rebowl"] == 1)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(ball_sequences())
@pytest.mark.slow
def test_bronze_dedupe_idempotent(seq):
    """Processing the same scrape twice yields the same bronze (the
    reference's re-run safety, ex_match_rb.py:183,207)."""
    spark = _get_spark()
    raw = _raw_df(spark, seq)
    once = to_bronze(raw).orderBy("extract_time").collect()
    twice = to_bronze(raw.unionByName(raw)).orderBy("extract_time").collect()
    assert once == twice


def test_silver_stable_under_repartition():
    """Silver output is independent of input partitioning (the ordering
    contract actually holds)."""
    spark = _get_spark()
    from tests.fixtures_ipl import raw_deliveries

    raw = raw_deliveries(spark)
    meta, plyr = match_meta(spark), players(spark)
    a = to_silver(to_bronze(raw), meta, plyr)
    b = to_silver(to_bronze(raw.repartition(7)), meta, plyr)
    cols = sorted(a.columns)
    ka = sorted(tuple(r) for r in a.select(*cols).collect())
    kb = sorted(tuple(r) for r in b.select(*cols).collect())
    assert ka == kb


def test_standings_points_property():
    """points = 2·won + tied_nr for every team (reference :262)."""
    spark = _get_spark()
    from aws_ipl_data_pipeline_spark.plans import tournament_standings
    from tests.fixtures_ipl import raw_deliveries

    silver = to_silver(to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark))
    st_df = tournament_standings(silver)
    bad = st_df.where(F.col("points") != F.col("won") * 2 + F.col("tied_nr")).count()
    assert bad == 0


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # key (few keys → guaranteed collisions)
            st.floats(-1e6, 1e6, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 16),  # salt buckets
)
@pytest.mark.slow
def test_salted_aggregate_invariant(rows, buckets):
    """salted_aggregate ≡ plain groupBy for any distribution and any
    bucket count (sums compared exactly: both sides sum the same float32
    inputs as float64; counts exact)."""
    spark = _get_spark()
    from aws_ipl_data_pipeline_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(k, float(v)) for k, v in rows], "k long, v double"
    )
    plain = {
        r["k"]: (round(r["s"], 6), r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    salted = {
        r["k"]: (round(r["s"], 6), r["n"])
        for r in salted_aggregate(
            df, ["k"], {"s": F.col("v"), "n": F.lit(1)}, salt_buckets=buckets
        ).collect()
    }
    assert salted == plain


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.tuples(st.sampled_from(["a", "b", None]), st.integers(0, 100)),
        min_size=0,
        max_size=40,
    )
)
def test_rollup_hierarchy_consistency(rows):
    """ROLLUP invariant: each level's subtotals sum to the grand total,
    and the grand-total row equals the whole-frame aggregate."""
    spark = _get_spark()
    df = spark.createDataFrame(
        [(k, v) for k, v in rows] or [(None, None)], "k string, v long"
    )
    out = df.rollup("k").agg(
        F.grouping_id().alias("gid"),
        F.coalesce(F.sum("v"), F.lit(0)).alias("s"),
    ).collect()
    grand = [r for r in out if r["gid"] == 1]
    leaves = [r for r in out if r["gid"] == 0]
    assert len(grand) == 1
    assert sum(r["s"] for r in leaves) == grand[0]["s"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(  # a sequence of upsert batches
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(-1000, 1000)),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
@pytest.mark.slow
def test_upsert_by_key_model(tmp_path_factory, batches):
    """upsert_by_key over any batch sequence equals the dict model
    (last write per key wins); within a batch, precedence is undefined
    for duplicate keys so batches are deduped to the last tuple."""
    spark = _get_spark()
    from aws_ipl_data_pipeline_spark.sources.writers import upsert_by_key

    path = str(tmp_path_factory.mktemp("upsert_prop")) + "/t"
    model: dict[int, int] = {}
    for batch in batches:
        dedup = dict(batch)  # last (k,v) per key within the batch
        df = spark.createDataFrame(list(dedup.items()), "k long, v long")
        upsert_by_key(spark, df, path, keys=["k"])
        model.update(dedup)
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == model


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(0, 500)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([64, 257, 2048]),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_sequence_packing_invariants(rows, budget):
    """Packing layout invariants for any doc-id/token-count multiset and
    budget: offsets stay inside the pack, the layout is gapless (each
    doc starts exactly where the previous one ended, in hash order),
    and total token mass is preserved."""
    spark = _get_spark()
    from pyspark.sql import Window

    docs = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    w = (
        Window.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = docs.withColumn("cum", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "n_tokens",
        "cum",
        F.floor((F.col("cum") - F.col("n_tokens")) / budget).alias("pack_id"),
        ((F.col("cum") - F.col("n_tokens")) % budget).alias("pack_offset"),
    )
    got = out.collect()
    assert sum(r["n_tokens"] for r in got) == sum(n for _, n in rows)
    start = 0
    for r in sorted(got, key=lambda r: r["cum"]):
        assert r["pack_id"] == start // budget
        assert r["pack_offset"] == start % budget
        assert 0 <= r["pack_offset"] < budget
        start += r["n_tokens"]


@given(
    st.lists(
        st.tuples(
            st.integers(0, 100_000),
            st.lists(
                st.floats(-1.0, 1.0, allow_nan=False, width=32),
                min_size=8,
                max_size=8,
            ),
        ),
        min_size=2,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([1, 2, 5]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_blocked_cosine_matches_exact_random(vecs, n_blocks):
    """Reducer-blocked GEMM pairs == single-cartesian exact pairs on
    arbitrary vectors and block counts (zero vectors excluded — cosine
    undefined)."""
    import math

    from aws_ipl_data_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs_blocked,
    )
    from tests.oracles import embedding_cosine_pairs

    vecs = [(i, v) for i, v in vecs if math.sqrt(sum(x * x for x in v)) > 1e-6]
    if len(vecs) < 2:
        return
    spark = _get_spark()
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    want = sorted(
        map(tuple, embedding_cosine_pairs(emb, threshold=0.3).collect())
    )
    got = sorted(
        map(
            tuple,
            embedding_cosine_pairs_blocked(
                emb, threshold=0.3, n_blocks=n_blocks
            ).collect(),
        )
    )
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),  # user
            st.sampled_from(["view", "click", "purchase", "error"]),
            st.integers(0, 1000),  # timestamp offset (may collide)
        ),
        min_size=1,
        max_size=80,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_funnel_matches_python_reference(events):
    """Strict-order funnel semantics vs a brute-force per-user replay:
    stage k's timestamp is the earliest event of its type strictly
    after stage k-1, for arbitrary interleavings, duplicate
    timestamps, missing stages, and out-of-order arrival."""
    spark = _get_spark()
    from pyspark.sql import Window

    df = spark.createDataFrame(events, "user_id long, event_type string, us long")
    wu = Window.partitionBy("user_id")
    staged = (
        df.withColumn(
            "t_view", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(wu)
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") > F.col("t_view")),
                    F.col("us"),
                )
            ).over(wu),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") > F.col("t_click")),
                    F.col("us"),
                )
            ).over(wu),
        )
        .groupBy("user_id")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min("t_purchase").alias("t_purchase"),
        )
    )
    got = {
        r["user_id"]: (r["t_view"], r["t_click"], r["t_purchase"])
        for r in staged.collect()
    }

    def ref(user):
        evs = [(ts, ty) for (u, ty, ts) in events if u == user]
        out = []
        for stage in ("view", "click", "purchase"):
            # stage 1: min over all; later stages: min strictly after
            # the previous stage (None if that stage was never reached)
            if not out:
                cands = [ts for ts, ty in evs if ty == stage]
            elif out[-1] is None:
                cands = []
            else:
                cands = [ts for ts, ty in evs if ty == stage and ts > out[-1]]
            out.append(min(cands) if cands else None)
        return tuple(out)

    for user in {u for (u, _, _) in events}:
        assert got[user] == ref(user), user


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5000),
            min_size=1,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda toks: tuple(toks),
    )
)
def test_segment_dedup_identity_without_duplicates(token_lists):
    """When no 4-token segment repeats anywhere in the corpus,
    segment_dedup must be the identity: every doc reassembles to its
    own normalized text, nothing excised. Docs are built from globally
    unique tokens (doc index prefixed), so no segment can collide."""
    from aws_ipl_data_pipeline_spark.operators.dedup import segment_dedup

    spark = _get_spark()
    rows = [
        (i, " ".join(f"d{i}w{j}x{v}" for j, v in enumerate(toks)))
        for i, toks in enumerate(token_lists)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_tokens=4).collect()}
    assert len(out) == len(rows)
    for i, text in rows:
        assert out[i]["text_kept"] == text
        assert out[i]["n_segments_kept"] == out[i]["n_segments"]


# ---------------------------------------------------------------------------
# Sessionization / SCD2 invariants over randomized event logs
# ---------------------------------------------------------------------------

GAP_US = 14_400_000_000  # sessionize_events' 4h horizon, microseconds


@st.composite
def event_logs(draw):
    """Random (user_id, ts-offset-seconds, event_type, value) logs with
    gaps straddling the 4h session horizon."""
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    for i in range(n):
        user = draw(st.integers(min_value=1, max_value=4))
        # offsets up to ~3 days, mixing sub-horizon and super-horizon gaps
        off = draw(st.integers(min_value=0, max_value=260_000))
        ety = draw(st.sampled_from(["click", "view", "purchase"]))
        val = draw(st.integers(min_value=0, max_value=100))
        rows.append((i + 1, off, user, ety, float(val)))
    return rows


def _events_df(spark, rows):
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    return spark.createDataFrame(
        [
            (eid, base + timedelta(seconds=off), u, ety, val, "{}")
            for eid, off, u, ety, val in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_logs())
def test_sessionize_invariants(rows):
    """Sessions partition each user's events exactly; consecutive
    sessions of a user are separated by MORE than the horizon; events
    inside one session never straddle a super-horizon gap."""
    spark = _get_spark()
    from aws_ipl_data_pipeline_spark.queries import _sessionize_frame

    ev = _events_df(spark, rows)
    out = _sessionize_frame(ev).collect()
    per_user_events = {}
    for eid, off, u, ety, val in rows:
        per_user_events.setdefault(u, 0)
        per_user_events[u] += 1
    got_counts = {}
    for r in out:
        got_counts[r["user_id"]] = got_counts.get(r["user_id"], 0) + r["n_events"]
        assert r["start_us"] <= r["end_us"]
        assert r["end_us"] - r["start_us"] <= 260_000 * 1_000_000
    assert got_counts == per_user_events  # partition: every event in one session
    by_user = {}
    for r in sorted(out, key=lambda r: (r["user_id"], r["session_seq"])):
        prev = by_user.get(r["user_id"])
        if prev is not None:
            assert r["start_us"] - prev > GAP_US  # sessions truly separated
        by_user[r["user_id"]] = r["end_us"]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_logs())
def test_scd2_intervals_tile(rows):
    """SCD2 output: per user, intervals are ordered, non-overlapping,
    each closes exactly where the next opens, exactly one open
    (is_current) interval, and state always differs between adjacent
    intervals (no uncollapsed runs)."""
    spark = _get_spark()
    from aws_ipl_data_pipeline_spark.queries import _scd2_frame

    ev = _events_df(spark, rows)
    out = _scd2_frame(ev).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, ivals in by_user.items():
        ivals.sort(key=lambda r: r["valid_from_us"])
        opens = [r for r in ivals if r["is_current"] == 1]
        assert len(opens) == 1 and opens[0] is ivals[-1]
        for a, b in zip(ivals, ivals[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]  # tiling, no gaps
            assert a["state"] != b["state"]  # runs collapsed
        assert ivals[-1]["valid_to_us"] == -1


@st.composite
def small_corpora(draw):
    """Corpora of short docs over a tiny vocabulary — collisions and
    repeated runs are likely, exercising the dedup paths hard."""
    n_docs = draw(st.integers(min_value=2, max_value=8))
    docs = []
    for d in range(n_docs):
        n_tok = draw(st.integers(min_value=0, max_value=30))
        toks = [draw(st.sampled_from("a b c d e".split())) for _ in range(n_tok)]
        docs.append((d + 1, " ".join(toks)))
    return docs


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(small_corpora())
@pytest.mark.slow
def test_substring_dedup_matches_python_model(docs):
    """Exact model-based check: a 15-line pure-Python mirror of the
    stride-1 first-occurrence-wins semantics (including WITHIN-doc
    repeats — a doc's own later duplicate windows are excised, the Lee
    et al. self-repetition case hypothesis surfaced) must produce the
    identical kept text and removal counts."""
    spark = _get_spark()
    import re as _re

    from aws_ipl_data_pipeline_spark.operators.dedup import substring_dedup

    k = 5
    toks = {}
    for d, text in docs:
        norm = _re.sub(r"\s+", " ", text.lower().strip())
        toks[d] = norm.split(" ")  # '' -> [''] — one empty token, as shipped

    seen = {}
    for d in sorted(toks):
        tk = toks[d]
        for s in range(len(tk) - k + 1):
            seen.setdefault(" ".join(tk[s : s + k]), (d, s))
    expected = {}
    for d in sorted(toks):
        tk = toks[d]
        removed = set()
        n_dup = 0
        for s in range(len(tk) - k + 1):
            if seen[" ".join(tk[s : s + k])] != (d, s):
                removed.update(range(s, s + k))
                n_dup += 1
        kept = " ".join(t for i, t in enumerate(tk) if i not in removed)
        expected[d] = (kept, len(tk), len(removed), n_dup)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["text_kept"],
            r["n_tokens"],
            r["n_tokens_removed"],
            r["n_dup_windows"],
        )
        for r in substring_dedup(df, k=k).collect()
    }
    assert got == expected


_ND_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "omega", "kappa"]


@given(
    st.dictionaries(
        st.integers(0, 24),
        st.lists(st.sampled_from(_ND_WORDS), min_size=3, max_size=10),
        min_size=2,
        max_size=14,
    )
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_incremental_near_dedup_precision_and_exact_recall(docs):
    """Sound invariants of the approximate operator (never a full-recall
    claim — banding recall <1 is the documented contract): (1) PRECISION
    is exact — every returned pair's jaccard matches a python trigram
    reference and clears the threshold; (2) EXACT duplicates (identical
    normalized text ⇒ identical signatures ⇒ guaranteed band collision)
    across the split are always found; (3) output is invariant under
    input repartitioning."""
    from aws_ipl_data_pipeline_spark.operators.dedup import incremental_near_dedup

    spark = _get_spark()
    rows = [(d, " ".join(ws)) for d, ws in sorted(docs.items())]
    batch_rows = [(d, s) for d, s in rows if d % 2 == 0]
    corpus_rows = [(d, s) for d, s in rows if d % 2 == 1]
    if not batch_rows or not corpus_rows:
        return
    schema = "doc_id long, text string"
    batch = spark.createDataFrame(batch_rows, schema)
    corpus = spark.createDataFrame(corpus_rows, schema)
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in incremental_near_dedup(batch, corpus, threshold=0.5).collect()
    }

    def tri(s):
        w = s.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    ref = {}
    for b, bs in batch_rows:
        for c, cs in corpus_rows:
            sa, sb = tri(bs), tri(cs)
            if sa and sb:
                ref[(b, c)] = len(sa & sb) / len(sa | sb)
    # (1) precision: every returned pair is a true >=0.5 pair, value-exact
    for key, j in got.items():
        assert key in ref
        assert ref[key] >= 0.5
        assert abs(j - ref[key]) < 5e-4
    # (2) exact-duplicate recall: identical text across the split is
    # always caught (identical signature rows collide in every band)
    for key, j in ref.items():
        if j == 1.0:
            assert key in got
    # (3) partition invariance
    got2 = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in incremental_near_dedup(
            batch.repartition(5), corpus.repartition(3), threshold=0.5
        ).collect()
    }
    assert got2 == got


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 39), st.integers(0, 39)),
        min_size=0,
        max_size=60,
    )
)
@pytest.mark.slow
def test_star_contraction_matches_union_find(edges):
    """connected_components_star == a pure-Python union-find ground
    truth on arbitrary small multigraphs (self-loops, duplicate and
    reversed edges included) over a fixed 40-node universe. Union-find
    is an independent third implementation — star and minlabel are
    both Spark DataFrame programs, so this pins the algorithm family
    against non-Spark arithmetic entirely."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.dedup import (
        connected_components_star,
    )

    n = 40
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node of the component
    truth = {}
    roots = {}
    for v in range(n):
        r = find(v)
        roots.setdefault(r, []).append(v)
    for members in roots.values():
        m = min(members)
        for v in members:
            truth[v] = m

    spark = _get_spark()
    nodes = spark.range(n).select(F.col("id").alias("node"))
    if edges:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    else:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["node"]: r["label"]
        for r in connected_components_star(nodes, pairs, max_iter=12).collect()
    }
    assert got == truth


# ---------------------------------------------------------------- pagerank


@st.composite
def weighted_graphs(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    nodes = list(range(n))
    n_edges = draw(st.integers(min_value=0, max_value=25))
    weighted: dict[tuple[int, int], int] = {}
    for _ in range(n_edges):
        u = draw(st.integers(min_value=0, max_value=n - 1))
        v = draw(st.integers(min_value=0, max_value=n - 1))
        if u == v:
            continue
        weighted[(u, v)] = weighted.get((u, v), 0) + draw(
            st.integers(min_value=1, max_value=5)
        )
    return nodes, [(u, v, w) for (u, v), w in sorted(weighted.items())]


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(weighted_graphs())
@pytest.mark.slow
def test_pagerank_distributed_equals_reference(graph):
    """The distributed integer PageRank is bit-identical to the
    pure-python replica on arbitrary small weighted digraphs —
    including dangling nodes, isolated nodes, and empty edge sets."""
    from pyspark.sql import Row

    from aws_ipl_data_pipeline_spark.operators.graph import pagerank_fixed_int
    from tests.oracles import pagerank_fixed_int_reference

    nodes, edges = graph
    spark = _get_spark()
    nodes_df = spark.createDataFrame([Row(v=v) for v in nodes])
    if edges:
        edges_df = spark.createDataFrame(
            [Row(src=u, dst=v, w=w) for u, v, w in edges]
        )
    else:
        edges_df = spark.createDataFrame([], "src long, dst long, w long")
    got = {
        r["v"]: r["rank_scaled"]
        for r in pagerank_fixed_int(nodes_df, edges_df, iters=2).collect()
    }
    assert got == pagerank_fixed_int_reference(nodes, edges, iters=2)


# ---------------------------------------------------------------------------
# incremental gold: partials-merge ≡ batch builders on ARBITRARY silver
# frames (generalizes tests/test_gold_incremental.py's fixture equality —
# random N/A sentinels, nulls, missing phases, single-team matches)
# ---------------------------------------------------------------------------

_SILVER_COLS = (
    "match string, batsman string, bowler string, out_batsman string, "
    "batting_team string, bowling_team string, innings_phase string, "
    "runs int, total_runs int, wicket int, is_legal_delivery int, "
    "is_four int, is_six int, is_dot_ball int"
)

_name = st.sampled_from(["Asha", "Bela", "Chand", "N/A"]) | st.none()
_team = st.sampled_from(["AA", "BB", "CC", "N/A"]) | st.none()
_phase = st.sampled_from(["Powerplay", "Middle Overs"]) | st.none()


@st.composite
def silver_rows(draw):
    n = draw(st.integers(1, 24))
    rows = []
    for _ in range(n):
        rows.append(
            (
                draw(st.sampled_from(["M1", "M2", "M3"])),
                draw(_name),
                draw(_name),
                draw(_name),
                draw(_team),
                draw(_team),
                draw(_phase),
                draw(st.integers(0, 6)),
                draw(st.integers(0, 7)),
                draw(st.integers(0, 1)),
                draw(st.integers(0, 1)),
                draw(st.integers(0, 1)),
                draw(st.integers(0, 1)),
                draw(st.integers(0, 1)),
            )
        )
    return rows


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=silver_rows())
@pytest.mark.slow
def test_gold_partials_merge_equals_builders_on_random_silver(rows):
    """finisher(partials(silver)) must be row-identical to
    builder(silver) for EVERY silver frame, not just the golden
    fixture, and both must equal the DuckDB reference built from
    queries_ipl.py's SQL specs: the two-level integer decomposition
    (count-distinct ≡ partial-row count, max-of-sum, null-skipping
    Powerplay sums, unfiltered times_out attribution, standings team
    universe) has to survive N/A sentinels, nulls and degenerate
    matches."""
    from aws_ipl_data_pipeline_spark.plans.gold import (
        batsman_stats,
        bowler_stats,
        team_stats,
        tournament_standings,
    )
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        GOLD_FROM_PARTIALS,
        PARTIAL_BUILDERS,
    )
    from tests.gold_reference import gold_reference, reference_mismatches

    spark = _get_spark()
    silver = spark.createDataFrame(rows, _SILVER_COLS)
    builders = {
        "gold_batsman_stats": batsman_stats,
        "gold_bowler_stats": bowler_stats,
        "gold_team_stats": team_stats,
        "gold_tournament_standings": tournament_standings,
    }
    partials = {n: b(silver) for n, b in PARTIAL_BUILDERS.items()}

    def _key(v):
        # None-safe sort cell: hypothesis found a silver shape where a
        # rate is NULL for one team and a float for another — Python
        # tuple sort then compares None < float and THROWS, so the
        # comparator itself crashed before comparing anything. Nones
        # sort first via the bool; equal Nones never hit `<`.
        if v is None:
            return (True, 0)
        return (False, round(v, 6) if isinstance(v, float) else v)

    def canon(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(_key(v) for v in r) for r in df.select(*cols).collect()
        )

    reference = gold_reference(silver)
    for name, (pname, finisher) in GOLD_FROM_PARTIALS.items():
        incremental = finisher(partials[pname])
        full = builders[name](silver)
        assert canon(incremental) == canon(full), name
        for gold in (incremental, full):
            assert not reference_mismatches(name, gold, reference[name])


@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000),  # doc_id
            st.integers(0, 3),       # shard
            st.integers(0, 5_000),   # n_tokens
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    st.sampled_from([1, 4, 32]),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_length_bucketed_batches_invariants(rows, batch_size):
    """Length-bucketed batching invariants for any doc/shard/length
    multiset and batch size: every batch holds <= batch_size docs (and
    only the last batch of a shard holds fewer), batch_max_tokens is
    exactly the max length in the batch, pad_waste = batch_max - len,
    and batches partition each shard's docs in descending length order
    (every doc in batch b is >= every doc in batch b+1)."""
    spark = _get_spark()
    from aws_ipl_data_pipeline_spark.operators.packing import (
        length_bucketed_batches,
    )

    docs = spark.createDataFrame(rows, "doc_id long, source int, n_tokens long")
    got = length_bucketed_batches(
        docs, batch_size=batch_size, shard_col="source"
    ).collect()
    assert len(got) == len(rows)
    by_batch: dict[tuple, list] = {}
    for r in got:
        assert r["pad_waste"] == r["batch_max_tokens"] - r["n_tokens"]
        by_batch.setdefault((r["source"], r["batch_id"]), []).append(r)
    for (shard, bid), rs in by_batch.items():
        assert len(rs) <= batch_size
        assert max(x["n_tokens"] for x in rs) == rs[0]["batch_max_tokens"]
        assert all(x["batch_max_tokens"] == rs[0]["batch_max_tokens"] for x in rs)
        nxt = by_batch.get((shard, bid + 1))
        if nxt is not None:
            # a non-final batch is exactly full, and strictly ordered
            # ahead of the next batch
            assert len(rs) == batch_size
            assert min(x["n_tokens"] for x in rs) >= max(
                x["n_tokens"] for x in nxt
            )


_BUCKET_POOL: dict = {}


def _match_pool(spark):
    """Six match ids, three of which SHARE a hash bucket (found by
    probing Spark's own xxhash64 over a candidate pool) — the sibling
    carry-forward in write_partials only runs on bucket collisions, so
    random ids over 256 buckets would almost never exercise it."""
    if "pool" not in _BUCKET_POOL:
        from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
            match_bucket_col,
        )

        cand = spark.createDataFrame(
            [(f"M{i:03d}",) for i in range(400)], "match string"
        ).select("match", match_bucket_col().alias("b"))
        by_bucket: dict = {}
        for r in cand.collect():
            by_bucket.setdefault(r["b"], []).append(r["match"])
        shared = next(v for v in by_bucket.values() if len(v) >= 3)[:3]
        singles = [v[0] for v in by_bucket.values() if len(v) == 1][:3]
        _BUCKET_POOL["pool"] = shared + singles
    return _BUCKET_POOL["pool"]


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    start=st.lists(st.integers(0, 5), min_size=1, max_size=6, unique=True),
    ops=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3)),  # (match idx, version; 3=retract)
        min_size=1,
        max_size=4,
    ),
)
@pytest.mark.slow
def test_bucketed_partials_model_equivalence(spark, start, ops):
    """Model-based check of the r9 bucketed partials layout: ANY
    sequence of per-match rescrapes and full-match retractions applied
    through the shared write_partials policy (bootstrap -> scoped
    bucket rewrites with tombstones) must leave finisher(partials) ==
    batch_builder(current silver) — including ops on matches that
    share a hash bucket, where the rewrite must carry sibling rows
    through unchanged and retire stale tombstones on re-rescrape."""
    import shutil
    import tempfile

    from aws_ipl_data_pipeline_spark.plans.gold import bowler_parts
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        bowler_stats_from_partials,
        with_match_tombstones,
        write_partials,
    )
    from aws_ipl_data_pipeline_spark.sources.readers import read_table
    from aws_ipl_data_pipeline_spark.sources.writers import HAVE_DELTA

    pool = _match_pool(spark)
    schema = (
        "match string, bowler string, total_runs int, is_legal_delivery int, "
        "wicket int, is_dot_ball int, is_four int, is_six int"
    )

    def silver_rows(match: str, version: int):
        # deterministic per (match, version); version 3 = retracted.
        # Version 2 maps every bowler to the N/A sentinel -> ZERO
        # partial rows for the builder (the tombstone-only case).
        if version == 3:
            return []
        if version == 2:
            return [(match, "N/A", 4, 1, 0, 0, 1, 0)]
        rows = []
        for i in range(2 + version):
            b = f"B{(hash((match, i)) % 4)}"
            rows.append((match, b, 10 * version + i, 1, i % 2, 0, 0, i % 2))
        return rows

    def silver_df(state: dict):
        rows = [r for m, v in state.items() for r in silver_rows(m, v)]
        return spark.createDataFrame(rows, schema) if rows else spark.createDataFrame([], schema)

    fmt = "delta" if HAVE_DELTA else "parquet"
    state = {pool[i]: 0 for i in start}
    work = tempfile.mkdtemp(prefix="bucketprop")
    try:
        ppath = f"{work}/_partials_bowler"
        write_partials(
            bowler_parts(silver_df(state)), ppath, scoped=False
        )
        for idx, version in ops:
            m = pool[idx]
            if version == 3:
                state.pop(m, None)
            else:
                state[m] = version
            affected_df = spark.createDataFrame([(m,)], "match string")
            batch = spark.createDataFrame(silver_rows(m, version) or [], schema)
            pdf = with_match_tombstones(bowler_parts(batch), affected_df)
            write_partials(
                pdf, ppath, scoped=True, affected_matches=affected_df
            )
        got = sorted(
            tuple(r)
            for r in bowler_stats_from_partials(
                read_table(spark, ppath, fmt=fmt)
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in bowler_stats_from_partials(
                bowler_parts(silver_df(state))
            ).collect()
        )
        assert got == want
    finally:
        shutil.rmtree(work, ignore_errors=True)


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0, max_size=8,
        ),
        min_size=1, max_size=25,
    ),
    st.integers(min_value=1, max_value=3),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_pmi_collocations_matches_python_reference(token_docs, min_pair):
    """pmi_collocations ≡ a direct python recount on random tiny
    corpora: same kept pairs under the exact integer lift gate, same
    counts — including the boundary behavior (strict >) and the
    degenerate docs (empty / single-token) the SQL oracle never sees."""
    from collections import Counter

    from aws_ipl_data_pipeline_spark.operators.text import pmi_collocations

    spark = _get_spark()
    docs = spark.createDataFrame(
        [(" ".join(toks),) for toks in token_docs], "text string"
    )
    got = {
        (r["w1"], r["w2"]): (r["pair_count"], r["w1_count"], r["w2_count"])
        for r in pmi_collocations(
            docs, min_pair_count=min_pair, top_k=1000
        ).collect()
    }

    kept_docs = [t for t in token_docs if len(t) >= 2]
    pair_c = Counter()
    tok_c = Counter()
    for toks in kept_docs:
        tok_c.update(toks)
        pair_c.update(zip(toks, toks[1:]))
    n_pairs = sum(pair_c.values())
    n_toks = sum(tok_c.values())
    want = {}
    for (w1, w2), c in pair_c.items():
        if c >= min_pair and 5 * c * n_toks * n_toks > 6 * n_pairs * tok_c[w1] * tok_c[w2]:
            want[(w1, w2)] = (c, tok_c[w1], tok_c[w2])
    assert got == want


# ---------------------------------------------------------------------------
# r9 continuation operators vs pure-Python references
# ---------------------------------------------------------------------------

_VOCAB = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf"]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_containment_matches_set_reference(docs):
    """shingle_containment_pairs ≡ brute-force Python set containment
    (threshold 50%, min_size 2) on random small-vocab docs — the tiny
    vocabulary forces heavy shingle overlap, so both the gate boundary
    and the contained/container orientation get exercised."""
    from aws_ipl_data_pipeline_spark.operators.dedup import (
        shingle_containment_pairs,
    )

    spark = _get_spark()
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in shingle_containment_pairs(
            df, threshold_pct=50, min_size=2
        ).collect()
    }
    sets = {
        i: {tuple(ws[j : j + 3]) for j in range(len(ws) - 2)}
        for i, ws in enumerate(docs)
    }
    want = {}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            common = len(sets[a] & sets[b])
            least = min(len(sets[a]), len(sets[b]))
            if least < 2 or common * 100 < 50 * least:
                continue
            if len(sets[a]) < len(sets[b]):
                contained, container = a, b
            else:
                contained, container = b, a
            want[(contained, container)] = round(common / least, 4)
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 6)),  # (basket, item)
        min_size=0,
        max_size=60,
    )
)
@pytest.mark.slow
def test_copurchase_matches_python_reference(pairs):
    """copurchase_pairs ≡ brute-force Python reference: supports,
    co-basket counts, the integer lift gate, and the min-support
    boundary, on random (basket, item) memberships with duplicates."""
    from aws_ipl_data_pipeline_spark.operators.itemsets import (
        copurchase_pairs,
    )

    spark = _get_spark()
    df = spark.createDataFrame(
        [(b, i) for b, i in pairs] or [(0, 0)], "b long, i long"
    )
    if not pairs:
        df = df.limit(0)
    got = {
        (r["item_a"], r["item_b"]): (
            r["co_baskets"],
            r["supp_a"],
            r["supp_b"],
            r["lift"],
        )
        for r in copurchase_pairs(df, "b", "i", min_pair_support=2).collect()
    }
    members = set(pairs)
    baskets = {}
    supp = {}
    for b, i in members:
        baskets.setdefault(b, set()).add(i)
        supp[i] = supp.get(i, 0) + 1
    n = len(baskets)
    co = {}
    for items in baskets.values():
        s = sorted(items)
        for x in range(len(s)):
            for y in range(x + 1, len(s)):
                co[(s[x], s[y])] = co.get((s[x], s[y]), 0) + 1
    want = {}
    for (a, b), c in co.items():
        if c >= 2 and n * c > supp[a] * supp[b]:
            want[(a, b)] = (
                c,
                supp[a],
                supp[b],
                round(n * c / (supp[a] * supp[b]), 4),
            )
    assert got == want


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=0,
        max_size=40,
    ),
    st.sets(st.integers(0, 11), min_size=1, max_size=3),
    st.integers(1, 4),
)
@pytest.mark.slow
def test_bfs_matches_python_reference(edges, seeds, hops):
    """bfs_distances ≡ textbook multi-source BFS on random digraphs
    (self-loops dropped like covisit_edges does), any seed set, any
    hop bound."""
    from aws_ipl_data_pipeline_spark.operators.graph import bfs_distances

    spark = _get_spark()
    edges = [(a, b) for a, b in edges if a != b]
    edf = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    )
    if not edges:
        edf = edf.limit(0)
    sdf = spark.createDataFrame([(v,) for v in seeds], "v long")
    got = {
        (r["v"]): r["dist"]
        for r in bfs_distances(sdf, edf, max_hops=hops).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    dist = {v: 0 for v in seeds}
    frontier = set(seeds)
    for h in range(1, hops + 1):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        nxt -= dist.keys()
        for v in nxt:
            dist[v] = h
        frontier = nxt
    assert got == dist


def _trunc_div(num: int, den: int) -> int:
    # Spark `div` / DuckDB `//` truncate toward zero; Python // floors
    q = abs(num) // den
    return q if num >= 0 else -q


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # key
            st.integers(0, 20),  # hour bucket
            st.integers(-(10**6), 10**6),  # value in 1e-4 units
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_gap_fill_matches_python_reference(obs):
    """gap_fill_linear ≡ a pure-Python replica of the quantized
    algorithm (per-bucket integer-rounded mean, interior linear
    interpolation with TRUNCATING division — Python // floors, so the
    reference must re-implement trunc-div) on random sparse series
    including negative values and single-observation keys."""
    from datetime import datetime, timezone

    from aws_ipl_data_pipeline_spark.operators.timeseries import (
        gap_fill_linear,
    )

    spark = _get_spark()
    rows = [
        (
            k,
            datetime(2024, 1, 1, tzinfo=timezone.utc).replace(hour=0)
            + __import__("datetime").timedelta(hours=h, minutes=7),
            v / 10000.0,
        )
        for k, h, v in obs
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    got = {
        (r["user_id"], r["bucket"]): (round(r["value"], 6), r["filled"])
        for r in gap_fill_linear(df, key_col="user_id").collect()
    }
    # python reference
    per = {}
    for k, h, v in obs:
        per.setdefault(k, {}).setdefault(h, []).append(v / 10000.0)
    base = None
    # recover the absolute bucket ids the operator produced
    some_key = obs[0][0]
    abs_buckets = sorted(b for (kk, b) in got if kk == some_key)
    rel_min = min(h for k, h, v in obs if k == some_key)
    base = abs_buckets[0] - rel_min
    want = {}
    for k, series in per.items():
        q = {
            h: int(
                __import__("decimal").Decimal(
                    sum(vs) / len(vs) * 10000
                ).quantize(0, rounding="ROUND_HALF_UP")
            )
            for h, vs in series.items()
        }
        h0, h1 = min(q), max(q)
        hs = sorted(q)
        for h in range(h0, h1 + 1):
            if h in q:
                want[(k, base + h)] = (round(q[h] / 10000.0, 6), False)
            else:
                ph = max(x for x in hs if x < h)
                nh = min(x for x in hs if x > h)
                val = q[ph] + _trunc_div(
                    (q[nh] - q[ph]) * (h - ph), nh - ph
                )
                want[(k, base + h)] = (round(val / 10000.0, 6), True)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            st.integers(0, 100),  # offset seconds scaled to hours
            st.integers(-(10**6), 10**6),  # value in 1e-4 units
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_rolling_range_frame_matches_python(obs):
    """The trailing-24h RANGE frame ≡ a brute-force Python reference:
    per row, aggregate exactly the same-key rows within [t-24h, t]
    INCLUSIVE on both ends (peers at the boundary included — the SQL
    RANGE semantics), with exact integer sums."""
    from datetime import datetime, timedelta, timezone

    from pyspark.sql import Window as W

    spark = _get_spark()
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (u, i, base + timedelta(hours=h), v / 10000.0)
        for i, (u, h, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    ev = df.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 10000, 0).cast("long").alias("q"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-86_400_000_000, 0)
    )
    got = {
        r["event_id"]: (r["n"], r["s"])
        for r in ev.select(
            "event_id",
            F.count("*").over(w).alias("n"),
            F.sum("q").over(w).alias("s"),
        ).collect()
    }
    pts = [
        (u, i, int((base + timedelta(hours=h) - base).total_seconds() * 1e6), v)
        for i, (u, h, v) in enumerate(obs)
    ]
    for u, i, t, v in pts:
        inwin = [
            vv
            for (uu, ii, tt, vv) in pts
            if uu == u and t - 86_400_000_000 <= tt <= t
        ]
        assert got[i] == (len(inwin), sum(inwin)), (u, i)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            st.integers(0, 30),  # hour bucket
            st.integers(-(10**5), 10**5),  # value in 1e-4 units
        ),
        min_size=2,
        max_size=30,
    )
)
@pytest.mark.slow
def test_ols_moments_match_fraction_reference(obs):
    """user_value_trend's closed-form slope/intercept ≡ exact rational
    OLS via Fraction on the same integer moments — catching any drift
    in the moment algebra or the centering. Degenerate keys (single
    point / single distinct hour) must be absent from the output."""
    from datetime import datetime, timedelta, timezone
    from fractions import Fraction

    spark = _get_spark()
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (u, base + timedelta(hours=h, minutes=13), v / 10000.0)
        for u, h, v in obs
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    from aws_ipl_data_pipeline_spark.queries import REGISTRY
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")
        got = {
            r["user_id"]: (
                r["n_points"],
                r["slope_per_hour"],
                r["intercept"],
            )
            for r in REGISTRY["user_value_trend"].fn(spark, td).collect()
        }
    per: dict[int, list[tuple[int, int]]] = {}
    for u, h, v in obs:
        per.setdefault(u, []).append((h, v))
    want = {}
    for u, pts in per.items():
        xs0 = [h for h, _ in pts]
        x0 = min(xs0)
        xs = [h - x0 for h in xs0]
        ys = [v for _, v in pts]
        n = len(pts)
        sx, sy = sum(xs), sum(ys)
        sxx = sum(x * x for x in xs)
        sxy = sum(x * y for x, y in zip(xs, ys))
        den = n * sxx - sx * sx
        if n < 2 or den <= 0:
            continue
        slope = Fraction(n * sxy - sx * sy, den) / 10000
        inter = Fraction(sy * sxx - sx * sxy, den) / 10000
        want[u] = (n, float(slope), float(inter))
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0]
        # engine computes num/den in double then /1e4; the Fraction is
        # the exact value — agree to 1e-9 relative
        for gi, wi in zip(got[u][1:], want[u][1:]):
            assert abs(gi - wi) <= 1e-9 * max(1.0, abs(wi)), (u, gi, wi)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            st.integers(0, 10_000),  # offset seconds
            st.integers(-(10**6), 10**6),  # value in 1e-4 units
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_twap_matches_fraction_reference(obs):
    """user_twap ≡ exact rational TWAP (Fraction over the same
    millisecond-quantized holding durations) — pins segment counting,
    span arithmetic, the zero-span exclusion, and that single-event
    users are absent."""
    from datetime import datetime, timedelta, timezone
    from fractions import Fraction
    import tempfile

    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    spark = _get_spark()
    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (i, u, base + timedelta(seconds=s), v / 10000.0)
        for i, (u, s, v) in enumerate(obs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")
        got = {
            r["user_id"]: (r["n_segments"], r["span_ms"], r["twap"])
            for r in REGISTRY["user_twap"].fn(spark, td).collect()
        }
    per: dict[int, list[tuple[int, int]]] = {}
    for u, s, v in obs:
        per.setdefault(u, []).append((s, v))
    want = {}
    for u, pts in per.items():
        pts = sorted(pts)
        segs = [
            (v, (pts[i + 1][0] - s) * 1000)  # dt in ms
            for i, (s, v) in enumerate(pts[:-1])
        ]
        den = sum(dt for _, dt in segs)
        if not segs or den <= 0:
            continue
        num = sum(v * dt for v, dt in segs)
        twap = float(Fraction(num, den) / 10000)
        want[u] = (len(segs), den, twap)
    assert set(got) == set(want)
    for u in want:
        assert got[u][0] == want[u][0] and got[u][1] == want[u][1]
        assert abs(got[u][2] - want[u][2]) <= 1e-6 * max(1.0, abs(want[u][2]))
