"""The CLI end-to-end: bronze → silver → gold over reference-layout
files equals the in-library batch path."""

from __future__ import annotations

import csv
import json
import os

import pytest

from aws_ipl_data_pipeline_spark.cli import main
from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
from aws_ipl_data_pipeline_spark.plans.gold import tournament_standings
from aws_ipl_data_pipeline_spark.schemas import MATCH_META, RAW_DELIVERIES
from tests.fixtures_ipl import META_ROWS, RAW_ROWS, match_meta, players, raw_deliveries

HEADER = [f.name for f in RAW_DELIVERIES.fields]


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.slow
def test_cli_medallion_equals_library(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cli"))

    # reference raw layout: one CSV per match under raw/<match>/
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    for m, rows in by_match.items():
        d = f"{base}/raw/{m}"
        os.makedirs(d)
        with open(f"{d}/{m}-1.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADER)
            w.writerows(rows)

    # reference meta layout: one JSON object per match
    os.makedirs(f"{base}/meta")
    meta_fields = [f.name for f in MATCH_META.fields]
    for row in META_ROWS:
        obj = dict(zip(meta_fields, row))
        with open(f"{base}/meta/{obj['short_name']}_meta.json", "w") as f:
            json.dump(obj, f)

    # players as JSONL
    players(spark).write.mode("overwrite").json(f"{base}/players")

    main(["bronze", "--raw-dir", f"{base}/raw/*/", "--out", f"{base}/bronze"])
    main(
        [
            "silver",
            "--bronze", f"{base}/bronze",
            "--meta", f"{base}/meta",
            "--players", f"{base}/players",
            "--out", f"{base}/silver",
        ]
    )
    main(["gold", "--silver", f"{base}/silver", "--out-dir", f"{base}/gold"])

    lib_silver = to_silver(to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark))
    cli_silver = spark.read.parquet(f"{base}/silver")
    dt = dict(lib_silver.dtypes)
    cli_silver = cli_silver.selectExpr(
        *[f"cast({c} as {dt[c]}) as {c}" for c in lib_silver.columns]
    )
    assert _canon(cli_silver) == _canon(lib_silver)

    lib_st = tournament_standings(lib_silver)
    cli_st = spark.read.parquet(f"{base}/gold/gold_tournament_standings")
    assert _canon(cli_st.select(*sorted(lib_st.columns))) == _canon(
        lib_st.select(*sorted(lib_st.columns))
    )


def test_cli_sql_over_parquet(spark, tmp_path_factory, capsys):
    base = str(tmp_path_factory.mktemp("clisql"))
    spark.createDataFrame(
        [(1, "AA", 10), (2, "BB", 30)], "rank long, team string, points long"
    ).write.parquet(f"{base}/standings")
    main(
        [
            "sql",
            "SELECT team, points FROM standings ORDER BY points DESC",
            "--table",
            f"standings={base}/standings",
        ]
    )
    out = capsys.readouterr().out
    assert "BB" in out and "30" in out


def test_cli_query_runs_and_writes(spark, tmp_path_factory, capsys):
    from aws_ipl_data_pipeline_spark.cli import main

    main(["query", "list"])
    out = capsys.readouterr().out
    assert "vocab_top_terms\toracle" in out

    dest = str(tmp_path_factory.mktemp("cliq")) + "/vocab"
    main(
        [
            "query",
            "vocab_top_terms",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--out",
            dest,
        ]
    )
    got = spark.read.parquet(dest)
    assert got.count() == 20
    assert set(got.columns) == {"token", "doc_freq"}


def test_cli_corpus_ingest(spark, tmp_path_factory):
    from aws_ipl_data_pipeline_spark.cli import main

    base = str(tmp_path_factory.mktemp("clicorpus"))
    spark.createDataFrame(
        [(1, "some text"), (2, "some text"), (3, "other text")],
        "doc_id long, text string",
    ).write.parquet(f"{base}/drop/f1.parquet")
    main(
        [
            "corpus",
            "--docs-dir",
            f"{base}/drop/*",
            "--out",
            f"{base}/admitted",
            "--checkpoint",
            f"{base}/ckpt",
        ]
    )
    got = {r["doc_id"] for r in spark.read.parquet(f"{base}/admitted").collect()}
    assert got == {1, 3}  # doc 2 deduped against doc 1's content


def test_cli_maintain_compact_and_sort(spark, tmp_path_factory, capsys):
    from aws_ipl_data_pipeline_spark.cli import main

    base = str(tmp_path_factory.mktemp("climaint"))
    path = f"{base}/t"
    spark.range(5000).selectExpr("id", "id % 11 AS k").repartition(20).write.parquet(
        path
    )
    main(["maintain", "compact", "--path", path, "--target-bytes", str(1 << 30)])
    assert "-> 1 files" in capsys.readouterr().out
    assert spark.read.parquet(path).count() == 5000

    main(["maintain", "sort", "--path", path, "--by", "k"])
    got = spark.read.parquet(path)
    assert got.count() == 5000 and set(got.columns) == {"id", "k"}


def test_cli_prep_chunk_and_mix(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prep"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    main(
        [
            "prep", "chunk", "--path", docs, "--out", f"{base}/chunks",
            "--chunk-tokens", "16", "--overlap", "4",
        ]
    )
    chunks = spark.read.parquet(f"{base}/chunks")
    assert chunks.count() > 0
    assert set(chunks.columns) == {
        "doc_id", "chunk_id", "chunk_text", "chunk_n_tokens", "n_tokens"
    }
    main(
        ["prep", "mix", "--path", docs, "--out", f"{base}/mixed", "--by", "lang"]
    )
    mixed = spark.read.parquet(f"{base}/mixed")
    assert 0 < mixed.count() < spark.read.parquet(docs).count()


@pytest.mark.slow
def test_cli_prep_kmeans(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prepk"))
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    main(
        [
            "prep", "kmeans", "--path", emb, "--out", f"{base}/clusters",
            "--k", "4", "--id-col", "vec_id",
        ]
    )
    out = spark.read.parquet(f"{base}/clusters")
    assert out.count() == spark.read.parquet(emb).count()
    assert out.select("centroid_id").distinct().count() <= 4


@pytest.mark.slow
def test_cli_gold_versioned_snapshots(spark, tmp_path_factory, capsys):
    """gold --versioned writes snapshot-isolated tables: a second run
    creates v2 while v1 stays time-travel-readable."""
    from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
    from aws_ipl_data_pipeline_spark.sources.versioned import (
        current_version,
        read_snapshot,
    )

    base = str(tmp_path_factory.mktemp("goldv"))
    silver = to_silver(to_bronze(raw_deliveries(spark)), match_meta(spark))
    silver.write.parquet(f"{base}/silver")

    for _ in range(2):
        main(
            [
                "gold", "--silver", f"{base}/silver",
                "--out-dir", f"{base}/gold", "--versioned",
            ]
        )
    tbl = f"{base}/gold/gold_tournament_standings"
    assert current_version(spark, tbl) == 2
    v1 = read_snapshot(spark, tbl, version=1)
    v2 = read_snapshot(spark, tbl)
    assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v2.collect()))

    # `cli sql` reads the committed snapshot, not every v=N directory
    capsys.readouterr()
    main(["sql", "SELECT count(*) AS n FROM st", "--table", f"st={tbl}"])
    out = capsys.readouterr().out
    cells = [ln.strip("|").strip() for ln in out.splitlines() if ln.startswith("|")]
    assert cells == ["n", str(v2.count())]


def test_cli_prep_pack(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prepp"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    main(
        [
            "prep", "pack", "--path", docs, "--out", f"{base}/packed",
            "--budget", "256", "--shard-col", "source",
        ]
    )
    out = spark.read.parquet(f"{base}/packed")
    assert out.count() == spark.read.parquet(docs).count()
    assert {"pack_id", "pack_offset", "n_tokens"} <= set(out.columns)
    # offsets stay inside the budget
    assert out.where("pack_offset >= 256 or pack_offset < 0").count() == 0


def test_cli_prep_chunk_semantic(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prepsem"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    main(
        [
            "prep", "chunk", "--path", docs, "--out", f"{base}/sem",
            "--chunk-tokens", "32", "--sep", r"\. ",
        ]
    )
    out = spark.read.parquet(f"{base}/sem")
    assert out.count() > 0
    assert {"chunk_id", "chunk_text", "n_segments", "chunk_n_tokens"} <= set(out.columns)


def test_cli_prep_segdedup_domaincap_score(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prep4"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    n_docs = spark.read.parquet(docs).count()

    main(
        [
            "prep", "segdedup", "--path", docs, "--out", f"{base}/seg",
            "--chunk-tokens", "8",
        ]
    )
    seg = spark.read.parquet(f"{base}/seg")
    assert seg.count() == n_docs
    assert "text_kept" in seg.columns and "n_segments_kept" in seg.columns

    main(
        [
            "prep", "domaincap", "--path", docs, "--out", f"{base}/capped",
            "--by", "lang", "--cap", "50",
        ]
    )
    capped = spark.read.parquet(f"{base}/capped")
    assert 0 < capped.count() < n_docs
    from pyspark.sql import functions as F

    assert (
        capped.groupBy("lang").count().agg(F.max("count")).collect()[0][0] <= 50
    )

    main(["prep", "score", "--path", docs, "--out", f"{base}/scored"])
    scored = spark.read.parquet(f"{base}/scored")
    assert scored.count() == n_docs
    assert {"score", "keep"} <= set(scored.columns)


def test_cli_prep_subdedup(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prep_sub"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    main(
        [
            "prep", "subdedup", "--path", docs, "--out", f"{base}/deduped",
            "--window-tokens", "8",
        ]
    )
    out = spark.read.parquet(f"{base}/deduped")
    assert out.count() == spark.read.parquet(docs).count()  # doc-grain preserved
    removed = out.agg({"n_tokens_removed": "sum"}).collect()[0][0]
    assert removed > 0  # the synthetic corpus has real duplicate windows


def test_cli_prep_diff(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prep_diff"))
    old = spark.createDataFrame(
        [(1, "same"), (2, "old text")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "new text"), (3, "added doc")],
        "doc_id long, text string",
    )
    old.write.parquet(f"{base}/old")
    new.write.parquet(f"{base}/new")
    main(
        [
            "prep", "diff", "--path", f"{base}/new",
            "--old-path", f"{base}/old", "--out", f"{base}/out",
        ]
    )
    got = {r["doc_id"]: r["status"] for r in spark.read.parquet(f"{base}/out").collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "added"}


def test_cli_prep_neardedup_and_embdedup(spark, tmp_path_factory):
    """prep neardedup writes the admitted (non-near-dup) subset of the
    batch vs the corpus; prep embdedup writes IVF-celled cosine pairs."""
    from pyspark.sql import functions as F

    base = str(tmp_path_factory.mktemp("prepnd"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    d = spark.read.parquet(docs)
    d.where(F.col("doc_id") % 10 == 0).write.parquet(f"{base}/batch")
    d.where(F.col("doc_id") % 10 != 0).write.parquet(f"{base}/corpus")
    main(
        [
            "prep", "neardedup", "--path", f"{base}/batch",
            "--old-path", f"{base}/corpus", "--out", f"{base}/admitted",
            "--threshold", "0.8",
        ]
    )
    admitted = spark.read.parquet(f"{base}/admitted")
    n_batch = spark.read.parquet(f"{base}/batch").count()
    # the sf0.001 cross-split near-dups (10 pairs hit distinct new ids)
    assert 0 < admitted.count() < n_batch
    assert set(admitted.columns) == set(d.columns)

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    main(
        [
            "prep", "embdedup", "--path", emb, "--out", f"{base}/pairs",
            "--id-col", "vec_id", "--threshold", "0.4", "--n-cells", "16",
        ]
    )
    pairs = spark.read.parquet(f"{base}/pairs")
    assert pairs.count() > 0
    assert set(pairs.columns) == {"id_a", "id_b", "cos_sim"}


def test_cli_prep_shuffle(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("prepshuf"))
    docs = "/root/testdata/sf0.001/documents.parquet"
    main(
        [
            "prep", "shuffle", "--path", docs, "--out", f"{base}/shuf",
            "--n-shards", "4", "--epoch", "2",
        ]
    )
    shuf = spark.read.parquet(f"{base}/shuf")
    n = spark.read.parquet(docs).count()
    assert shuf.count() == n
    assert set(shuf.columns) == {"doc_id", "shard", "position"}
    assert shuf.select("shard").distinct().count() <= 4


GOLD_TABLES = [
    "gold_batsman_stats",
    "gold_bowler_stats",
    "gold_team_stats",
    "gold_tournament_standings",
]


@pytest.mark.slow
def test_cli_gold_incremental_equals_full(
    spark, tmp_path_factory, forbid_python_rows
):
    """VERDICT r7 #8: `gold --gold-mode incremental` end-to-end —
    bootstrap, scoped rescrape (--affected-matches), and a full-match
    retraction (tombstone path) each produce gold identical to a full
    recompute over the same silver. Every gold run builds no
    Python-row frames (the retraction's empty scoped read included)."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.sources.writers import overwrite_table

    base = str(tmp_path_factory.mktemp("cligoldinc"))
    silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    m0 = silver.select("match").distinct().orderBy("match").first()[0]
    forbid_python_rows()

    def _write_silver(df):
        overwrite_table(
            df, f"{base}/silver", partition_by=["match", "innings"]
        )

    def _gold(out, mode, affected=None):
        argv = ["gold", "--silver", f"{base}/silver", "--out-dir", out,
                "--gold-mode", mode]
        if affected:
            argv += ["--affected-matches", affected]
        main(argv)

    def _assert_equal(a, b):
        for name in GOLD_TABLES:
            assert _canon(spark.read.parquet(f"{a}/{name}")) == _canon(
                spark.read.parquet(f"{b}/{name}")
            ), name

    # v1: bootstrap (no partials yet) — incremental must build them
    _write_silver(silver)
    _gold(f"{base}/gold_full", "full")
    _gold(f"{base}/gold_inc", "incremental")
    _assert_equal(f"{base}/gold_full", f"{base}/gold_inc")
    # partials exist after an incremental run
    assert os.path.isdir(f"{base}/gold_inc/_partials_team")

    # v2: rescrape changes match m0's rows — scoped partials rewrite
    silver_v2 = silver.where(
        ~((F.col("match") == m0) & (F.col("over") >= 10))
    )
    _write_silver(silver_v2)
    _gold(f"{base}/gold_full", "full")
    _gold(f"{base}/gold_inc", "incremental", affected=m0)
    _assert_equal(f"{base}/gold_full", f"{base}/gold_inc")

    # v3: m0 retracted entirely — the tombstone path must purge its
    # stale partials partition, not keep serving v2 numbers
    silver_v3 = silver_v2.where(F.col("match") != m0)
    _write_silver(silver_v3)
    _gold(f"{base}/gold_full2", "full")
    _gold(f"{base}/gold_inc", "incremental", affected=m0)
    _assert_equal(f"{base}/gold_full2", f"{base}/gold_inc")

    # v4: retraction WITHOUT --affected-matches — the no-scope refresh
    # must be authoritative: rebuild partials from v2 (m0 back, real
    # rows), then refresh over v3 (m0 absent) with no scope. A dynamic
    # overwrite would keep m0's stale partials partition and serve its
    # numbers in gold (r8 self-review); the static refresh drops it.
    _write_silver(silver_v2)
    _gold(f"{base}/gold_inc", "incremental")
    _write_silver(silver_v3)
    _gold(f"{base}/gold_inc", "incremental")
    _assert_equal(f"{base}/gold_full2", f"{base}/gold_inc")

    # a full-mode run over the incremental dir invalidates the partials
    # (mode-switch safety, same guard as the streaming branch)
    _gold(f"{base}/gold_inc", "full")
    assert not os.path.isdir(f"{base}/gold_inc/_partials_team")


@pytest.mark.slow
def test_cli_silver_replace_where_guards(spark, tmp_path_factory):
    """ADVICE r7 (medium): on the parquet branch --replace-where must be
    match-grain (sub-partition predicates are rejected, not silently
    destructive), and a retraction predicate whose match is absent from
    the new silver still deletes that match (Delta replaceWhere parity)."""
    base = str(tmp_path_factory.mktemp("clirw"))

    # reference layouts (same construction as the medallion test)
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    for m, rows in by_match.items():
        d = f"{base}/raw/{m}"
        os.makedirs(d)
        with open(f"{d}/{m}-1.csv", "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(HEADER)
            w.writerows(rows)
    os.makedirs(f"{base}/meta")
    meta_fields = [f.name for f in MATCH_META.fields]
    for row in META_ROWS:
        obj = dict(zip(meta_fields, row))
        with open(f"{base}/meta/{obj['short_name']}_meta.json", "w") as f:
            json.dump(obj, f)
    players(spark).write.mode("overwrite").json(f"{base}/players")

    main(["bronze", "--raw-dir", f"{base}/raw/*/", "--out", f"{base}/bronze"])
    silver_args = [
        "silver",
        "--bronze", f"{base}/bronze",
        "--meta", f"{base}/meta",
        "--players", f"{base}/players",
        "--out", f"{base}/silver",
    ]
    main(silver_args)
    matches = sorted(by_match)
    m0 = matches[0]

    # sub-match predicate → rejected before anything is deleted
    with pytest.raises(SystemExit):
        main(silver_args + ["--replace-where", f"match = '{m0}' AND innings = 1"])
    assert os.path.isdir(f"{base}/silver/match={m0}")

    # retraction: bronze without m0, predicate naming m0 — the match
    # directory must be deleted even though the new silver has no m0 rows
    spark.read.parquet(f"{base}/bronze").where(
        f"match != '{m0}'"
    ).write.mode("overwrite").parquet(f"{base}/bronze2")
    main(
        [
            "silver",
            "--bronze", f"{base}/bronze2",
            "--meta", f"{base}/meta",
            "--players", f"{base}/players",
            "--out", f"{base}/silver",
            "--replace-where", f"match = '{m0}'",
        ]
    )
    assert not os.path.isdir(f"{base}/silver/match={m0}")
    # the other matches' partitions survive untouched
    for m in matches[1:]:
        assert os.path.isdir(f"{base}/silver/match={m}")

    # no-predicate FULL rebuild is a static overwrite: a match vanished
    # from bronze must vanish from silver too (dynamic overwrite would
    # keep its stale directory)
    m1 = matches[1]
    spark.read.parquet(f"{base}/bronze2").where(
        f"match != '{m1}'"
    ).write.mode("overwrite").parquet(f"{base}/bronze3")
    main(
        [
            "silver",
            "--bronze", f"{base}/bronze3",
            "--meta", f"{base}/meta",
            "--players", f"{base}/players",
            "--out", f"{base}/silver",
        ]
    )
    assert not os.path.isdir(f"{base}/silver/match={m1}")
    for m in matches[2:]:
        assert os.path.isdir(f"{base}/silver/match={m}")


def test_cli_bronze_without_input_files_fails(spark, tmp_path_factory):
    """A --raw-dir that lists no CSV file (the per-match directories
    given without the */ glob) fails instead of writing an empty bronze."""
    base = str(tmp_path_factory.mktemp("clibronze0"))
    os.makedirs(f"{base}/raw/01_AAvsBB")
    with open(f"{base}/raw/01_AAvsBB/01_AAvsBB-1.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(RAW_ROWS[:3])
    with pytest.raises(SystemExit) as exc:
        main(["bronze", "--raw-dir", f"{base}/raw", "--out", f"{base}/bronze"])
    assert f"{base}/raw" in str(exc.value.code) and "*/" in str(exc.value.code)
    assert not os.path.exists(f"{base}/bronze")


def test_cli_gold_affected_requires_incremental(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cligguard"))
    with pytest.raises(SystemExit):
        main(["gold", "--silver", f"{base}/nope", "--out-dir", f"{base}/g",
              "--affected-matches", "m1"])
