"""ST1-ST4 equivalence: file-by-file streaming ingest ≡ batch backfill
(SURVEY §5 streaming tests)."""

from __future__ import annotations

import csv
import os

import pytest

from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
from aws_ipl_data_pipeline_spark.schemas import RAW_DELIVERIES
from aws_ipl_data_pipeline_spark.streaming import run_incremental_pipeline
from tests.fixtures_ipl import RAW_ROWS, match_meta, players, raw_deliveries

HEADER = [f.name for f in RAW_DELIVERIES.fields]


def _write_csv(path: str, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.slow
def test_stream_equals_batch_backfill(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    raw_dir = f"{base}/raw"
    meta, plyr = match_meta(spark), players(spark)

    # one file per match — then a partial re-scrape of match 1 (overlap)
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    for m, rows in by_match.items():
        _write_csv(f"{raw_dir}/{m}/{m}-1.csv", rows)
    # re-scrape: first 5 balls of match 1 again (dup content, new file)
    _write_csv(f"{raw_dir}/01_AAvsBB/01_AAvsBB-2.csv", by_match["01_AAvsBB"][:5])

    q = run_incremental_pipeline(
        spark,
        raw_dir=f"{raw_dir}/*/",
        silver_path=f"{base}/silver",
        gold_dir=f"{base}/gold",
        meta_df=meta,
        players_df=plyr,
        checkpoint_dir=f"{base}/ckpt",
        bronze_path=f"{base}/bronze",
        available_now=True,
    )
    q.awaitTermination(300)

    streamed_silver = spark.read.parquet(f"{base}/silver")
    batch_silver = to_silver(to_bronze(raw_deliveries(spark)), meta, plyr)
    # partition columns come back as strings; align
    batch_cols = [c for c in batch_silver.columns]
    streamed = streamed_silver.selectExpr(
        *[
            f"cast({c} as {dict(batch_silver.dtypes)[c]}) as {c}"
            for c in batch_cols
        ]
    )
    assert _canon(streamed) == _canon(batch_silver)

    standings = spark.read.parquet(f"{base}/gold/gold_tournament_standings")
    st = {r["team"]: r.asDict() for r in standings.collect()}
    assert st["Alpha XI"]["points"] == 2 and st["Bravo XI"]["points"] == 0


@pytest.mark.slow
def test_late_rescape_overwrites_match_partition(spark, tmp_path_factory):
    """A later fuller re-scrape of a match replaces that match's silver
    rows (latest-scrape-wins, reference replaceWhere policy) without
    touching other matches."""
    base = str(tmp_path_factory.mktemp("stream2"))
    raw_dir = f"{base}/raw"
    meta, plyr = match_meta(spark), players(spark)
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)

    # phase 1: only the first 5 balls of match 1, full match 2
    _write_csv(f"{raw_dir}/01_AAvsBB/01_AAvsBB-1.csv", by_match["01_AAvsBB"][:5])
    _write_csv(f"{raw_dir}/02_AAvsCC/02_AAvsCC-1.csv", by_match["02_AAvsCC"])
    kwargs = dict(
        raw_dir=f"{raw_dir}/*/",
        silver_path=f"{base}/silver",
        gold_dir=f"{base}/gold",
        meta_df=meta,
        players_df=plyr,
        checkpoint_dir=f"{base}/ckpt",
        bronze_path=f"{base}/bronze",
        available_now=True,
    )
    run_incremental_pipeline(spark, **kwargs).awaitTermination(300)
    silver1 = spark.read.parquet(f"{base}/silver")
    n_m1_before = silver1.where("match = '01_AAvsBB'").count()
    m2_before = _canon(silver1.where("match = '02_AAvsCC'"))

    # phase 2: full match-1 scrape arrives (superset of phase 1)
    _write_csv(f"{raw_dir}/01_AAvsBB/01_AAvsBB-2.csv", by_match["01_AAvsBB"])
    run_incremental_pipeline(spark, **kwargs).awaitTermination(300)
    silver2 = spark.read.parquet(f"{base}/silver")
    n_m1_after = silver2.where("match = '01_AAvsBB'").count()
    assert n_m1_before < n_m1_after == 15
    # untouched match byte-identical rows
    assert _canon(silver2.where("match = '02_AAvsCC'")) == m2_before


@pytest.mark.slow
def test_corrupt_bronze_fails_batch_not_silently(spark, tmp_path_factory):
    """A corrupt accumulated-bronze read must FAIL the micro-batch (so
    the checkpoint retries) — never be treated as 'first batch', which
    would overwrite accumulated partitions with only the new rows."""
    base = str(tmp_path_factory.mktemp("stream3"))
    raw_dir = f"{base}/raw"
    meta, plyr = match_meta(spark), players(spark)
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    _write_csv(f"{raw_dir}/01_AAvsBB/01_AAvsBB-1.csv", by_match["01_AAvsBB"])

    # bronze path exists but holds garbage instead of parquet
    bronze = f"{base}/bronze"
    os.makedirs(bronze, exist_ok=True)
    with open(f"{bronze}/part-00000.parquet", "w") as f:
        f.write("this is not parquet")

    q = run_incremental_pipeline(
        spark,
        raw_dir=f"{raw_dir}/*/",
        silver_path=f"{base}/silver",
        gold_dir=f"{base}/gold",
        meta_df=meta,
        players_df=plyr,
        checkpoint_dir=f"{base}/ckpt",
        bronze_path=bronze,
        available_now=True,
    )
    with pytest.raises(Exception):
        q.awaitTermination(300)
    # the corrupt file survived — nothing silently overwrote the table
    with open(f"{bronze}/part-00000.parquet") as f:
        assert f.read() == "this is not parquet"


@pytest.mark.slow
def test_corpus_ingest_stream_dedupes_across_batches(spark, tmp_path_factory):
    """Streaming corpus ingest: docs arriving in later files that
    duplicate earlier content (by prefix fingerprint) are rejected;
    the quality gate drops empty docs; reruns admit nothing new."""
    from aws_ipl_data_pipeline_spark.streaming.corpus import run_corpus_ingest

    base = str(tmp_path_factory.mktemp("corpus"))
    docs_dir = f"{base}/drop"
    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "unique first content"), (3, "   ")],
        schema,
    )
    b1.write.parquet(f"{docs_dir}/f1.parquet")
    kwargs = dict(
        docs_dir=f"{docs_dir}/*",
        out_path=f"{base}/admitted",
        checkpoint_dir=f"{base}/ckpt",
        schema=b1.schema,
        min_chars=1,
    )
    run_corpus_ingest(spark, **kwargs).awaitTermination(300)
    got1 = {r["doc_id"] for r in spark.read.parquet(f"{base}/admitted").collect()}
    assert got1 == {1, 2}  # empty doc 3 gated out

    # batch 2: doc 10 duplicates doc 1's content, doc 11 is novel
    spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "genuinely new material here")],
        schema,
    ).write.parquet(f"{docs_dir}/f2.parquet")
    run_corpus_ingest(spark, **kwargs).awaitTermination(300)
    got2 = {r["doc_id"] for r in spark.read.parquet(f"{base}/admitted").collect()}
    assert got2 == {1, 2, 11}

    # rerun with no new files: nothing changes
    run_corpus_ingest(spark, **kwargs).awaitTermination(300)
    got3 = {r["doc_id"] for r in spark.read.parquet(f"{base}/admitted").collect()}
    assert got3 == got2


@pytest.mark.slow
def test_file_sink_manifest_excludes_orphan_files(spark, tmp_path_factory):
    """The streaming parquet sink's exactly-once story: committed
    batches are listed in _spark_metadata, and a read of the output
    path trusts THAT manifest — an orphan parquet file (a crashed
    task's leftover, simulated here by hand) is invisible to readers
    instead of double-counting."""
    import glob
    import shutil

    base = str(tmp_path_factory.mktemp("filesink"))
    src, out = f"{base}/src", f"{base}/out"
    os.makedirs(src)
    with open(f"{src}/f0.json", "w") as f:
        f.write('{"event_id": 1, "v": 10.0}\n{"event_id": 2, "v": 20.0}\n')

    stream = spark.readStream.schema("event_id long, v double").json(src)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert os.path.isdir(f"{out}/_spark_metadata")  # the manifest exists

    committed = spark.read.parquet(out)
    assert committed.count() == 2

    # simulate a crashed task's orphan: copy a committed file under a
    # new name NOT present in the manifest
    a_file = glob.glob(f"{out}/part-*.parquet")[0]
    shutil.copy(a_file, f"{out}/part-99999-orphan.parquet")

    again = spark.read.parquet(out)
    assert again.count() == 2, "orphan file must be invisible to readers"


@pytest.mark.slow
def test_restart_from_checkpoint_is_exactly_once_per_file(
    spark, tmp_path_factory
):
    """Recovery guarantee the single-pass tests don't cover: after the
    pipeline drains and STOPS, a restart from the same checkpoint must
    process ONLY files that arrived in between (the source's file log
    is the exactly-once ledger) and converge to the same silver/gold a
    batch backfill over everything produces."""
    base = str(tmp_path_factory.mktemp("restart"))
    raw_dir = f"{base}/raw"
    meta, plyr = match_meta(spark), players(spark)

    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    matches = sorted(by_match)
    first, rest = matches[0], matches[1:]

    # run 1: only the first match's file exists
    _write_csv(f"{raw_dir}/{first}/{first}-1.csv", by_match[first])
    kwargs = dict(
        raw_dir=f"{raw_dir}/*/",
        silver_path=f"{base}/silver",
        gold_dir=f"{base}/gold",
        meta_df=meta,
        players_df=plyr,
        checkpoint_dir=f"{base}/ckpt",
        bronze_path=f"{base}/bronze",
        available_now=True,
    )
    q1 = run_incremental_pipeline(spark, **kwargs)
    q1.awaitTermination(300)
    batch_all = to_silver(to_bronze(raw_deliveries(spark)), meta, plyr)
    n_after_run1 = spark.read.parquet(f"{base}/silver").count()
    assert n_after_run1 == batch_all.where(f"match = '{first}'").count()

    # between runs: the remaining matches arrive
    for m in rest:
        _write_csv(f"{raw_dir}/{m}/{m}-1.csv", by_match[m])

    # run 2: same checkpoint — must pick up ONLY the new files and
    # leave match 1's partition byte-stable (no reprocessing)
    import glob

    sig_before = sorted(
        (p, os.path.getmtime(p))
        for p in glob.glob(f"{base}/silver/match={first}/**/*.parquet", recursive=True)
    )
    q2 = run_incremental_pipeline(spark, **kwargs)
    q2.awaitTermination(300)
    sig_after = sorted(
        (p, os.path.getmtime(p))
        for p in glob.glob(f"{base}/silver/match={first}/**/*.parquet", recursive=True)
    )
    assert sig_before == sig_after, "restart must not rewrite already-processed matches"

    streamed = spark.read.parquet(f"{base}/silver")
    batch = to_silver(to_bronze(raw_deliveries(spark)), meta, plyr)
    streamed = streamed.selectExpr(
        *[f"cast({c} as {dict(batch.dtypes)[c]}) as {c}" for c in batch.columns]
    )
    assert _canon(streamed) == _canon(batch)
