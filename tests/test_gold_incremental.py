"""Incremental gold maintenance (plans/gold_incremental.py, ST4 at
100×): the partials-merge path must be indistinguishable from the
reference-parity full recompute — same tables from the batch builders,
and same tables out of a multi-batch incremental stream with an
overlapping rescrape."""

from __future__ import annotations

import csv
import os

import pytest

from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
from aws_ipl_data_pipeline_spark.plans.gold import (
    batsman_stats,
    bowler_stats,
    team_stats,
    tournament_standings,
)
from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
    GOLD_FROM_PARTIALS,
    PARTIAL_BUILDERS,
    match_bucket_col,
)
from aws_ipl_data_pipeline_spark.schemas import RAW_DELIVERIES, SILVER_DELIVERIES
from aws_ipl_data_pipeline_spark.sources.readers import local_frame
from aws_ipl_data_pipeline_spark.streaming import run_incremental_pipeline
from tests.fixtures_ipl import RAW_ROWS, match_meta, players, raw_deliveries
from tests.gold_reference import gold_reference, reference_mismatches

HEADER = [f.name for f in RAW_DELIVERIES.fields]

BATCH_BUILDERS = {
    "gold_batsman_stats": batsman_stats,
    "gold_bowler_stats": bowler_stats,
    "gold_team_stats": team_stats,
    "gold_tournament_standings": tournament_standings,
}


def _canon(df):
    def _key(v):
        # None-safe sort cell (r9: hypothesis caught the None-vs-float
        # tuple-sort TypeError in the properties twin of this helper)
        if v is None:
            return (True, 0)
        return (False, round(v, 6) if isinstance(v, float) else v)

    cols = sorted(df.columns)
    return sorted(tuple(_key(v) for v in r) for r in df.select(*cols).collect())


def _write_csv(path: str, rows) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


@pytest.mark.slow
def test_partials_merge_equals_batch_builders(spark):
    """finisher(partials(silver)) ≡ builder(silver) for all four gold
    tables on the golden fixtures — the static half of batch ≡
    incremental — and both equal the DuckDB reference built from
    queries_ipl.py's SQL specs."""
    silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    partials = {n: b(silver) for n, b in PARTIAL_BUILDERS.items()}
    reference = gold_reference(silver)
    for name, (pname, finisher) in GOLD_FROM_PARTIALS.items():
        incremental = finisher(partials[pname])
        full = BATCH_BUILDERS[name](silver)
        assert _canon(incremental) == _canon(full), name
        assert reference[name], name
        for gold in (incremental, full):
            assert not reference_mismatches(name, gold, reference[name])


# the stored partials schemas: `_partials_*` tables already on disk must
# stay readable by the unpacking code
STORED_PARTIALS = {
    "batsman": "struct<match:string,batsman:string,match_runs:bigint,"
    "legal_balls:bigint,fours:bigint,sixes:bigint,dot_balls:bigint,"
    "batted:boolean,times_out:bigint>",
    "bowler": "struct<match:string,bowler:string,total_runs_conceded:bigint,"
    "legal_balls:bigint,wickets:bigint,dot_balls:bigint,fours_conceded:bigint,"
    "sixes_conceded:bigint>",
    "team": "struct<match:string,team:string,total_runs:bigint,"
    "wickets_lost:bigint,legal_balls:bigint,fours:bigint,sixes:bigint,"
    "pp_runs:bigint,pp_balls:bigint,has_bat:boolean,runs_scored:bigint,"
    "legal_balls_batted:bigint,has_clean_bat:boolean,runs_conceded:bigint,"
    "legal_balls_bowled:bigint,has_clean_bowl:boolean>",
}


def test_stored_partials_schema_unchanged(spark):
    silver = local_frame(spark, SILVER_DELIVERIES)
    got = {p: b(silver).schema.simpleString() for p, b in PARTIAL_BUILDERS.items()}
    assert got == STORED_PARTIALS


@pytest.mark.slow
def test_incremental_stream_gold_equals_batch(
    spark, tmp_path_factory, forbid_python_rows
):
    """Multi-batch incremental stream (gold_mode='incremental') with an
    overlapping rescrape of two matches in different partials buckets:
    the final gold tables must equal the batch builders over the
    accumulated silver — including the stale-partial case (the
    rescrape's bucket REPLACE must not leave old partial rows behind).
    No micro-batch builds a Python-row frame."""

    base = str(tmp_path_factory.mktemp("goldinc"))
    raw_dir = f"{base}/raw"
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    # split every match into 2-row files so availableNow (8 files per
    # trigger) must take several micro-batches
    for m, rows in by_match.items():
        for i in range(0, len(rows), 2):
            _write_csv(f"{raw_dir}/{m}/{m}-{i:03d}.csv", rows[i : i + 2])
    # rescrape: the first balls of match 1 and of a match in another
    # bucket again (dup content, new files), newest so that they land
    # together in the last micro-batch
    bucket = dict(
        local_frame(spark, "match string", [(m,) for m in by_match])
        .select("match", match_bucket_col())
        .collect()
    )
    other = next(m for m in by_match if bucket[m] != bucket["01_AAvsBB"])
    for m in ("01_AAvsBB", other):
        _write_csv(f"{raw_dir}/{m}/{m}-re.csv", by_match[m][:5])
        os.utime(f"{raw_dir}/{m}/{m}-re.csv", (2e9, 2e9))

    batch_silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    meta_df, players_df = match_meta(spark), players(spark)
    forbid_python_rows()
    q = run_incremental_pipeline(
        spark,
        raw_dir=f"{raw_dir}/*/",
        silver_path=f"{base}/silver",
        gold_dir=f"{base}/gold",
        meta_df=meta_df,
        players_df=players_df,
        checkpoint_dir=f"{base}/ckpt",
        bronze_path=f"{base}/bronze",
        available_now=True,
        gold_mode="incremental",
    )
    assert q.awaitTermination(300), "incremental stream did not drain in 300s"
    assert q.exception() is None, q.exception()

    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{base}/gold/{name}"))
        want = _canon(builder(batch_silver))
        assert got == want, name
    # the INCREMENTAL branch (not per-batch re-bootstrap) must actually
    # have run: tombstone rows are only written on that branch (r7: a
    # probe bug made every batch silently re-bootstrap — correct output,
    # O(silver) per batch; this pins the fast path)
    parts = spark.read.parquet(f"{base}/gold/_partials_bowler")
    assert parts.where("bowler IS NULL").count() > 0


@pytest.mark.slow
def test_mode_switch_bootstraps_partials(spark, tmp_path_factory):
    """Switching gold_mode full -> incremental on an existing
    deployment must NOT truncate gold to the matches seen since the
    switch: the first incremental batch bootstraps the partials tables
    from full stored silver (r7 self-review finding)."""
    base = str(tmp_path_factory.mktemp("goldsw"))
    raw_dir = f"{base}/raw"
    by_match: dict[str, list] = {}
    for row in RAW_ROWS:
        by_match.setdefault(row[0], []).append(row)
    matches = sorted(by_match)
    # phase 1 (full mode): every match except the last
    for m in matches[:-1]:
        _write_csv(f"{raw_dir}/{m}/{m}-1.csv", by_match[m])
    kwargs = dict(
        raw_dir=f"{raw_dir}/*/",
        silver_path=f"{base}/silver",
        gold_dir=f"{base}/gold",
        meta_df=match_meta(spark),
        players_df=players(spark),
        checkpoint_dir=f"{base}/ckpt",
        bronze_path=f"{base}/bronze",
        available_now=True,
    )
    assert run_incremental_pipeline(spark, **kwargs, gold_mode="full").awaitTermination(300)
    # phase 2 (incremental mode, same checkpoint): only the held-out
    # match arrives — the batch touches 1 match but gold must cover all
    m_last = matches[-1]
    _write_csv(f"{raw_dir}/{m_last}/{m_last}-1.csv", by_match[m_last])
    assert run_incremental_pipeline(
        spark, **kwargs, gold_mode="incremental"
    ).awaitTermination(300)

    batch_silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{base}/gold/{name}"))
        want = _canon(builder(batch_silver))
        assert got == want, name

    # phase 3+4 (incremental → full → incremental round-trip, r7
    # second review): full mode must INVALIDATE the partials it does
    # not maintain, so the return to incremental re-bootstraps instead
    # of trusting tables that missed the full-mode interval
    _write_csv(f"{raw_dir}/{matches[0]}/{matches[0]}-re.csv", by_match[matches[0]][:5])
    assert run_incremental_pipeline(
        spark, **kwargs, gold_mode="full"
    ).awaitTermination(300)
    assert not os.path.exists(f"{base}/gold/_partials_batsman")  # invalidated
    _write_csv(f"{raw_dir}/{matches[1]}/{matches[1]}-re.csv", by_match[matches[1]][:5])
    assert run_incremental_pipeline(
        spark, **kwargs, gold_mode="incremental"
    ).awaitTermination(300)
    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{base}/gold/{name}"))
        want = _canon(builder(batch_silver))
        assert got == want, name


def test_tombstones_retract_stale_partials(spark, tmp_path):
    """A rescrape that leaves a match with ZERO partial rows for a
    builder must still retract that match's stale partials: dynamic
    partition overwrite only touches partitions present in the written
    frame, so with_match_tombstones guarantees the rewrite (r7
    self-review finding)."""
    from aws_ipl_data_pipeline_spark.plans.gold import bowler_parts
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        bowler_stats_from_partials,
        with_match_tombstones,
    )
    from aws_ipl_data_pipeline_spark.sources.writers import write_partitioned

    path = str(tmp_path / "partials_bowler")
    schema = (
        "match string, bowler string, total_runs int, is_legal_delivery int, "
        "wicket int, is_dot_ball int, is_four int, is_six int"
    )
    silver_v1 = spark.createDataFrame(
        [("M1", "Xavi", 4, 1, 0, 0, 1, 0), ("M2", "Yusu", 1, 1, 1, 0, 0, 0)],
        schema,
    )
    write_partitioned(
        bowler_parts(silver_v1), path, partition_by=["match"], mode="overwrite"
    )
    # rescrape of M1: every bowler is now the N/A sentinel — zero
    # partial rows for the bowler builder
    silver_m1_v2 = spark.createDataFrame([("M1", "N/A", 4, 1, 0, 0, 1, 0)], schema)
    affected = spark.createDataFrame([("M1",)], "match string")
    pdf = with_match_tombstones(bowler_parts(silver_m1_v2), affected)
    write_partitioned(pdf, path, partition_by=["match"], mode="overwrite")

    final = bowler_stats_from_partials(spark.read.parquet(path))
    bowlers = sorted(r["bowler"] for r in final.select("bowler").collect())
    assert bowlers == ["Yusu"], bowlers  # Xavi retracted, M2 untouched

    # and WITHOUT the tombstone the stale row would have survived —
    # pin that the guard is actually what fixes it
    write_partitioned(
        bowler_parts(silver_v1), path, partition_by=["match"], mode="overwrite"
    )
    bare = bowler_parts(silver_m1_v2)  # zero rows, no tombstone
    write_partitioned(bare, path, partition_by=["match"], mode="overwrite")
    stale = sorted(
        r["bowler"]
        for r in bowler_stats_from_partials(spark.read.parquet(path))
        .select("bowler")
        .collect()
    )
    assert stale == ["Xavi", "Yusu"]  # documents the hazard tombstones close


@pytest.mark.slow
def test_incremental_fat_partition_leaves_neighbors_byte_identical(
    spark, tmp_path_factory
):
    """VERDICT r7 #6: a skewed rescrape — one match's silver partition
    ~300× its neighbors — through the incremental CLI path must rewrite
    ONLY that match's partials partitions: every neighbor partition
    file stays BYTE-identical (hash compare, not value compare), and
    the merged gold still equals the batch builders over the new
    silver."""
    import hashlib

    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.cli import main
    from aws_ipl_data_pipeline_spark.sources.writers import overwrite_table

    base = str(tmp_path_factory.mktemp("fatpart"))
    silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    m0 = silver.select("match").distinct().orderBy("match").first()[0]
    # fatten m0: replicate its deliveries 300x (aggregation input scale;
    # partials stay per-key skinny, which is the point of the design)
    fat = silver.where(F.col("match") == m0).crossJoin(
        spark.range(300).select(F.col("id").alias("_rep"))
    ).drop("_rep")
    silver_v1 = silver.where(F.col("match") != m0).unionByName(fat)
    overwrite_table(
        silver_v1, f"{base}/silver", partition_by=["match", "innings"]
    )

    gold = f"{base}/gold"
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental"])

    # the replace unit is the match BUCKET (r9 layout): neighbors =
    # every bucket other than m0's; in-bucket siblings are rewritten
    # with identical content but possibly different bytes
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        match_bucket_col,
    )

    b0 = (
        spark.createDataFrame([(m0,)], "match string")
        .select(match_bucket_col().alias("b"))
        .first()[0]
    )

    def _neighbor_hashes():
        out = {}
        for pname in PARTIAL_BUILDERS:
            root = f"{gold}/_partials_{pname}"
            for dirpath, _dirs, files in os.walk(root):
                if f"mbucket={b0}" in dirpath:
                    continue
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, gold)] = hashlib.sha256(
                            fh.read()
                        ).hexdigest()
        return out

    before = _neighbor_hashes()
    assert before  # neighbors exist

    # rescrape: the fat match shrinks to 100x and loses its last overs
    fat_v2 = silver.where((F.col("match") == m0) & (F.col("over") < 15)).crossJoin(
        spark.range(100).select(F.col("id").alias("_rep"))
    ).drop("_rep")
    silver_v2 = silver.where(F.col("match") != m0).unionByName(fat_v2)
    overwrite_table(
        silver_v2, f"{base}/silver", partition_by=["match", "innings"]
    )
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental", "--affected-matches", m0])

    after = _neighbor_hashes()
    assert before == after  # neighbors untouched, byte for byte

    # and the merged gold equals the batch builders over the new silver
    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{gold}/{name}"))
        want = _canon(builder(silver_v2))
        assert got == want, name


@pytest.mark.slow
def test_partials_compaction_preserves_incremental(spark, tmp_path_factory):
    """VERDICT r8 #3: compacting the `_partials_*` state tables between
    batches must be invisible to the incremental path — the commit
    marker survives the staged swap (losing it silently re-bootstraps
    every later batch at O(table) cost with CORRECT output, the worst
    failure to catch from results alone), a subsequent scoped rescrape
    still rewrites only the affected match (neighbor partition files
    byte-identical after compaction — the observable fast-path
    artifact), and the merged gold equals a full recompute."""
    import hashlib

    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.cli import main
    from aws_ipl_data_pipeline_spark.sources.maintenance import compact
    from aws_ipl_data_pipeline_spark.sources.readers import table_exists
    from aws_ipl_data_pipeline_spark.sources.writers import (
        HAVE_DELTA,
        overwrite_table,
    )

    tfmt = "delta" if HAVE_DELTA else "parquet"
    if tfmt == "delta":
        pytest.skip("compaction of delta state tables goes through OPTIMIZE")

    base = str(tmp_path_factory.mktemp("partcompact"))
    gold = f"{base}/gold"
    silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    m0 = silver.select("match").distinct().orderBy("match").first()[0]
    overwrite_table(silver, f"{base}/silver", partition_by=["match", "innings"])
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental"])

    # maintenance pass between batches: pack every partials table
    for pname in PARTIAL_BUILDERS:
        compact(spark, f"{gold}/_partials_{pname}", target_file_bytes=1 << 30)
        # the commit marker survived — the next batch takes the fast
        # (scoped) path instead of silently re-bootstrapping
        assert table_exists(
            spark, f"{gold}/_partials_{pname}", fmt=tfmt, unmarked_data="absent"
        ), pname

    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        match_bucket_col,
    )

    b0 = (
        spark.createDataFrame([(m0,)], "match string")
        .select(match_bucket_col().alias("b"))
        .first()[0]
    )

    def _neighbor_hashes():
        out = {}
        for pname in PARTIAL_BUILDERS:
            for dirpath, _dirs, files in os.walk(f"{gold}/_partials_{pname}"):
                if f"mbucket={b0}" in dirpath:
                    continue
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, gold)] = hashlib.sha256(
                            fh.read()
                        ).hexdigest()
        return out

    before = _neighbor_hashes()
    assert before  # compacted neighbors exist

    # rescrape m0: drop its late overs, then a scoped incremental batch
    silver_v2 = silver.where(~((F.col("match") == m0) & (F.col("ball") >= 3)))
    overwrite_table(silver_v2, f"{base}/silver", partition_by=["match", "innings"])
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental", "--affected-matches", m0])

    # neighbors kept their COMPACTED bytes: the batch was scoped, not a
    # re-bootstrap (a bootstrap would have rewritten every partition)
    assert _neighbor_hashes() == before

    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{gold}/{name}"))
        want = _canon(builder(silver_v2))
        assert got == want, name


@pytest.mark.slow
def test_scoped_run_migrates_pre_bucket_partials_layout(
    spark, tmp_path_factory
):
    """In-place upgrade (r9 second review): a gold dir whose partials
    were written by the pre-r9 PER-MATCH layout (match= partitions,
    valid commit marker) must survive a scoped incremental run — the
    scoped bucket rewrite cannot be expressed against it, so the run
    routes that table to the authoritative full refresh, which both
    rebuilds the state and migrates the layout. Gold stays ≡ full."""
    import os as _os

    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.cli import main
    from aws_ipl_data_pipeline_spark.sources.writers import (
        HAVE_DELTA,
        mark_success,
        overwrite_table,
        write_partitioned,
    )

    if HAVE_DELTA:
        pytest.skip("layout migration is a parquet-dir concern")

    base = str(tmp_path_factory.mktemp("layoutmig"))
    gold = f"{base}/gold"
    silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    m0 = silver.select("match").distinct().orderBy("match").first()[0]
    overwrite_table(silver, f"{base}/silver", partition_by=["match", "innings"])

    # hand-write the OLD layout: per-match partitions + commit marker
    for pname, pbuilder in PARTIAL_BUILDERS.items():
        ppath = f"{gold}/_partials_{pname}"
        write_partitioned(
            pbuilder(silver), ppath, partition_by=["match"], mode="overwrite",
            fmt="parquet",
        )
        mark_success(spark, ppath)
        assert any(
            d.startswith("match=") for d in _os.listdir(ppath)
        )  # genuinely the pre-r9 layout

    # scoped rescrape against the old layout
    silver_v2 = silver.where(~((F.col("match") == m0) & (F.col("ball") >= 3)))
    overwrite_table(silver_v2, f"{base}/silver", partition_by=["match", "innings"])
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental", "--affected-matches", m0])

    # layout migrated: bucket partitions only, no stale match= dirs
    for pname in PARTIAL_BUILDERS:
        dirs = [
            d for d in _os.listdir(f"{gold}/_partials_{pname}")
            if not d.startswith(("_", "."))
        ]
        assert dirs and all(d.startswith("mbucket=") for d in dirs), dirs

    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{gold}/{name}"))
        want = _canon(builder(silver_v2))
        assert got == want, name


@pytest.mark.slow
def test_half_applied_scoped_batch_heals_on_replay(spark, tmp_path_factory):
    """Crash-replay idempotence across the FOUR partials tables: a
    scoped batch that dies after updating only some of them leaves the
    tables mutually inconsistent (one already holds the rescrape, the
    rest still hold the retracted scrape) — the one failure mode the
    per-table write policy cannot see. foreachBatch replays the batch
    from the checkpoint on restart, so the recovery contract is that
    re-running the SAME scoped batch converges every table and the
    merged gold equals a full recompute. This pins it at the plans
    level: simulate the crash by applying write_partials to just one
    table, then replay via the CLI scoped path."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.cli import main
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        with_match_tombstones,
        write_partials,
    )
    from aws_ipl_data_pipeline_spark.sources.writers import overwrite_table

    base = str(tmp_path_factory.mktemp("halfbatch"))
    gold = f"{base}/gold"
    silver = to_silver(
        to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark)
    )
    m0 = silver.select("match").distinct().orderBy("match").first()[0]
    overwrite_table(silver, f"{base}/silver", partition_by=["match", "innings"])
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental"])

    # rescrape m0, then CRASH mid-batch: only the FIRST partials table
    # receives the scoped write (the same code path the pipeline runs),
    # gold is never republished
    silver_v2 = silver.where(~((F.col("match") == m0) & (F.col("ball") >= 3)))
    overwrite_table(silver_v2, f"{base}/silver", partition_by=["match", "innings"])
    affected_df = spark.createDataFrame([(m0,)], "match string")
    first = next(iter(PARTIAL_BUILDERS))
    scoped_silver = spark.read.parquet(f"{base}/silver").where(
        F.col("match") == m0
    )
    pdf = with_match_tombstones(
        PARTIAL_BUILDERS[first](scoped_silver), affected_df
    )
    write_partials(
        pdf, f"{gold}/_partials_{first}", scoped=True,
        affected_matches=affected_df,
    )

    # the crash left the tables MUTUALLY INCONSISTENT about m0 — the
    # hazard is real, not hypothetical (first table dropped the
    # retracted overs, the others still carry them)
    others_stale = False
    for pname, pbuilder in PARTIAL_BUILDERS.items():
        if pname == first:
            continue
        stored = spark.read.parquet(f"{gold}/_partials_{pname}").where(
            F.col("match") == m0
        )
        fresh = pbuilder(scoped_silver)
        if _canon(stored.select(*fresh.columns)) != _canon(fresh):
            others_stale = True
    assert others_stale, "crash simulation did not create divergence"

    # restart: the checkpoint replays the same scoped batch
    main(["gold", "--silver", f"{base}/silver", "--out-dir", gold,
          "--gold-mode", "incremental", "--affected-matches", m0])

    for name, builder in BATCH_BUILDERS.items():
        got = _canon(spark.read.parquet(f"{gold}/{name}"))
        want = _canon(builder(silver_v2))
        assert got == want, name
