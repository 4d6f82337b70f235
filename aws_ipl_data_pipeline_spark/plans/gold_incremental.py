"""Incremental gold maintenance: the stored per-match parts.

The reference recomputes all four gold tables from FULL silver on every
trigger (ex_match_sg.py:323-347) — faithful, but a scale-killer when
silver is 100 TB and one match changed. plans/gold.py builds each gold
table as per-(match, key) integer parts merged per key; this module
stores those parts:

  silver (per-delivery, huge)
    → match partials (plans/gold.py's ``*_parts`` packed one row per
      (match, key) — ~|players per match| rows per match; stored
      hash-BUCKETED by match, 256 dirs at any match count — see
      match_bucket_col for the r9 measurement that retired the
      per-match layout)
    → gold (the stored rows unpacked into plans/gold.py's
      ``*_from_parts``)

On a micro-batch only the affected matches' partials are recomputed
(from the batch's silver rows, already in memory) and their BUCKETS
dynamically overwritten — bucket REPLACE carrying sibling matches'
rows through (write_partials), not keyed upsert, so a rescrape that
drops a player also drops their stale partial row. The final merge
then scans the skinny partials table, never silver: per batch cost is
O(batch deliveries) + O(#keys × #matches), independent of total
silver size — and the partials scan lists O(256) directories, not
O(#matches).

Packing: a table with two parts (batsman: batting sums and out counts;
standings: batting and bowling sides) stores them outer-joined on
(match, key), with a boolean presence flag per part; team_stats and
standings share one table. Unpacking re-selects each part's rows by
its flag, so full and incremental gold run the same merge code —
pinned by tests/test_gold_incremental.py against a DuckDB reference
built from queries_ipl.py's SQL specs.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.plans.gold import (
    GOLD_BUILDERS,
    batsman_from_parts,
    batsman_parts,
    bowler_from_parts,
    bowler_parts,
    standings_from_parts,
    standings_parts,
    team_from_parts,
    team_parts,
)
from aws_ipl_data_pipeline_spark.sources.readers import (
    local_frame,
    read_partition_dirs,
    read_table,
    table_exists,
)
from aws_ipl_data_pipeline_spark.sources.versioned import write_snapshot
from aws_ipl_data_pipeline_spark.sources.writers import (
    TABLE_FORMAT,
    delete_path,
    mark_success,
    overwrite_table,
    write_partitioned,
)

# --------------------------------------------------------------------------
# packing: plans/gold.py's parts as one stored row per (match, key)
# --------------------------------------------------------------------------


def _outer_pack(
    left: DataFrame, right: DataFrame, key: str, flags: list[str]
) -> DataFrame:
    """Outer-join two (match, ``key``) frames; each presence flag in
    ``flags`` is False on the rows its part lacks."""
    out = left.join(right, ["match", key], "outer")
    for flag in flags:
        out = out.withColumn(flag, F.coalesce(flag, F.lit(False)))
    return out


def batsman_match_partials(silver: DataFrame) -> DataFrame:
    """(match, batsman) partials: ``batted`` marks the rows that carry
    batting sums; ``times_out`` is null where the batsman was not out."""
    bat, outs = batsman_parts(silver)
    return _outer_pack(
        bat.withColumn("batted", F.lit(True)), outs, "batsman", ["batted"]
    )


def standings_match_partials(silver: DataFrame) -> DataFrame:
    """(match, team) partials for gold_tournament_standings alone —
    only needs the five standings columns (match, batting_team,
    bowling_team, total_runs, is_legal_delivery), so it also runs on
    the team-grain standings fixtures."""
    bat, bowl = standings_parts(silver)
    return _outer_pack(
        bat.withColumn("has_clean_bat", F.lit(True)),
        bowl.withColumn("has_clean_bowl", F.lit(True)),
        "team",
        ["has_clean_bat", "has_clean_bowl"],
    )


def team_match_partials(silver: DataFrame) -> DataFrame:
    """(match, team) partials feeding BOTH gold_team_stats and
    gold_tournament_standings. The two filter differently (team stats:
    not_na(batting_team); standings: not_na of both teams), so each
    part keeps its own sums and presence flag."""
    return _outer_pack(
        team_parts(silver).withColumn("has_bat", F.lit(True)),
        standings_match_partials(silver),
        "team",
        ["has_bat", "has_clean_bat", "has_clean_bowl"],
    )


MATCH_BUCKETS = 256


def match_bucket_col():
    """Partition key of the on-disk partials tables: a hash bucket of
    the match id (``xxhash64(match) % 256``). Partitioning partials BY
    MATCH (the r7/r8 layout) costs O(#matches) directories, and a
    hive file index lists every directory before pruning — measured r9
    (SCALE.md): at 4000 matches each full partials read paid ~8-12 s
    of pure listing (the table held 8k rows), 5.5× the whole 1×
    per-batch cost, and compaction couldn't help because bootstrap
    already writes ~1 file per dir. Bucketing bounds the directory
    count at 256 forever; the replace unit coarsens from match to
    bucket, which ``write_partials`` preserves by carrying sibling
    matches' rows through every scoped rewrite (skinny rows — partials
    are O(keys) per match, so a bucket rewrite is O(matches/256 ×
    keys), never O(deliveries))."""
    return F.pmod(F.xxhash64(F.col("match")), F.lit(MATCH_BUCKETS)).cast("int")


class StalePartialsLayout(ValueError):
    """A stored partials table predates the r9 bucketed layout (it is
    partitioned by ``match``, carries no ``mbucket`` column). A scoped
    bucket rewrite cannot be expressed against it — and writing bucket
    partitions next to match partitions would leave a mixed-scheme dir
    no reader can load. Callers catch this and route to their
    bootstrap branch: the STATIC full refresh both rebuilds the state
    and migrates the layout in one authoritative write."""


def with_match_tombstones(pdf: DataFrame, matches: DataFrame) -> DataFrame:
    """Union one null-key tombstone row per affected match into a
    partials frame (`matches`: single column ``match``). Dynamic
    partition overwrite replaces only the partitions PRESENT in the
    written frame — so a rescraped match whose new scrape yields zero
    partial rows for a builder (e.g. every batsman became the N/A
    sentinel) would silently keep its stale rows. The tombstone
    guarantees every affected match's bucket partition is rewritten
    (possibly to just the tombstone plus its sibling matches' rows);
    the unpacking ignores tombstones by construction: key columns are
    null (part keys pass not_na, never null) and presence flags are
    False.
    Repeated rescrapes cannot accumulate tombstones: the sibling
    read-back in ``write_partials`` anti-joins the affected matches,
    which drops an affected match's previous tombstone before the new
    one lands — at most one per match ever rescraped."""
    cols = []
    for f in pdf.schema.fields:
        if f.name == "match":
            cols.append(F.col("match"))
        elif f.dataType.typeName() == "boolean":
            cols.append(F.lit(False).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return pdf.unionByName(matches.select(*cols))


def affected_buckets(affected_matches: DataFrame) -> list[int]:
    """The partials buckets of the affected matches: a bounded driver
    collect, one int per affected match (the same sanctioned class as
    the affected-match-id collects upstream)."""
    return [
        r[0]
        for r in affected_matches.select(match_bucket_col().alias("b"))
        .distinct()
        .collect()
    ]


def write_partials(
    pdf: DataFrame,
    ppath: str,
    scoped: bool,
    affected_matches: DataFrame | None = None,
    buckets: list[int] | None = None,
) -> None:
    """The ONE write policy for a partials table, shared by the
    streaming branch and the CLI so the two cannot drift (r8). Layout
    (r9): hash-bucketed by ``match_bucket_col()`` — 256 directories at
    any match count (see its docstring for the measured O(#dirs)
    listing cliff this bounds).

    - ``scoped`` (a rescrape's affected matches, tombstones already
      applied; requires ``affected_matches``): the replace unit is the
      match BUCKET — the affected buckets' frame is the new partials
      UNIONed with the read-back rows of every sibling match sharing
      those buckets (anti-joined on the affected matches, which also
      retires their previous tombstones), then a dynamic partition
      overwrite. Buckets outside the affected set stay untouched
      byte-for-byte; sibling rows inside them are rewritten with
      identical content. ``buckets`` is ``affected_buckets(
      affected_matches)``: ``refresh_gold`` computes it
      ONCE per batch for all three tables; it is collected here when
      omitted.
    - full bootstrap/refresh: STATIC overwrite — the rebuild is
      authoritative, and a dynamic write would resurrect the bucket
      of any match retracted from silver since the state being
      overwritten was written (stale-gold hazard; includes the
      crash-debris case, where the existence probe routes to
      re-bootstrap over a half-written table whose matches may no
      longer all exist).

    Written in ``TABLE_FORMAT``; on parquet, stamps the commit marker
    the existence probe relies on (partitioned writes leave no root
    _SUCCESS)."""
    spark = pdf.sparkSession
    if "mbucket" in pdf.columns:  # a builder column would be silently shadowed
        raise ValueError("partials builders must not emit a column named mbucket")
    pdf = pdf.withColumn("mbucket", match_bucket_col())
    if scoped:
        if affected_matches is None:
            raise ValueError("scoped write_partials requires affected_matches")
        if buckets is None:
            buckets = affected_buckets(affected_matches)
        old = read_table(spark, ppath, fmt=TABLE_FORMAT)
        if "mbucket" not in old.columns:  # pre-r9 per-match layout on disk
            raise StalePartialsLayout(
                f"{ppath} uses the pre-r9 per-match partials layout; "
                "re-bootstrap (full refresh) to migrate to bucketed partitions"
            )
        # literal IN list so the bucket scan partition-prunes
        siblings = (
            old.where(F.col("mbucket").isin(buckets))
            .join(affected_matches, "match", "left_anti")
        )
        # eager checkpoint: the union reads the very partitions the
        # write below replaces — without cutting lineage the overwrite
        # would consume its own output path
        pdf = pdf.unionByName(siblings).localCheckpoint(eager=True)
        write_partitioned(pdf, ppath, partition_by=["mbucket"], mode="overwrite")
    else:
        overwrite_table(pdf, ppath, partition_by=["mbucket"])
    if TABLE_FORMAT == "parquet":
        mark_success(spark, ppath)


# --------------------------------------------------------------------------
# unpacking: the stored rows back into plans/gold.py's *_from_parts
# --------------------------------------------------------------------------


def batsman_stats_from_partials(p: DataFrame) -> DataFrame:
    return batsman_from_parts(
        p.where("batted"), p.where(F.col("times_out").isNotNull())
    )


def bowler_stats_from_partials(p: DataFrame) -> DataFrame:
    # the isNotNull guard drops match tombstones (parts never carry a
    # null bowler — not_na filters nulls upstream)
    return bowler_from_parts(p.where(F.col("bowler").isNotNull()))


def team_stats_from_partials(p: DataFrame) -> DataFrame:
    return team_from_parts(p.where("has_bat"))


def tournament_standings_from_partials(p: DataFrame) -> DataFrame:
    # the two sides share the team_stats columns: select them apart
    # before standings_from_parts joins them
    return standings_from_parts(
        p.where("has_clean_bat").select(
            "match", "team", "runs_scored", "legal_balls_batted"
        ),
        p.where("has_clean_bowl").select(
            "match", "team", "runs_conceded", "legal_balls_bowled"
        ),
    )


PARTIAL_BUILDERS = {
    "batsman": batsman_match_partials,
    "bowler": bowler_parts,
    "team": team_match_partials,
}

GOLD_FROM_PARTIALS = {
    "gold_batsman_stats": ("batsman", batsman_stats_from_partials),
    "gold_bowler_stats": ("bowler", bowler_stats_from_partials),
    "gold_team_stats": ("team", team_stats_from_partials),
    "gold_tournament_standings": ("team", tournament_standings_from_partials),
}


def refresh_gold(
    spark,
    silver_path: str,
    gold_dir: str,
    *,
    mode: str,
    affected: list[str] | None,
    schema,
    versioned: bool,
) -> dict[str, int]:
    """The ONE gold refresh, shared by the stream's micro-batch
    (streaming/pipeline.py) and ``cli gold`` so the two cannot drift.
    Writes the four gold tables under ``gold_dir``: plain parquet
    overwrites, or with ``versioned`` snapshot-isolated versions
    (``write_snapshot``; returns name → new version). ``schema`` pins
    silver's column types on the parquet read-back.

    ``mode="full"`` recomputes every table from full silver with
    ``GOLD_BUILDERS`` (the reference's gold job, ex_match_sg.py:323-347).
    Full mode maintains no partials, so it first deletes any
    ``_partials_*`` left by an incremental run: after even one full
    refresh they would miss matches, and a later incremental run must
    re-bootstrap instead of trusting them.

    ``mode="incremental"`` rewrites the partials tables, then merges
    gold from them. ``affected`` scopes the rewrite to a rescrape's
    matches; ``None`` (or empty) rebuilds every partials table from full
    silver. Guards:

    - BOOTSTRAP — a partials table that is missing (first incremental
      run, a switch from full mode, crash debris: ``table_exists`` with
      ``unmarked_data="absent"``) or stored in the pre-r9 per-match
      layout (``StalePartialsLayout``) is rebuilt ONCE from full stored
      silver; a scoped rewrite of a missing table would truncate gold.
    - TOMBSTONES — every affected match's bucket is rewritten even when
      the rescrape yields zero partial rows for a builder
      (``with_match_tombstones``), so retracted rows cannot survive.
    - SCOPED READ — silver is read back from the affected matches'
      partition dirs only (``read_partition_dirs``: no O(#matches)
      listing), materialized once for the three builders.

    The hot path crosses into Python nowhere: the affected-match frame
    is a JVM ``LocalRelation`` (``local_frame``) evaluated by the
    bucket collect, the tombstone unions and the sibling anti-joins,
    and the affected buckets are collected once for all three tables."""
    ppaths = {p: f"{gold_dir}/_partials_{p}" for p in PARTIAL_BUILDERS}
    if mode == "full":
        for path in ppaths.values():
            delete_path(spark, path)
        silver = read_table(spark, silver_path, fmt=TABLE_FORMAT, schema=schema)
        gold = {name: build(silver) for name, build in GOLD_BUILDERS.items()}
    else:
        gold = _refresh_partials(spark, silver_path, ppaths, affected, schema)
    versions = {}
    for name, frame in gold.items():
        out = f"{gold_dir}/{name}"
        if versioned:
            versions[name] = write_snapshot(frame, out)
        else:
            frame.write.mode("overwrite").parquet(out)
    return versions


def _refresh_partials(
    spark, silver_path: str, ppaths: dict[str, str], affected, schema
) -> dict[str, DataFrame]:
    """``refresh_gold``'s incremental branch: rewrite the partials
    tables at ``ppaths``, then return the gold frames merged from them."""
    exists = {
        p: table_exists(spark, path, fmt=TABLE_FORMAT, unmarked_data="absent")
        for p, path in ppaths.items()
    }
    # full silver read-back, bootstrap-only and built at most once (its
    # relation construction lists every silver partition dir)
    @functools.cache
    def full_silver() -> DataFrame:
        return read_table(spark, silver_path, fmt=TABLE_FORMAT, schema=schema)

    scoped = bool(affected) and any(exists.values())
    if scoped:
        # one materialized scan feeds all three builders (team alone
        # consumes it 3×)
        affected_silver = read_partition_dirs(
            spark, silver_path, "match", affected, fmt=TABLE_FORMAT, schema=schema
        ).localCheckpoint(eager=True)
        affected_df = local_frame(spark, "match string", [(m,) for m in affected])
        buckets = affected_buckets(affected_df)
    for pname, pbuilder in PARTIAL_BUILDERS.items():
        if scoped and exists[pname]:
            pdf = with_match_tombstones(pbuilder(affected_silver), affected_df)
            try:
                write_partials(
                    pdf, ppaths[pname], scoped=True,
                    affected_matches=affected_df, buckets=buckets,
                )
                continue
            except StalePartialsLayout:
                pass  # the full refresh below migrates the layout
        # write_partials makes this write STATIC: the refresh is
        # authoritative, and a dynamic overwrite would keep the bucket
        # of any match retracted from silver since the last run
        write_partials(pbuilder(full_silver()), ppaths[pname], scoped=False)
    partials = {
        p: read_table(spark, path, fmt=TABLE_FORMAT) for p, path in ppaths.items()
    }
    return {
        name: unpack(partials[pname])
        for name, (pname, unpack) in GOLD_FROM_PARTIALS.items()
    }
