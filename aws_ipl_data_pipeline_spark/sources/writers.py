"""Sinks (SURVEY §2.1 S6-S7): partition-predicate overwrite and friends.

The reference's idempotent per-match upsert is deltalake's
``write_deltalake(..., partition_by=["match","innings"],
mode="overwrite", predicate="match = '...'")``
(pipeline_2026/ex_match_bs.py:461-471). The Spark-native equivalent is
Delta ``replaceWhere``; when delta-spark isn't on the classpath we get
the same semantics from parquet dynamic partition overwrite
(``spark.sql.sources.partitionOverwriteMode=dynamic``): only the
partitions present in the written frame are replaced, all other
partitions stay byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aws_ipl_data_pipeline_spark.sources.readers import hadoop_fs, path_exists

try:  # delta-spark is optional; everything works on parquet without it
    from delta.tables import DeltaTable  # noqa: F401

    HAVE_DELTA = True
except Exception:  # pragma: no cover
    HAVE_DELTA = False

# the format of every table the medallion manages (bronze accumulator,
# silver, gold partials); every read-back must use it too, because a
# parquet read of a Delta table sees logically removed files
TABLE_FORMAT = "delta" if HAVE_DELTA else "parquet"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    replace_where: str | None = None,
    fmt: str | None = None,
) -> None:
    """S6/S7: partitioned table write with per-partition overwrite.

    With Delta: ``replaceWhere`` replaces exactly the predicate's rows.
    Without: dynamic partition overwrite replaces only the partitions in
    ``df`` (the reference always overwrites whole match partitions, so
    the two are equivalent for its predicates, which are partition
    filters like ``match = 'X'``).
    """
    fmt = fmt or TABLE_FORMAT
    if replace_where is not None:
        # filter on BOTH branches: parquet keeps the predicate as a
        # guard on the written rows; Delta REQUIRES written data ⊆
        # predicate and rejects the write otherwise (r7 review — an
        # unfiltered frame made every multi-match replaceWhere throw)
        df = df.where(replace_where)
        if fmt != "delta":
            mode = "overwrite"
    w = df.write.format(fmt).partitionBy(*partition_by).mode(mode)
    if replace_where is not None and fmt == "delta":
        w = w.option("replaceWhere", replace_where)
    elif mode == "overwrite":
        # Set dynamic partition overwrite as a WRITER option for every
        # format, delta included (Delta >= 2.0 honors it). Relying on the
        # session conf alone risks a static whole-table overwrite — and
        # silent loss of untouched partitions — on sessions that never
        # set spark.sql.sources.partitionOverwriteMode=dynamic.
        w = w.option("partitionOverwriteMode", "dynamic")
    w.save(path)


def overwrite_table(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str | None = None,
) -> None:
    """S7: full-table STATIC overwrite — the reference's no-predicate
    ``write_deltalake(mode="overwrite")`` (ex_match_bs.py:461-471).

    On Delta this is one atomic, versioned commit: readers never see a
    missing table mid-rebuild and history survives (ADVICE r7 — an FS
    delete-then-write discards the transaction log and a crash between
    the two leaves NO table). On parquet, static overwrite is Spark's
    own delete-then-write of the whole path — same crash window as the
    manual delete (unavoidable without a log), but it drops vanished
    partitions, which dynamic overwrite cannot."""
    fmt = fmt or TABLE_FORMAT
    (
        df.write.format(fmt)
        .partitionBy(*partition_by)
        .mode("overwrite")
        # explicit STATIC writer option: a session that globally set
        # partitionOverwriteMode=dynamic would otherwise silently keep
        # partitions absent from df
        .option("partitionOverwriteMode", "static")
        .save(path)
    )


def upsert_by_key(
    spark,
    new_df: DataFrame,
    path: str,
    keys: list[str],
    fmt: str | None = None,
    partition_by: list[str] | None = None,
    schema=None,
) -> None:
    """ST2/J8: idempotent keyed upsert — "insert or replace by natural
    key", newest write wins (the reference's append-then-dedupe bronze
    merge, ex_match_rb.py:201-213, with deterministic precedence).

    Delta path: a real MERGE (whenMatched update / whenNotMatched
    insert) — transactional, no table rewrite beyond touched files.
    Parquet path: read-union-dedupe-rewrite; the merged frame is
    localCheckpoint()ed first because lazily overwriting a path that is
    also being read is undefined (Spark refuses or corrupts).

    With ``partition_by`` the parquet path is PARTITION-SCOPED: only the
    partitions present in ``new_df`` are read (broadcast semi-join on
    the new frame's partition tuples → dynamic partition pruning, no
    driver-side value collection), merged, and rewritten (dynamic
    partition overwrite) — per-call work is O(new rows + touched
    partitions), never O(table). Without it the parquet fallback
    rewrites the whole table — fine for small layers only. Pass
    ``schema`` (the table's StructType) to pin partition-column types
    against directory-name inference.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # Duplicate keys WITHIN new_df would be resolved nondeterministically
    # on the parquet path and make Delta MERGE throw ("multiple source
    # rows matched"). Dedupe first with a documented tiebreak: the row
    # with the lexicographically greatest non-key tuple wins (nulls
    # last), so both paths pick the same survivor on every run.
    others = [c for c in new_df.columns if c not in keys]
    if others:
        pick = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc_nulls_last() for c in others]
        )
        new_df = (
            new_df.withColumn("_nk", F.row_number().over(pick))
            .where(F.col("_nk") == 1)
            .drop("_nk")
        )
    else:
        new_df = new_df.dropDuplicates(keys)

    fmt = fmt or TABLE_FORMAT
    if fmt == "delta" and HAVE_DELTA:
        if DeltaTable.isDeltaTable(spark, path):
            tgt = DeltaTable.forPath(spark, path)
            cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
            (
                tgt.alias("t")
                .merge(new_df.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
        else:
            new_df.write.format("delta").save(path)
        return

    # Only a missing path means "first write". Any other read error
    # (corrupt footer, storage hiccup) must propagate — treating it as
    # first-write would overwrite the table with just this batch.
    # Existence is an explicit FS probe (r7 review: AnalysisException
    # message matching is version/locale-fragile); an existing-but-
    # empty dir from a crashed first write reads as an empty table
    # when a schema is pinned (merge degrades to just the batch —
    # correct retry semantics) and raises without one (safe).
    reader = spark.read.schema(schema) if schema is not None else spark.read
    if path_exists(spark, path):
        existing = reader.parquet(path)
        exists = True
    else:
        exists = False
    if not exists:
        w = new_df.write
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return
    if partition_by:
        touched = new_df.select(*partition_by).distinct()
        existing = existing.join(F.broadcast(touched), partition_by, "left_semi")
    merged = (
        new_df.withColumn("_pri", F.lit(0))
        .unionByName(existing.withColumn("_pri", F.lit(1)))
        .withColumn(
            "_rk", F.row_number().over(Window.partitionBy(*keys).orderBy("_pri"))
        )
        .where(F.col("_rk") == 1)
        .drop("_pri", "_rk")
    )
    merged = merged.localCheckpoint(eager=True)
    w = merged.write.mode("overwrite")
    if partition_by:
        # dynamic overwrite: only the touched partitions are replaced
        w = w.partitionBy(*partition_by).option("partitionOverwriteMode", "dynamic")
    w.parquet(path)


def delete_path(spark, path: str) -> bool:
    """Recursively delete a table path via the Hadoop FileSystem API.
    Used to INVALIDATE derived state whose source of truth moved on
    without it (e.g. the gold partials tables during full-recompute
    batches) and to drop partition directories a replace predicate
    retracts entirely. Returns True if anything was deleted."""
    fs, hpath = hadoop_fs(spark, path)
    return fs.delete(hpath, True)


def mark_success(spark, path: str) -> None:
    """Stamp a ``_SUCCESS`` marker at a table root AFTER a successful
    write. Needed because Spark leaves no root marker for PARTITIONED
    writes (r7 third review) — state-table probes (readers.table_exists)
    use the marker to distinguish 'committed at least once' from
    crashed-write debris. Call only right after a write call returned
    successfully."""
    fs, hpath = hadoop_fs(spark, f"{path}/_SUCCESS")
    fs.create(hpath, True).close()


def partition_dir(spark, col: str, value) -> str:
    """Hive-style partition directory segment ``col=<escaped value>``,
    escaped exactly the way Spark writes it (control chars, '%', ':',
    '=', '/' etc. are percent-encoded), so callers can address a
    partition directory for explicit deletion without re-implementing
    the escaping table."""
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return f"{esc.escapePathName(col)}={esc.escapePathName(str(value))}"


def matches_predicate(matches: list[str]) -> str:
    """SQL predicate ``match IN (...)`` selecting exactly ``matches``.
    Backslash and quote are both escaped: Spark string literals treat
    ``\\`` as an escape character, so an id like ``a\\b`` would
    otherwise select nothing."""
    quoted = (
        "'" + m.replace("\\", "\\\\").replace("'", "\\'") + "'" for m in matches
    )
    return f"match IN ({', '.join(quoted)})"


def replace_matches(spark, df: DataFrame, path: str, matches: list[str]) -> None:
    """Replace whole matches of a ``["match", "innings"]`` table with
    ``df`` — the reference's ``replaceWhere("match = ...")`` per
    rescrape (ex_match_bs.py:461-471). The replace unit is the match,
    not the partition: parquet dynamic overwrite only replaces the
    partitions present in ``df``, so a rescrape that loses an innings
    would leak the stale innings directory. Delta gets a logged
    ``replaceWhere`` over the match set; parquet deletes each match
    directory first (an FS delete under a Delta log would corrupt the
    table). A crash between delete and write is healed by rerunning
    the same replace."""
    if TABLE_FORMAT == "delta":
        write_partitioned(
            df, path, ["match", "innings"], replace_where=matches_predicate(matches)
        )
        return
    for m in matches:
        delete_path(spark, f"{path}/{partition_dir(spark, 'match', m)}")
    write_partitioned(df, path, ["match", "innings"], mode="overwrite")
