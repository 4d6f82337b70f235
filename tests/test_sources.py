"""Sources (SURVEY §2.1): schema-enforced readers, JSONL/CSV round
trips, partition-predicate overwrite semantics."""

from __future__ import annotations

import json
import os

import pytest

from aws_ipl_data_pipeline_spark.schemas import MATCH_META, PLAYERS, RAW_DELIVERIES
from aws_ipl_data_pipeline_spark.sources import (
    read_csv,
    read_json_object,
    read_jsonl,
    write_partitioned,
)
from tests.fixtures_ipl import META_ROWS, PLAYERS_ROWS, raw_deliveries


def test_csv_round_trip_with_schema(spark, tmp_path):
    """S1: header CSV writes and schema-enforced reads are lossless."""
    raw = raw_deliveries(spark)
    path = str(tmp_path / "raw_csv")
    raw.write.option("header", True).mode("overwrite").csv(path)
    back = read_csv(spark, path, RAW_DELIVERIES)
    assert back.schema == RAW_DELIVERIES
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, raw.collect()))


def test_jsonl_round_trip(spark, tmp_path):
    """S2: bronze-style JSONL (one record per line)."""
    players = spark.createDataFrame(
        [(n, t, "India", "Batter", False, None, None, None) for n, t in PLAYERS_ROWS],
        schema=PLAYERS,
    )
    path = str(tmp_path / "players_jsonl")
    players.write.mode("overwrite").json(path)
    back = read_jsonl(spark, path, PLAYERS)
    assert back.count() == len(PLAYERS_ROWS)
    assert {r["Name"] for r in back.collect()} == {n for n, _ in PLAYERS_ROWS}


def test_json_object_scan(spark, tmp_path):
    """S3/S4: single-object (non-lines) JSON meta file."""
    meta = dict(
        zip(
            [f.name for f in MATCH_META.fields],
            META_ROWS[0],
        )
    )
    p = tmp_path / "meta" / "m1_meta.json"
    os.makedirs(p.parent, exist_ok=True)
    p.write_text(json.dumps(meta, indent=2))
    df = read_json_object(spark, str(p.parent), MATCH_META)
    [row] = df.collect()
    assert row["short_name"] == "01_AAvsBB" and row["toss_decision"] == "bat"


def test_partition_predicate_overwrite(spark, tmp_path):
    """S6: rewriting one match's partitions leaves other matches'
    rows byte-identical (the replaceWhere contract on parquet dynamic
    overwrite)."""
    path = str(tmp_path / "silver_like")
    df = spark.createDataFrame(
        [("M1", 1, 10), ("M1", 2, 20), ("M2", 1, 30)],
        "match string, innings int, score int",
    )
    write_partitioned(df, path, ["match", "innings"])
    update = spark.createDataFrame([("M1", 1, 99)], "match string, innings int, score int")
    write_partitioned(
        update, path, ["match", "innings"], replace_where="match = 'M1'"
    )
    got = {
        (r["match"], r["innings"]): r["score"]
        for r in spark.read.parquet(path).collect()
    }
    # M1/innings=1 replaced; M2 untouched. (Dynamic overwrite only
    # touches partitions present in the written frame.)
    assert got[("M1", 1)] == 99 and got[("M2", 1)] == 30


def test_upsert_by_key_newest_wins(spark, tmp_path_factory):
    from aws_ipl_data_pipeline_spark.sources.writers import upsert_by_key

    path = str(tmp_path_factory.mktemp("upsert")) + "/t"
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, name string, v long"
    )
    upsert_by_key(spark, base, path, keys=["k"])

    # overlap on k=2 (changed value) + new k=4
    delta = spark.createDataFrame(
        [(2, "b", 99), (4, "d", 40)], "k long, name string, v long"
    )
    upsert_by_key(spark, delta, path, keys=["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: 10, 2: 99, 3: 30, 4: 40}

    # idempotent: re-applying the same upsert changes nothing
    upsert_by_key(spark, delta, path, keys=["k"])
    got2 = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got2 == got


def test_upsert_dedupes_duplicate_source_keys(spark, tmp_path_factory):
    """Duplicate keys WITHIN one upsert batch resolve deterministically:
    the lexicographically greatest non-key tuple wins (nulls last) — the
    same survivor a Delta MERGE would need pre-deduped anyway."""
    from aws_ipl_data_pipeline_spark.sources.writers import upsert_by_key

    path = str(tmp_path_factory.mktemp("upsert_dup")) + "/t"
    base = spark.createDataFrame([(1, "a", 10)], "k long, name string, v long")
    upsert_by_key(spark, base, path, keys=["k"])
    dup = spark.createDataFrame(
        [(2, "x", 1), (2, "y", 2), (2, "x", 3), (1, "z", None)],
        "k long, name string, v long",
    )
    upsert_by_key(spark, dup, path, keys=["k"])
    got = {(r["k"]): (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    # k=2: greatest (name, v) tuple is ("y", 2); k=1: incoming ("z", None) wins
    assert got == {2: ("y", 2), 1: ("z", None)}


def test_compaction_preserves_rows_and_shrinks_files(spark, tmp_path_factory):
    from aws_ipl_data_pipeline_spark.sources.maintenance import (
        compact,
        data_file_count,
    )

    path = str(tmp_path_factory.mktemp("compact")) + "/t"
    df = spark.range(10_000).selectExpr("id", "id % 7 AS k", "md5(CAST(id AS STRING)) AS payload")
    df.repartition(40).write.parquet(path)
    assert data_file_count(spark, path) == 40
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())

    n_after = compact(spark, path, target_file_bytes=1 << 30)
    assert n_after == 1
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    # staging/backup dirs must not linger
    import os

    parent = os.path.dirname(path)
    assert sorted(os.listdir(parent)) == ["t"]


def test_publish_atomically_replaces_or_rolls_back(spark, tmp_path_factory):
    from aws_ipl_data_pipeline_spark.sources.maintenance import publish_atomically

    path = str(tmp_path_factory.mktemp("publish")) + "/t"
    spark.range(5).write.parquet(path)
    publish_atomically(spark.range(100, 103).toDF("id"), path)
    got = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert got == [100, 101, 102]


def test_sorted_write_enables_row_group_skipping(spark, tmp_path_factory):
    """write_sorted must produce narrow, disjoint per-row-group min/max
    stats on the sort key (the mechanism behind parquet data skipping);
    the same frame written unsorted has near-full-range stats, so a
    selective scan can skip nothing."""
    import glob

    import pyarrow.parquet as pq

    from aws_ipl_data_pipeline_spark.sources.maintenance import write_sorted

    base = str(tmp_path_factory.mktemp("sorted"))
    df = spark.range(100_000).selectExpr(
        "CAST(pmod(id * 2654435761, 100000) AS BIGINT) AS k", "id AS payload"
    )
    df.coalesce(4).write.parquet(f"{base}/plain")
    write_sorted(df, f"{base}/sorted", by=["k"], n_files=4)

    def ranges(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            pf = pq.ParquetFile(f)
            idx = pf.schema_arrow.names.index("k")
            for g in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(g).column(idx).statistics
                out.append((st.min, st.max))
        return sorted(out)

    full_span = 100_000
    sorted_spans = [hi - lo for lo, hi in ranges(f"{base}/sorted")]
    plain_spans = [hi - lo for lo, hi in ranges(f"{base}/plain")]
    # every sorted row group covers a narrow slice; unsorted ones
    # each cover (nearly) the whole key domain
    assert max(sorted_spans) < full_span / 2
    assert min(plain_spans) > full_span * 0.9
    # disjoint: a point predicate hits exactly one sorted row group
    rs = ranges(f"{base}/sorted")
    probe = 50_000
    assert sum(1 for lo, hi in rs if lo <= probe <= hi) <= 1
    # content identical
    assert (
        spark.read.parquet(f"{base}/sorted").orderBy("payload").collect()
        == spark.read.parquet(f"{base}/plain").orderBy("payload").collect()
    )


def test_zorder_write_narrows_stats_on_both_dims(spark, tmp_path_factory):
    """Z-order clustering must narrow row-group min/max spans on BOTH
    participating columns (single-key sorting can only do one)."""
    import glob

    import pyarrow.parquet as pq

    from aws_ipl_data_pipeline_spark.sources.maintenance import write_zordered

    base = str(tmp_path_factory.mktemp("zorder"))
    n = 200_000
    df = spark.range(n).selectExpr(
        "CAST(pmod(id * 2654435761, 1000) AS BIGINT) AS x",
        "CAST(pmod(id * 40503, 1000) AS BIGINT) AS y",
        "id AS payload",
    )
    df.coalesce(4).write.parquet(f"{base}/plain")
    write_zordered(df, f"{base}/z", cols=["x", "y"], n_files=16)

    def med_span(path, col):
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            pf = pq.ParquetFile(f)
            idx = pf.schema_arrow.names.index(col)
            for g in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(g).column(idx).statistics
                spans.append(st.max - st.min)
        spans.sort()
        return spans[len(spans) // 2]

    for col in ("x", "y"):
        assert med_span(f"{base}/z", col) < 0.55 * med_span(f"{base}/plain", col), col
    # content preserved
    assert (
        spark.read.parquet(f"{base}/z").agg({"payload": "sum"}).head()[0]
        == spark.read.parquet(f"{base}/plain").agg({"payload": "sum"}).head()[0]
    )
    assert sorted(spark.read.parquet(f"{base}/z").columns) == ["payload", "x", "y"]


def test_orc_partitioned_dynamic_overwrite(spark, tmp_path):
    """write_partitioned(fmt='orc') keeps the replaceWhere-equivalent
    semantics: rewriting one partition leaves the others intact."""
    df = spark.createDataFrame(
        [(1, "m1", "a"), (2, "m1", "b"), (3, "m2", "c")],
        "id INT, match STRING, v STRING",
    )
    path = str(tmp_path / "orc_part")
    write_partitioned(df, path, partition_by=["match"], fmt="orc")
    upd = spark.createDataFrame([(9, "m2", "z")], "id INT, match STRING, v STRING")
    write_partitioned(upd, path, partition_by=["match"], fmt="orc", mode="overwrite")
    got = sorted(
        map(tuple, spark.read.orc(path).select("id", "match", "v").collect())
    )
    assert got == [(1, "m1", "a"), (2, "m1", "b"), (9, "m2", "z")]


def test_snapshot_time_travel_and_vacuum(spark, tmp_path):
    """Versioned snapshots: readers resolve the committed version, old
    versions stay queryable until vacuumed, vacuum keeps the newest."""
    from aws_ipl_data_pipeline_spark.sources.versioned import (
        current_version,
        list_versions,
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "versioned")
    v1_df = spark.range(5).withColumnRenamed("id", "k")
    v2_df = spark.range(8).withColumnRenamed("id", "k")

    assert current_version(spark, path) is None
    assert write_snapshot(v1_df, path) == 1
    assert write_snapshot(v2_df, path) == 2
    assert current_version(spark, path) == 2
    assert list_versions(spark, path) == [1, 2]

    assert read_snapshot(spark, path).count() == 8  # committed
    assert read_snapshot(spark, path, version=1).count() == 5  # time travel

    v3_df = spark.range(2).withColumnRenamed("id", "k")
    write_snapshot(v3_df, path)
    assert vacuum_snapshots(spark, path, keep_last=2) == [1]
    assert list_versions(spark, path) == [2, 3]
    assert read_snapshot(spark, path).count() == 2
    with pytest.raises(Exception):
        read_snapshot(spark, path, version=1).count()


def test_snapshot_pointer_flip_is_crash_safe(spark, tmp_path):
    """A version directory with no marker (crashed pre-flip writer)
    never wins resolution; a duplicate marker (crashed mid-retire)
    resolves to the newer snapshot."""
    from aws_ipl_data_pipeline_spark.sources.maintenance import _fs_and_path
    from aws_ipl_data_pipeline_spark.sources.versioned import (
        current_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "crashy")
    write_snapshot(spark.range(3).withColumnRenamed("id", "k"), path)

    # simulate a writer that died after materializing v2 but before the
    # pointer flip: data dir exists, no marker
    spark.range(9).withColumnRenamed("id", "k").write.parquet(f"{path}/v=00000002")
    assert current_version(spark, path) == 1
    assert read_snapshot(spark, path).count() == 3

    # simulate a crash mid-flip on v3: both markers present
    fs, _ = _fs_and_path(spark, path)
    spark.range(4).withColumnRenamed("id", "k").write.parquet(f"{path}/v=00000003")
    _, jm = _fs_and_path(spark, f"{path}/_latest_v00000003")
    fs.create(jm, True).close()
    assert current_version(spark, path) == 3
    assert read_snapshot(spark, path).count() == 4


def test_vacuum_never_deletes_committed_version(spark, tmp_path):
    """keep_last=1 with a crashed writer's unmarked HIGHER version dir
    present: vacuum must keep the committed snapshot, not just the
    newest directory."""
    from aws_ipl_data_pipeline_spark.sources.versioned import (
        current_version,
        list_versions,
        read_snapshot,
        vacuum_snapshots,
        write_snapshot,
    )

    path = str(tmp_path / "vac")
    write_snapshot(spark.range(3).withColumnRenamed("id", "k"), path)
    write_snapshot(spark.range(5).withColumnRenamed("id", "k"), path)
    # crashed pre-flip writer: v3 data exists, no marker → not committed
    spark.range(9).withColumnRenamed("id", "k").write.parquet(f"{path}/v=00000003")
    assert current_version(spark, path) == 2

    removed = vacuum_snapshots(spark, path, keep_last=1)
    # v2 committed — survives; v1 aged out; the unmarked orphan v3 can
    # never become committed (writers allocate past it) so it is debris
    # and is reclaimed rather than occupying a keep slot
    assert sorted(removed) == [1, 3]
    assert sorted(list_versions(spark, path)) == [2]
    assert read_snapshot(spark, path).count() == 5


def test_writer_stays_live_after_pre_flip_crash(spark, tmp_path):
    """A crashed writer's unmarked v=N+1 dir must not wedge the table:
    the next writer allocates ABOVE it (max of dirs and markers + 1)
    instead of colliding with errorifexists forever."""
    from aws_ipl_data_pipeline_spark.sources.versioned import (
        current_version,
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "wedge")
    write_snapshot(spark.range(3).withColumnRenamed("id", "k"), path)
    # crashed pre-flip writer left v2 materialized but unmarked
    spark.range(9).withColumnRenamed("id", "k").write.parquet(f"{path}/v=00000002")
    assert current_version(spark, path) == 1

    # liveness: the write allocates v3, does not collide with v2
    assert write_snapshot(spark.range(7).withColumnRenamed("id", "k"), path) == 3
    assert current_version(spark, path) == 3
    assert read_snapshot(spark, path).count() == 7


def test_versioned_snapshots_compose_with_corpus_diff(spark, tmp_path):
    """Time travel + diff: corpus_diff over two committed versions of a
    versioned table yields the audit ledger of what changed between
    them — the gold-table change-review workflow."""
    from aws_ipl_data_pipeline_spark.operators.dedup import corpus_diff
    from aws_ipl_data_pipeline_spark.sources.versioned import (
        read_snapshot,
        write_snapshot,
    )

    path = str(tmp_path / "vt")
    v1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "doc_id long, text string"
    )
    write_snapshot(v1, path)
    v2 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta CHANGED"), (4, "delta")],
        "doc_id long, text string",
    )
    write_snapshot(v2, path)

    old = read_snapshot(spark, path, version=1)
    new = read_snapshot(spark, path)  # latest
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_compaction_preserves_partition_layout(spark, tmp_path_factory):
    """r8: compacting a hive-partitioned table (the incremental-gold
    partials shape) must keep the partition directory layout — the flat
    rewrite it replaced silently destroyed it — shrink the per-partition
    file count, keep rows identical, and leave the table writable by
    the dynamic-overwrite path that maintains it."""
    import os

    from aws_ipl_data_pipeline_spark.sources.maintenance import (
        compact,
        data_file_count,
    )
    from aws_ipl_data_pipeline_spark.sources.writers import write_partitioned

    path = str(tmp_path_factory.mktemp("compactp")) + "/t"
    # partition m3 is NULL (written as __HIVE_DEFAULT_PARTITION__):
    # ADVICE r8 — the per-partition count join must be null-safe or
    # every null-partition row silently vanishes from the rewrite
    df = spark.range(9_000).selectExpr(
        "IF(id % 4 = 3, NULL, CONCAT('m', CAST(id % 4 AS STRING))) AS match",
        "id",
        "md5(CAST(id AS STRING)) AS payload",
    )
    # many small files per partition: 4 partitions x 20 shuffle files
    df.repartition(20).write.partitionBy("match").parquet(path)
    assert data_file_count(spark, path) == 80
    before = sorted(
        (r["match"] or "", r["id"], r["payload"])
        for r in spark.read.parquet(path).select("match", "id", "payload").collect()
    )
    assert sum(1 for m, _, _ in before if m == "") == 2_250  # null rows exist

    n_after = compact(spark, path, target_file_bytes=1 << 30)
    assert n_after <= 4  # at most one file per partition at this size
    # layout preserved: the match= dirs still exist, no flat files
    dirs = sorted(d for d in os.listdir(path) if d.startswith("match="))
    assert dirs == [
        "match=__HIVE_DEFAULT_PARTITION__",
        "match=m0",
        "match=m1",
        "match=m2",
    ]
    after = sorted(
        (r["match"] or "", r["id"], r["payload"])
        for r in spark.read.parquet(path).select("match", "id", "payload").collect()
    )
    assert after == before

    # the table is still maintainable by dynamic partition overwrite:
    # replace one partition, neighbors keep their compacted content
    repl = spark.range(5).selectExpr(
        "'m1' AS match", "id + 100000 AS id", "md5('x') AS payload"
    )
    write_partitioned(repl, path, partition_by=["match"], mode="overwrite", fmt="parquet")
    got = spark.read.parquet(path)
    assert got.where("match = 'm1'").count() == 5
    # neighbors (incl. the null partition) keep their compacted content
    assert got.where("match IS DISTINCT FROM 'm1'").count() == 6_750


def test_maintenance_refuses_delta_table(spark, tmp_path_factory):
    """VERDICT r8 #2: the maintenance surface reads raw parquet and
    stage-swaps a parquet rewrite — pointed at a Delta table it would
    double-count replaceWhere-superseded files and clobber _delta_log.
    Every maintenance entry point must refuse a delta-marked dir
    (mirror of test_cli_silver_replace_where_guards)."""
    import os

    import pytest

    from aws_ipl_data_pipeline_spark.cli import main
    from aws_ipl_data_pipeline_spark.sources.maintenance import (
        compact,
        data_file_count,
        ensure_plain_parquet,
    )

    path = str(tmp_path_factory.mktemp("deltaguard")) + "/t"
    spark.range(10).write.parquet(path)
    ensure_plain_parquet(spark, path)  # plain parquet passes
    os.makedirs(f"{path}/_delta_log")
    with open(f"{path}/_delta_log/00000000000000000000.json", "w") as fh:
        fh.write("{}")
    with pytest.raises(ValueError, match="_delta_log"):
        compact(spark, path)
    with pytest.raises(ValueError, match="_delta_log"):
        data_file_count(spark, path)
    # the CLI surface refuses too — all three actions share the guard
    with pytest.raises(SystemExit):
        main(["maintain", "sort", "--path", path, "--by", "id"])


def test_compact_schema_evolution_and_value_fidelity(spark, tmp_path_factory):
    """ADVICE r8: partition columns come from the directory structure —
    under schema evolution (an old file missing a later-added data
    column) the r8 schema-vs-one-file diff misclassified the new data
    column as a partition key. Also pins value fidelity: a leading-zero
    string partition value must survive the rewrite byte-identically
    (partition-value type inference would retype '01' -> 1), and the
    evolved column must survive (mergeSchema read)."""
    from aws_ipl_data_pipeline_spark.sources.maintenance import (
        compact,
        partition_columns,
    )

    path = str(tmp_path_factory.mktemp("compactevo")) + "/t"
    # generation 1: (id) only, partition '01' — leading zero
    spark.range(100).selectExpr("'01' AS match", "id").repartition(7).write.partitionBy(
        "match"
    ).parquet(path)
    # generation 2: adds data column `extra`, partition '02'
    spark.range(100).selectExpr(
        "'02' AS match", "id", "md5(CAST(id AS STRING)) AS extra"
    ).repartition(7).write.mode("append").partitionBy("match").parquet(path)

    assert partition_columns(spark, path) == ["match"]
    before = sorted(
        tuple(r)
        for r in spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("match", "id", "extra")
        .collect()
    )
    compact(spark, path, target_file_bytes=1 << 30)
    import os

    dirs = sorted(d for d in os.listdir(path) if "=" in d)
    assert dirs == ["match=01", "match=02"]  # values byte-identical
    after = sorted(
        tuple(r)
        for r in spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("match", "id", "extra")
        .collect()
    )
    assert after == before


def test_read_partition_dirs_scoped_read(spark, tmp_path):
    """r9: the scoped read of named partitions must (a) return exactly
    the requested partitions with the partition column materialized and
    typed by the schema pin, (b) treat a MISSING partition dir as zero
    rows — the filter-form semantics a retraction-only rescrape relies
    on — and (c) never list the table root (behavioral proxy: it reads
    dirs directly, so a sibling dir Spark cannot parse is invisible)."""
    from aws_ipl_data_pipeline_spark.sources.readers import (
        read_partition_dirs,
    )

    path = str(tmp_path / "t")
    df = spark.range(100).selectExpr(
        "CONCAT('m', CAST(id % 4 AS STRING)) AS match", "id"
    )
    df.write.partitionBy("match").parquet(path)
    schema = "match string, id long"

    got = read_partition_dirs(spark, path, "match", ["m1", "m3"], schema=schema)
    assert got.count() == 50
    assert sorted(r[0] for r in got.select("match").distinct().collect()) == [
        "m1",
        "m3",
    ]
    assert dict(got.dtypes)["match"] == "string"  # schema pin, not inference

    # a vanished partition contributes zero rows (retraction parity
    # with the `.where(isin)` form), and all-missing yields an empty
    # frame with the pinned schema
    assert read_partition_dirs(
        spark, path, "match", ["m1", "gone"], schema=schema
    ).count() == 25
    empty = read_partition_dirs(spark, path, "match", ["gone"], schema=schema)
    assert empty.count() == 0
    assert dict(empty.dtypes)["match"] == "string"

    # root-listing proxy: a corrupt sibling dir (unreadable as parquet)
    # breaks a full-table read but not the scoped dir read
    import os

    os.makedirs(f"{path}/match=bad")
    with open(f"{path}/match=bad/part-junk.parquet", "w") as fh:
        fh.write("not parquet")
    assert read_partition_dirs(
        spark, path, "match", ["m2"], schema=schema
    ).count() == 25


def test_compact_two_level_partition_layout(spark, tmp_path_factory):
    """compact() on a silver-shaped table (two partition levels,
    match/innings): the directory walk must detect BOTH levels in
    order, the rewrite must keep the nested layout and rows, and the
    per-partition budget join must group on the full tuple."""
    import os

    from aws_ipl_data_pipeline_spark.sources.maintenance import (
        compact,
        partition_columns,
    )

    path = str(tmp_path_factory.mktemp("compact2l")) + "/t"
    df = spark.range(6_000).selectExpr(
        "CONCAT('m', CAST(id % 3 AS STRING)) AS match",
        "CAST(id % 2 + 1 AS INT) AS innings",
        "id",
        "md5(CAST(id AS STRING)) AS payload",
    )
    df.repartition(10).write.partitionBy("match", "innings").parquet(path)
    assert partition_columns(spark, path) == ["match", "innings"]
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("match", "innings", "id", "payload")
        .collect()
    )
    n_after = compact(spark, path, target_file_bytes=1 << 30)
    assert n_after <= 6  # one file per (match, innings) at this size
    # nested layout preserved
    for m in ("m0", "m1", "m2"):
        subdirs = sorted(os.listdir(f"{path}/match={m}"))
        assert subdirs == ["innings=1", "innings=2"]
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("match", "innings", "id", "payload")
        .collect()
    )
    assert after == before


def _dir_digests(root: str) -> dict[str, str]:
    import hashlib

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_replace_matches_replaces_whole_matches(spark, tmp_path):
    """replace_matches is the match-grain replace on the (match,
    innings) layout: replacing match A with innings-1 rows only leaves
    no stale innings=2 directory under A (dynamic overwrite alone would
    keep it), match B's files stay byte-identical, and ids that are
    escaped in directory names are replaced exactly."""
    from aws_ipl_data_pipeline_spark.sources.readers import local_frame
    from aws_ipl_data_pipeline_spark.sources.writers import (
        TABLE_FORMAT,
        partition_dir,
        replace_matches,
    )

    if TABLE_FORMAT != "parquet":
        pytest.skip("the directory layout is the parquet branch's")
    path = str(tmp_path / "t")
    schema = "match string, innings int, score int"
    odd = ["it's", "k=v", "a/b", "50%", "Mumbaï–Pune"]
    rows = [(m, i, 10 * i) for m in ["A", "B", *odd] for i in (1, 2)]
    write_partitioned(local_frame(spark, schema, rows), path, ["match", "innings"])

    def match_dir(m):
        return os.path.join(path, partition_dir(spark, "match", m))

    b_before = _dir_digests(match_dir("B"))
    replace_matches(spark, local_frame(spark, schema, [("A", 1, 99)]), path, ["A"])
    assert sorted(os.listdir(match_dir("A"))) == ["innings=1"]
    assert _dir_digests(match_dir("B")) == b_before

    new = [(m, 1, 7) for m in odd]
    replace_matches(spark, local_frame(spark, schema, new), path, odd)
    got = sorted(
        tuple(r)
        for r in spark.read.schema(schema)
        .parquet(path)
        .select("match", "innings", "score")
        .collect()
    )
    assert got == sorted([("A", 1, 99), ("B", 1, 10), ("B", 2, 20), *new])
    assert _dir_digests(match_dir("B")) == b_before


def test_matches_predicate_selects_exactly_its_ids(spark):
    """The Delta replaceWhere predicate of replace_matches, evaluated
    without Delta: for ids with a backslash, quotes, '%' or non-ASCII
    characters, each single-id predicate selects exactly its own row,
    and the multi-id predicate selects exactly the listed ids."""
    from aws_ipl_data_pipeline_spark.sources.readers import local_frame
    from aws_ipl_data_pipeline_spark.sources.writers import matches_predicate

    ids = ["a\\b", "\\", "a\\'b", "it's", "''", "50%", "Mumbaï–Pune", "plain"]
    df = local_frame(spark, "match string", [(m,) for m in ids])
    for m in ids:
        got = [r[0] for r in df.where(matches_predicate([m])).collect()]
        assert got == [m], (m, matches_predicate([m]))
    some = ids[:4]
    got = sorted(r[0] for r in df.where(matches_predicate(some)).collect())
    assert got == sorted(some)
