"""Sources (SURVEY §2.1 S1-S5): schema-enforced readers.

The reference infers every schema and guesses JSON layout with a
try/fallback (pipeline_2026/ex_match_bs.py:420-427). Here each layer
declares one mode and one explicit schema — fail fast, prune columns at
the scan, never sniff.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def hadoop_fs(spark: SparkSession, path: str):
    """Shared Hadoop FileSystem acquisition: returns (fs, hpath) for
    ``path`` under the session's Hadoop conf. One definition for every
    FS-touching utility (path_exists/table_exists here,
    writers.delete_path) so conf/encoding fixes land once."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """S10 object-store existence probe via the Hadoop FileSystem API —
    the explicit form of 'does this table exist yet', instead of
    catching AnalysisException and substring-matching its message
    (version/locale-dependent; ADVICE r6)."""
    fs, hpath = hadoop_fs(spark, path)
    return fs.exists(hpath)


def table_exists(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    unmarked_data: str = "raise",
) -> bool:
    """True iff ``path`` holds a SUCCESSFULLY committed table, not just
    a directory. A crashed first write can leave the output dir (and,
    mid-commit, even data files) in place, so a bare existence probe
    would treat the debris as live state and silently truncate derived
    tables on the retry (r7 second review). Delta probes
    ``_delta_log``; parquet/ORC probe the ``_SUCCESS`` root marker.
    NOTE: Spark only writes ``_SUCCESS`` for UNPARTITIONED writes —
    partitioned writes leave nothing at the table root (measured on
    this Spark version, r7 third review) — so partitioned state tables
    must stamp their own marker after a successful write
    (``writers.mark_success``), which is exactly the wanted semantics:
    marker ⇒ at least one fully successful commit.

    ``unmarked_data`` decides the ambiguous case (data files, no
    marker — either a mid-commit crash or
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``):
    ``"raise"`` (default) for NON-rebuildable state where guessing
    either way corrupts silently; ``"absent"`` for derived/rebuildable
    tables whose bootstrap path simply rebuilds over the debris."""
    if fmt == "delta":
        # a bare _delta_log dir is not enough: a crashed FIRST commit
        # can leave the log dir with no committed version file (r7
        # review) — require at least one <version>.json commit
        log = f"{path}/_delta_log"
        if not path_exists(spark, log):
            return False
        fs, hlog = hadoop_fs(spark, log)
        for status in fs.listStatus(hlog):
            name = status.getPath().getName()
            if name.endswith(".json") and not name.startswith((".", "_")):
                return True
        return False
    if path_exists(spark, f"{path}/_SUCCESS"):
        return True
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            if unmarked_data == "absent":
                return False
            raise RuntimeError(
                f"{path} contains data but no _SUCCESS marker: either a "
                "write crashed mid-commit (clean up or rebuild the table) "
                "or success markers are disabled "
                "(mapreduce.fileoutputcommitter.marksuccessfuljobs=false "
                "is unsupported for state tables — a bare existence probe "
                "cannot distinguish committed state from crash debris)"
            )
    return False


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """S1: CSV scan (reference pd.read_csv, ex_match_rb.py:173-175).

    nullValue is set to the non-colliding sentinel ``\\N`` so the quoted
    empty string Spark's CSV sink emits (``""``) reads back as '' rather
    than NULL; unquoted empty fields still read as NULL. With the default
    (nullValue=""), both collapse to NULL and write→read is lossy.
    """
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("nullValue", "\\N")
        .csv(path)
    )


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S2: JSON-lines scan (reference pd.read_json(lines=True),
    ex_match_bs.py:421)."""
    return spark.read.schema(schema).json(path)


def read_json_object(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S3/S4: single-object or array JSON (reference read_json_s3,
    ex_match_bs.py:131-143) — multiLine, one row per object."""
    return spark.read.schema(schema).option("multiLine", True).json(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """S5: table scan; `delta` when delta-spark is on the classpath,
    parquet otherwise (partition layout is identical).

    ``schema`` pins column types on the parquet branch (partition-value
    directory-name inference could retype an all-numeric partition
    key); Delta ignores it — the table schema comes from the
    transaction log, which is already exact (user-specified schemas are
    rejected by the delta source)."""
    reader = spark.read.format(fmt)
    if schema is not None and fmt != "delta":
        reader = reader.schema(schema)
    return reader.load(path)


def read_partition_dirs(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Scoped read of named partitions WITHOUT listing the table root.

    A hive-partitioned table's file index lists every partition
    directory before pruning — O(#partitions) driver/listing work even
    when the query touches one partition (measured r9: a 1-match read
    of a 4000-match silver costs ~7 s via `.where(...)`, 0.16 s via
    direct dirs). On parquet, read exactly the requested partition
    dirs with ``basePath`` (partition column still materializes);
    missing dirs — e.g. a retraction-only rescrape whose match was
    deleted from silver — contribute zero rows, matching the filter
    form. Delta prunes from the transaction log, so the filter form is
    already cheap there."""
    if fmt == "delta":
        return read_table(spark, path, fmt=fmt).where(F.col(col).isin(values))
    from aws_ipl_data_pipeline_spark.sources.writers import partition_dir

    paths = [
        p
        for p in (
            f"{path}/{partition_dir(spark, col, v)}" for v in values
        )
        if path_exists(spark, p)
    ]
    if not paths:
        if schema is not None:
            return local_frame(spark, schema)
        # no schema and nothing on disk: fall back to the (empty)
        # filter form so the caller still gets the table's columns
        return read_table(spark, path, fmt=fmt).where(F.col(col).isin(values))
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(*paths)


# column types whose values py4j hands the JVM as the boxed type
# Spark's row converter expects (a Python int arrives as Integer, so a
# bigint column would fail at evaluation)
_PY4J_TYPES = (T.StringType, T.IntegerType, T.DoubleType, T.BooleanType)


def local_frame(
    spark: SparkSession, schema: T.StructType | str, rows=()
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` built in the JVM, as a
    ``LocalRelation``.

    In classic PySpark, ``createDataFrame`` over a Python list (empty or
    not) parallelizes the rows into a Python RDD: the frame's leaf is a
    ``LogicalRDD``, and EVERY evaluation of it (each collect, join or
    union it feeds) starts one Python worker task per core — measured
    ~1 s of worker CPU and ~0.5 s of wall per evaluation of a 2-row
    frame on 4 vCPUs (local[4]). A ``LocalRelation`` is evaluated in
    the JVM: projections over it are folded at planning time, and a
    bare one is collected without a job.

    ``rows`` are tuples of str, int, float, bool or None, converted by
    py4j; non-empty rows therefore need string, int, double or boolean
    columns. An empty frame takes any schema, nullability included."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    if rows and not all(isinstance(f.dataType, _PY4J_TYPES) for f in schema.fields):
        raise TypeError(
            f"local_frame rows need string/int/double/boolean columns: {schema}"
        )
    jvm = spark._jvm
    jrows = jvm.java.util.ArrayList()
    for row in rows:
        jrows.add(
            jvm.org.apache.spark.sql.Row.fromSeq(
                jvm.org.apache.spark.api.python.PythonUtils.toSeq(list(row))
            )
        )
    jschema = jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json())
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)
