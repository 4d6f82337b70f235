"""spark-ipl-analytics: a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
rkshthg/AWS-IPL-Data-Pipeline (a pandas/AWS medallion ETL over IPL cricket
ball-by-ball data) on idiomatic Spark: explicit schemas, DataFrame/SQL
declarative plans optimized by Catalyst, window functions instead of
stateful row loops, broadcast joins instead of dict lookups, and
Structured Streaming instead of Lambda/Glue event chaining.

Entry points: ``cli.main`` (one subcommand per reference layer job,
plus ``stream``, ``sql``, ``query``, ``maintain``, ``prep`` and
``corpus``), ``streaming.run_incremental_pipeline`` and the registered
queries in ``queries.REGISTRY``.

Layout:
  session    - SparkSession factory tuned for local[N] and cluster use
  schemas    - explicit StructType contracts per medallion layer
  functions/ - scalar/event-parse/fuzzy column expression builders
  plans/     - bronze/silver/gold medallion transform plans
  operators/ - dedup, similarity search (LSH/IVF/PQ), as-of/range join,
               text analysis, multimodal plumbing, skew salting (the
               100 TB training-data toolkit)
  sources/   - schema-enforced CSV/JSON/Parquet readers, partition-
               predicate overwrite and upsert writers (Delta when
               delta-spark is present), versioned snapshots, table
               maintenance
  streaming/ - file-source incremental medallion pipeline (foreachBatch
               over the CLI's layer routines) and the streaming corpus
               ingest
"""

__version__ = "0.1.0"
