"""SQL front door (SURVEY §3 entry point 3): the reference's documented
Athena query surface (reference README.md:151-183) served verbatim by
``spark.sql`` over materialized gold tables.

Athena reads `ipl_db.gold_*` Delta tables; here the gold DataFrames are
saved as catalog tables in an `ipl_db` database (Delta when delta-spark
is present, parquet otherwise — same query surface either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aws_ipl_data_pipeline_spark.plans.gold import GOLD_BUILDERS
from aws_ipl_data_pipeline_spark.sources.writers import TABLE_FORMAT

# verbatim from reference README.md:156-168
ATHENA_POINTS_TABLE_SQL = """
SELECT
    rank,
    team,
    played,
    won,
    lost,
    points,
    net_run_rate,
    avg_run_rate
FROM ipl_db.gold_tournament_standings
ORDER BY rank ASC
"""

# verbatim from reference README.md:171-182
ATHENA_ORANGE_CAP_SQL = """
SELECT
    batsman,
    total_runs,
    legal_balls,
    strike_rate,
    fours,
    sixes,
    highest_score
FROM ipl_db.gold_batsman_stats
ORDER BY total_runs DESC
LIMIT 10
"""

def materialize_gold(
    spark: SparkSession,
    silver: DataFrame,
    database: str = "ipl_db",
    location: str | None = None,
) -> dict[str, DataFrame]:
    """Compute the four gold tables and register them as catalog tables
    (full overwrite, like the reference's gold job ex_match_sg.py:299-315)."""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}{loc}")
    out = {}
    for name, builder in GOLD_BUILDERS.items():
        df = builder(silver)
        df.write.format(TABLE_FORMAT).mode("overwrite").saveAsTable(
            f"{database}.{name}"
        )
        out[name] = df
    return out


def points_table(spark: SparkSession) -> DataFrame:
    return spark.sql(ATHENA_POINTS_TABLE_SQL)


def orange_cap(spark: SparkSession) -> DataFrame:
    return spark.sql(ATHENA_ORANGE_CAP_SQL)
