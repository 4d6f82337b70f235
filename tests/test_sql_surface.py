"""The reference's two documented Athena queries run through `cli sql`
over `cli gold`'s output and agree with the gold tables they read."""

from __future__ import annotations

import pytest

from aws_ipl_data_pipeline_spark.cli import main
from aws_ipl_data_pipeline_spark.plans import to_bronze, to_silver
from tests.fixtures_ipl import match_meta, players, raw_deliveries

# The reference's two Athena queries (reference README.md), verbatim but
# for the `ipl_db.` qualifier: `cli sql --table` names the gold tables
# instead of a catalog database.
# reference README.md:156-168
POINTS_TABLE_SQL = """
SELECT
    rank,
    team,
    played,
    won,
    lost,
    points,
    net_run_rate,
    avg_run_rate
FROM gold_tournament_standings
ORDER BY rank ASC
"""

# reference README.md:171-182
ORANGE_CAP_SQL = """
SELECT
    batsman,
    total_runs,
    legal_balls,
    strike_rate,
    fours,
    sixes,
    highest_score
FROM gold_batsman_stats
ORDER BY total_runs DESC
LIMIT 10
"""


@pytest.fixture(scope="module")
def gold_dir(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cliathena"))
    silver = to_silver(to_bronze(raw_deliveries(spark)), match_meta(spark), players(spark))
    silver.write.parquet(f"{base}/silver")
    main(["gold", "--silver", f"{base}/silver", "--out-dir", f"{base}/gold"])
    return f"{base}/gold"


def _shown_rows(out: str) -> list[list[str]]:
    """The data rows of a ``DataFrame.show`` table, header dropped."""
    rows = [
        [cell.strip() for cell in ln.strip("|").split("|")]
        for ln in out.splitlines()
        if ln.startswith("|")
    ]
    return rows[1:]


def _as_strings(df) -> list[list[str]]:
    cells = [f"cast({c} as string)" for c in df.columns]
    return [list(r) for r in df.selectExpr(*cells).collect()]


def test_points_table_verbatim(spark, gold_dir, capsys):
    table = f"{gold_dir}/gold_tournament_standings"
    capsys.readouterr()
    main(["sql", POINTS_TABLE_SQL, "--table", f"gold_tournament_standings={table}"])
    got = _shown_rows(capsys.readouterr().out)
    want = _as_strings(
        spark.read.parquet(table)
        .select(
            "rank", "team", "played", "won", "lost", "points", "net_run_rate",
            "avg_run_rate",
        )
        .orderBy("rank")
    )
    assert got == want and len(got) == 3


def test_orange_cap_verbatim(spark, gold_dir, capsys):
    table = f"{gold_dir}/gold_batsman_stats"
    capsys.readouterr()
    main(["sql", ORANGE_CAP_SQL, "--table", f"gold_batsman_stats={table}"])
    got = _shown_rows(capsys.readouterr().out)
    assert len(got) > 0
    # leader by total_runs matches the gold table's leader
    leader = spark.read.parquet(table).orderBy("total_runs", ascending=False).head()
    assert got[0][:2] == [leader["batsman"], str(leader["total_runs"])]
