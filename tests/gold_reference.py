"""An independent reference for the four gold tables: the DuckDB specs in
``queries_ipl.py`` (``_BATSMAN_SQL_BODY`` …) run over a silver frame's
rows. The specs read a CTE named ``silver``; for standings it first
drops the rows whose team labels are not both known (``not_na``), as
``ipl_gold_e2e``'s oracle does.

Integer columns must match exactly. Rounded ratio columns may differ by
0.01: Spark rounds a double through its shortest decimal string
(HALF_UP), DuckDB rounds the binary value, so a quotient that prints as
``x.xx5`` can round apart."""

from __future__ import annotations

import decimal

import duckdb

from aws_ipl_data_pipeline_spark.queries_ipl import (
    _BATSMAN_SQL_BODY,
    _BOWLER_SQL_BODY,
    _STANDINGS_SQL_BODY,
    _TEAM_SQL_BODY,
)

RATIO_TOLERANCE = 0.01

_KNOWN_TEAMS = (
    "batting_team IS NOT NULL AND batting_team <> 'N/A' "
    "AND bowling_team IS NOT NULL AND bowling_team <> 'N/A'"
)

# table → (key column, the rows the `silver` CTE selects, spec body)
SPECS = {
    "gold_batsman_stats": ("batsman", "silver_rows", _BATSMAN_SQL_BODY),
    "gold_bowler_stats": ("bowler", "silver_rows", _BOWLER_SQL_BODY),
    "gold_team_stats": ("team", "silver_rows", _TEAM_SQL_BODY),
    "gold_tournament_standings": (
        "team",
        f"silver_rows WHERE {_KNOWN_TEAMS}",
        _STANDINGS_SQL_BODY,
    ),
}

COLUMNS = {
    "match": "VARCHAR",
    "batsman": "VARCHAR",
    "bowler": "VARCHAR",
    "out_batsman": "VARCHAR",
    "batting_team": "VARCHAR",
    "bowling_team": "VARCHAR",
    "innings_phase": "VARCHAR",
    "runs": "INTEGER",
    "total_runs": "INTEGER",
    "wicket": "INTEGER",
    "is_legal_delivery": "INTEGER",
    "is_four": "INTEGER",
    "is_six": "INTEGER",
    "is_dot_ball": "INTEGER",
}


def gold_reference(silver_df) -> dict[str, list[dict]]:
    """Table name → the reference's rows (column → value) over
    ``silver_df``, a Spark frame with the silver columns the specs
    read."""
    cols = list(COLUMNS)
    rows = [tuple(r) for r in silver_df.select(*cols).collect()]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE silver_rows ("
            + ", ".join(f"{c} {t}" for c, t in COLUMNS.items())
            + ")"
        )
        if rows:
            con.executemany(
                f"INSERT INTO silver_rows VALUES ({', '.join('?' for _ in cols)})",
                rows,
            )
        out = {}
        for name, (_, source, body) in SPECS.items():
            cur = con.execute(f"WITH silver AS (SELECT * FROM {source}),\n{body}")
            names = [d[0] for d in cur.description]
            out[name] = [
                {
                    c: float(v) if isinstance(v, decimal.Decimal) else v
                    for c, v in zip(names, row)
                }
                for row in cur.fetchall()
            ]
        return out
    finally:
        con.close()


def reference_mismatches(name: str, gold_df, reference_rows: list[dict]) -> list[str]:
    """How the Spark gold frame ``gold_df`` of table ``name`` differs
    from the reference's rows: keys, column names, then each cell."""
    key = SPECS[name][0]
    rows = gold_df.collect()
    got = {r[key]: r.asDict() for r in rows}
    want = {r[key]: r for r in reference_rows}
    if len(got) != len(rows) or got.keys() != want.keys():
        return [f"{name} keys: spark {sorted(got)} vs reference {sorted(want)}"]
    out = []
    for k, row in want.items():
        if set(got[k]) != set(row):
            return [
                f"{name} columns: spark {sorted(got[k])} vs reference {sorted(row)}"
            ]
        for col, w in row.items():
            v = got[k][col]
            if isinstance(v, float) or isinstance(w, float):
                same = (v is None and w is None) or (
                    v is not None
                    and w is not None
                    and abs(v - w) <= RATIO_TOLERANCE + 1e-9
                )
            else:
                same = v == w
            if not same:
                out.append(f"{name}[{k!r}].{col}: spark {v!r} vs reference {w!r}")
    return out
