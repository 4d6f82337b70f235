"""IPL medallion semantics in the driver correctness gate.

The synthetic harness tables have no cricket data, so these queries run
the REAL medallion plans over literal VALUES fixtures and check them
against independently hand-written SQL oracles implementing the
reference semantics (reference pipeline_2026/ex_match_rb.py:44-154,
ex_match_sg.py:210-297). The fixture literals are defined once and
rendered into both sides, so only the computations differ.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.queries import REGISTRY, _reorder_registry, register
from aws_ipl_data_pipeline_spark.schemas import RAW_DELIVERIES
from aws_ipl_data_pipeline_spark.session import tune_session
from aws_ipl_data_pipeline_spark.sources.readers import local_frame

# ---------------------------------------------------------------------------
# fixture literals (shared by Spark local_frame and SQL VALUES)
# ---------------------------------------------------------------------------

# (match, over, ball, bowler, batsman, ball_event, event_info, seq)
RAW_BALLS = [
    ("M1", 0, 1, "bw1", "bat1", "four", "", 1),
    ("M1", 0, 2, "bw1", "bat1", "wide", "1 run; down leg", 2),
    ("M1", 0, 2, "bw1", "bat2", "no run", "", 3),
    ("M1", 0, 3, "bw1", "bat2", "5 wides", "swings", 4),
    ("M1", 0, 3, "bw1", "bat2", "byes", "2 runs; past keeper", 5),
    ("M1", 0, 4, "bw1", "bat2", "out Bowled !", "", 6),
    ("M1", 0, 5, "bw1", "bat3", "six", "", 7),
    ("M1", 0, 6, "bw1", "bat3", "no ball", "no run", 8),
    ("M1", 0, 6, "bw1", "bat3", "1 run", "", 9),
    ("M1", 0, 1, "bw2", "bat4", "2 runs", "", 10),  # innings 2
    ("M1", 0, 2, "bw2", "bat4", "leg byes", "1 run; off pads", 11),
    ("M1", 0, 3, "bw2", "bat4", "out Caught !", "", 12),
    ("M2", 0, 1, "bw3", "bat1", "3 runs", "", 1),
    ("M2", 0, 2, "bw3", "bat1", "no-ball", "four", 2),
    ("M2", 0, 2, "bw3", "bat1", "1 run", "", 3),
]


def _raw_values_sql() -> str:
    rows = ",\n      ".join(
        f"('{m}', {o}, {b}, '{bw}', '{bt}', '{ev}', '{info}', {seq})"
        for (m, o, b, bw, bt, ev, info, seq) in RAW_BALLS
    )
    return (
        f"(VALUES\n      {rows}\n    ) AS raw(match, over_, ball, bowler, batsman, ball_event, event_info, seq)"
    )


def _raw_df(spark: SparkSession) -> DataFrame:
    rows = [
        (m, "Apr 01", "7:30", "V", o, b, bw, bt, ev, info, f"t{seq:04d}")
        for (m, o, b, bw, bt, ev, info, seq) in RAW_BALLS
    ]
    return local_frame(spark, RAW_DELIVERIES, rows)


# ---------------------------------------------------------------------------
# replicated-fixture memo: the *_big league-volume fixtures (thousands
# of crossJoin(range) replicas of the VALUES rows) are pure functions of
# the literals, so build + materialize each ONE time per Spark app and
# let every later call — all bench iterations after the first — read
# the pinned blocks. The bench then measures the gold PLANS, not
# fixture synthesis (~2.2 s/iteration before this, VERDICT r4 #8). In
# production the analog is silver being a materialized table, which the
# real pipeline writes before gold reads (streaming/pipeline.py).
# Backed by the shared applicationId-keyed memo in queries.py.
# ---------------------------------------------------------------------------


def _session_fixture(spark: SparkSession, key: str, build) -> DataFrame:
    from aws_ipl_data_pipeline_spark.queries import session_memo

    return session_memo(
        spark,
        ("ipl_fixture", key),
        lambda: build().localCheckpoint(eager=True),
    )


# SQL implementation of the reference event parse + innings fold,
# derived directly from ex_match_rb.py:44-154 (independent of the Spark
# plan under test).
_PARSE_SQL = """
    parsed AS (
      SELECT match, over_, ball, bowler, batsman, seq,
        lower(ball_event) AS ev, lower(event_info) AS info,
        CASE lower(ball_event)
          WHEN 'no run' THEN 0 WHEN '1 run' THEN 1 WHEN '2 runs' THEN 2
          WHEN '3 runs' THEN 3 WHEN 'four' THEN 4 WHEN '5 runs' THEN 5
          WHEN 'six' THEN 6 ELSE 0 END AS base_runs,
        lower(ball_event) IN ('wide','no ball','no-ball','byes','leg byes','leg-byes') AS is_extra,
        lower(ball_event) = '5 wides' AS is_5w,
        lower(ball_event) LIKE 'out%' AS is_out,
        CASE lower(ball_event) WHEN 'wide' THEN 1 WHEN 'no ball' THEN 1
          WHEN 'no-ball' THEN 1 ELSE 0 END AS extra_val,
        string_split(lower(event_info), ';')[1] AS extra_event
      FROM {raw}
    ),
    fields AS (
      SELECT match, over_, ball, bowler, batsman, seq,
        CASE WHEN is_extra AND extra_event IN ('no run','1 run','2 runs','3 runs','four','5 runs','six')
               THEN CASE extra_event WHEN 'no run' THEN 0 WHEN '1 run' THEN 1
                    WHEN '2 runs' THEN 2 WHEN '3 runs' THEN 3 WHEN 'four' THEN 4
                    WHEN '5 runs' THEN 5 WHEN 'six' THEN 6 END
             WHEN is_5w THEN 4 ELSE base_runs END AS runs,
        CASE WHEN is_extra THEN extra_val WHEN is_5w THEN 1 ELSE 0 END AS extra_runs,
        CASE WHEN is_extra OR is_5w THEN 1 ELSE 0 END AS extra,
        CASE WHEN is_extra THEN ev WHEN is_5w THEN 'wide' ELSE 'N/A' END AS extra_type,
        CASE WHEN is_extra THEN extra_val WHEN is_5w THEN 1 ELSE 0 END AS rebowl,
        CASE WHEN is_out THEN 1 ELSE 0 END AS wicket,
        CASE WHEN is_out THEN string_split(ev, ' ')[2] ELSE 'Not Out' END AS wicket_method,
        CASE WHEN is_out THEN batsman ELSE 'N/A' END AS out_batsman
      FROM parsed
    ),
    with_total AS (
      SELECT *, runs + extra_runs AS total_runs FROM fields
    ),
    lagged AS (
      SELECT *, lag(rebowl) OVER (PARTITION BY match ORDER BY seq) AS prev_rebowl
      FROM with_total
    ),
    folded AS (
      SELECT *,
        1 + SUM(CASE WHEN over_ = 0 AND ball = 1 AND prev_rebowl = 0
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY match ORDER BY seq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS innings
      FROM lagged
    )
"""


@register(
    "ipl_bronze_fold",
    f"""
    WITH {_PARSE_SQL.format(raw=_raw_values_sql())}
    SELECT match, CAST(over_ AS BIGINT) AS over, CAST(ball AS BIGINT) AS ball,
           bowler, batsman,
           CAST(runs AS BIGINT) AS runs, CAST(extra_runs AS BIGINT) AS extra_runs,
           CAST(extra AS BIGINT) AS extra, extra_type,
           CAST(rebowl AS BIGINT) AS rebowl, CAST(wicket AS BIGINT) AS wicket,
           wicket_method, out_batsman,
           CAST(total_runs AS BIGINT) AS total_runs,
           CAST(innings AS BIGINT) AS innings,
           CAST(SUM(total_runs) OVER (PARTITION BY match, innings ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS score,
           CAST(SUM(wicket) OVER (PARTITION BY match, innings ORDER BY seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fallen_wickets
    FROM folded
    """,
)
def ipl_bronze_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4+A12+W2/W3: the full bronze plan (event parse + innings
    detection + running score) on the literal fixture, vs a hand-written
    SQL derivation of reference ex_match_rb.py:44-154."""
    from aws_ipl_data_pipeline_spark.plans.bronze import to_bronze

    tune_session(spark)
    bronze = to_bronze(_raw_df(spark))
    return bronze.select(
        "match",
        F.col("over").cast("long"),
        F.col("ball").cast("long"),
        "bowler",
        "batsman",
        F.col("runs").cast("long"),
        F.col("extra_runs").cast("long"),
        F.col("extra").cast("long"),
        "extra_type",
        F.col("rebowl").cast("long"),
        F.col("wicket").cast("long"),
        "wicket_method",
        "out_batsman",
        F.col("total_runs").cast("long"),
        F.col("innings").cast("long"),
        F.col("score").cast("long"),
        F.col("fallen_wickets").cast("long"),
    )


# (match, batting_team, bowling_team, total_runs, is_legal) — silver-ish
SILVER_ROWS = [
    ("M1", "AA", "BB", 4, 1), ("M1", "AA", "BB", 2, 0), ("M1", "AA", "BB", 5, 0),
    ("M1", "AA", "BB", 2, 1), ("M1", "AA", "BB", 6, 1), ("M1", "AA", "BB", 1, 1),
    ("M1", "BB", "AA", 2, 1), ("M1", "BB", "AA", 1, 1), ("M1", "BB", "AA", 0, 1),
    ("M2", "AA", "CC", 6, 1), ("M2", "AA", "CC", 0, 1),
    ("M2", "CC", "AA", 6, 1), ("M2", "CC", "AA", 0, 1),  # tie
    ("M3", "BB", "CC", 4, 1), ("M3", "BB", "CC", 1, 1),
    ("M3", "CC", "BB", 2, 1), ("M3", "CC", "BB", 6, 0),
]


def _silver_values_sql() -> str:
    rows = ",\n      ".join(
        f"('{m}', '{bt}', '{bw}', {r}, {lg})" for (m, bt, bw, r, lg) in SILVER_ROWS
    )
    return (
        f"(VALUES\n      {rows}\n    ) AS s(match, batting_team, bowling_team, total_runs, is_legal_delivery)"
    )


def _silver_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        "match string, batting_team string, bowling_team string, "
        "total_runs int, is_legal_delivery int",
        SILVER_ROWS,
    )


_STANDINGS_SQL_BODY = """
    bat AS (
      SELECT match, batting_team AS team, SUM(total_runs) AS runs_scored,
             SUM(is_legal_delivery) AS balls_batted
      FROM silver GROUP BY 1, 2
    ),
    bowl AS (
      SELECT match, bowling_team AS team, SUM(total_runs) AS runs_conceded,
             SUM(is_legal_delivery) AS balls_bowled
      FROM silver GROUP BY 1, 2
    ),
    ms AS (
      SELECT COALESCE(bat.match, bowl.match) AS match,
             COALESCE(bat.team, bowl.team) AS team,
             COALESCE(runs_scored, 0) AS runs_scored,
             COALESCE(balls_batted, 0) AS balls_batted,
             COALESCE(runs_conceded, 0) AS runs_conceded,
             COALESCE(balls_bowled, 0) AS balls_bowled
      FROM bat FULL OUTER JOIN bowl ON bat.match = bowl.match AND bat.team = bowl.team
    ),
    pm AS (
      SELECT match, COUNT(*) AS n_teams, MAX(runs_scored) AS mx, MIN(runs_scored) AS mn,
             max_by(team, runs_scored) AS mx_team, min_by(team, runs_scored) AS mn_team
      FROM bat GROUP BY match
    ),
    winners AS (
      SELECT match,
             CASE WHEN mx > mn THEN mx_team END AS winner,
             CASE WHEN mx > mn THEN mn_team END AS loser
      FROM pm WHERE n_teams = 2
    ),
    outcomes AS (
      SELECT team, SUM(w) AS won, SUM(l) AS lost FROM (
        SELECT winner AS team, 1 AS w, 0 AS l FROM winners WHERE winner IS NOT NULL
        UNION ALL
        SELECT loser AS team, 0 AS w, 1 AS l FROM winners WHERE loser IS NOT NULL
      ) GROUP BY team
    ),
    totals AS (
      SELECT team, SUM(runs_scored) AS runs_for, SUM(balls_batted) AS balls_for,
             SUM(runs_conceded) AS runs_against, SUM(balls_bowled) AS balls_against
      FROM ms GROUP BY team
    ),
    st AS (
      SELECT t.team,
             COALESCE(o.won, 0) AS won, COALESCE(o.lost, 0) AS lost,
             0 AS tied_nr,
             COALESCE(o.won, 0) + COALESCE(o.lost, 0) AS played,
             COALESCE(o.won, 0) * 2 AS points,
             t.runs_for, t.balls_for, t.runs_against, t.balls_against,
             CASE WHEN t.balls_for > 0 THEN round(t.runs_for / (t.balls_for / 6.0), 2) ELSE 0.0 END AS avg_run_rate,
             CASE WHEN t.balls_against > 0 THEN round(t.runs_against / (t.balls_against / 6.0), 2) ELSE 0.0 END AS conceded_rr
      FROM totals t LEFT JOIN outcomes o ON o.team = t.team
      -- the standings rank the batting teams; a bowl-only label has no row
      WHERE t.team IN (SELECT team FROM bat)
    )
    SELECT CAST(row_number() OVER (ORDER BY points DESC,
                round(avg_run_rate - conceded_rr, 3) DESC, avg_run_rate DESC, team ASC) AS BIGINT) AS rank,
           team, CAST(played AS BIGINT) AS played, CAST(won AS BIGINT) AS won,
           CAST(lost AS BIGINT) AS lost, CAST(tied_nr AS BIGINT) AS tied_nr,
           CAST(points AS BIGINT) AS points,
           round(avg_run_rate - conceded_rr, 3) AS net_run_rate,
           avg_run_rate,
           CAST(runs_for AS BIGINT) AS runs_for,
           round(CAST(balls_for // 6 + (balls_for % 6) / 10.0 AS DOUBLE), 1) AS overs_for,
           CAST(runs_against AS BIGINT) AS runs_against,
           round(CAST(balls_against // 6 + (balls_against % 6) / 10.0 AS DOUBLE), 1) AS overs_against
    FROM st
"""


@register(
    "ipl_standings",
    f"""
    WITH silver AS (SELECT * FROM {_silver_values_sql()}),
    {_STANDINGS_SQL_BODY}
    """,
)
def ipl_standings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9/J3/W1/F2: the real tournament_standings plan on a literal
    silver fixture (incl. a tied match, which contributes to nothing —
    the reference quirk) vs an independent SQL derivation of
    ex_match_sg.py:210-297."""
    from aws_ipl_data_pipeline_spark.plans.gold import tournament_standings

    tune_session(spark)
    st = tournament_standings(_silver_df(spark))
    return st.select(
        F.col("rank").cast("long"),
        "team",
        F.col("played").cast("long"),
        F.col("won").cast("long"),
        F.col("lost").cast("long"),
        F.col("tied_nr").cast("long"),
        F.col("points").cast("long"),
        "net_run_rate",
        "avg_run_rate",
        "runs_for",
        "overs_for",
        "runs_against",
        "overs_against",
    )


@register(
    "ipl_standings_big",
    f"""
    WITH base AS (SELECT * FROM {_silver_values_sql()}),
    silver AS (
      SELECT base.* REPLACE (
        base.match || '_' || CAST(r.r AS VARCHAR) AS match,
        CAST(base.total_runs + r.r % 2 AS INT) AS total_runs)
      FROM base CROSS JOIN (SELECT unnest(range(0, 3001)) AS r) r
    ),
    {_STANDINGS_SQL_BODY}
    """,
)
def ipl_standings_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tournament_standings at league volume: the team-grain fixture
    replicated across 3001 synthetic matches (prime, same non-dyadic
    denominator rationale as ipl_batsman_stats_big) with a per-replica
    total_runs shift (+ rep % 2). Because the two sides of a match bat
    different delivery counts, odd replicas shift team totals unequally
    — margins move, the fixture's tied match breaks its tie in half the
    replicas — so the driver hash-checks the winner derivation, the
    full-outer accumulation, and the rounded net-run-rates over ~60k
    team-match rows with replica-varying outcomes, not one outcome
    replayed 3001 times."""
    from aws_ipl_data_pipeline_spark.plans.gold import tournament_standings

    tune_session(spark)

    def _build() -> DataFrame:
        reps = spark.range(3001).select(F.col("id").alias("_rep"))
        return (
            _silver_df(spark)
            .crossJoin(reps)
            .withColumn(
                "match", F.concat_ws("_", "match", F.col("_rep").cast("string"))
            )
            .withColumn(
                "total_runs",
                (F.col("total_runs") + F.pmod("_rep", F.lit(2))).cast("int"),
            )
            .drop("_rep")
        )

    silver = _session_fixture(spark, "standings_big_3001", _build)
    st = tournament_standings(silver)
    return st.select(
        F.col("rank").cast("long"),
        "team",
        F.col("played").cast("long"),
        F.col("won").cast("long"),
        F.col("lost").cast("long"),
        F.col("tied_nr").cast("long"),
        F.col("points").cast("long"),
        "net_run_rate",
        "avg_run_rate",
        "runs_for",
        "overs_for",
        "runs_against",
        "overs_against",
    )


@register(
    "ipl_standings_incremental",
    None,  # oracle assigned right below — identical to ipl_standings_big
)
def ipl_standings_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL gold path (plans/gold_incremental.py, VERDICT r6
    item 4) hash-proven through the driver at league volume: standings
    through the stored-partials round trip —
    tournament_standings_from_partials(standings_match_partials(silver)),
    i.e. the parts packed into one flagged row per (match, team) and
    unpacked by flag into standings_from_parts — over the same
    3001-replica fixture as ipl_standings_big, against that query's
    direct-SQL oracle, on ~60k team-match rows with replica-varying
    winners and ties."""
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        standings_match_partials,
        tournament_standings_from_partials,
    )

    tune_session(spark)

    def _build() -> DataFrame:
        reps = spark.range(3001).select(F.col("id").alias("_rep"))
        return (
            _silver_df(spark)
            .crossJoin(reps)
            .withColumn(
                "match", F.concat_ws("_", "match", F.col("_rep").cast("string"))
            )
            .withColumn(
                "total_runs",
                (F.col("total_runs") + F.pmod("_rep", F.lit(2))).cast("int"),
            )
            .drop("_rep")
        )

    silver = _session_fixture(spark, "standings_big_3001", _build)
    # the partials frame feeds several consumers in the merge
    # (bat/bowl splits, the team spine, winner derivation) -- pin the
    # skinny per-(match, key) frame once so the silver groupBys run a
    # single time (guide §3.3; r12)
    partials = standings_match_partials(silver).localCheckpoint(eager=False)
    st = tournament_standings_from_partials(partials)
    return st.select(
        F.col("rank").cast("long"),
        "team",
        F.col("played").cast("long"),
        F.col("won").cast("long"),
        F.col("lost").cast("long"),
        F.col("tied_nr").cast("long"),
        F.col("points").cast("long"),
        "net_run_rate",
        "avg_run_rate",
        "runs_for",
        "overs_for",
        "runs_against",
        "overs_against",
    )


# same independent SQL derivation as the batch-path query — the whole
# point: two implementations, one spec
REGISTRY["ipl_standings_incremental"].oracle = REGISTRY["ipl_standings_big"].oracle


# delivery-grain silver fixture for the player gold tables:
# (match, batsman, bowler, out_batsman, runs, total_runs,
#  is_legal_delivery, is_four, is_six, is_dot_ball, wicket)
# exercises: 'N/A' sentinel exclusion (batsman/bowler/out_batsman),
# run-out attribution (out_batsman != striker), never-out batsman
# (times_out=0 → reference divides by 1, not null), wides (legal=0).
PLAYER_ROWS = [
    ("M1", "Asha", "Xavi", "N/A", 4, 4, 1, 1, 0, 0, 0),
    ("M1", "Asha", "Xavi", "N/A", 6, 6, 1, 0, 1, 0, 0),
    ("M1", "Asha", "Xavi", "Asha", 0, 0, 1, 0, 0, 1, 1),
    ("M1", "Bela", "Yusu", "N/A", 1, 1, 1, 0, 0, 0, 0),
    ("M1", "Bela", "Yusu", "N/A", 0, 1, 0, 0, 0, 0, 0),
    ("M1", "N/A", "Xavi", "N/A", 0, 0, 1, 0, 0, 1, 0),
    ("M2", "Asha", "Yusu", "N/A", 2, 2, 1, 0, 0, 0, 0),
    ("M2", "Chand", "Xavi", "Bela", 1, 1, 1, 0, 0, 0, 1),
    ("M2", "Chand", "N/A", "N/A", 4, 4, 1, 1, 0, 0, 0),
    ("M2", "Bela", "Xavi", "N/A", 0, 0, 1, 0, 0, 1, 0),
]


def _player_values_sql() -> str:
    rows = ",\n      ".join(
        f"('{m}', '{bt}', '{bw}', '{ob}', {r}, {tr}, {lg}, {f4}, {s6}, {dt}, {wk})"
        for (m, bt, bw, ob, r, tr, lg, f4, s6, dt, wk) in PLAYER_ROWS
    )
    return (
        f"(VALUES\n      {rows}\n    ) AS s(match, batsman, bowler, out_batsman,"
        " runs, total_runs, is_legal_delivery, is_four, is_six, is_dot_ball, wicket)"
    )


def _player_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        "match string, batsman string, bowler string, out_batsman string, "
        "runs int, total_runs int, is_legal_delivery int, is_four int, "
        "is_six int, is_dot_ball int, wicket int",
        PLAYER_ROWS,
    )


# the gold_batsman_stats SQL derivation, parameterized only by a
# `silver` CTE that must precede it (shared by the fixture-grain and
# replicated-volume registrations)
_BATSMAN_SQL_BODY = """
    bat AS (SELECT * FROM silver WHERE batsman IS NOT NULL AND batsman <> 'N/A'),
    highest AS (
      SELECT batsman, MAX(mr) AS highest_score FROM (
        SELECT batsman, match, SUM(runs) AS mr FROM bat GROUP BY 1, 2
      ) GROUP BY batsman
    ),
    stats AS (
      SELECT batsman, COUNT(DISTINCT match) AS matches, SUM(runs) AS total_runs,
             SUM(is_legal_delivery) AS legal_balls, SUM(is_four) AS fours,
             SUM(is_six) AS sixes, SUM(is_dot_ball) AS dot_balls
      FROM bat GROUP BY batsman
    ),
    outs AS (
      SELECT out_batsman AS batsman, COUNT(*) AS times_out FROM silver
      WHERE out_batsman IS NOT NULL AND out_batsman <> 'N/A' GROUP BY 1
    )
    SELECT s.batsman, CAST(s.matches AS BIGINT) AS matches,
           CAST(s.total_runs AS BIGINT) AS total_runs,
           CAST(s.legal_balls AS BIGINT) AS legal_balls,
           CAST(s.fours AS BIGINT) AS fours, CAST(s.sixes AS BIGINT) AS sixes,
           CAST(s.dot_balls AS BIGINT) AS dot_balls,
           CAST(h.highest_score AS BIGINT) AS highest_score,
           CAST(COALESCE(o.times_out, 0) AS BIGINT) AS times_out,
           round(s.total_runs * 100.0 / (CASE WHEN s.legal_balls = 0 THEN 1 ELSE s.legal_balls END), 2) AS strike_rate,
           round(s.total_runs * 1.0 / (CASE WHEN COALESCE(o.times_out, 0) = 0 THEN 1 ELSE o.times_out END), 2) AS batting_avg,
           round(s.dot_balls * 100.0 / (CASE WHEN s.legal_balls = 0 THEN 1 ELSE s.legal_balls END), 2) AS dot_ball_pct
    FROM stats s
    LEFT JOIN highest h ON h.batsman = s.batsman
    LEFT JOIN outs o ON o.batsman = s.batsman
"""


@register(
    "ipl_batsman_stats",
    f"""
    WITH silver AS (SELECT * FROM {_player_values_sql()}),
    {_BATSMAN_SQL_BODY}
    """,
)
def ipl_batsman_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A3/J1/J2/F2: the real gold_batsman_stats plan (reference
    ex_match_sg.py:121-148) on a delivery-grain fixture vs an
    independent SQL derivation — incl. the full-table times_out scan
    and the divide-by-1-when-zero parity quirk."""
    from aws_ipl_data_pipeline_spark.plans.gold import batsman_stats

    tune_session(spark)
    out = batsman_stats(_player_df(spark))
    return out.select(
        "batsman",
        F.col("matches").cast("long"),
        F.col("total_runs").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("fours").cast("long"),
        F.col("sixes").cast("long"),
        F.col("dot_balls").cast("long"),
        F.col("highest_score").cast("long"),
        F.col("times_out").cast("long"),
        "strike_rate",
        "batting_avg",
        "dot_ball_pct",
    )


@register(
    "ipl_batsman_stats_big",
    f"""
    WITH base AS (SELECT * FROM {_player_values_sql()}),
    silver AS (
      SELECT base.* REPLACE (
        base.match || '_' || CAST(r.r AS VARCHAR) AS match,
        CAST(base.runs + r.r % 3 AS INT) AS runs)
      FROM base CROSS JOIN (SELECT unnest(range(0, 4999)) AS r) r
    ),
    {_BATSMAN_SQL_BODY}
    """,
)
def ipl_batsman_stats_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold_batsman_stats at ~2-season volume (49,990 deliveries — the
    reference processes ~20k/season, BASELINE.md): the delivery fixture
    replicated across 4999 synthetic matches with per-replica run
    variation (runs + rep mod 3), all SQL-expressible, so the driver
    hash-checks the medallion aggregation at volume — matches,
    highest-score max-of-sums, times_out attribution, and the three
    rounded rates — not just fixture-grain quirks.

    4999 replicas deliberately (prime): per-batsman denominators like
    legal_balls = 4 x 4999 have a non-dyadic factor, so the rounded
    rate quotients never terminate at exactly 3 decimal digits — the
    .xx5 double-rounding boundary where Spark (shortest-decimal
    HALF_UP) and DuckDB (binary round) legitimately disagree cannot
    occur."""
    from aws_ipl_data_pipeline_spark.plans.gold import batsman_stats

    tune_session(spark)

    def _build() -> DataFrame:
        reps = spark.range(4999).select(F.col("id").alias("_rep"))
        return (
            _player_df(spark)
            .crossJoin(reps)
            .withColumn(
                "match", F.concat_ws("_", "match", F.col("_rep").cast("string"))
            )
            .withColumn(
                "runs", (F.col("runs") + F.pmod("_rep", F.lit(3))).cast("int")
            )
            .drop("_rep")
        )

    silver = _session_fixture(spark, "batsman_big_4999", _build)
    out = batsman_stats(silver)
    return out.select(
        "batsman",
        F.col("matches").cast("long"),
        F.col("total_runs").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("fours").cast("long"),
        F.col("sixes").cast("long"),
        F.col("dot_balls").cast("long"),
        F.col("highest_score").cast("long"),
        F.col("times_out").cast("long"),
        "strike_rate",
        "batting_avg",
        "dot_ball_pct",
    )


@register(
    "ipl_batsman_incremental",
    None,  # oracle assigned right below — identical to ipl_batsman_stats_big
)
def ipl_batsman_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The player-grain incremental gold path
    (batsman_stats_from_partials(batsman_match_partials(silver)),
    plans/gold_incremental.py) hash-proven through the driver at
    ~50k-delivery volume against ipl_batsman_stats_big's direct-SQL
    oracle — the partials twin of ipl_standings_incremental, covering
    the batsman packing: the unfiltered-table times_out part rides the
    same (match, batsman) stored rows as the batting sums, and the
    ``batted`` flag re-selects the batting part on unpacking."""
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        batsman_match_partials,
        batsman_stats_from_partials,
    )

    tune_session(spark)

    def _build() -> DataFrame:
        reps = spark.range(4999).select(F.col("id").alias("_rep"))
        return (
            _player_df(spark)
            .crossJoin(reps)
            .withColumn(
                "match", F.concat_ws("_", "match", F.col("_rep").cast("string"))
            )
            .withColumn(
                "runs", (F.col("runs") + F.pmod("_rep", F.lit(3))).cast("int")
            )
            .drop("_rep")
        )

    silver = _session_fixture(spark, "batsman_big_4999", _build)
    # pinning the partials here was measured NEUTRAL-to-SLOWER at
    # sf0.1 (r12: the fixed ~0.3 s eager-planning cost of a
    # localCheckpoint outweighs the replays on this grain's volume;
    # the standings grain keeps its pin, measured 2.03 -> 1.58 s)
    out = batsman_stats_from_partials(batsman_match_partials(silver))
    return out.select(
        "batsman",
        F.col("matches").cast("long"),
        F.col("total_runs").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("fours").cast("long"),
        F.col("sixes").cast("long"),
        F.col("dot_balls").cast("long"),
        F.col("highest_score").cast("long"),
        F.col("times_out").cast("long"),
        "strike_rate",
        "batting_avg",
        "dot_ball_pct",
    )


REGISTRY["ipl_batsman_incremental"].oracle = REGISTRY["ipl_batsman_stats_big"].oracle


# the gold_bowler_stats SQL derivation, parameterized only by a
# preceding `silver` CTE (shared by the fixture-grain registration and
# the replicated-volume incremental twin — one spec, two plans)
_BOWLER_SQL_BODY = """
    bowl AS (SELECT * FROM silver WHERE bowler IS NOT NULL AND bowler <> 'N/A'),
    stats AS (
      SELECT bowler, COUNT(DISTINCT match) AS matches,
             SUM(total_runs) AS total_runs_conceded,
             SUM(is_legal_delivery) AS legal_balls, SUM(wicket) AS wickets,
             SUM(is_dot_ball) AS dot_balls, SUM(is_four) AS fours_conceded,
             SUM(is_six) AS sixes_conceded
      FROM bowl GROUP BY bowler
    )
    SELECT bowler, CAST(matches AS BIGINT) AS matches,
           CAST(total_runs_conceded AS BIGINT) AS total_runs_conceded,
           CAST(legal_balls AS BIGINT) AS legal_balls,
           CAST(wickets AS BIGINT) AS wickets,
           CAST(dot_balls AS BIGINT) AS dot_balls,
           CAST(fours_conceded AS BIGINT) AS fours_conceded,
           CAST(sixes_conceded AS BIGINT) AS sixes_conceded,
           CAST(floor(legal_balls / 6) + (legal_balls % 6) / 10.0 AS DOUBLE) AS overs_bowled,
           round(total_runs_conceded / (CASE WHEN legal_balls = 0 THEN 1.0 ELSE legal_balls / 6.0 END), 2) AS economy_rate,
           round(total_runs_conceded * 1.0 / (CASE WHEN wickets = 0 THEN 1 ELSE wickets END), 2) AS bowling_avg,
           round(legal_balls * 1.0 / (CASE WHEN wickets = 0 THEN 1 ELSE wickets END), 2) AS strike_rate,
           round(dot_balls * 100.0 / (CASE WHEN legal_balls = 0 THEN 1 ELSE legal_balls END), 2) AS dot_ball_pct
    FROM stats
"""


@register(
    "ipl_bowler_stats",
    f"""
    WITH silver AS (SELECT * FROM {_player_values_sql()}),
    {_BOWLER_SQL_BODY}
    """,
)
def ipl_bowler_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F1/F2/O1: the real gold_bowler_stats plan (reference
    ex_match_sg.py:150-172) — overs notation, economy/avg/strike with
    zero-denominator parity — vs independent SQL."""
    from aws_ipl_data_pipeline_spark.plans.gold import bowler_stats

    tune_session(spark)
    out = bowler_stats(_player_df(spark))
    return out.select(
        "bowler",
        F.col("matches").cast("long"),
        F.col("total_runs_conceded").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("wickets").cast("long"),
        F.col("dot_balls").cast("long"),
        F.col("fours_conceded").cast("long"),
        F.col("sixes_conceded").cast("long"),
        F.col("overs_bowled").cast("double"),
        "economy_rate",
        "bowling_avg",
        "strike_rate",
        "dot_ball_pct",
    )


# team-grain rows: (match, batting_team, total_runs, wicket,
# is_legal_delivery, is_four, is_six, innings_phase) — one team ('CC')
# has no Powerplay deliveries at all → pp_run_rate NULL parity.
TEAM_ROWS = [
    ("M1", "AA", 4, 0, 1, 1, 0, "Powerplay"),
    ("M1", "AA", 6, 0, 1, 0, 1, "Middle Overs"),
    ("M1", "AA", 0, 1, 1, 0, 0, "Death Overs"),
    ("M1", "BB", 1, 0, 1, 0, 0, "Powerplay"),
    ("M1", "BB", 2, 0, 0, 0, 0, "Powerplay"),
    ("M1", "N/A", 1, 0, 1, 0, 0, "Powerplay"),
    ("M2", "AA", 2, 0, 1, 0, 0, "Powerplay"),
    ("M2", "CC", 6, 0, 1, 0, 1, "Middle Overs"),
    ("M2", "CC", 1, 1, 1, 0, 0, "Death Overs"),
]


def _team_values_sql() -> str:
    rows = ",\n      ".join(
        f"('{m}', '{t}', {tr}, {wk}, {lg}, {f4}, {s6}, '{ph}')"
        for (m, t, tr, wk, lg, f4, s6, ph) in TEAM_ROWS
    )
    return (
        f"(VALUES\n      {rows}\n    ) AS s(match, batting_team, total_runs,"
        " wicket, is_legal_delivery, is_four, is_six, innings_phase)"
    )


def _team_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        "match string, batting_team string, total_runs int, wicket int, "
        "is_legal_delivery int, is_four int, is_six int, innings_phase string",
        TEAM_ROWS,
    )


# the gold_team_stats SQL derivation, parameterized by a preceding
# `silver` CTE (same one-spec discipline as _BATSMAN/_BOWLER_SQL_BODY)
_TEAM_SQL_BODY = """
    tm AS (SELECT * FROM silver WHERE batting_team IS NOT NULL AND batting_team <> 'N/A'),
    stats AS (
      SELECT batting_team AS team, COUNT(DISTINCT match) AS matches,
             SUM(total_runs) AS total_runs, SUM(wicket) AS total_wickets_lost,
             SUM(is_legal_delivery) AS legal_balls, SUM(is_four) AS fours,
             SUM(is_six) AS sixes,
             SUM(CASE WHEN innings_phase = 'Powerplay' THEN total_runs END) AS pp_runs,
             SUM(CASE WHEN innings_phase = 'Powerplay' THEN is_legal_delivery END) AS pp_balls
      FROM tm GROUP BY 1
    )
    SELECT team, CAST(matches AS BIGINT) AS matches,
           CAST(total_runs AS BIGINT) AS total_runs,
           CAST(total_wickets_lost AS BIGINT) AS total_wickets_lost,
           CAST(legal_balls AS BIGINT) AS legal_balls,
           CAST(fours AS BIGINT) AS fours, CAST(sixes AS BIGINT) AS sixes,
           CAST(floor(legal_balls / 6) + (legal_balls % 6) / 10.0 AS DOUBLE) AS overs_batted,
           round(total_runs / (CASE WHEN legal_balls = 0 THEN 1.0 ELSE legal_balls / 6.0 END), 2) AS overall_run_rate,
           CASE WHEN pp_runs IS NOT NULL THEN
             round(pp_runs / (CASE WHEN pp_balls = 0 THEN 1.0 ELSE pp_balls / 6.0 END), 2)
           END AS pp_run_rate
    FROM stats
"""


@register(
    "ipl_team_stats",
    f"""
    WITH silver AS (SELECT * FROM {_team_values_sql()}),
    {_TEAM_SQL_BODY}
    """,
)
def ipl_team_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/F1/F2: the real gold_team_stats plan (reference
    ex_match_sg.py:174-208) — Powerplay conditional agg in the same
    pass, NULL pp rate for teams without Powerplay balls — vs
    independent SQL."""
    from aws_ipl_data_pipeline_spark.plans.gold import team_stats

    tune_session(spark)
    out = team_stats(_team_df(spark))
    return out.select(
        "team",
        F.col("matches").cast("long"),
        F.col("total_runs").cast("long"),
        F.col("total_wickets_lost").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("fours").cast("long"),
        F.col("sixes").cast("long"),
        F.col("overs_batted").cast("double"),
        "overall_run_rate",
        "pp_run_rate",
    )


@register(
    "ipl_gold_e2e",
    f"""
    WITH base AS (
      SELECT s.*,
             CASE WHEN match = 'M1' THEN 'AA' ELSE 'CC' END AS batting_team,
             CASE WHEN match = 'M1' THEN 'BB' ELSE 'AA' END AS bowling_team,
             CASE WHEN runs >= 4 THEN 'Powerplay' ELSE 'Middle Overs' END AS innings_phase
      FROM {_player_values_sql()}
    ),
    reps AS (SELECT CAST(r AS VARCHAR) AS rep FROM (SELECT unnest(range(0, 3000)) AS r)),
    silver AS (
      SELECT base.* REPLACE (match || '_' || rep AS match) FROM base CROSS JOIN reps
    )
    SELECT 'gold_batsman_stats' AS "table",
           CAST(COUNT(DISTINCT batsman) AS BIGINT) AS n_rows
    FROM silver WHERE batsman IS NOT NULL AND batsman <> 'N/A'
    UNION ALL
    SELECT 'gold_bowler_stats',
           CAST(COUNT(DISTINCT bowler) AS BIGINT)
    FROM silver WHERE bowler IS NOT NULL AND bowler <> 'N/A'
    UNION ALL
    SELECT 'gold_team_stats',
           CAST(COUNT(DISTINCT batting_team) AS BIGINT)
    FROM silver WHERE batting_team IS NOT NULL AND batting_team <> 'N/A'
    UNION ALL
    -- standings universe is BATTING teams (every real team bats; a
    -- bowl-only label like the synthetic BB is out of universe), rows
    -- where either team label is the N/A sentinel are dropped first
    SELECT 'gold_tournament_standings',
           CAST(COUNT(DISTINCT batting_team) AS BIGINT)
    FROM silver
    WHERE batting_team IS NOT NULL AND batting_team <> 'N/A'
      AND bowling_team IS NOT NULL AND bowling_team <> 'N/A'
    """,
)
def ipl_gold_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole gold job (all four tables, reference
    ex_match_sg.py:323-347) over a deterministic ~45k-delivery corpus
    (~2 IPL seasons): the delivery fixture replicated across 3000
    synthetic matches via crossJoin(range) — zero driver-side data
    generation. Returns one summary row per gold table. The reference's
    implied budget is ≤45 s for silver+gold per match event; this runs
    the full-league recompute (GOLD_BUILDERS).

    Oracle-backed: the replication is SQL-expressible (range(0,3000)
    cross join + match renaming), and each gold table's output
    cardinality is an independent COUNT(DISTINCT grain-key) over that
    replicated silver — batsman/bowler/team grain for the player
    tables, the batting teams for standings — so the four
    summary rows hash-match instead of a rows-only check."""
    from aws_ipl_data_pipeline_spark.plans.gold import GOLD_BUILDERS

    tune_session(spark)

    def _build() -> DataFrame:
        base = _player_df(spark).withColumn(
            "batting_team",
            F.when(F.col("match") == "M1", "AA").otherwise("CC"),
        ).withColumn(
            "bowling_team",
            F.when(F.col("match") == "M1", "BB").otherwise("AA"),
        ).withColumn(
            "innings_phase",
            F.when(F.col("runs") >= 4, "Powerplay").otherwise("Middle Overs"),
        )
        reps = spark.range(3000).select(F.col("id").cast("string").alias("_rep"))
        return (
            base.crossJoin(reps)
            .withColumn("match", F.concat_ws("_", "match", "_rep"))
            .drop("_rep")
        )

    # the real pipeline materializes silver before the gold job reads it
    # (streaming/pipeline.py writes then re-reads); the session memo
    # gives the four builder branches an evaluate-once input AND lets
    # bench iterations after the first skip fixture synthesis entirely
    silver = _session_fixture(spark, "gold_e2e_3000", _build)
    summaries = [
        builder(silver).agg(
            F.lit(name).alias("table"), F.count("*").cast("long").alias("n_rows")
        )
        for name, builder in GOLD_BUILDERS.items()
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), summaries)


@register(
    "ipl_bowler_incremental",
    f"""
    WITH base AS (SELECT * FROM {_player_values_sql()}),
    silver AS (
      SELECT base.* REPLACE (
        base.match || '_' || CAST(r.r AS VARCHAR) AS match,
        CAST(base.runs + r.r % 3 AS INT) AS runs)
      FROM base CROSS JOIN (SELECT unnest(range(0, 4999)) AS r) r
    ),
    {_BOWLER_SQL_BODY}
    """,
)
def ipl_bowler_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bowler-grain incremental gold path (VERDICT r10 item 6) —
    bowler_stats_from_partials(bowler_parts(silver)),
    plans/gold_incremental.py — hash-proven through the driver at
    ~50k-delivery volume over the SAME memoized 4999-replica fixture
    as ipl_batsman_incremental, against the replicated-volume form of
    the _BOWLER_SQL_BODY oracle (one spec shared with the
    fixture-grain ipl_bowler_stats). Covers the stored bowler rows'
    round trip: per-(match, bowler) parts, the tombstone filter on
    unpacking, then bowler_from_parts (matches = part-row count ≡
    COUNT DISTINCT match, the overs notation and the
    divide-by-1-when-zero parity quirks), with 5-prime-factor
    denominators (4999 replicas) that keep rounded rates off the .xx5
    cross-engine boundary."""
    from aws_ipl_data_pipeline_spark.plans.gold import bowler_parts
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        bowler_stats_from_partials,
    )

    tune_session(spark)

    def _build() -> DataFrame:
        reps = spark.range(4999).select(F.col("id").alias("_rep"))
        return (
            _player_df(spark)
            .crossJoin(reps)
            .withColumn(
                "match", F.concat_ws("_", "match", F.col("_rep").cast("string"))
            )
            .withColumn(
                "runs", (F.col("runs") + F.pmod("_rep", F.lit(3))).cast("int")
            )
            .drop("_rep")
        )

    silver = _session_fixture(spark, "batsman_big_4999", _build)
    # pinning the partials here was measured NEUTRAL-to-SLOWER at
    # sf0.1 (r12: the fixed ~0.3 s eager-planning cost of a
    # localCheckpoint outweighs the replays on this grain's volume;
    # the standings grain keeps its pin, measured 2.03 -> 1.58 s)
    out = bowler_stats_from_partials(bowler_parts(silver))
    return out.select(
        "bowler",
        F.col("matches").cast("long"),
        F.col("total_runs_conceded").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("wickets").cast("long"),
        F.col("dot_balls").cast("long"),
        F.col("fours_conceded").cast("long"),
        F.col("sixes_conceded").cast("long"),
        F.col("overs_bowled").cast("double"),
        "economy_rate",
        "bowling_avg",
        "strike_rate",
        "dot_ball_pct",
    )


@register(
    "ipl_team_incremental",
    f"""
    WITH base AS (SELECT * FROM {_team_values_sql()}),
    silver AS (
      SELECT base.* REPLACE (
        base.match || '_' || CAST(r.r AS VARCHAR) AS match,
        CAST(base.total_runs + r.r % 2 AS INT) AS total_runs)
      FROM base CROSS JOIN (SELECT unnest(range(0, 2003)) AS r) r
    ),
    {_TEAM_SQL_BODY}
    """,
)
def ipl_team_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The team-grain incremental gold path (VERDICT r10 item 6) —
    team_stats_from_partials(team_match_partials(silver)) — at ~18k
    team-delivery volume: the team fixture replicated across 2003
    synthetic matches (prime; non-dyadic rate denominators) with a
    per-replica total_runs shift that moves the Powerplay conditional
    sums too. Oracle is the replicated-volume form of _TEAM_SQL_BODY
    (one spec with ipl_team_stats). The tricky bits this pins at
    volume: the nullable Powerplay partial sums stay null-skipping
    through BOTH aggregation levels (CC keeps its NULL pp_run_rate in
    all 2003 replicas), and the has_bat presence flag re-selects
    exactly the not_na(batting_team) population after the outer join
    with the standings-grain partials. team_match_partials requires a
    bowling_team column (it feeds standings too); the fixture derives
    one (the opposing label) which team_from_parts provably ignores
    — it is absent from the oracle."""
    from aws_ipl_data_pipeline_spark.plans.gold_incremental import (
        team_match_partials,
        team_stats_from_partials,
    )

    tune_session(spark)

    def _build() -> DataFrame:
        reps = spark.range(2003).select(F.col("id").alias("_rep"))
        return (
            _team_df(spark)
            .crossJoin(reps)
            .withColumn(
                "match", F.concat_ws("_", "match", F.col("_rep").cast("string"))
            )
            .withColumn(
                "total_runs",
                (F.col("total_runs") + F.pmod("_rep", F.lit(2))).cast("int"),
            )
            .withColumn(
                "bowling_team",
                F.when(F.col("batting_team") == "AA", F.lit("BB"))
                .when(F.col("batting_team") == "BB", F.lit("AA"))
                .when(F.col("batting_team") == "CC", F.lit("AA"))
                .otherwise(F.lit("N/A")),
            )
            .drop("_rep")
        )

    silver = _session_fixture(spark, "team_big_2003", _build)
    # pinning the partials here was measured NEUTRAL-to-SLOWER at
    # sf0.1 (r12: the fixed ~0.3 s eager-planning cost of a
    # localCheckpoint outweighs the replays on this grain's volume;
    # the standings grain keeps its pin, measured 2.03 -> 1.58 s)
    out = team_stats_from_partials(team_match_partials(silver))
    return out.select(
        "team",
        F.col("matches").cast("long"),
        F.col("total_runs").cast("long"),
        F.col("total_wickets_lost").cast("long"),
        F.col("legal_balls").cast("long"),
        F.col("fours").cast("long"),
        F.col("sixes").cast("long"),
        F.col("overs_batted").cast("double"),
        "overall_run_rate",
        "pp_run_rate",
    )


# the last registration in the package (see the bottom of queries.py)
_reorder_registry()
