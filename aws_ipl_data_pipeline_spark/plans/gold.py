"""Gold plan: four aggregate tables over silver deliveries.

Re-expresses reference pipeline_2026/ex_match_sg.py as pure DataFrame
aggregations — the per-team Python loops (:234-291) become conditional
aggregation + joins; the rank-after-sort (:293-294) becomes a window
``row_number``. Every join's small side (per-team / per-match summaries)
broadcasts; the only shuffles are the keyed groupBys, which Spark
partial-aggregates map-side.

Parity quirks preserved on purpose (see tests/test_gold.py):

* safe_div replicates ``.replace(0, 1)`` — divide by 1, not null, when a
  denominator is 0 (:144-146,167-170,195,203).
* A tied match appends ``winner=None, loser=None`` (:248), so the tie
  counter ``(is_tie) & (winner==team | loser==team)`` (:257) can never
  match — ``tied_nr`` is always 0 and tied matches contribute to neither
  ``played`` nor ``points``. Replicated literally.
* Matches whose deliveries show ≠2 batting teams are silently excluded
  from win/loss (:238) but still feed runs/overs into NRR (:264-268).
* NRR is computed from the *rounded* run rates (:273-275).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.functions.scalars import (
    bounded_window_key,
    not_na,
    overs_notation,
    safe_div,
)


def batsman_stats(silver: DataFrame) -> DataFrame:
    """gold_batsman_stats (reference ex_match_sg.py:121-148)."""
    df_bat = silver.where(not_na("batsman"))

    # two-level max-of-sum: per (batsman, match) runs → per batsman max
    highest = (
        df_bat.groupBy("batsman", "match")
        .agg(F.sum("runs").alias("_match_runs"))
        .groupBy("batsman")
        .agg(F.max("_match_runs").alias("highest_score"))
    )

    stats = df_bat.groupBy("batsman").agg(
        F.countDistinct("match").alias("matches"),
        F.sum("runs").alias("total_runs"),
        F.sum("is_legal_delivery").alias("legal_balls"),
        F.sum("is_four").alias("fours"),
        F.sum("is_six").alias("sixes"),
        F.sum("is_dot_ball").alias("dot_balls"),
    )

    # times_out counts over the FULL table, not the batsman-filtered one
    outs = (
        silver.where(not_na("out_batsman"))
        .groupBy(F.col("out_batsman").alias("batsman"))
        .agg(F.count("*").alias("times_out"))
    )

    return _finish_batsman(stats, highest, outs)


def _finish_batsman(
    stats: DataFrame, highest: DataFrame, outs: DataFrame
) -> DataFrame:
    """Shared batsman finisher (batch builder above; incremental
    partial-merge path in plans/gold_incremental.py): join the three
    keyed frames and derive the ratio columns. Input content equal ⇒
    output equal, which is what pins batch ≡ incremental."""
    out = (
        stats.join(highest, "batsman", "left")
        .join(outs, "batsman", "left")
        .withColumn("times_out", F.coalesce("times_out", F.lit(0)).cast("int"))
    )
    return (
        out.withColumn(
            "strike_rate",
            F.round(safe_div(F.col("total_runs") * 100.0, F.col("legal_balls")), 2),
        )
        .withColumn(
            "batting_avg", F.round(safe_div(F.col("total_runs"), F.col("times_out")), 2)
        )
        .withColumn(
            "dot_ball_pct",
            F.round(safe_div(F.col("dot_balls") * 100.0, F.col("legal_balls")), 2),
        )
        .orderBy(F.desc("total_runs"))
    )


def bowler_stats(silver: DataFrame) -> DataFrame:
    """gold_bowler_stats (reference ex_match_sg.py:150-172)."""
    df_bowl = silver.where(not_na("bowler"))
    stats = df_bowl.groupBy("bowler").agg(
        F.countDistinct("match").alias("matches"),
        F.sum("total_runs").alias("total_runs_conceded"),
        F.sum("is_legal_delivery").alias("legal_balls"),
        F.sum("wicket").alias("wickets"),
        F.sum("is_dot_ball").alias("dot_balls"),
        F.sum("is_four").alias("fours_conceded"),
        F.sum("is_six").alias("sixes_conceded"),
    )
    return _finish_bowler(stats)


def _finish_bowler(stats: DataFrame) -> DataFrame:
    """Shared bowler finisher (batch + incremental paths)."""
    return (
        stats.withColumn("overs_bowled", overs_notation(F.col("legal_balls")))
        .withColumn(
            "economy_rate",
            F.round(
                safe_div(F.col("total_runs_conceded"), F.col("legal_balls") / 6.0), 2
            ),
        )
        .withColumn(
            "bowling_avg",
            F.round(safe_div(F.col("total_runs_conceded"), F.col("wickets")), 2),
        )
        .withColumn(
            "strike_rate", F.round(safe_div(F.col("legal_balls"), F.col("wickets")), 2)
        )
        .withColumn(
            "dot_ball_pct",
            F.round(safe_div(F.col("dot_balls") * 100.0, F.col("legal_balls")), 2),
        )
        .orderBy(F.desc("wickets"), F.asc("economy_rate"))
    )


def team_stats(silver: DataFrame) -> DataFrame:
    """gold_team_stats (reference ex_match_sg.py:174-208).

    The Powerplay breakdown is a conditional aggregation — no pre-filter
    pass over the fact table (reference filters then re-groups, :199-203).
    """
    df_team = silver.where(not_na("batting_team"))
    stats = df_team.groupBy(F.col("batting_team").alias("team")).agg(
        F.countDistinct("match").alias("matches"),
        F.sum("total_runs").alias("total_runs"),
        F.sum("wicket").alias("total_wickets_lost"),
        F.sum("is_legal_delivery").alias("legal_balls"),
        F.sum("is_four").alias("fours"),
        F.sum("is_six").alias("sixes"),
        # powerplay sums in the same pass
        F.sum(F.when(F.col("innings_phase") == "Powerplay", F.col("total_runs"))).alias(
            "_pp_runs"
        ),
        F.sum(
            F.when(F.col("innings_phase") == "Powerplay", F.col("is_legal_delivery"))
        ).alias("_pp_balls"),
    )
    return _finish_team(stats)


def _finish_team(stats: DataFrame) -> DataFrame:
    """Shared team finisher (batch + incremental paths)."""
    return (
        stats.withColumn("overs_batted", overs_notation(F.col("legal_balls")))
        .withColumn(
            "overall_run_rate",
            F.round(safe_div(F.col("total_runs"), F.col("legal_balls") / 6.0), 2),
        )
        .withColumn(
            "pp_run_rate",
            F.when(
                F.col("_pp_runs").isNotNull(),
                F.round(safe_div(F.col("_pp_runs"), F.col("_pp_balls") / 6.0), 2),
            ),
        )
        .drop("_pp_runs", "_pp_balls")
        .orderBy(F.desc("total_runs"))
    )


def tournament_standings(silver: DataFrame) -> DataFrame:
    """gold_tournament_standings (reference ex_match_sg.py:210-297)."""
    df_clean = silver.where(not_na("batting_team") & not_na("bowling_team"))

    bat = (
        df_clean.groupBy("match", F.col("batting_team").alias("team"))
        .agg(
            F.sum("total_runs").alias("runs_scored"),
            F.sum("is_legal_delivery").alias("legal_balls_batted"),
        )
    )
    bowl = (
        df_clean.groupBy("match", F.col("bowling_team").alias("team"))
        .agg(
            F.sum("total_runs").alias("runs_conceded"),
            F.sum("is_legal_delivery").alias("legal_balls_bowled"),
        )
    )
    all_teams = df_clean.select(F.col("batting_team").alias("team")).distinct()
    return _finish_standings(bat, bowl, all_teams)


def _finish_standings(
    bat: DataFrame, bowl: DataFrame, all_teams: DataFrame
) -> DataFrame:
    """Shared standings finisher (batch + incremental paths): from the
    per-(match, team) batting/bowling totals and the team universe,
    derive winners, points, NRR and rank. ``bat`` must carry
    (match, team, runs_scored, legal_balls_batted); ``bowl``
    (match, team, runs_conceded, legal_balls_bowled)."""
    match_stats = (
        bat.join(bowl, ["match", "team"], "outer")
        .na.fill(
            0,
            [
                "runs_scored",
                "legal_balls_batted",
                "runs_conceded",
                "legal_balls_bowled",
            ],
        )
    )

    # winner/loser per match with exactly 2 batting teams (reference
    # :236-248): recast the group-iterate loop as max_by/min_by over the
    # per-(match, team) totals; ties → null winner/loser.
    per_match = bat.groupBy("match").agg(
        F.count("*").alias("_n_teams"),
        F.max("runs_scored").alias("_max_runs"),
        F.min("runs_scored").alias("_min_runs"),
        F.max_by("team", "runs_scored").alias("_max_team"),
        F.min_by("team", "runs_scored").alias("_min_team"),
    )
    winners = per_match.where(F.col("_n_teams") == 2).select(
        "match",
        F.when(F.col("_max_runs") > F.col("_min_runs"), F.col("_max_team")).alias(
            "winner"
        ),
        F.when(F.col("_max_runs") > F.col("_min_runs"), F.col("_min_team")).alias(
            "loser"
        ),
        (F.col("_max_runs") == F.col("_min_runs")).alias("is_tie"),
    )

    # unpivot winners to per-team outcomes; tie rows have null winner and
    # loser so they join to no team — the reference's literal behavior
    # (:257 can never match), i.e. tied_nr stays 0 and ties add no points.
    outcomes = winners.select(
        F.col("winner").alias("team"), F.lit(1).alias("_w"), F.lit(0).alias("_l")
    ).unionByName(
        winners.select(
            F.col("loser").alias("team"), F.lit(0).alias("_w"), F.lit(1).alias("_l")
        )
    ).where(F.col("team").isNotNull()).groupBy("team").agg(
        F.sum("_w").alias("won"), F.sum("_l").alias("lost")
    )

    totals = match_stats.groupBy("team").agg(
        F.sum("runs_scored").alias("runs_for"),
        F.sum("legal_balls_batted").alias("_balls_for"),
        F.sum("runs_conceded").alias("runs_against"),
        F.sum("legal_balls_bowled").alias("_balls_against"),
    )

    st = (
        all_teams.join(outcomes, "team", "left")
        .join(totals, "team", "left")
        .na.fill(0, ["won", "lost", "runs_for", "_balls_for", "runs_against", "_balls_against"])
        .withColumn("tied_nr", F.lit(0))
        .withColumn("played", F.col("won") + F.col("lost") + F.col("tied_nr"))
        .withColumn("points", F.col("won") * 2 + F.col("tied_nr"))
    )

    overs_for_dec = F.col("_balls_for") / 6.0
    overs_against_dec = F.col("_balls_against") / 6.0
    avg_rr = F.when(
        overs_for_dec > 0, F.round(F.col("runs_for") / overs_for_dec, 2)
    ).otherwise(0.0)
    conceded_rr = F.when(
        overs_against_dec > 0, F.round(F.col("runs_against") / overs_against_dec, 2)
    ).otherwise(0.0)

    st = (
        st.withColumn("avg_run_rate", avg_rr)
        .withColumn("net_run_rate", F.round(avg_rr - conceded_rr, 3))
        .withColumn("overs_for", F.round(overs_notation(F.col("_balls_for")), 1))
        .withColumn("overs_against", F.round(overs_notation(F.col("_balls_against")), 1))
        .withColumn("runs_for", F.col("runs_for").cast("long"))
        .withColumn("runs_against", F.col("runs_against").cast("long"))
    )

    # rank: reference sorts then assigns index+1 (:293-294); pandas'
    # stable sort breaks ties by first appearance — we add team name as a
    # deterministic final tiebreak. The frame here is the post-agg team
    # standings (bounded by league size), so the single-partition rank
    # is deliberate — bounded_window_key marks it as such (and keeps the
    # recurring WindowExec warning out of every streaming micro-batch
    # log, r7 audit).
    w = Window.partitionBy(bounded_window_key("points")).orderBy(
        F.desc("points"), F.desc("net_run_rate"), F.desc("avg_run_rate"), F.asc("team")
    )
    return st.withColumn("rank", F.row_number().over(w)).select(
        "rank",
        "team",
        "played",
        "won",
        "lost",
        "tied_nr",
        "points",
        "net_run_rate",
        "avg_run_rate",
        "runs_for",
        "overs_for",
        "runs_against",
        "overs_against",
    )


# the four gold tables in publish order: table name → one-pass builder
GOLD_BUILDERS = {
    "gold_batsman_stats": batsman_stats,
    "gold_bowler_stats": bowler_stats,
    "gold_team_stats": team_stats,
    "gold_tournament_standings": tournament_standings,
}
