"""Gold plan: four aggregate tables over silver deliveries.

Re-expresses reference pipeline_2026/ex_match_sg.py as pure DataFrame
aggregations — the per-team Python loops (:234-291) become conditional
aggregation + joins; the rank-after-sort (:293-294) becomes a window
``row_number``.

Each table is built in two steps, and both gold modes run the same two:

* ``*_parts(silver)`` — the per-(match, key) integer sums and counts.
  This is the only code in the package that aggregates silver for gold.
* ``*_from_parts(...)`` — merges the parts per key and derives the
  ratio, win/loss and rank columns. A key's match count is its number
  of part rows, the highest score is the max over per-match runs, and
  the nullable Powerplay sums stay null-skipping (null iff the key has
  no Powerplay ball in any match).

The public builders (``batsman_stats`` …, ``GOLD_BUILDERS``) are
``*_from_parts(*_parts(silver))``, the full recompute.
plans/gold_incremental.py stores the parts per match and merges gold
from the stored rows with the same ``*_from_parts``.

Parity quirks preserved on purpose (see tests/test_medallion.py):

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


def _pct(part: str, whole: str):
    return F.round(safe_div(F.col(part) * 100.0, F.col(whole)), 2)


def _per_over(runs: str, balls: str):
    return F.round(safe_div(F.col(runs), F.col(balls) / 6.0), 2)


def batsman_parts(silver: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(match, batsman) batting sums, and (match, batsman) out counts
    over the FULL table, not the batsman-filtered one (the times_out
    quirk, reference ex_match_sg.py:137-140)."""
    bat = (
        silver.where(not_na("batsman"))
        .groupBy("match", "batsman")
        .agg(
            F.sum("runs").alias("match_runs"),
            F.sum("is_legal_delivery").alias("legal_balls"),
            F.sum("is_four").alias("fours"),
            F.sum("is_six").alias("sixes"),
            F.sum("is_dot_ball").alias("dot_balls"),
        )
    )
    outs = (
        silver.where(not_na("out_batsman"))
        .groupBy("match", F.col("out_batsman").alias("batsman"))
        .agg(F.count("*").alias("times_out"))
    )
    return bat, outs


def batsman_from_parts(bat: DataFrame, outs: DataFrame) -> DataFrame:
    """gold_batsman_stats (reference ex_match_sg.py:121-148)."""
    stats = bat.groupBy("batsman").agg(
        F.count("*").alias("matches"),
        F.sum("match_runs").alias("total_runs"),
        F.sum("legal_balls").alias("legal_balls"),
        F.sum("fours").alias("fours"),
        F.sum("sixes").alias("sixes"),
        F.sum("dot_balls").alias("dot_balls"),
        F.max("match_runs").alias("highest_score"),
    )
    outs = outs.groupBy("batsman").agg(F.sum("times_out").alias("times_out"))
    return (
        stats.join(outs, "batsman", "left")
        .withColumn("times_out", F.coalesce("times_out", F.lit(0)).cast("int"))
        .withColumn("strike_rate", _pct("total_runs", "legal_balls"))
        .withColumn(
            "batting_avg", F.round(safe_div(F.col("total_runs"), F.col("times_out")), 2)
        )
        .withColumn("dot_ball_pct", _pct("dot_balls", "legal_balls"))
        .orderBy(F.desc("total_runs"))
    )


def batsman_stats(silver: DataFrame) -> DataFrame:
    return batsman_from_parts(*batsman_parts(silver))


def bowler_parts(silver: DataFrame) -> DataFrame:
    """(match, bowler) bowling sums."""
    return (
        silver.where(not_na("bowler"))
        .groupBy("match", "bowler")
        .agg(
            F.sum("total_runs").alias("total_runs_conceded"),
            F.sum("is_legal_delivery").alias("legal_balls"),
            F.sum("wicket").alias("wickets"),
            F.sum("is_dot_ball").alias("dot_balls"),
            F.sum("is_four").alias("fours_conceded"),
            F.sum("is_six").alias("sixes_conceded"),
        )
    )


def bowler_from_parts(parts: DataFrame) -> DataFrame:
    """gold_bowler_stats (reference ex_match_sg.py:150-172)."""
    return (
        parts.groupBy("bowler")
        .agg(
            F.count("*").alias("matches"),
            F.sum("total_runs_conceded").alias("total_runs_conceded"),
            F.sum("legal_balls").alias("legal_balls"),
            F.sum("wickets").alias("wickets"),
            F.sum("dot_balls").alias("dot_balls"),
            F.sum("fours_conceded").alias("fours_conceded"),
            F.sum("sixes_conceded").alias("sixes_conceded"),
        )
        .withColumn("overs_bowled", overs_notation(F.col("legal_balls")))
        .withColumn("economy_rate", _per_over("total_runs_conceded", "legal_balls"))
        .withColumn(
            "bowling_avg",
            F.round(safe_div(F.col("total_runs_conceded"), F.col("wickets")), 2),
        )
        .withColumn(
            "strike_rate", F.round(safe_div(F.col("legal_balls"), F.col("wickets")), 2)
        )
        .withColumn("dot_ball_pct", _pct("dot_balls", "legal_balls"))
        .orderBy(F.desc("wickets"), F.asc("economy_rate"))
    )


def bowler_stats(silver: DataFrame) -> DataFrame:
    return bowler_from_parts(bowler_parts(silver))


def team_parts(silver: DataFrame) -> DataFrame:
    """(match, team) batting sums. The Powerplay breakdown is a
    conditional aggregation in the same pass — no pre-filter pass over
    the fact table (reference filters then re-groups, :199-203)."""
    powerplay = F.col("innings_phase") == "Powerplay"
    return (
        silver.where(not_na("batting_team"))
        .groupBy("match", F.col("batting_team").alias("team"))
        .agg(
            F.sum("total_runs").alias("total_runs"),
            F.sum("wicket").alias("wickets_lost"),
            F.sum("is_legal_delivery").alias("legal_balls"),
            F.sum("is_four").alias("fours"),
            F.sum("is_six").alias("sixes"),
            F.sum(F.when(powerplay, F.col("total_runs"))).alias("pp_runs"),
            F.sum(F.when(powerplay, F.col("is_legal_delivery"))).alias("pp_balls"),
        )
    )


def team_from_parts(parts: DataFrame) -> DataFrame:
    """gold_team_stats (reference ex_match_sg.py:174-208)."""
    return (
        parts.groupBy("team")
        .agg(
            F.count("*").alias("matches"),
            F.sum("total_runs").alias("total_runs"),
            F.sum("wickets_lost").alias("total_wickets_lost"),
            F.sum("legal_balls").alias("legal_balls"),
            F.sum("fours").alias("fours"),
            F.sum("sixes").alias("sixes"),
            F.sum("pp_runs").alias("pp_runs"),
            F.sum("pp_balls").alias("pp_balls"),
        )
        .withColumn("overs_batted", overs_notation(F.col("legal_balls")))
        .withColumn("overall_run_rate", _per_over("total_runs", "legal_balls"))
        .withColumn(
            "pp_run_rate",
            F.when(F.col("pp_runs").isNotNull(), _per_over("pp_runs", "pp_balls")),
        )
        .drop("pp_runs", "pp_balls")
        .orderBy(F.desc("total_runs"))
    )


def team_stats(silver: DataFrame) -> DataFrame:
    return team_from_parts(team_parts(silver))


def standings_parts(silver: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(match, team) runs and legal balls of each batting side and of
    each bowling side, over the deliveries whose two team labels are
    both known."""
    clean = silver.where(not_na("batting_team") & not_na("bowling_team"))
    bat = clean.groupBy("match", F.col("batting_team").alias("team")).agg(
        F.sum("total_runs").alias("runs_scored"),
        F.sum("is_legal_delivery").alias("legal_balls_batted"),
    )
    bowl = clean.groupBy("match", F.col("bowling_team").alias("team")).agg(
        F.sum("total_runs").alias("runs_conceded"),
        F.sum("is_legal_delivery").alias("legal_balls_bowled"),
    )
    return bat, bowl


def standings_from_parts(bat: DataFrame, bowl: DataFrame) -> DataFrame:
    """gold_tournament_standings (reference ex_match_sg.py:210-297): from
    the per-(match, team) batting and bowling totals derive winners,
    points, NRR and rank. The teams are the batting teams."""
    match_stats = bat.join(bowl, ["match", "team"], "outer").na.fill(
        0, ["runs_scored", "legal_balls_batted", "runs_conceded", "legal_balls_bowled"]
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
    decided = F.col("_max_runs") > F.col("_min_runs")
    winners = per_match.where(F.col("_n_teams") == 2).select(
        "match",
        F.when(decided, F.col("_max_team")).alias("winner"),
        F.when(decided, F.col("_min_team")).alias("loser"),
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
        bat.select("team").distinct()
        .join(outcomes, "team", "left")
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


def tournament_standings(silver: DataFrame) -> DataFrame:
    return standings_from_parts(*standings_parts(silver))


# the four gold tables in publish order: table name → full-recompute builder
GOLD_BUILDERS = {
    "gold_batsman_stats": batsman_stats,
    "gold_bowler_stats": bowler_stats,
    "gold_team_stats": team_stats,
    "gold_tournament_standings": tournament_standings,
}
