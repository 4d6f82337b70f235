"""Explicit StructType contracts per medallion layer.

The reference infers every schema (pd.read_csv / pd.read_json; see
reference pipeline_2026/ex_match_rb.py:175, ex_match_bs.py:420-427).
Here each layer is a declared, fail-fast contract — `spark.read.schema(s)`
never silently drifts, and Catalyst prunes columns at the scan.

The reference keeps dates/times as raw strings and uses the literal "N/A"
as a null sentinel (ex_match_rb.py:67,71). We keep raw strings at the raw
and bronze layers for parity, and treat both NULL and "N/A" as null in
downstream filters (see plans/gold.py not_na()).
"""

from __future__ import annotations

from pyspark.sql import types as T

# A1. raw scraped ball events (CSV header at reference ex_match_raw.py:222)
RAW_DELIVERIES = T.StructType(
    [
        T.StructField("match", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("venue", T.StringType()),
        T.StructField("over", T.IntegerType()),
        T.StructField("ball", T.IntegerType()),
        T.StructField("bowler", T.StringType()),
        T.StructField("batsman", T.StringType()),
        T.StructField("ball_event", T.StringType()),
        T.StructField("event_info", T.StringType()),
        T.StructField("extract_time", T.StringType()),
    ]
)

# A2. one meta object per match (reference ex_match_raw.py:237-249)
MATCH_META = T.StructType(
    [
        T.StructField("match", T.StringType()),
        T.StructField("short_name", T.StringType()),
        T.StructField("home_team", T.StringType()),
        T.StructField("away_team", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("venue", T.StringType()),
        T.StructField("toss_winner", T.StringType()),
        T.StructField("toss_decision", T.StringType()),
    ]
)

# A3. player master catalog (reference ex_players.py:57-65)
PLAYERS = T.StructType(
    [
        T.StructField("Name", T.StringType()),
        T.StructField("Team", T.StringType()),
        T.StructField("Country", T.StringType()),
        T.StructField("Role", T.StringType()),
        T.StructField("Keeper", T.BooleanType()),
        T.StructField("Batting Style", T.StringType()),
        T.StructField("Bowling Style", T.StringType()),
        T.StructField("Born", T.StringType()),
    ]
)

# A5. bronze parsed deliveries (reference ex_match_rb.py:103-120,127-154)
BRONZE_DELIVERIES = T.StructType(
    [
        T.StructField("match", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("time", T.StringType()),
        T.StructField("over", T.IntegerType()),
        T.StructField("ball", T.IntegerType()),
        T.StructField("bowler", T.StringType()),
        T.StructField("batsman", T.StringType()),
        T.StructField("runs", T.IntegerType()),
        T.StructField("extra_runs", T.IntegerType()),
        T.StructField("extra", T.IntegerType()),
        T.StructField("extra_type", T.StringType()),
        T.StructField("rebowl", T.IntegerType()),
        T.StructField("wicket", T.IntegerType()),
        T.StructField("wicket_method", T.StringType()),
        T.StructField("out_batsman", T.StringType()),
        T.StructField("total_runs", T.IntegerType()),
        T.StructField("innings", T.IntegerType()),
        T.StructField("score", T.IntegerType()),
        T.StructField("fallen_wickets", T.IntegerType()),
        T.StructField("extract_time", T.StringType()),
    ]
)

# A6. silver enriched deliveries (reference ex_match_bs.py:281-349)
SILVER_EXTRA_COLS = T.StructType(
    [
        T.StructField("over_decimal", T.DoubleType()),
        T.StructField("innings_phase", T.StringType()),
        T.StructField("is_dot_ball", T.IntegerType()),
        T.StructField("is_boundary", T.IntegerType()),
        T.StructField("is_four", T.IntegerType()),
        T.StructField("is_six", T.IntegerType()),
        T.StructField("is_legal_delivery", T.IntegerType()),
        T.StructField("batting_team", T.StringType()),
        T.StructField("bowling_team", T.StringType()),
        T.StructField("venue", T.StringType()),
        T.StructField("toss_winner", T.StringType()),
        T.StructField("toss_decision", T.StringType()),
    ]
)

SILVER_DELIVERIES = T.StructType(BRONZE_DELIVERIES.fields + SILVER_EXTRA_COLS.fields)

# Natural key of a delivery (reference ex_match_bs.py:347)
DELIVERY_KEY = ["match", "innings", "over", "ball", "rebowl"]
