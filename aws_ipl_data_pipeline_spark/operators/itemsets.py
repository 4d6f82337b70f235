"""Frequent-itemset / co-occurrence mining over basket-shaped data.

Market-basket affinity (which items co-occur in the same order /
session / document beyond chance) is the classic association-mining
pass; at training-data scale the same skeleton scores tag and source
co-occurrence. The design constraint at 100 TB is the pair explosion:
a basket of k items yields k(k-1)/2 pairs, so the only scalable shape
is (a) apriori-prune items below the support floor BEFORE any pair is
materialized (monotonicity: a pair can never out-support its rarest
item), then (b) generate pairs via the inverted-index equi-self-join
on the basket key — the same `pair_common_counts` skeleton as shingle
Jaccard, never a cross join. Lift's >1 test is exact integer
arithmetic (`N·co > supp_a·supp_b`), so the boundary is
bit-deterministic across engines; the ratio itself is a division of
exact integers, safe to round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.operators.dedup import pair_common_counts


def copurchase_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_support: int = 2,
) -> DataFrame:
    """Item pairs co-occurring in ≥ min_pair_support baskets, with
    supports and lift. Returns (item_a, item_b, co_baskets, supp_a,
    supp_b, lift) with item_a < item_b, keeping only lift > 1 (the
    exact-integer gate `N·co > supp_a·supp_b`).

    Plan: distinct (basket, item) membership → apriori item prune
    (groupBy support, map-side combinable) → inverted-index self-join
    on the basket key → count-only pair aggregation → 1-row total-
    baskets frame broadcast back (keyless agg; BNLJ-allowlist shape).
    Supports counted on the pruned frame are exact: pruning removes
    other items' rows, never a surviving item's basket memberships.
    """
    # the membership frame is consumed five times (total-baskets agg,
    # support prune, both self-join sides, sizes); localCheckpoint pins
    # it so the scan+distinct runs once instead of per consumer — the
    # pagerank/BFS lineage discipline (plan-level exchange reuse across
    # the self-join aliases is otherwise left to AQE runtime matching)
    items = (
        baskets.select(
            F.col(basket_col).alias("_k"), F.col(item_col).alias("_id")
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    # total baskets BEFORE pruning: lift's N is the full basket count
    tot = items.agg(F.countDistinct("_k").alias("_n"))
    if min_pair_support > 1:
        freq = (
            items.groupBy("_id")
            .count()
            .where(F.col("count") >= int(min_pair_support))
        )
        items = items.join(freq.select("_id"), "_id")
    common = pair_common_counts(items, "_id", "_k")
    scored = (
        common.where(F.col("_common") >= int(min_pair_support))
        .crossJoin(tot)
        .where(F.col("_n") * F.col("_common") > F.col("_na") * F.col("_nb"))
    )
    return scored.select(
        F.col("id_a").cast("long").alias("item_a"),
        F.col("id_b").cast("long").alias("item_b"),
        F.col("_common").cast("long").alias("co_baskets"),
        F.col("_na").cast("long").alias("supp_a"),
        F.col("_nb").cast("long").alias("supp_b"),
        F.round(
            (F.col("_n") * F.col("_common")).cast("double")
            / (F.col("_na") * F.col("_nb")),
            4,
        ).alias("lift"),
    )
