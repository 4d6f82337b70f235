"""Data-quality expectations: declarative rule checks in ONE pass.

The ingest-contract pattern (Deequ/Great-Expectations shape): every
rule — null checks, range checks, set membership, key uniqueness —
compiles to a conditional aggregate over the SAME single scan, so a
20-rule contract costs one job, not 20. At 100 TB that difference is
the difference between "validation runs on every load" and
"validation is sampled on Tuesdays".

Violation counts (not booleans) come back per rule so callers can
threshold ("fail the load if >0.1% bad") instead of hard-failing on
one bad row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def expectation_report(
    df: DataFrame,
    rules: list[tuple[str, Column]],
    unique_keys: list[tuple[str, list[str]]] | None = None,
) -> DataFrame:
    """One row per rule: (rule, n_violations, n_rows).

    ``rules`` maps rule name → a Column that is TRUE when the row
    VIOLATES the rule. ``unique_keys`` adds uniqueness rules (name,
    key columns): violations = rows beyond the first per key
    (count - distinct-count). Everything folds into a single
    aggregation: one scan, one reduce, map-side combinable.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    names: list[str] = []
    for i, (name, viol) in enumerate(rules):
        aggs.append(
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias(f"_v{i}")
        )
        names.append(name)
    for j, (name, keys) in enumerate(unique_keys or []):
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(*[F.col(k) for k in keys]))
            .cast("long")
            .alias(f"_u{j}")
        )
        names.append(name)

    row = df.agg(*aggs)
    cols = [f"_v{i}" for i in range(len(rules))] + [
        f"_u{j}" for j in range(len(unique_keys or []))
    ]
    stacked = F.array(
        *[
            F.struct(F.lit(n).alias("rule"), F.col(c).alias("n_violations"))
            for n, c in zip(names, cols)
        ]
    )
    return row.select(F.explode(stacked).alias("_p"), F.col("_n").alias("n_rows")).select(
        F.col("_p.rule").alias("rule"),
        F.col("_p.n_violations").alias("n_violations"),
        "n_rows",
    )


def robust_outlier_stats(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier detection via median/MAD — the quality
    gate that survives heavy-tailed web data where mean/stddev is
    dragged by the very outliers it should catch. A row is an outlier
    when |x - median| > k * 1.4826 * MAD (1.4826 scales MAD to sigma
    under normality; MAD=0 groups — constant-valued — flag nothing).

    Plan shape: two grouped EXACT percentile aggregations (median, then
    median of absolute deviations — the second needs the first, so two
    passes is the floor for exact MAD) plus one counting pass; group
    results are k-row side tables broadcast back, and the flagging pass
    is a map-side-combinable conditional count — partial aggregates per
    partition, only k rows per task cross the wire. At
    100 TB swap `percentile` for `approx_percentile` (t-digest,
    map-side combinable, one pass per stage, bounded memory) — exact
    percentile sorts each group's values and is the small-data spec.

    Output: (group, n_docs, median, mad, n_outliers).
    """
    med = df.groupBy(group_col).agg(
        F.percentile(F.col(value_col).cast("double"), F.lit(0.5)).alias("_med")
    )
    dev = (
        df.join(med, group_col)
        .groupBy(group_col)
        .agg(
            F.percentile(
                F.abs(F.col(value_col).cast("double") - F.col("_med")), F.lit(0.5)
            ).alias("_mad"),
            F.any_value("_med").alias("_med2"),
        )
    )
    thresh = F.lit(k * 1.4826) * F.col("_mad")
    return (
        # without the hint the sf0.1 build side flips (6 -> 4 hash Exchanges)
        df.join(F.broadcast(dev), group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.any_value("_med2"), 4).alias("median"),
            F.round(F.any_value("_mad"), 4).alias("mad"),
            F.sum(
                F.when(
                    (F.col("_mad") > 0)
                    & (
                        F.abs(F.col(value_col).cast("double") - F.col("_med2"))
                        > thresh
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


def psi_drift(
    old: DataFrame,
    new: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between two snapshots of a numeric
    column — the standard production drift monitor (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 investigate). Buckets are the OLD
    snapshot's exact quantile breakpoints, so "no drift" reads exactly
    p_old = p_new = 1/n per bucket regardless of the distribution's
    shape.

    Scale shape: breakpoints are ONE exact-percentile aggregate over
    the old snapshot (mergeable buffer; swap percentile_approx in at
    100 TB — the knob, not the plan, changes), broadcast as a 1-row
    frame; bucketing is a map-only chain of comparisons; each side then
    collapses to ≤ n_buckets rows before the tiny join+sum. Empty-
    bucket proportions clamp at 1e-6 (standard PSI practice) so a
    vanished bucket contributes a large-but-finite term.

    Returns a 1-row frame (psi, n_buckets_used, n_old, n_new)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    bps = old.agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(str(q) for q in qs)}))"
        ).alias("bs")
    )

    def bucketize(df: DataFrame) -> DataFrame:
        idx = F.lit(0)
        for i in range(len(qs)):
            idx = idx + (F.col(value_col) > F.element_at("bs", i + 1)).cast("int")
        return (
            df.crossJoin(bps)
            .select(idx.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
        )

    po = bucketize(old).select(
        "bucket", (F.col("n") / F.sum("n").over(Window.partitionBy())).alias("p_old")
    )
    pn = bucketize(new).select(
        "bucket", (F.col("n") / F.sum("n").over(Window.partitionBy())).alias("p_new")
    )
    eps = F.lit(1e-6)
    terms = (
        po.join(pn, "bucket", "full_outer")
        .select(
            F.greatest(F.coalesce("p_old", F.lit(0.0)), eps).alias("po"),
            F.greatest(F.coalesce("p_new", F.lit(0.0)), eps).alias("pn"),
        )
    )
    return terms.agg(
        F.round(
            F.sum((F.col("pn") - F.col("po")) * F.log(F.col("pn") / F.col("po"))), 6
        ).alias("psi"),
        F.count("*").cast("long").alias("n_buckets_used"),
    ).crossJoin(
        old.agg(F.count("*").cast("long").alias("n_old"))
    ).crossJoin(
        new.agg(F.count("*").cast("long").alias("n_new"))
    )
