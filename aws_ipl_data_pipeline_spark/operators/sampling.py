"""Deterministic sampling operators for training-data pipelines.

Everything here is a pure function of the data — no RNG state — so
task retries, stragglers, and re-runs make identical decisions: the
property that keeps distributed sampling exactly-once without
coordination. The registered queries (`stratified_sample_by_source`,
`quality_weighted_sample`) delegate here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    n_per_stratum: int,
    id_col: str = "doc_id",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Exact n rows per stratum in a deterministic hash order (a seeded
    shuffle every rerun reproduces). One shuffle on the stratum key; at
    corpus scale pre-filter each stratum on a hash prefix (keep ≫ n
    candidates) before ranking so no stratum concentrates on one task."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= n_per_stratum)
    )


def weighted_sample(
    df: DataFrame,
    keep_prob: Column,
    id_col: str = "doc_id",
    buckets: int = 1000,
) -> DataFrame:
    """Keep each row with probability ``keep_prob`` (a Column in [0,1])
    decided by a multiplicative hash of the id into ``buckets`` — a
    map-only, shuffle-free plan whose decisions survive recomputation
    (no sampled-twice/never rows under task retry)."""
    bucket = (F.col(id_col) * F.lit(2654435761)) % buckets
    return df.where(bucket < keep_prob * buckets)


def token_budget_mix(
    df: DataFrame,
    budget_tokens: float,
    source_col: str = "source",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Fill a global token budget with a temperature-balanced source
    mix — the "assemble a B-token training set" op: each source gets a
    target of ``budget_tokens · T_s^alpha / Σ T_t^alpha`` tokens (T_s =
    the source's total tokens; alpha < 1 upweights rare sources exactly
    like ``temperature_mix``), then docs are admitted per source in
    deterministic md5(id) order while the running token sum stays
    within target. A pure function of the data — reruns and task
    retries admit the identical document set.

    Plan shape: one k-row totals agg + a 1-row normalizer, broadcast
    back; the fact table is touched by one per-source window pass (the
    ranking shuffle) and the admit filter. At 100 TB the window
    partitions by source — salt dominant sources upstream if one
    source exceeds a task (the admit rule composes: budget the salted
    sub-sources, then cap once more).

    Returns admitted rows plus ``cum_tokens`` and ``target_tokens``.
    """
    totals = df.groupBy(source_col).agg(F.sum(token_col).alias("_t_s"))
    denom = totals.agg(
        F.sum(F.pow(F.col("_t_s").cast("double"), F.lit(alpha))).alias("_z")
    )
    targets = totals.crossJoin(denom).select(
        F.col(source_col).alias("_src_key"),
        (
            F.lit(float(budget_tokens))
            * F.pow(F.col("_t_s").cast("double"), F.lit(alpha))
            / F.col("_z")
        ).alias("target_tokens"),
    )
    # without the hint the sf0.1 build side of this join flips
    ranked = df.join(
        F.broadcast(targets), F.col(source_col).eqNullSafe(F.col("_src_key"))
    ).drop("_src_key")
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    ranked = ranked.withColumn("cum_tokens", F.sum(token_col).over(w))
    return ranked.where(F.col("cum_tokens") <= F.col("target_tokens"))


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    cap: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cap the number of documents admitted per domain — the classic
    web-corpus balancing op (no single host dominates the training
    mix). Deterministic: within a domain, documents are admitted in
    md5(id) order, so reruns and task retries admit the identical set.

    Scale shape (the part a naive per-domain window gets wrong): web
    domain counts are Zipfian — the vast majority of domains sit under
    the cap while a handful hold millions of pages. So the plan splits
    on a k-row count agg broadcast back to the fact table:

    * domains with ``count <= cap`` pass through with a map-only filter
      — no sort, no window, no skew exposure (this is ~all domains);
    * only over-cap domains take the ranked path, a per-domain window
      whose partitions are exactly the hot domains. At 100 TB pre-trim
      those with a hash-prefix filter (keep ≫ cap candidates) before
      ranking so no single domain concentrates on one task.

    Output = the same rows a plain ``row_number() <= cap`` over every
    domain would keep (the two paths agree on under-cap domains), which
    is what the DuckDB oracle checks.
    """
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n_d"))
    sized = df.join(
        counts, df[domain_col].eqNullSafe(counts[domain_col]), "left"
    ).drop(counts[domain_col])
    small = sized.where(F.col("_n_d") <= cap).drop("_n_d")
    w = Window.partitionBy(domain_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    big = (
        sized.where(F.col("_n_d") > cap)
        .drop("_n_d")
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= cap)
        .drop("_rk")
    )
    return small.unionByName(big)


def temperature_mix(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.5,
    id_col: str = "doc_id",
    buckets: int = 1000,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    recipe: sampling share ∝ (natural share)^alpha). Per-row keep
    probability is (n_s / n_min)^(alpha-1) — 1.0 for the rarest source,
    shrinking toward it for dominant sources as alpha → 0 — decided by
    the same deterministic id hash as ``weighted_sample``.

    Plan shape: one map-side-combinable count per source (k rows), a
    1-row global min, both broadcast back — the fact table is touched by
    exactly one map-only filter pass. Adds a ``keep_prob`` column so
    downstream mixture audits don't recompute shares."""
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n_s"))
    n_min = counts.agg(F.min("_n_s").alias("_n_min"))
    rates = counts.crossJoin(n_min).select(
        F.col(source_col).alias("_src_key"),
        F.pow(
            F.col("_n_s").cast("double") / F.col("_n_min"), F.lit(alpha - 1.0)
        ).alias("keep_prob"),
    )
    # eqNullSafe: a NULL source is a legitimate stratum (groupBy produced
    # a NULL-keyed rate row); a plain equality join would silently drop
    # every NULL-stratum row from the output. Without the broadcast hint
    # the sf0.1 build side of this join flips.
    joined = df.join(
        F.broadcast(rates), F.col(source_col).eqNullSafe(F.col("_src_key"))
    ).drop("_src_key")
    return weighted_sample(joined, F.col("keep_prob"), id_col, buckets)


def curriculum_order(
    docs: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-based curriculum ordering — the classic short→long
    training schedule: documents tier into quartiles by token count
    (easy→hard), and within each (tier, shard) get a deterministic
    pseudo-random rank (md5 of the id — retry-stable, no RNG state).
    Consumption order is (tier asc, interleave shards by rank).

    Scale shape: the quartile thresholds are ONE exact-percentile
    aggregation to a 1-row frame broadcast back (≡ quantile_cont, the
    robust_outlier_stats convention), so tier assignment is map-side;
    the shuffle rank is a window per (tier, shard) — shard-namespaced
    like sequence packing, so no single-partition window ever exists
    and n_shards is the parallelism dial. Returns
    (id, n_tokens, tier, shard, rank_in_shard)."""
    from aws_ipl_data_pipeline_spark.operators.dedup import normalized_text

    d = docs.select(
        F.col(id_col),
        F.size(F.split(normalized_text(text_col), " ")).alias("n_tokens"),
    )
    q = d.agg(
        F.expr("percentile(n_tokens, array(0.25, 0.5, 0.75))").alias("_q")
    ).select(
        F.col("_q")[0].alias("_t25"),
        F.col("_q")[1].alias("_t50"),
        F.col("_q")[2].alias("_t75"),
    )
    tier = (
        F.when(F.col("n_tokens") <= F.col("_t25"), 0)
        .when(F.col("n_tokens") <= F.col("_t50"), 1)
        .when(F.col("n_tokens") <= F.col("_t75"), 2)
        .otherwise(3)
    )
    t = d.crossJoin(q).select(
        id_col,
        "n_tokens",
        tier.alias("tier"),
        F.pmod(F.col(id_col), F.lit(n_shards)).alias("shard"),
    )
    w = Window.partitionBy("tier", "shard").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return t.select(
        F.col(id_col).cast("long"),
        F.col("n_tokens").cast("long"),
        F.col("tier").cast("long"),
        F.col("shard").cast("long"),
        F.row_number().over(w).cast("long").alias("rank_in_shard"),
    )


def shuffle_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    epoch: int = 0,
) -> DataFrame:
    """Deterministic global training shuffle: every row gets a
    (shard, position) address drawn from a content-independent hash
    permutation — the op that turns a curated corpus into shuffled
    training shards without any RNG state (same no-coordination
    exactly-once property as the rest of this module: retries and
    re-runs land every row in the identical slot; bump ``epoch`` for a
    fresh permutation).

    Scale shape: NO global sort and NO single-partition window — shard
    assignment is a map-only hash-mod, and position is a row_number
    window PARTITIONED BY shard (parallelism = n_shards; pick n_shards
    ≥ cluster cores at 100 TB, e.g. tens of thousands of shards — the
    per-shard sort is then executor-local over ~corpus/n_shards rows).
    A consumer streams shard s in position order for a reproducible
    epoch-``epoch`` visit order.

    Hashes are md5-derived (not xxhash64) so the permutation is
    SQL-replicable cross-engine. Returns (id, shard, position)."""
    hx = F.md5(F.concat(F.lit(f"ep{epoch}:"), F.col(id_col).cast("string")))
    shard = F.pmod(
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"), F.lit(n_shards)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("_hx", id_col)
    return (
        df.select(
            F.col(id_col).cast("long").alias(id_col),
            hx.alias("_hx"),
            shard.alias("shard"),
        )
        .withColumn("position", F.row_number().over(w).cast("long"))
        .select(id_col, F.col("shard").cast("long"), "position")
    )
