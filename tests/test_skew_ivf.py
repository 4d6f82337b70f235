"""Unit tests for skew mitigation and the IVF similarity path."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.queries import t
from aws_ipl_data_pipeline_spark.operators.similarity import (
    add_ivf_cell,
    brute_force_topk,
    ivf_topk,
    select_centroids,
)
from aws_ipl_data_pipeline_spark.operators.skew import salted_aggregate, with_salt

SF = "/root/testdata/sf0.001"


def test_salted_aggregate_equals_plain_groupby(spark):
    e = t(spark, SF, "events")
    plain = {
        r["event_type"]: (round(r["tv"], 6), r["n"])
        for r in e.groupBy("event_type")
        .agg(F.sum("value").alias("tv"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        r["event_type"]: (round(r["total_value"], 6), r["n_events"])
        for r in salted_aggregate(
            e, ["event_type"], {"total_value": F.col("value"), "n_events": F.lit(1)}
        ).collect()
    }
    assert salted == plain


def test_salt_fans_out_hot_key(spark):
    e = t(spark, SF, "events")
    n_salts = (
        with_salt(e, 8)
        .groupBy("event_type")
        .agg(F.countDistinct("_salt").alias("k"))
        .agg(F.min("k"))
        .head()[0]
    )
    assert n_salts == 8  # every key spreads over all buckets


def test_ivf_cells_partition_all_rows(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = select_centroids(emb, 8)
    assert len(cents) == 8
    celled = add_ivf_cell(emb, cents)
    stats = celled.agg(
        F.count("*").alias("n"),
        F.countDistinct("cell").alias("cells"),
        F.min("cell").alias("lo"),
        F.max("cell").alias("hi"),
    ).head()
    assert stats["n"] == emb.count()  # every row assigned
    assert stats["lo"] >= 0 and stats["hi"] <= 7
    assert stats["cells"] >= 2  # space actually splits


def test_ivf_full_probe_equals_exact(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    exact = [
        r["vec_id"]
        for r in brute_force_topk(emb, q, k=10, exclude_id=0).collect()
    ]
    # probing ALL cells degrades gracefully to the exact scan
    full = [
        r["vec_id"]
        for r in ivf_topk(emb, q, k=10, n_cells=8, n_probe=8, exclude_id=0).collect()
    ]
    assert full == exact
    # partial probe returns k rows with meaningful overlap (this corpus
    # has no tight clusters — neighbors sit at cos≈0.5 and scatter, so
    # require overlap proportional to the probed fraction, not equality)
    part = [
        r["vec_id"]
        for r in ivf_topk(emb, q, k=10, n_cells=8, n_probe=4, exclude_id=0).collect()
    ]
    assert len(part) == 10
    assert len(set(exact) & set(part)) >= 3


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew handling: a join where 95% of left rows share
    one key gets its hot partition split into multiple tasks (the
    executed plan shows SortMergeJoin(skew=true) and a skewed
    AQEShuffleRead) — the no-code-change half of the skew story, next
    to the explicit salting operator. forceOptimizeSkewedJoin is on
    because the downstream agg would otherwise veto the extra-shuffle
    rewrite; the size thresholds are floored to make the local fixture
    cross them."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # skew detection compares against the MEDIAN partition size —
        # pin the partition count so a leaked low setting (or future
        # default change) can't collapse the median into the hot key
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # incompressible pad so shuffle bytes reflect the row skew
        pad = F.concat(
            *[
                F.sha2(F.concat(F.col("id").cast("string"), F.lit(i)), 256)
                for i in range(4)
            ]
        )
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            pad.alias("pad"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), F.lit("r").alias("v")
        )
        j = (
            left.join(right, "k")
            .groupBy()
            .agg(F.sum(F.length("pad")).alias("s"))  # keeps pad un-pruned
        )
        assert j.collect()[0]["s"] == 49_280_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin(skew=true)" in final
        assert "skewed" in final  # the AQEShuffleRead split the hot partition
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_recall_eval_full_probe_is_perfect(spark):
    """ann_recall_eval invariant: with EVERY cell probed the IVF rank
    set contains the exact top-5 for each query, so the eval metrics
    saturate — n_found = 5 and rr_scaled = 2520 (first relevant at
    rank 1). Pins the metric arithmetic (lcm-scaled reciprocal rank,
    intersection count) independently of the approximate-probe row."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        _as_double_vec,
        batch_ivf_topk,
        batch_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("query_id"),
        _as_double_vec("embedding").alias("query_vec"),
    )
    gt = batch_topk(emb, queries, k=5).select("query_id", "vec_id")
    iv = batch_ivf_topk(emb, queries, k=10, n_cells=8, n_probe=8).select(
        "query_id", "vec_id", "rk"
    )
    per_q = (
        iv.join(gt, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_found"),
            F.expr("2520 div min(rk)").alias("rr_scaled"),
        )
        .collect()
    )
    assert len(per_q) == 2
    assert all(r["n_found"] == 5 and r["rr_scaled"] == 2520 for r in per_q)


def test_filtered_ivf_widening_boundaries(spark):
    """filtered_ivf_topk's starvation-aware cut: min_candidates=1
    keeps the base probe floor (no widening past n_probe unless
    starved to zero); min_candidates > filtered-corpus size degrades
    to ALL cells = the exact filtered scan; and the default (3k)
    result always CONTAINS at least k candidates' worth of coverage
    (the starvation guarantee the fixed probe lacks)."""
    from aws_ipl_data_pipeline_spark.operators.similarity import (
        filtered_ivf_topk,
        ivf_probe_order,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    qlabel = emb.where(F.col("vec_id") == 0).head()["label"]
    pred = (F.col("label") == F.lit(qlabel)) & (F.col("vec_id") != 0)
    cents = select_centroids(emb, 16)
    celled = add_ivf_cell(emb, cents)

    # min_candidates beyond the filtered corpus → all cells → exact
    exact = [
        r["vec_id"]
        for r in brute_force_topk(emb.where(pred), q, k=10).collect()
    ]
    widened_all = [
        r["vec_id"]
        for r in filtered_ivf_topk(
            celled, cents, q, pred, k=10, n_probe=4, min_candidates=10**9
        ).collect()
    ]
    assert widened_all == exact

    # min_candidates=1: stops at the first nearest cell holding any
    # filtered row — probe set is a prefix of the nearest-first order
    # no longer than the base floor
    few = filtered_ivf_topk(
        celled, cents, q, pred, k=10, n_probe=4, min_candidates=1
    )
    order = ivf_probe_order(cents, q)
    base_cells = set(order[:4])
    got_cells = {
        r["cell"]
        for r in celled.where(pred)
        .where(F.col("cell").isin(order[:4]))
        .select("cell")
        .distinct()
        .collect()
    }
    # sanity: the base probe does hold some filtered rows here, so the
    # min_candidates=1 cut must NOT widen past the floor
    assert got_cells
    assert few.count() <= 10

    # default cut (3k=30): the probed cells must jointly hold >= 30
    # filtered candidates (or the whole filtered corpus if smaller)
    total_filtered = celled.where(pred).count()
    res = filtered_ivf_topk(
        celled, cents, q, pred, k=10, n_probe=4, min_candidates=30
    )
    assert res.count() == min(10, total_filtered)
    # and every returned neighbor satisfies the predicate
    ids = [r["vec_id"] for r in res.collect()]
    labs = {
        r["vec_id"]: r["label"]
        for r in emb.where(F.col("vec_id").isin(ids)).collect()
    }
    assert all(labs[i] == qlabel for i in ids) and 0 not in ids


def test_probe_recall_curve_monotone_and_closes(spark):
    """ann_probe_recall_curve invariants beyond the oracle hash: the
    operating curve is NON-DECREASING in the probe budget (more cells
    probed can only add candidates — same index, same cut rule) and
    CLOSES at recall_1e4 = 10000 at n_probe = n_cells (full probe ≡
    exact scan, so the approximate top-10 contains the exact top-5
    for every query)."""
    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["ann_probe_recall_curve"].fn(spark, SF).collect()
    assert [r["n_probe"] for r in rows] == [1, 2, 4, 8, 16]
    recalls = [r["recall_1e4"] for r in rows]
    assert recalls == sorted(recalls)
    assert recalls[-1] == 10000
    mrrs = [r["mrr_sum_scaled"] for r in rows]
    assert mrrs == sorted(mrrs)


def test_dim_recall_curve_closes_at_full_dim(spark):
    """ann_dim_recall_curve: at d = full dimension the truncated
    metric IS the exact metric, so the curve must close at
    recall_1e4 = 10000 / saturated MRR. (Interior points are NOT
    required to be monotone — a truncated metric is a different
    metric, not a subset candidate pool like probe widening.)"""
    from aws_ipl_data_pipeline_spark.queries import REGISTRY, _DIM_SWEEP

    rows = REGISTRY["ann_dim_recall_curve"].fn(spark, SF).collect()
    assert [r["dim"] for r in rows] == _DIM_SWEEP
    last = rows[-1]
    assert last["recall_1e4"] == 10000 and last["mrr_sum_scaled"] == 4 * 2520


def test_hard_negative_mining_is_cross_label(spark):
    """hard_negative_mining: every mined negative's label differs from
    its anchor's, ranks are 1..5 per anchor (the cross-label gate is a
    pre-ranking pair predicate, so top-k never starves), and each
    mined cosine is <= the unfiltered top-1 for that anchor."""
    from pyspark.sql import functions as F

    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = REGISTRY["hard_negative_mining"].fn(spark, SF).collect()
    by_q = {}
    for r in rows:
        assert labels[r["vec_id"]] != labels[r["query_id"]], r
        by_q.setdefault(r["query_id"], []).append(r["rk"])
    assert set(by_q) == {0, 1, 2, 3}
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_lsh_radius_curve_monotone(spark):
    """ann_lsh_radius_curve: candidate count and recall are both
    NON-DECREASING in the probe radius (each radius admits a superset
    of candidates under the same metric, and any candidate outranking
    an exact-top-5 member is itself exact-top-5), radius 0 probes at
    least the query's own bucket cohort, and recall at radius 2 >=
    recall at radius 0."""
    from aws_ipl_data_pipeline_spark.queries import REGISTRY

    rows = REGISTRY["ann_lsh_radius_curve"].fn(spark, SF).collect()
    assert [r["radius"] for r in rows] == [0, 1, 2]
    ncs = [r["n_candidates"] for r in rows]
    recalls = [r["recall_1e4"] for r in rows]
    assert ncs == sorted(ncs) and ncs[-1] > ncs[0]
    assert recalls == sorted(recalls)
