"""Single-process and unoptimized reference implementations that the
tests compare the package's operators against. They are oracles, not
engine code: no entry point calls them."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.operators.dedup import _quantized
from aws_ipl_data_pipeline_spark.operators.graph import (
    DAMP_DEN,
    DAMP_NUM,
    EDGE_PROB_SCALE,
    RANK_SCALE,
)


def pagerank_fixed_int_reference(
    node_ids: list[int],
    weighted_edges: list[tuple[int, int, int]],
    iters: int = 3,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    seed_ids: list[int] | None = None,
) -> dict[int, int]:
    """Pure-Python single-process replica of
    ``operators.graph.pagerank_fixed_int`` (same role numpy parity plays
    for kmeans). Every operation mirrors the distributed form exactly:
    integer division, exact integer sums."""
    n = len(node_ids)
    if n == 0:
        return {}
    out_w: dict[int, int] = {}
    for src, _dst, w in weighted_edges:
        out_w[src] = out_w.get(src, 0) + w
    pe = [
        (src, dst, (w * EDGE_PROB_SCALE) // out_w[src])
        for src, dst, w in weighted_edges
    ]
    teleport_mass = RANK_SCALE - (RANK_SCALE * damp_num) // damp_den
    if seed_ids is None:
        base = {v: teleport_mass // n for v in node_ids}
        r = {v: RANK_SCALE // n for v in node_ids}
    else:
        seeds = set(seed_ids)  # dedupe exactly as the operator does
        ns = len(seeds)
        if ns == 0:
            return {v: 0 for v in node_ids}
        base = {
            v: (teleport_mass // ns if v in seeds else 0) for v in node_ids
        }
        r = {v: (RANK_SCALE // ns if v in seeds else 0) for v in node_ids}
    for _ in range(iters):
        infl: dict[int, int] = {}
        for src, dst, p in pe:
            rs = r.get(src)
            if rs is None:  # src outside node_ids: the distributed
                continue  # form's inner join drops it the same way
            infl[dst] = infl.get(dst, 0) + (rs * p) // EDGE_PROB_SCALE
        r = {
            v: base[v] + (damp_num * infl.get(v, 0)) // damp_den
            for v in node_ids
        }
    return r


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
) -> DataFrame:
    """Exact pairwise cosine ≥ threshold over a single crossJoin (O(n²)):
    the baseline the blocked and IVF cosine operators are checked
    against. JVM-side fold, no UDF. Returns (id_a, id_b, cos_sim
    rounded 4).

    Cosines are computed on COSINE_SCALE-quantized integer vectors
    (see operators.dedup._quantized): integer dot/norm sums are exact
    and order-independent, so the threshold gate compares bit-identical
    doubles on every engine — a pair within an ulp of the threshold
    can never flip between Spark and a SQL oracle (the failure class
    ADVICE r5 flagged for q11; float-summed cosines reintroduce it
    because summation order differs across engines)."""
    v = emb.select(
        F.col(id_col).alias("_id"), _quantized(vec_col).alias("_q")
    ).withColumn(
        "_saa",
        F.aggregate(
            "_q", F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).cast("double"),
    )
    a = v.select(
        F.col("_id").alias("id_a"), F.col("_q").alias("_qa"), F.col("_saa").alias("_na")
    )
    b = v.select(
        F.col("_id").alias("id_b"), F.col("_q").alias("_qb"), F.col("_saa").alias("_nb")
    )
    dot = F.aggregate(
        F.zip_with("_qa", "_qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", dot / F.sqrt(F.col("_na") * F.col("_nb")))
        .where(F.col("cos_sim") >= threshold)
        .select(
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            F.round("cos_sim", 4).alias("cos_sim"),
        )
    )
