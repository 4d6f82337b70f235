"""Product quantization for embedding columns (the ANN memory path).

At 100 TB an `array<float>` embedding column is the storage and shuffle
cost center: 64 floats = 256 bytes/row. PQ splits each vector into
``m`` subvectors and replaces every subvector with the id of its
nearest per-subspace centroid — ``m`` bytes per row (here 32×
compression at m=8) — while asymmetric-distance (ADC) scoring against
a query needs only a tiny lookup table.

Scale design mirrors similarity.py:

* training (``train_pq_codebooks``): per-subspace k-means on a
  deterministic hash-ordered SAMPLE collected to the driver — the
  standard PQ recipe (faiss trains codebooks on a sample too); the
  collect is O(sample·dim), the codebooks O(m·k·dim/m) — both tiny and
  independent of corpus size. numpy Lloyd with fixed seeds: reruns
  produce identical codebooks.
* encoding (``encode_pq``): one Arrow-batched pandas UDF over the
  corpus — vectorized argmin per subspace, map-only, no shuffle; the
  output codes column is what gets stored/shuffled from then on.
* search (``pq_topk``): the query builds an m×k ADC lookup table
  driver-side; scoring is a pure JVM fold (zip_with codes against the
  literal LUT) + TakeOrderedAndProject — no Python per row, no
  shuffle, and the scan reads only the m-byte codes, never the raw
  vectors.

Approximation contract: PQ is lossy; recall against exact brute force
is pytest-bounded (tests/test_chunking_clustering.py) rather than
oracle-checked, same as the LSH/IVF rows-only paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _unit_rows(X: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    k: int = 16,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k centroids each on a
    deterministic sample (Arrow toPandas — no per-row py4j cost).
    ``normalize`` unit-normalizes rows in numpy, keeping the corpus-side
    plan free of interpreted JVM array folds. Returns
    codebooks[m][k][dim/m]."""
    pdf = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(sample)
        .toPandas()
    )
    X = np.array(pdf["_v"].tolist(), dtype=np.float64)
    if normalize:
        X = _unit_rows(X)
    return _train_books(X, m, k, iters)


def _train_books(
    X: np.ndarray, m: int, k: int, iters: int
) -> list[list[list[float]]]:
    """numpy Lloyd per subspace on an in-memory sample (deterministic
    init: the first k sample rows of each slice)."""
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if len(X) < k:
        # a silent shrink would change code semantics: codes would index
        # a smaller codebook than callers building k-wide LUTs expect
        raise ValueError(f"PQ training sample has {len(X)} rows < k={k}")
    dsub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        cents = Xs[:k].copy()
        for _ in range(iters):
            d2 = ((Xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = Xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def encode_pq(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = False,
) -> DataFrame:
    """Encode every vector to m uint8 codes (nearest centroid per
    subspace). Map-only Arrow pass; output (id_col, codes array<int>).
    ``normalize`` folds unit-normalization into the same vectorized
    pass (vs a separate interpreted JVM array-fold projection)."""
    m = len(codebooks)
    cents = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = cents[0].shape[1]

    @F.pandas_udf("array<int>")
    def _codes(vecs: pd.Series) -> pd.Series:
        X = np.array(vecs.tolist(), dtype=np.float64)
        if normalize:
            X = _unit_rows(X)
        out = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            d2 = ((Xs[:, None, :] - cents[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), _codes(F.col(vec_col)).alias("codes")
    )


def pq_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k: per-subspace squared distances from the query to every
    centroid form an m×n_centroids LUT; each row's approximate distance
    is a JVM fold of LUT lookups over its codes. Returns
    (id_col, pq_dist2) ascending."""
    q = np.array(query_vec, dtype=np.float64)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = [
        [
            float(((q[s * dsub : (s + 1) * dsub] - np.array(c)) ** 2).sum())
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    # one parsed nested literal (m x k doubles) — the element-wise
    # F.lit form cost ~2k py4j round-trips per query build (r12)
    from aws_ipl_data_pipeline_spark.functions.scalars import lit_double_array

    lut_col = F.array(*[lit_double_array(row) for row in lut])
    dist = F.aggregate(
        F.zip_with(
            F.col("codes"), lut_col, lambda c, row: F.element_at(row, c + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = codes_df
    if exclude_id is not None:
        out = out.where(F.col(id_col) != exclude_id)
    return (
        out.select(id_col, F.round(dist, 4).alias("pq_dist2"))
        .orderBy("pq_dist2", id_col)
        .limit(k)
    )


def pq_topk_rerank(
    codes_df: DataFrame,
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    overfetch: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """The production ANN pattern: ADC over the m-byte codes prunes the
    corpus to k·overfetch candidates, then ONLY those rows' raw vectors
    are read back (semi-join against the tiny candidate set — at scale
    this is a broadcast of k·overfetch ids, not a corpus scan) and
    re-ranked with exact cosine. Returns (id_col, cos_sim) desc."""
    from aws_ipl_data_pipeline_spark.operators.similarity import cosine_to_query

    cands = pq_topk(
        codes_df, codebooks, query_vec, k=k * overfetch,
        id_col=id_col, exclude_id=exclude_id,
    ).select(id_col)
    exact = cosine_to_query(emb.join(cands, id_col), query_vec, vec_col)
    # round BEFORE ranking (brute_force_topk's convention): stable
    # across float summation orders and tie-broken by id, so the output
    # is hash-comparable to a SQL oracle when the candidate set covers
    # the true top-k
    return (
        exact.select(
            F.col(id_col).cast("long").alias(id_col),
            F.round("cos_sim", 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )


def train_ivfpq(
    emb: DataFrame,
    n_cells: int = 16,
    m: int = 16,
    k: int = 64,
    sample: int = 2048,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """IVF-PQ index parameters: a coarse quantizer (the deterministic
    IVF cell centroids from similarity.select_centroids) plus PQ
    codebooks trained on the RESIDUALS (x − cell_centroid) of a
    driver-side sample — residual magnitudes are what PQ has to encode
    once the coarse cell explains the bulk of the vector, the standard
    IVFPQ construction. Returns (centroids, codebooks)."""
    from aws_ipl_data_pipeline_spark.operators.similarity import select_centroids

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        unit_float_centroids,
    )

    cents = select_centroids(emb, n_cells, id_col, vec_col, seed)
    C = unit_float_centroids(cents)
    pdf = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.md5(F.col("_id").cast("string")), "_id")
        .limit(sample)
        .toPandas()
    )
    X = _unit_rows(np.array(pdf["_v"].tolist(), dtype=np.float64))
    assign = np.argmax(X @ C.T, axis=1)
    return cents, _train_books(X - C[assign], m, k, iters)


def encode_ivfpq(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One vectorized Arrow pass: unit-normalize, coarse-assign the
    cell (dot argmax), PQ-encode the residual. Output
    (id_col, cell, codes) — the m+4-byte row the index stores; `cell`
    doubles as the storage partition key so probes prune partitions.

    NOTE: coarse assignment here uses the float unit form of the
    quantized centroids — the PQ code path has no SQL replica of the
    assignment (its oracles are the exact-rerank companions), so the
    integer-exact contract lives in similarity.add_ivf_cell; what
    matters here is only that encode and ADC scoring agree with each
    other, which a single float form guarantees."""
    from aws_ipl_data_pipeline_spark.operators.similarity import (
        unit_float_centroids,
    )

    C = unit_float_centroids(centroids)
    m = len(codebooks)
    cents = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = cents[0].shape[1]

    @F.pandas_udf("struct<cell: int, codes: array<int>>")
    def _enc(vecs: pd.Series) -> pd.DataFrame:
        X = _unit_rows(np.array(vecs.tolist(), dtype=np.float64))
        cell = np.argmax(X @ C.T, axis=1)
        R = X - C[cell]
        codes = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Rs = R[:, s * dsub : (s + 1) * dsub]
            d2 = ((Rs[:, None, :] - cents[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1)
        return pd.DataFrame({"cell": cell.astype("int32"), "codes": list(codes)})

    return emb.select(
        F.col(id_col).cast("long").alias(id_col), _enc(F.col(vec_col)).alias("_e")
    ).select(id_col, F.col("_e.cell").alias("cell"), F.col("_e.codes").alias("codes"))


def ivfpq_topk_rerank(
    codes_df: DataFrame,
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    overfetch: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF-PQ search: probe the ``n_probe`` cells nearest the query;
    within each, ADC-score residual codes against that cell's own LUT
    (built from q − cell_centroid — the exact IVFPQ decomposition
    ‖q−x‖² = ‖(q−c)−r‖²); take the best k·overfetch candidates and
    exact-rerank them. Only the probed cells' code rows are ever
    scanned — with `cell` as partition key that is partition pruning,
    not a filter."""
    from aws_ipl_data_pipeline_spark.operators.similarity import cosine_to_query

    from aws_ipl_data_pipeline_spark.operators.similarity import (
        unit_float_centroids,
    )

    q = np.array(query_vec, dtype=np.float64)
    q = q / (np.linalg.norm(q) or 1.0)
    C = unit_float_centroids(centroids)
    probes = np.argsort(-(C @ q))[:n_probe]
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    # ONE scan of the probed cells, with the per-cell LUTs shipped as a
    # tiny broadcast table joined on `cell` (n_probe rows of m×k
    # doubles). The former per-cell loop emitted n_probe separate
    # filter+fold branches — n_probe scans of the codes table unioned,
    # plus an O(n_probe·m·k) literal expression tree whose construction
    # and codegen dominated wall clock at high probe counts (measured
    # 11.7 s at full probe vs ~1 s for this join form). The isin filter
    # still prunes to the probed cells (partition pruning when `cell`
    # is the storage partition key).
    def _lut_for(c: int) -> list[list[float]]:
        r = q - C[c]
        return [
            [
                float(((r[s * dsub : (s + 1) * dsub] - np.array(cent)) ** 2).sum())
                for cent in codebooks[s]
            ]
            for s in range(m)
        ]

    spark = codes_df.sparkSession
    luts = spark.createDataFrame(
        [(int(c), _lut_for(int(c))) for c in probes],
        "cell int, _lut array<array<double>>",
    )
    dist = F.aggregate(
        F.zip_with(F.col("codes"), F.col("_lut"), lambda cd, row: F.element_at(row, cd + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cands = (
        codes_df.where(F.col("cell").isin([int(c) for c in probes]))
        # without the hint the sf0.1 build side of this join flips
        .join(F.broadcast(luts), "cell")
        .select(id_col, F.round(dist, 4).alias("pq_dist2"))
    )
    if exclude_id is not None:
        cands = cands.where(F.col(id_col) != exclude_id)
    cands = cands.orderBy("pq_dist2", id_col).limit(k * overfetch).select(id_col)
    exact = cosine_to_query(emb.join(cands, id_col), query_vec, vec_col)
    # round BEFORE ranking — same rationale as pq_topk_rerank
    return (
        exact.select(
            F.col(id_col).cast("long").alias(id_col),
            F.round("cos_sim", 4).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), id_col)
        .limit(k)
    )
