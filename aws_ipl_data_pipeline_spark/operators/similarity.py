"""Similarity search over an embedding column (array<float>).

* brute_force_topk — exact cosine top-k for a single query vector.
  Linear scan, all JVM-side (transform/zip_with/aggregate fold — no
  Python, no shuffle except the final top-k). This is the correctness
  baseline and is also the right plan for one-off queries at scale:
  a single pass over the table with a TakeOrderedAndProject.
* lsh_bucketed_topk — random-hyperplane LSH variant: vectors hash to
  sign-pattern buckets; the query probes only its own bucket (and
  optionally neighboring buckets by Hamming distance ≤ 1). At 100 TB
  the scan touches ~1/2^bits of the data; recall is tunable via
  bits/probes. Deterministic hyperplanes from a seeded generator.
* ivf_topk — inverted-file (IVF) variant: every vector is assigned to
  its nearest of ``n_cells`` centroid cells at index time; a query
  probes only the ``n_probe`` nearest cells. At scale the assignment is
  one pass (n_cells JVM-side dots per row) and the cell id is the
  natural partition/cluster key for the stored index, so a probe is a
  partition-pruned scan of n_probe/n_cells of the data.
* pairwise cosine (dedup.embedding_cosine_pairs_blocked) covers the
  join-shaped variant.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_ipl_data_pipeline_spark.functions.scalars import lit_double_array


def _as_double_vec(vec_col: str) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_to_query(df: DataFrame, query_vec: list[float], vec_col: str = "embedding") -> DataFrame:
    """Adds ``cos_sim`` (double) of each row's vector to the query."""
    # one parsed literal array, not 64 py4j F.lit calls (r12)
    q = lit_double_array(query_vec)
    v = _as_double_vec(vec_col)
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    return df.withColumn("cos_sim", _dot(v, q) / (_norm(v) * F.lit(qn)))


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine. Ties broken by id for determinism.

    Rounds cos_sim to 4dp BEFORE ranking so results are stable across
    float summation orders (and comparable to a SQL oracle)."""
    scored = cosine_to_query(emb, query_vec, vec_col).withColumn(
        "cos_sim", F.round("cos_sim", 4)
    )
    if exclude_id is not None:
        scored = scored.where(F.col(id_col) != exclude_id)
    return (
        scored.select(F.col(id_col).cast("long"), "cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def add_lsh_bucket(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Sign-pattern bucket id from random hyperplanes.

    One numpy matmul per Arrow batch (bits × dim plane matrix): like
    IVF assignment, the per-plane higher-order-function dots are
    interpreted JVM-side and measurably slower.

    Integer-exact signs (r6): rows quantize JVM-side and planes
    quantize once driver-side, so every sign bit is the sign of an
    EXACT int64 dot — bit-identical to a SQL oracle embedding the same
    quantized plane literals (a float dot within an ulp of zero could
    otherwise flip a bucket between engines)."""
    p_mat = np.asarray(
        [_quantize_list(p) for p in planes], dtype=np.int64
    ).T  # dim × bits
    weights = np.power(2, np.arange(p_mat.shape[1])).astype(np.int64)

    @F.pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy()).astype(np.int64)  # batch × dim
        signs = (m @ p_mat) >= 0
        return pd.Series(signs @ weights)

    return df.withColumn(bucket_col, _bucket(_quantized_col(vec_col)))


def lsh_bucketed_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus buckets
    within ``probe_hamming`` bit flips. Scans ~ (1+bits)/2^bits of the
    table instead of all of it.

    Pass ``bucketed`` (a prior ``add_lsh_bucket(emb, planes)`` result
    with the SAME bits/seed) to query a materialized bucket table —
    the production shape, where the corpus is bucketed once at write
    time and queries only probe."""
    planes = random_hyperplanes(len(query_vec), bits, seed)
    probes = lsh_probe_buckets(planes, query_vec, probe_hamming)
    if bucketed is None:
        bucketed = add_lsh_bucket(emb, planes, vec_col)
    candidates = bucketed.where(F.col("bucket").isin(list(probes)))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def lsh_probe_buckets(
    planes: list[list[float]],
    query_vec: list[float],
    probe_hamming: int = 1,
) -> set[int]:
    """The query's LSH bucket plus every bucket within
    ``probe_hamming`` bit flips — THE probe-set rule. Signs come from
    exact integer dots (quantized query × quantized planes), the
    add_lsh_bucket determinism contract."""
    bits = len(planes)
    qq = _quantize_list(query_vec)
    q_bucket = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(qq, _quantize_list(p))) >= 0:
            q_bucket |= 1 << i
    probes = {q_bucket}
    if probe_hamming >= 1:
        for i in range(bits):
            probes.add(q_bucket ^ (1 << i))
    if probe_hamming >= 2:
        for i in range(bits):
            for j in range(i + 1, bits):
                probes.add(q_bucket ^ (1 << i) ^ (1 << j))
    return probes


def _unit(vec: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in vec)) or 1.0
    return [x / n for x in vec]


# --- integer-exact IVF quantization -----------------------------------
# Cell assignment and probe selection are DISCRETE decisions replicated
# by SQL oracles; float dot products differ from SQL sums by ulps
# (summation order), so a borderline vector could land in different
# cells on different engines and flip candidate sets. All IVF
# set-decisions therefore run on quantized integers (the r6 scheme
# shared with dedup's cosine operators): exact int sums are
# order-independent, and the only float steps (sqrt, division) are
# correctly-rounded IEEE ops on identical inputs — bit-identical on
# every engine. Value-side scoring (cos_sim columns) stays float with
# 4dp rounding, the established convention.
QUANT_SCALE = 10**6  # must match dedup.COSINE_SCALE and SQL literals


def _quantize_list(vec) -> list[int]:
    """HALF_UP decimal rounding of x·SCALE — exactly what F.round and
    DuckDB round() produce for the identical double (Decimal carries
    the exact binary value; comparisons against the representable .5
    boundary agree with BigDecimal's shortest-repr form)."""
    from decimal import ROUND_HALF_UP, Decimal

    return [
        int(
            Decimal(float(x) * QUANT_SCALE).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        for x in vec
    ]


def _unit_scaled(c_int: list[int]) -> list[int]:
    """trunc((x / sqrt(S)) · SCALE) with S the exact integer squared
    norm: the quantized-unit form of a quantized centroid. Truncation,
    not rounding — trunc has no tie convention to mismatch across
    engines (SQL: trunc(CAST(x AS DOUBLE) / sqrt(sjj) * 1000000.0))."""
    s = float(sum(v * v for v in c_int))  # exact: < 2^53
    r = math.sqrt(s) or 1.0
    return [int((float(v) / r) * QUANT_SCALE) for v in c_int]


def unit_float_centroids(cents: list[list[int]]) -> np.ndarray:
    """Unit-normalized float64 matrix of quantized centroids — for the
    float consumers (PQ residuals) where exactness is not the contract
    (≈ the pre-r6 unit centroids to ~1e-6)."""
    arr = np.asarray(cents, dtype=np.float64)
    nrm = np.sqrt((arr * arr).sum(axis=1, keepdims=True))
    nrm[nrm == 0] = 1.0
    return arr / nrm


def _quantized_col(vec_col: str):
    """JVM-side quantization (F.round HALF_UP — the exq convention)."""
    return F.transform(
        vec_col,
        lambda x: F.round(
            x.cast("double") * F.lit(float(QUANT_SCALE)), 0
        ).cast("long"),
    )


def select_centroids(
    emb: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """Deterministic centroid sample: the ``n_cells`` rows with the
    smallest ``md5(f"{seed}:{id}")`` — a uniform pseudo-random draw that
    is stable across runs/partitionings. md5 over xxhash64 deliberately:
    both engines of the correctness gate expose md5 hex, so a SQL
    oracle can reproduce the exact centroid pick (the ann_lsh_topk
    VALUES recipe, applied to data-dependent centroids). The collect is
    n_cells rows (the one legitimate driver-side step of IVF index
    build; a k-means refinement would slot in here without changing the
    query path). Returns QUANTIZED integer centroid vectors (r6): the
    raw embeddings rounded to the QUANT_SCALE grid — the form every
    discrete decision (cell assignment, probe ranking) computes on
    exactly; float consumers derive unit_float_centroids from it."""
    h = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    rows = (
        emb.select(F.col(vec_col).alias("_v"), h.alias("_h"), F.col(id_col).alias("_i"))
        .orderBy("_h", "_i")
        .limit(n_cells)
        .collect()
    )
    return [_quantize_list(r["_v"]) for r in rows]


def add_ivf_cell(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign each vector its nearest-centroid cell id (0-based).

    Cosine argmax over unit centroids = plain dot argmax, so the row
    norm divides out. The k×dim dot products run as ONE numpy matmul
    per Arrow batch (vectorized pandas UDF): Spark's higher-order
    array functions are interpreted, not codegen'd, and measured
    ~50× slower than the BLAS path on 64-dim × 16-cell assignment —
    this is the sanctioned slow-path exception, kept out of every
    other query (see tests/test_plans.py no-UDF sweep).

    Integer-exact (r6): rows quantize JVM-side (the exq convention),
    centroids arrive quantized and are unit-scaled to integers, and
    the argmax runs over exact int64 dots — bit-identical to the SQL
    oracle's assignment, with np.argmax's first-max tie rule matching
    ORDER BY dot DESC, cell ASC. Dot magnitude ≤ dim·(scale·max|x|)·
    scale ≈ 4e13 — inside int64."""
    c_mat = np.asarray(
        [_unit_scaled(c) for c in centroids], dtype=np.int64
    ).T  # dim × k

    @F.pandas_udf("int")
    def _cell(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy()).astype(np.int64)  # batch × dim
        return pd.Series(np.argmax(m @ c_mat, axis=1).astype("int32"))

    return df.withColumn(cell_col, _cell(_quantized_col(vec_col)))


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exclude_id: int | None = None,
    centroids: list[list[float]] | None = None,
    celled: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via IVF cell probing: scan only the ``n_probe``
    cells whose centroids are nearest the query. Recall is tunable via
    n_probe/n_cells; at n_probe == n_cells this degrades gracefully to
    the exact scan.

    Pass ``centroids``/``celled`` (a prior ``select_centroids`` +
    ``add_ivf_cell`` build) to query a materialized index — the
    production shape."""
    if centroids is None:
        centroids = select_centroids(emb, n_cells, id_col, vec_col, seed)
    uq = _unit([float(x) for x in query_vec])
    scored = sorted(
        range(len(centroids)),
        key=lambda i: -sum(a * b for a, b in zip(uq, centroids[i])),
    )
    probes = scored[: min(n_probe, len(scored))]
    if celled is None:
        celled = add_ivf_cell(emb, centroids, vec_col)
    candidates = celled.where(F.col("cell").isin(probes))
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col, exclude_id)


def ivf_probe_order(
    centroids: list[list[int]], query_vec: list[float]
) -> list[int]:
    """Cells ranked nearest-first for a query, INTEGER-EXACT: the dot
    of the quantized query against each unit-scaled integer centroid
    (exact int64 sums — order-independent, bit-identical to a SQL
    oracle's SUM(exq.x * cn.cx)), ties to the lower cell id. The
    discrete probe decision must not hang on float summation order —
    same discipline as cell assignment."""
    qq = _quantize_list(query_vec)
    dots = [
        sum(a * b for a, b in zip(qq, _unit_scaled(c))) for c in centroids
    ]
    return sorted(range(len(centroids)), key=lambda i: (-dots[i], i))


def filtered_ivf_topk(
    celled: DataFrame,
    centroids: list[list[int]],
    query_vec: list[float],
    predicate: Column,
    k: int = 10,
    n_probe: int = 4,
    min_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Metadata-FILTERED IVF search with starvation-aware probe
    widening — the composition a 100 TB vector store actually runs:
    the predicate is applied INSIDE the probed cells (pre-scoring, so
    the cosine fold never touches excluded vectors) while cell pruning
    is retained, and the probe list widens past ``n_probe`` until the
    filtered candidate pool reaches ``min_candidates`` (default 3k).
    Post-filtering an ANN result list starves under selective
    predicates (a 10%-selective filter leaves ~k/10 of a k-list);
    fixed-probe pre-filtering starves the same way one level down —
    the probed cells may simply not CONTAIN min_candidates matching
    rows. The widening cut is computed from per-cell filtered-count
    stats: cumulative filtered count along the nearest-first probe
    order, stop at the first rank covering min_candidates (all cells
    when the whole corpus can't — graceful degradation to the exact
    filtered scan).

    Scale posture: the stats pass reads ONLY (cell, predicate columns)
    — a skinny column-pruned scan, never vectors. The collect is
    ≤ n_cells rows (bounded-collect allowlist). The scoring scan then
    reads vectors from the probed cells only, predicate pushed to the
    scan.

    Determinism: probe order via ivf_probe_order (exact integer dots),
    counts are exact, so the probe SET — which the widening makes
    answer-affecting — is bit-identical to a SQL oracle replaying the
    same cut rule."""
    if min_candidates is None:
        min_candidates = 3 * k
    order = ivf_probe_order(centroids, query_vec)
    counts = {
        r["_c"]: r["_n"]
        for r in celled.where(predicate)
        .groupBy(F.col(cell_col).alias("_c"))
        .agg(F.count("*").alias("_n"))
        .collect()
    }
    probes = _widened_probes(order, counts, n_probe, min_candidates)
    candidates = celled.where(F.col(cell_col).isin(probes)).where(predicate)
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def _widened_probes(
    order: list[int],
    counts: dict[int, int],
    n_probe: int,
    min_candidates: int,
) -> list[int]:
    """THE starvation-aware widening cut of ``filtered_ivf_topk``:
    cumulative filtered count along the nearest-first order, stop at
    the first rank covering ``min_candidates`` (all cells when the
    corpus can't), floor at ``n_probe``."""
    cum, stop = 0, len(order)
    for rank, cell in enumerate(order, start=1):
        cum += counts.get(cell, 0)
        if cum >= min_candidates:
            stop = rank
            break
    return order[: max(n_probe, stop)]


def batch_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = True,
    pair_predicate: Column | None = None,
) -> DataFrame:
    """Batched exact top-k: score MANY query vectors against the corpus
    in ONE scan. The offline-retrieval shape (embedding-dedup audits,
    eval-set retrieval, hard-negative mining): per-query jobs re-read
    the corpus Q times; batching amortizes the scan so the corpus is
    read once however many queries ride along.

    Plan shape: the query set is small by construction and broadcast —
    the "join" is a broadcast nested loop the executor resolves locally
    (map-side; the corpus never shuffles for scoring). Ranking is one
    window partitioned by query id: Q partitions, each holding only
    corpus-partition survivors... exactly-k selection needs a global
    per-query rank, so this single skinny shuffle (id, query_id, score
    triples — not vectors) is the floor. cos_sim rounds to 4dp before
    ranking (stable across float summation orders, SQL-oracle
    comparable); ties break by corpus id.

    Output: (query_id, vec_id, cos_sim, rk).
    """
    from pyspark.sql import Window

    v = _as_double_vec(vec_col)
    qv = F.col(query_vec_col)
    # without the hint the sf0.1 plan broadcasts the corpus side instead
    paired = emb.join(F.broadcast(queries))
    if pair_predicate is not None:
        # per-(corpus row, query) predicate — e.g. hard-negative
        # mining's cross-label gate — applied BEFORE scoring so the
        # cosine fold never touches excluded pairs (the filtered-ANN
        # discipline), and before the ranking window so top-k is
        # exactly-k of the ADMISSIBLE pairs, not a starved post-filter
        paired = paired.where(pair_predicate)
    scored = paired.withColumn(
        "cos_sim",
        F.round(_dot(v, qv) / (_norm(v) * _norm(qv)), 4),
    )
    if exclude_self:
        # queries drawn from the corpus itself (eval-retrieval audits)
        # share the corpus id space; drop the trivial self-hit
        scored = scored.where(F.col(id_col) != F.col(query_id_col))
    scored = (
        scored.select(
            F.col(query_id_col).cast("long"),
            F.col(id_col).cast("long"),
            "cos_sim",
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )


def random_projection(
    emb: DataFrame,
    out_dim: int = 8,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce embeddings to
    ``out_dim`` dimensions with a seeded Gaussian matrix — the cheap
    distance-preserving pre-step before clustering/ANN when the source
    dimension is wasteful. Reuses the seeded `random_hyperplanes`
    generator, so the matrix is a pure function of (dim, out_dim, seed)
    and an oracle can re-derive it as SQL VALUES.

    Map-only: each output component is one JVM fold over the input
    vector against a literal plane — no shuffle, no Python, embarrass-
    ingly parallel over 100 TB of vectors. Output is LONG format
    (vec_id, j, val) so downstream consumers regroup as they please and
    value hashing is flat.
    """
    planes = random_hyperplanes(in_dim, out_dim, seed)
    v = _as_double_vec(vec_col)
    comps = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("j"),
                F.round(
                    _dot(v, lit_double_array(plane)), 4
                ).alias("val"),
            )
            for j, plane in enumerate(planes)
        ]
    )
    return emb.select(
        F.col(id_col).cast("long"), F.explode(comps).alias("_c")
    ).select(id_col, F.col("_c.j").alias("j"), F.col("_c.val").alias("val"))


def batch_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
    exclude_self: bool = True,
    centroids: list[list[float]] | None = None,
    celled: DataFrame | None = None,
) -> DataFrame:
    """Batched IVF retrieval: Q queries, each scanning only its
    ``n_probe`` nearest cells — the composition of the two scale
    levers (batch amortization from `batch_topk` + cell pruning from
    `ivf_topk`), and the shape of a production offline-retrieval job.

    Fully relational — no per-query driver loop: probe selection is a
    (Q × n_cells) literal-centroid cross score ranked per query; the
    candidate set is then an EQUI-join of the celled corpus to the
    broadcast (query, cell) probe table, so each corpus row meets only
    the queries that probe its cell. On a cell-partitioned store the
    same join prunes IO to the probed partitions; here it prunes the
    scored pairs from Q·N to ~Q·N·n_probe/n_cells. Final ranking is
    the same skinny per-query window as batch_topk.
    """
    from pyspark.sql import Window

    spark = emb.sparkSession
    # pass centroids/celled from a prior build to reuse a materialized
    # index (the ivf_topk convention): probe sweeps re-rank the SAME
    # index at different budgets, never rebuild it per level
    if centroids is None:
        centroids = select_centroids(emb, n_cells, id_col, vec_col, seed)
    if celled is None:
        celled = add_ivf_cell(emb, centroids, vec_col)
    # probe ranking on exact integer dots (quantized query × quantized-
    # unit centroids) — same determinism contract as add_ivf_cell
    cent_df = spark.createDataFrame(
        [(i, _unit_scaled(c)) for i, c in enumerate(centroids)],
        "cell int, _cu array<long>",
    )
    qv = F.col(query_vec_col)  # float form for the cos_sim value side
    qq = _quantized_col(query_vec_col)
    idot = F.aggregate(
        F.zip_with(qq, F.col("_cu"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    probe_w = Window.partitionBy(query_id_col).orderBy(
        F.desc("_cdot"), F.asc("cell")
    )
    probes = (
        # without the hint the sf0.1 build side of this cross join flips
        queries.crossJoin(F.broadcast(cent_df))
        .withColumn("_cdot", idot)
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= n_probe)
        .select(query_id_col, query_vec_col, "cell")
    )
    v = _as_double_vec(vec_col)
    # without the hint the sf0.1 build side flips (4 -> 2 hash Exchanges)
    scored = celled.join(F.broadcast(probes), "cell").withColumn(
        "cos_sim", F.round(_dot(v, qv) / (_norm(v) * _norm(qv)), 4)
    )
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col(query_id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.select(
            F.col(query_id_col).cast("long"),
            F.col(id_col).cast("long"),
            "cos_sim",
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
    )
