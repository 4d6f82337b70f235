"""Link-graph quality scoring: co-visitation graph construction and
fixed-point integer PageRank.

Real pretraining pipelines weight documents by link-graph centrality
(Common Crawl harmonic centrality / PageRank-style quality priors);
the engine-native form is (1) derive the edge list relationally, (2)
run a FIXED number of power-iteration rounds where every quantity is
an int64 — quantized rank mass, per-edge transition probabilities, and
damping all via integer division — so the result is bit-deterministic
across partitionings, engines, and runs (the same discipline as
`operators/clustering.kmeans_fit_fixed_int`: discrete/iterative
decisions never ride on float summation order).

Scale notes (100 TB posture):

* Edge derivation is one per-user window (bounded partitions — a user's
  event stream, never a global sort) + a combinable (src, dst) count.
* Each PageRank round is one equi-join (edges x ranks on src) + one
  (dst) sum — the classic sparse mat-vec as a join-agg. Catalyst/AQE
  broadcasts the rank side while it fits; at billion-node scale both
  sides hash-partition on the join key, and pre-bucketing edges by src
  makes the per-round exchange a one-time cost. Rounds localCheckpoint
  the rank frame so iterative lineage stays flat.
* Overflow audit: rank mass is conserved-or-leaked (dangling nodes drop
  their mass — the standard simplification), so every rank is at most
  RANK_SCALE (1e12); per-edge probabilities are at most EDGE_PROB_SCALE
  (1e6); the largest product is 1e18 < 2^63. Edge weights up to ~1e12
  transitions keep (w * EDGE_PROB_SCALE) in range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

RANK_SCALE = 10**12  # total rank mass, as an int64
EDGE_PROB_SCALE = 10**6  # per-edge transition probability quantum
DAMP_NUM, DAMP_DEN = 85, 100  # default damping factor, as a ratio


def covisit_edges(
    events: DataFrame,
    item: Column,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Directed co-visitation edges: for each user's event stream in
    ``order_cols`` order (the trailing column must be unique — the
    deterministic tiebreak), emit one transition per consecutive pair
    of distinct items and count multiplicity.

    Returns (src, dst, w) with w = number of observed transitions.
    The window partitions by user — bounded state, no global sort."""
    ev = events.select(
        F.col(user_col).alias("_u"),
        *[F.col(c) for c in order_cols],
        item.cast("long").alias("_k"),
    ).where(F.col("_k").isNotNull())
    w = Window.partitionBy("_u").orderBy(*order_cols)
    tr = ev.withColumn("_prev", F.lag("_k").over(w))
    return (
        tr.where(F.col("_prev").isNotNull() & (F.col("_prev") != F.col("_k")))
        .groupBy(F.col("_prev").alias("src"), F.col("_k").alias("dst"))
        .agg(F.count("*").cast("long").alias("w"))
    )


def pagerank_fixed_int(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 3,
    damp_num: int = DAMP_NUM,
    damp_den: int = DAMP_DEN,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank, ``iters`` exact power-iteration rounds in
    pure int64 arithmetic (bit-identical across engines and runs).

    ``nodes``: one column ``v`` (long, distinct). ``edges``: columns
    ``src``/``dst``/``w`` (long, w > 0; self-loops should be dropped
    upstream). Returns (v, rank_scaled): rank mass out of RANK_SCALE.

    Per round, with integer division throughout (all quantities are
    non-negative, so Spark ``div`` and DuckDB ``//`` agree):

        p(u, v)  = (w(u, v) * EDGE_PROB_SCALE) div out_w(u)   [once]
        infl(v)  = sum_u (r(u) * p(u, v)) div EDGE_PROB_SCALE
        r'(v)    = base(v) + (damp_num * infl(v)) div damp_den
        base(v)  = teleport div N                 (uniform PageRank)
                 = teleport div |S| if v in S else 0   (personalized)
        teleport = RANK_SCALE - RANK_SCALE * damp_num div damp_den

    ``seeds`` (optional, one column ``v`` ⊆ nodes, deduped here)
    switches to PERSONALIZED PageRank: the teleport mass and the
    initial rank concentrate uniformly on the seed set instead of all
    nodes — the seed-proximity score used for graph-based data
    selection and similar-item discovery. Identical arithmetic
    discipline; scores decay with random-walk distance from the seeds
    and non-seed nodes unreachable from them stay at exactly 0. An
    EMPTY seed set yields all-zero ranks (no teleport mass anywhere is
    the damped walk's limit — and the total behavior the SQL oracle
    replica exhibits), not an error.

    Dangling nodes (no out-edges) leak their mass — the standard
    simplification; both engines apply the identical formula, so the
    leak is deterministic, not a parity risk. Integer sums are exact
    and order-independent: no float summation order anywhere.

    Plan shape (r12): the rounds build ONE lazy tree — no driver jobs
    and no localCheckpoints inside the loop. Each round references the
    previous rank frame exactly once, so lineage grows LINEARLY with
    ``iters`` (the exponential-blowup hazard needs a frame referenced
    twice per round, as in connected_components_star's sym union);
    measured r12, every localCheckpoint(eager=False) costs 0.3-1.5 s
    of eager driver-side planning (queryExecution.toRdd), which
    dominated this operator (~3 s of pins + counts around 0.2 s of
    execution). A safety pin still fires every 8 rounds so very long
    walks keep a bounded plan. |nodes| / |seeds| moved IN-PLAN (one
    broadcast count aggregate feeding the same integer division), so
    the driver-side count() jobs are gone too: bit-identical ranks
    (probe r12: uniform 2.18 -> 1.97 s, seeded 2.71 -> 2.04 s). With
    ns = 0 no row satisfies the seed branch, so the in-plan division
    never evaluates and every rank is exactly 0 — the same all-zero
    frame the old early return produced."""
    out_w = edges.groupBy("src").agg(F.sum("w").alias("_ow"))
    pe = edges.join(out_w, "src").select(
        "src",
        "dst",
        F.expr(f"(w * {EDGE_PROB_SCALE}) div _ow").alias("p"),
    )
    teleport_mass = RANK_SCALE - (RANK_SCALE * damp_num) // damp_den
    if seeds is None:
        # unhinted, pagerank_covisit's sf0.1 final plan moved in 3/3 runs (0/4 hinted)
        nn = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("_nn")))
        based = nodes.crossJoin(nn).select(
            "v", F.expr(f"{teleport_mass} div _nn").cast("long").alias("_base")
        )
        r = nodes.crossJoin(nn).select(
            "v", F.expr(f"{RANK_SCALE} div _nn").cast("long").alias("r")
        )
    else:
        seeds = seeds.select("v").distinct()
        nns = seeds.agg(F.count(F.lit(1)).alias("_ns"))
        is_seed = F.col("_s").isNotNull()
        marked = nodes.join(
            seeds.select(F.col("v"), F.lit(1).alias("_s")), "v", "left"
        ).crossJoin(nns)
        based = marked.select(
            "v",
            F.when(is_seed, F.expr(f"{teleport_mass} div _ns"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("_base"),
        )
        r = marked.select(
            "v",
            F.when(is_seed, F.expr(f"{RANK_SCALE} div _ns"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("r"),
        )
    for i in range(iters):
        contrib = pe.join(r.withColumnRenamed("v", "src"), "src").select(
            "dst", F.expr(f"(r * p) div {EDGE_PROB_SCALE}").alias("c")
        )
        infl = contrib.groupBy("dst").agg(F.sum("c").alias("_infl"))
        r = based.join(infl, based["v"] == infl["dst"], "left").select(
            "v",
            (
                F.col("_base")
                + F.expr(
                    f"({damp_num} * coalesce(_infl, CAST(0 AS BIGINT)))"
                    f" div {damp_den}"
                )
            ).alias("r"),
        )
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            r = r.localCheckpoint(eager=False)
    return r.select("v", F.col("r").cast("long").alias("rank_scaled"))


def top_out_edges(edges: DataFrame, m: int = 2) -> DataFrame:
    """k-NN graph sparsification: keep each node's ``m`` strongest
    out-edges (by weight desc, dst asc as the deterministic tiebreak).
    The standard preparation before graph traversals on co-occurrence
    graphs, which are otherwise near-complete: bounded out-degree makes
    BFS/walk costs O(m·nodes) per round at ANY corpus scale, and the
    threshold is scale-invariant (an absolute weight floor is not —
    co-occurrence counts grow linearly with data volume). One window
    partitioned by src: bounded partitions (a node's out-edges), never
    a global sort."""
    w = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    return (
        edges.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= int(m))
        .drop("_r")
    )


def bfs_distances(
    seeds: DataFrame, edges: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY seed node,
    bounded at ``max_hops`` expansion rounds — the k-hop neighborhood
    primitive under graph-based data selection (expand a trusted seed
    set through the link graph) and impact analysis.

    ``seeds``: one column ``v`` (deduped here). ``edges``: ``src``/
    ``dst`` (directed; extra columns ignored). Returns (v, dist) for
    every node whose shortest directed path from a seed is ≤ max_hops,
    seeds at 0. Hop counts are small exact ints — nothing float, so
    results are bit-deterministic by construction.

    Scale: per round ONE equi-join of the current frontier against the
    edge list (the frontier is new-nodes-only, so total join work
    across all rounds touches each reachable edge once per discovery
    level — the standard frontier BFS bound) plus one anti-join
    against the visited set, both keyed on the node id. The edge list
    and the growing distance frame are localCheckpointed so iterative
    lineage stays flat (the pagerank discipline). Rounds are FIXED at
    max_hops: an empty frontier makes later rounds empty no-op joins,
    which keeps the plan count deterministic without a per-round
    driver-side count()."""
    dist = (
        seeds.select("v")
        .distinct()
        .select("v", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint(eager=False)
    )
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    frontier = dist.select("v")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(edges.withColumnRenamed("src", "v"), "v")
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(dist.select("v"), "v", "left_anti")
            .select("v", F.lit(hop).cast("int").alias("dist"))
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("v")
    return dist


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts by degree-ordered orientation — the
    classic distributed formulation (orient every undirected edge from
    the lower-(degree, id)-rank endpoint to the higher; enumerate
    wedges only at each edge's SOURCE; close them against the oriented
    edge set). Orientation bounds every node's out-degree by O(sqrt(m))
    on any graph, so the wedge join cannot explode on high-degree hubs
    — the property that makes triangle counting feasible at web scale,
    where the naive all-neighbor-pairs form dies on the first
    celebrity node.

    The ordering is realized by DIRECT (degree, id) tuple comparison —
    no global rank window anywhere (a row_number over all nodes would
    be a single-partition sort at web scale; the lexicographic
    comparison needs only the two endpoints' degrees on each edge row).

    ``edges``: columns ``src``/``dst`` (any orientation, duplicates and
    self-loops tolerated — canonicalized here). Returns
    (v, n_triangles) for every node that appears in an edge; integer
    counts, fully deterministic."""
    a, b = F.col("src").cast("long"), F.col("dst").cast("long")
    # und is consumed three times (two degree scans + the orientation
    # join) and deg three more (nodes + two orientation joins), and the
    # oriented edge set `o` three beyond that (two wedge sides + the
    # closing join) — without pinning, the whole upstream edge
    # derivation is REPLAYED under every consumer (the covisit form
    # planned 94 scans of the events table in one 674-node tree,
    # r12 plans/covisit_triangles_before.txt). localCheckpoint each
    # reused frame so the lineage runs once (guide §2.4/§3.3: reused
    # subtrees are exchanges to remove; materialising the intermediate
    # truncates the plan).
    und = (
        edges.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionByName(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("_d"))
        .localCheckpoint(eager=False)
    )
    # deg already materializes exactly the distinct node set — deriving
    # nodes from it saves a second scan+exchange of the edge table
    nodes = deg.select("x")
    lower_first = F.struct(F.col("_du"), F.col("u")) < F.struct(
        F.col("_dv"), F.col("v")
    )
    o = (
        und.join(deg.withColumnsRenamed({"x": "u", "_d": "_du"}), "u")
        .join(deg.withColumnsRenamed({"x": "v", "_d": "_dv"}), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(lower_first, F.col("_dv")).otherwise(F.col("_du")).alias(
                "_dt"
            ),
        )
        .localCheckpoint(eager=False)
    )
    o1 = o.select(F.col("s"), F.col("t").alias("t1"), F.col("_dt").alias("_d1"))
    o2 = o.select(F.col("s"), F.col("t").alias("t2"), F.col("_dt").alias("_d2"))
    wedges = o1.join(o2, "s").where(
        F.struct(F.col("_d1"), F.col("t1")) < F.struct(F.col("_d2"), F.col("t2"))
    )
    closing = o.select(F.col("s").alias("t1"), F.col("t").alias("t2"))
    tri = wedges.join(closing, ["t1", "t2"]).select("s", "t1", "t2")
    # each triangle credits all three corners
    credits = (
        tri.select(F.col("s").alias("x"))
        .unionByName(tri.select(F.col("t1").alias("x")))
        .unionByName(tri.select(F.col("t2").alias("x")))
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("_n"))
    )
    return nodes.join(credits, "x", "left").select(
        F.col("x").alias("v"),
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_triangles"),
    )
