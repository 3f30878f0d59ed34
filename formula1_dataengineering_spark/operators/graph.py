"""Distributed graph operators for dedup clustering.

Connected components turns near-duplicate *pairs* (LSH candidates,
embedding near-dups) into duplicate *clusters* — the step an actual
training-data dedup pipeline needs before picking one canonical
document per cluster. The reference has no analog (task brief:
first-class training-data operators).

Algorithm: iterative min-label propagation. Each round every node
takes the minimum component label among itself and its neighbors;
convergence is reached when no label changes (diameter-bounded round
count; near-dup clusters are dense, so 2-4 rounds in practice).

Scale notes: the label table is one row per node — orders of magnitude
smaller than the edge set — so each round is edges ⋈ labels (the
planner broadcasts labels while they fit, shuffle-joins beyond) plus a
groupBy(node).min shuffle of *node-degree-bounded* size. Lineage is
cut every round with ``localCheckpoint`` so the plan doesn't grow
unboundedly (on a real cluster, set a checkpoint dir and use
``checkpoint`` for fault tolerance). Edges are cached: every round and
the convergence check re-consume them.

Cache lifecycle: operators here cache reused intermediates via
``caching.managed_cache`` — wrap build+collect in
``caching.cache_scope()`` (or call ``caching.release_caches()`` at a
quiesce point) and every internal cache releases deterministically;
see caching.py for the contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import managed_cache


#: Below this many edges the graph is union-found on the driver in one
#: pass instead of iterated distributedly. LSH-star / near-dup edge
#: sets are orders of magnitude smaller than the corpus by
#: construction (one edge per bucket member), so hitting this path is
#: the common case even for very large corpora. 200k edges arrive as
#: one Arrow batch of two int64 columns (~3 MB) — negligible driver
#: memory, and still far cheaper than 4-8 distributed rounds of
#: join+shuffle fixed overhead.
SMALL_GRAPH_EDGES = 200_000


def _unionfind_local(pairs) -> list[tuple[int, int]]:
    """Driver-side union-find with path compression; min id is root."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for a, b in pairs:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # smaller id becomes the root → component = min node id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(x, find(x)) for x in nodes]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Component label (min reachable node id) per node of ``edges``.

    Edges are treated as undirected. Output: ``(node, component)``,
    one row per distinct node appearing in any edge. Deterministic:
    the component id is the minimum node id in the component.

    Adaptive strategy (AQE-style, decided from a materialized count):
    a small edge set is collected and union-found on the driver — one
    job, no iteration — because per-round fixed costs dominate tiny
    graphs; large edge sets run iterative distributed min-label
    propagation with pointer jumping. Both paths produce identical
    output.
    """
    # Symmetrize with ONE scan of the (possibly expensive) edge plan:
    # explode each edge into both directions instead of a self-union,
    # which would execute the upstream pipeline twice. No distinct —
    # duplicate edges don't change a min-aggregate, and (id_a < id_b)
    # pair inputs can't collide after direction-explosion anyway.
    # Null endpoints carry no connectivity and would diverge between
    # the two strategies (pandas NaN-floats vs join-dropped rows):
    # define them OUT of the graph up front, identically for both.
    sym = (
        edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
    )
    # managed_cache IN ADDITION to the explicit per-path unpersists
    # below: connected components already releases on every success
    # and failure path, but registering with the active cache_scope
    # keeps the package-wide "no bare cache" hygiene contract
    # (unpersist is idempotent, so the scope's second release is a
    # no-op).
    sym = managed_cache(sym)
    try:
        # One scan of the upstream edge plan fills the cache and yields
        # the exact edge count the strategy choice needs (2 rows/edge).
        n_sym = sym.count()
        if n_sym <= 2 * small_graph_edges:
            return _unionfind_driver(sym, edges.schema[src].dataType)
        # Size the per-round shuffles to the graph, not the session:
        # the label table is one row per node and every round's
        # exchanges move at most degree-bounded aggregates of it. At
        # ~500k rows per partition the tasks stay cache-resident; a
        # tiny graph on a wide session otherwise pays (partitions x
        # rounds) near-empty tasks of pure scheduling latency.
        from ..session import capped_shuffle_partitions

        with capped_shuffle_partitions(
            edges.sparkSession, max(8, n_sym // 500_000)
        ):
            return _propagate(sym, max_iter)
    except BaseException:
        # Success paths release the cache themselves (the distributed
        # path does so only after its final labels materialize); on
        # failure nothing downstream will, so do it here.
        sym.unpersist()
        raise


def _unionfind_driver(sym: DataFrame, node_type) -> DataFrame:
    """Small-graph strategy: collect one edge direction as an Arrow
    batch and union-find on the driver; type-faithful for any node
    type (ints stay int64; other types round-trip as objects)."""
    import pandas as pd

    # Collect ONE direction (a <= b keeps self-loop nodes visible) —
    # columnar transfer, not 2n_edges Python Row objects; union-find
    # symmetrizes implicitly.
    pdf = sym.where(F.col("a") <= F.col("b")).toPandas()
    mapping = _unionfind_local(
        zip(pdf["a"].to_numpy().tolist(), pdf["b"].to_numpy().tolist())
    )
    spark = sym.sparkSession
    if not mapping:  # empty graph: typed empty result, no inference
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("node", node_type, False),
                T.StructField("component", node_type, False),
            ]
        )
        sym.unpersist()
        return spark.createDataFrame([], schema)
    out_pdf = pd.DataFrame(mapping, columns=["node", "component"])
    from pyspark.sql import types as T

    if isinstance(
        node_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        out_pdf = out_pdf.astype("int64")
    out = spark.createDataFrame(out_pdf).select(
        F.col("node").cast(node_type).alias("node"),
        F.col("component").cast(node_type).alias("component"),
    )
    sym.unpersist()
    return out


def _propagate(sym: DataFrame, max_iter: int) -> DataFrame:
    """Iterative min-label propagation + path halving over symmetrized
    (and cached) edges; unpersists ``sym`` before returning."""
    # Per-round label handling needs BOTH properties:
    # - exact size stats, so the planner broadcasts the label table
    #   into the big edge join while it fits (and falls back to a
    #   shuffle join at billion-node scale). A cached-and-materialized
    #   InMemoryRelation provides them.
    # - lineage truncation, or Catalyst re-analyzes an ever-deeper
    #   plan each round (quadratic driver time). ``localCheckpoint``
    #   provides it — and its LogicalRDD carries the origin plan's
    #   stats, so truncating does not surrender the broadcast.
    # Caches are released one round late: a LAZY localCheckpoint
    # materializes inside the next round's job (saving a dedicated
    # checkpoint job per round), so the cache must outlive this round.
    pending_unpersist: list[DataFrame] = []

    def materialize(df: DataFrame) -> tuple[DataFrame, bool]:
        c = managed_cache(df)
        # Job 1 (the only one this round): fill the cache + convergence
        # aggregate. The checkpoint is taken AFTER materialization so
        # its origin stats are the exact in-memory size — that is what
        # lets the planner broadcast the label table next round.
        changed = bool(
            c.agg(F.max(F.coalesce("__changed", F.lit(False)))).first()[0]
        )
        chk = c.localCheckpoint(eager=False).select("node", "component")
        while pending_unpersist:
            pending_unpersist.pop().unpersist()
        pending_unpersist.append(c)
        return chk, changed

    labels, _ = materialize(
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .withColumn("__changed", F.lit(False))
    )
    for _ in range(max_iter):
        neigh_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("b"), F.col("component").alias("nbr_label")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("nbr_label").alias("min_nbr"))
        )
        # One job per round: the changed flag rides along in the
        # materialized result, so the convergence check costs no
        # second join+count pass over the labels.
        labels, changed = materialize(
            labels.join(neigh_min, "node", "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("min_nbr", F.col("component"))
                ).alias("component"),
                (F.col("min_nbr") < F.col("component")).alias("__changed"),
            )
        )
        if not changed:
            break
        # Pointer jumping (path halving): component := component(component).
        # Label-table-only self-joins — never the edge set — collapse
        # label chains in O(log diameter) cheap rounds, so the expensive
        # edge join above typically runs twice (once to seed, once to
        # confirm convergence) instead of diameter-many times.
        for _ in range(max_iter):
            parents = labels.select(
                F.col("node").alias("__pnode"), F.col("component").alias("__pcomp")
            )
            labels, jumped = materialize(
                labels.join(
                    parents, labels["component"] == parents["__pnode"], "left"
                ).select(
                    "node",
                    F.coalesce("__pcomp", F.col("component")).alias("component"),
                    (F.col("__pcomp") < F.col("component")).alias("__changed"),
                )
            )
            if not jumped:
                break
    # Materialize the final labels eagerly so every intermediate cache
    # (and the edge set) can be released before returning.
    labels = labels.localCheckpoint()
    while pending_unpersist:
        pending_unpersist.pop().unpersist()
    sym.unpersist()
    return labels


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_decimals: int = 9,
    broadcast_node_tables: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a DIRECTED edge list (pass each
    undirected edge twice for symmetric graphs). Unrolling a fixed
    ``iters`` keeps the iterative algorithm inside the hash-matched
    correctness gate (the k-means recipe): every per-node rank sum is
    quantized to ``round_decimals`` before feeding the next iteration,
    so the one partition-order-dependent float reduction re-enters as
    an identical literal in both engines.

    Dangling nodes (no out-edges) leak their mass — the standard
    simplification; both engines agree because both drop it.

    Returns (node, rank) for every node appearing in the edge list.

    Scale: per iteration, one shuffle — contributions group on dst.
    Degrees and ranks are node-cardinality tables co-keyed with the
    edge list's src; at cluster scale, pre-partition edges by src once
    and every iteration's rank⋈edges join reuses that layout (no
    re-shuffle of the big edge table).

    ``broadcast_node_tables=True`` (r17, guide §3.1): hint a broadcast
    of ``deg`` and ``ranks`` into each iteration's edge join, so the
    EDGE list is never exchanged — one groupBy(dst) shuffle per
    iteration is all that remains (measured 3.7 → 2.4 s on the
    supplier gate at sf0.1; without the hint the planner sizes the
    node tables off the checkpointed edge RDD's unknown stats and
    plans an edge shuffle per iteration that AQE only partially
    undoes). Callers opt in when they KNOW node cardinality is
    broadcast-safe (for the bipartite trade graph, |customers| +
    |suppliers| ≈ edge rows / 40); a web-scale graph with billions of
    nodes must keep the default and pre-partition edges instead.
    """
    # NOTE: deliberately NOT persisted. Caching the edge list here
    # pins its pre-AQE 2×shuffle-partition layout and disables runtime
    # coalescing for every consumer — measured 4.7 s → 22 s at sf0.1.
    # Recomputing the (join + distinct) lineage per iteration is
    # cheaper under AQE; callers with an expensive edge build can
    # persist BEFORE calling.
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    from .scalars import broadcast_scalars

    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    n = nodes.agg(F.count("*").alias("n_nodes"))
    bn = F.broadcast if broadcast_node_tables else (lambda df: df)

    def with_n(df: DataFrame) -> DataFrame:
        return broadcast_scalars(df, n, "node", "n_nodes")

    ranks = with_n(nodes).select(
        "node", F.round(F.lit(1.0) / F.col("n_nodes"), round_decimals).alias("rank")
    )
    for _ in range(iters):
        contribs = (
            e.join(bn(deg), "src")
            .join(bn(ranks.withColumnRenamed("node", "src")), "src")
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_mass"))
        )
        ranks = (
            with_n(
                nodes.join(
                    contribs.withColumnRenamed("dst", "node"), "node", "left"
                )
            )
            .select(
                "node",
                F.round(
                    (1 - damping) / F.col("n_nodes")
                    + damping * F.coalesce(F.col("in_mass"), F.lit(0.0)),
                    round_decimals,
                ).alias("rank"),
            )
        )
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact triangle ENUMERATION by degree orientation (the
    node-iterator++ / compact-forward scheme): every undirected edge
    is oriented from its lower-(degree, id) endpoint to the higher
    one; wedges are generated only at each triangle's minimum-ranked
    vertex, and a wedge (b, c) closes iff the oriented edge (b, c)
    exists. Each triangle is emitted exactly once as (a, b, c) in
    orientation order.

    Scale: orientation bounds per-vertex wedge fan-out by the graph's
    arboricity (≤ √|E| out-degree), so total wedge work is O(|E|^1.5)
    worst-case instead of Σ deg² — the difference between a skewed hub
    exploding one task and work tracking the true triangle count. Two
    equi-join shuffles (wedge build on apex, closure on the (b, c)
    pair); no collect, no iteration.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    # Cache the undirected edge list: it feeds the degree count and
    # the orientation join, and everything upstream of it (for the
    # mutual-kNN gate: the per-cell GEMM applyInPandas pipeline) would
    # otherwise re-execute once per downstream consumer — the plan
    # audit counted the GEMM stage 36 times in the uncached triangles
    # plan (code-review r9 follow-up). The edge list is k·n rows at
    # most for a mutual-kNN graph — always cacheable.
    # Both directions in ONE pass over e (explode of a 2-struct array,
    # the substring-coverage idiom) — a union of two selects would
    # execute the input plan once per branch even while materializing
    # the cache (ReuseExchange dedupes shuffle writes, not a pandas
    # GEMM stage above them): for the mutual-kNN gate that halves the
    # remaining 2 GEMM executions to 1 (code-review r9).
    und = (
        e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("__d")
        )
        .select("__d.u", "__d.v")
        .distinct()
    )
    und = managed_cache(und)
    deg = und.groupBy("u").agg(F.count("*").alias("d")).withColumnRenamed("u", "n")
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        und.join(deg.select(F.col("n"), F.col("d").alias("du")), F.col("u") == F.col("n"))
        .drop("n")
        .join(deg.select(F.col("n"), F.col("d").alias("dv")), F.col("v") == F.col("n"))
        .drop("n")
        .where(lower)
        # keep the out-endpoint's (deg, id) rank key for wedge ordering
        .select(F.col("u").alias("a"), F.col("v").alias("b"), F.col("dv").alias("db"))
        # cached: consumed by both wedge sides and the closure probe
    )
    o = managed_cache(o)
    x, y = o.alias("x"), o.alias("y")
    wedge_order = (F.col("x.db") < F.col("y.db")) | (
        (F.col("x.db") == F.col("y.db")) & (F.col("x.b") < F.col("y.b"))
    )
    wedges = (
        x.join(y, F.col("x.a") == F.col("y.a"))
        .where(wedge_order)
        .select(
            F.col("x.a").alias("a"),
            F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    closing = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    return wedges.join(closing, ["b", "c"]).select("a", "b", "c")
