"""Graph operators on edge-list DataFrames.

Connected components live in pipeline/dedup.py (dup_components, the
near-dup grouping pass); this module adds the iterative-propagation
family. PageRank here is the fixed-iteration DataFrame formulation:
each iteration is one join (ranks onto edges, co-partitioned on src)
plus one combinable groupBy(dst) — the standard scale shape, no RDDs,
no driver-side graph. Iterations are unrolled by the caller's count, so
the lineage stays analyzable (checkpoint beyond ~8 iterations, see
dup_components for the pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def copurchase_half_edges(lineitem: DataFrame,
                          max_lines: int = 16) -> DataFrame:
    """The src < dst HALF of the co-purchase edge set, DISTINCT and
    persisted: one map-side-combined ``collect_set`` per order replaces
    the keyed self-join (the set is bounded by order size <= max_lines,
    so the per-order pair explosion is a bounded flatMap, never an
    unbounded cross product), and the in-array pair generation subsumes
    both the (k, p) DISTINCT and the src != dst filter. Duplicate pairs
    collapse in the one corpus-scale shuffle, which carries only half
    the rows because the edge set is symmetric by construction.

    This IS the undirected distinct edge set the triangle ops need
    (every row has src < dst strictly, deduplicated) — pass it to them
    as ``half=`` so they skip re-deriving it with least/greatest +
    DISTINCT (an edge-sized shuffle deleted at any scale)."""
    from golem_spark.pipeline._cache import _swap_cache

    per_order = (lineitem.groupBy(F.col("l_orderkey").alias("k"))
                 .agg(F.collect_set("l_partkey").alias("ps")))
    pairs = F.flatten(F.transform(
        "ps", lambda x: F.transform(
            F.filter("ps", lambda y: y > x),
            lambda y: F.struct(x.alias("src"), y.alias("dst")))))
    return _swap_cache("copurchase_und",
                       (per_order.select(F.explode(pairs).alias("e"))
                        .select("e.src", "e.dst").distinct()))


def copurchase_edges(lineitem: DataFrame, max_lines: int = 16) -> DataFrame:
    """Part co-purchase edges: (src, dst) for every ordered pair of
    DISTINCT parts in the same order — the symmetric frame: the
    persisted half (:func:`copurchase_half_edges`) plus its mirror
    (a narrow double read of the cached frame)."""
    und = copurchase_half_edges(lineitem, max_lines=max_lines)
    return und.union(und.select(F.col("dst").alias("src"),
                                F.col("src").alias("dst")))


def _pagerank_outlinks(edges: DataFrame) -> DataFrame:
    """(src, dst, deg): every edge with its source's out-degree.

    The degree is a map-side-combined groupBy(src), so a hub src's
    out-edge list never lands in one task's buffer (a straggler on any
    power-law graph at scale); it reduces per partition before its
    node-sized shuffle. The join carries no broadcast hint: both inputs
    arrive hash-partitioned on src with the same partition count, so the
    sort-merge join adds no exchange, and AQE still switches to a
    broadcast at runtime when the degree side turns out small. A forced
    broadcast of a node-sized frame fails outright once the graph has
    billions of nodes (Spark's 8 GB broadcast limit). The result stays
    HASH-PARTITIONED ON src, so every iteration's contribution join
    reuses that partitioning and only the node-sized ranks side
    shuffles: at 100 TB the per-iteration shuffle is O(nodes), not
    O(edges)."""
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_shuffle = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (edges.repartition(n_shuffle, "src")
            .join(deg, "src").select("src", "dst", "deg"))


def pagerank(edges: DataFrame, iterations: int = 2,
             damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank from the uniform start.

    Nodes = endpoints of ``edges``; dangling mass (nodes with no
    out-edges) is redistributed uniformly each iteration, so ranks sum
    to 1 throughout. Returns (node, pr).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from golem_spark.pipeline._cache import _release_cache, _swap_cache

    # drop the previous call's final ranks snapshot BEFORE this call
    # persists its own: the two share one logical plan, so this call's
    # persist would otherwise reuse the old cache entry, and releasing
    # the old frame at the end would uncache this call's snapshot by
    # plan match — every later call then recomputed the snapshot inside
    # its final query, under a plan shape (and generated code) that
    # differs from the first call's
    _release_cache("pagerank_ranks")
    outlinks = _swap_cache("pagerank_outlinks", _pagerank_outlinks(edges))
    nodes = _swap_cache(
        "pagerank_nodes",
        (outlinks.select(F.col("src").alias("node"))
         .union(outlinks.select(F.col("dst").alias("node")))
         .distinct()))
    # dangling nodes (no out-edges — membership never changes, only the
    # mass on it does): node set minus the distinct src set
    dang_nodes = _swap_cache(
        "pagerank_dangling",
        nodes.join(outlinks.select(F.col("src").alias("node")).distinct(),
                   "node", "left_anti"))
    # n_nodes and the per-iteration dangling mass are single scalars:
    # evaluating them eagerly and embedding them as plan LITERALS costs
    # one tiny job each but removes two broadcast-exchange builds per
    # iteration from the critical path (the mass job reads the already-
    # persisted ranks snapshot, so nothing upstream recomputes)
    n_nodes = nodes.count()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("pr"))
    prev_persisted = None
    for it in range(iterations):
        if it > 0:
            dmass = (ranks.join(dang_nodes, "node", "left_semi")
                     .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
                     .collect()[0][0])
        else:
            # uniform start: every dangling node holds exactly 1/n
            dmass = dang_nodes.count() * (1.0 / n_nodes)
        contrib = (outlinks
                   .join(ranks.withColumnRenamed("node", "src"), "src")
                   .groupBy("dst")
                   .agg(F.sum(F.col("pr") / F.col("deg")).alias("inflow")))
        ranks = (nodes
                 .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
                 .select("node",
                         (F.lit((1.0 - damping + damping * dmass) / n_nodes)
                          + F.lit(damping) * F.coalesce(F.col("inflow"),
                                                        F.lit(0.0)))
                         .alias("pr")))
        # each iteration's ranks feeds the next round's dangling-mass
        # scalar AND contribution join: persist node-sized snapshots
        # eagerly, then release the previous one (same truncation
        # discipline as dup_components)
        if it < iterations - 1:
            ranks = ranks.persist()
            ranks.count()
            if prev_persisted is not None:
                prev_persisted.unpersist()
            prev_persisted = ranks
    if prev_persisted is not None:
        # hand the final snapshot to the pipeline cache for lifecycle
        # tracking: the next pagerank call (or a dead-thread sweep)
        # releases it — repeated calls never accumulate persisted frames
        from golem_spark.pipeline._cache import _adopt_cache

        _adopt_cache("pagerank_ranks", prev_persisted)
    return ranks


def _oriented_closed_wedges(edges: DataFrame | None,
                            half: DataFrame | None = None):
    """(persisted DEGREE-oriented edge frame, wedge (x,y,z) frame,
    n_edges) shared by the triangle analytics.

    ``half``: a frame that already IS the undirected distinct edge set
    (every row a < b strictly, deduplicated — what
    :func:`copurchase_half_edges` returns). Supplying it skips the
    least/greatest + DISTINCT re-derivation below — at any scale that
    deletes one edge-sized shuffle per triangle query, since the
    re-derived set is provably row-identical to the half frame (the
    symmetric frame is half ∪ mirror(half); least/greatest maps both
    back onto the a < b rows, and DISTINCT collapses the two copies).

    Edges are oriented low-rank -> high-rank with rank = (degree, node
    id) — the degree-ordering trick that makes distributed triangle
    counting robust to hubs (Suri & Vassilvitskii WWW'11 / Latapy
    2008): every vertex's oriented OUT-degree is bounded by O(sqrt(2m))
    regardless of its real degree, because once a vertex's degree
    exceeds that, all its edges point INTO it and it generates no
    wedges. Under plain id-ordering a low-id hub with degree d
    contributes O(d^2) wedges — the blow-up a power-law co-purchase or
    citation graph WILL contain at 100 TB. The node-id tie-break keeps
    the orientation (and so the wedge count) deterministic and
    cross-engine reproducible."""
    # the undirected distinct edge set is read THREE times below (the
    # degree pass + both sides of the degree-attach join), and its
    # lineage is the expensive part (source self-join + DISTINCT) —
    # persist it for the build, release once `oriented` is materialized
    # (when the caller hands us an already-persisted half frame, use it
    # as-is and leave its lifecycle to its owner)
    own_und = half is None
    if own_und:
        und = (edges.select(F.least("src", "dst").alias("a"),
                            F.greatest("src", "dst").alias("b"))
               .filter(F.col("a") != F.col("b"))
               .distinct()
               .persist())
    else:
        # contract: half must be strictly src < dst, deduplicated, no
        # self-loops (what copurchase_half_edges returns) AND persisted
        # by its owner — it is read three times below, so an unpersisted
        # lineage would recompute 3x. GOLEM_SPARK_DEBUG_CHECKS=1 buys a
        # verification pass (a full scan — debug only, never the hot
        # path) that fails fast on a raw/symmetric frame instead of
        # silently double-counting wedges.
        import os

        if os.environ.get("GOLEM_SPARK_DEBUG_CHECKS", "") == "1":
            n_bad = half.filter(F.col("src") >= F.col("dst")).count()
            if n_bad:
                raise ValueError(
                    f"half= contract violated: {n_bad} rows with "
                    "src >= dst (need strictly src < dst, deduplicated)")
        und = half.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    deg = (und.select(F.explode(F.array("a", "b")).alias("node"))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    lower = (F.col("da") < F.col("db")) | \
        ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = (und
                .join(deg.select(F.col("node").alias("a"),
                                 F.col("deg").alias("da")), "a")
                .join(deg.select(F.col("node").alias("b"),
                                 F.col("deg").alias("db")), "b")
                .select(F.when(lower, F.col("a")).otherwise(F.col("b"))
                        .alias("a"),
                        F.when(lower, F.col("b")).otherwise(F.col("a"))
                        .alias("b")))
    oriented = oriented.persist()
    n_edges = oriented.count()
    if own_und:
        und.unpersist()
    wedges = (oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
              .join(oriented.select(F.col("a").alias("y"),
                                    F.col("b").alias("z")), "y"))
    return oriented, wedges, n_edges


def node_triangle_counts(edges: DataFrame | None = None, top_k: int = 20,
                         half: DataFrame | None = None) -> DataFrame:
    """Per-node triangle participation (embeddedness): each closed
    oriented wedge (x < y < z) contributes one triangle to ALL three
    corners. Same edge-keyed join shape as :func:`triangle_count`, then
    a corner explode + combinable groupBy + TakeOrdered partial top-k
    (ties broken by node id). Returns (node, n_triangles).

    ``half``: pre-deduplicated strictly-src<dst edge set, PERSISTED by
    the caller (it is read three times — an unpersisted lineage
    recomputes 3x; see :func:`_oriented_closed_wedges`) — skips the
    DISTINCT shuffle. Mutually exclusive with ``edges``."""
    if edges is None and half is None:
        raise ValueError("need edges or half")
    if edges is not None and half is not None:
        raise ValueError("pass edges OR half, not both (half would "
                         "silently win)")
    und, wedges, _ = _oriented_closed_wedges(edges, half=half)
    closed = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"], "left_semi")
    corners = closed.select(F.explode(F.array("x", "y", "z")).alias("node"))
    out = (corners.groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
           .orderBy(F.desc("n_triangles"), "node")
           .limit(top_k))
    rows = out.collect()
    und.unpersist()
    spark = (edges if edges is not None else half).sparkSession
    return spark.createDataFrame(rows or [], "node long, n_triangles long")


def triangle_count(edges: DataFrame | None = None,
                   half: DataFrame | None = None) -> DataFrame:
    """Exact global triangle count over an undirected edge list via the
    ORIENTED edge join: orient every edge by rank = (degree, node id),
    join wedges on the middle vertex, then semi-check the closing edge
    — each triangle is counted exactly once. The classic MapReduce
    formulation (Suri & Vassilvitskii, WWW'11): two edge-keyed
    equi-joins, no enumeration of neighborhoods on the driver; the
    DEGREE ordering (see _oriented_closed_wedges) caps every vertex's
    wedge fan-out at O(sqrt(2m)) even on hub-heavy graphs.

    Returns one row: (n_edges, n_wedges, n_triangles).

    ``half``: pre-deduplicated strictly-src<dst edge set, PERSISTED by
    the caller (it is read three times — an unpersisted lineage
    recomputes 3x; see :func:`_oriented_closed_wedges`) — skips the
    DISTINCT shuffle. Mutually exclusive with ``edges``.
    """
    if edges is None and half is None:
        raise ValueError("need edges or half")
    if edges is not None and half is not None:
        raise ValueError("pass edges OR half, not both (half would "
                         "silently win)")
    und, wedges, n_edges = _oriented_closed_wedges(edges, half=half)
    # closing-edge membership as a left-join indicator so wedge count
    # and triangle count come from ONE pass over the wedge join
    closed = wedges.join(
        und.select(F.col("a").alias("x"), F.col("b").alias("z"),
                   F.lit(1).alias("__hit")),
        ["x", "z"], "left")
    row = closed.agg(F.count(F.lit(1)).alias("w"),
                     F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                     .alias("t")).collect()[0]
    n_wedges, n_tri = int(row["w"]), int(row["t"] or 0)
    und.unpersist()
    spark = (edges if edges is not None else half).sparkSession
    return spark.createDataFrame(
        [(int(n_edges), int(n_wedges), int(n_tri))],
        "n_edges long, n_wedges long, n_triangles long")
