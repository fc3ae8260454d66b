"""Graph analytics over edge-list DataFrames.

Beyond the reference's surface (no graph layer in
/root/reference/ffn_polars): the aggregate-and-iterate shape that turns
relational edge lists (entity co-occurrence, trade flows, near-dup pairs)
into node scores. ``operators.dedup.connected_components`` established the
repo's iterative contract — per-round ``localCheckpoint`` to keep lineage
flat, convergence/iteration bounded — and PageRank follows it.

Design notes (100 TB):

* The EDGE AGGREGATION is the big-data step (distinct edges from a
  fact-table join) and is fully distributed; the ITERATION then runs on
  the node/edge frames, which for entity-level graphs are orders of
  magnitude smaller. Out-degrees are computed once; each round is one
  join + one aggregate on the edge frame.
* Dangling nodes (no out-edges) redistribute their mass uniformly — the
  standard correction; without it rank leaks and the vector no longer
  sums to 1.
* Fixed iteration count (default 15) rather than epsilon convergence:
  deterministic output, replayable by an unrolled-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.pins import pin, pin_checkpoint, release_checkpoint
from ffn_polars_spark.registry import register


@register(namespace="eod", kind="df", context="dataframe", alias="pagerank")
def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 15,
) -> DataFrame:
    """PageRank over a directed edge list (duplicate edges are collapsed):
    ``r ← (1−d)/N + d·(Σ_in r/outdeg + dangling/N)`` for a fixed number
    of iterations. Returns ``(node, rank, out_degree)`` with ranks
    summing to 1.

    Each iteration localCheckpoints the rank frame (flat lineage — the
    iterative-Spark failure mode connected_components documents) and
    costs one edge join + one aggregate + one dangling-mass scalar.

    Cache hygiene: the edge frame and the FINAL rank checkpoint ride the
    pin registry (released by ``release_pins()`` — the catalog
    wrapper calls it between queries), ``nodes`` is unpersisted as soon
    as the initial ranks materialize, and every superseded per-round
    checkpoint is unpersisted inside the loop (the next round's eager
    checkpoint has already copied the data). A long-lived session
    calling graph ops repeatedly holds at most one round of state.
    """
    e = pin(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
    ranks = (
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
        .select(
            "node",
            F.coalesce(F.col("out_degree"), F.lit(0)).alias("out_degree"),
            (F.lit(1.0) / F.lit(float(n))).alias("rank"),
        )
        .localCheckpoint()  # eager: nodes is consumed here
    )
    nodes.unpersist()
    d = float(damping)
    # One entity-sized probe up front: graphs with no dangling nodes (every
    # node has out-edges — common for co-occurrence/trade graphs) have
    # dangling mass EXACTLY 0 in every round, so the per-round dangling
    # aggregate + broadcast crossJoin is pure overhead — measured ~2x the
    # per-iteration wall-clock on entity-sized rank frames. Output is
    # bit-identical: the recurrence just adds d·(0/N).
    has_dangling = (
        ranks.where(F.col("out_degree") == 0).limit(1).count() > 0
    )
    # Entity-sized rank frames (node count known exactly from the init
    # count) broadcast into the edge join and the rank-carrier join:
    # checkpoint-backed frames carry no stats, so Catalyst/AQE never
    # discovers the broadcast on its own and every round pays three
    # exchanges on a frame that fits in one task. Web-scale graphs
    # (nodes > ~100k) keep the shuffle plan — the broadcast would not fit.
    small = n <= 100_000
    for _ in range(int(iterations)):
        prev = ranks
        contribs = (
            e.join(
                F.broadcast(ranks) if small else ranks,
                e["src"] == ranks["node"],
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_degree").cast("double")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        stepped = ranks.drop("rank").join(
            F.broadcast(contribs) if small else contribs, "node", "left"
        )
        if has_dangling:
            dang = ranks.where(F.col("out_degree") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm")
            )
            # rank = (1-d)/N + d * (in + dangling/N); the 1-row dangling
            # mass rides in as a broadcast, no driver round-trip
            new_rank = F.lit((1.0 - d) / n) + F.lit(d) * (
                F.coalesce(F.col("__in"), F.lit(0.0))
                + F.col("__dm") / F.lit(float(n))
            )
            stepped = stepped.crossJoin(F.broadcast(dang))
        else:
            new_rank = F.lit((1.0 - d) / n) + F.lit(d) * F.coalesce(
                F.col("__in"), F.lit(0.0)
            )
        ranks = stepped.select(
            "node", "out_degree", new_rank.alias("rank")
        ).localCheckpoint()  # eager: prev's blocks are dead now
        release_checkpoint(prev)
    # the final checkpoint backs the returned (lazy) frame — register it
    # as a pin so release_pins() frees it once the caller materializes
    pin_checkpoint(ranks)
    return ranks.select("node", "rank", "out_degree")


@register(namespace="eod", kind="df", context="dataframe", alias="triangle_count")
def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected simple graph: direction and duplicates collapse to
    canonical ``u < v`` edges (self-loops dropped), each triangle is
    enumerated exactly once as an ordered triple ``a < b < c`` (wedge
    join ``(a,b)⋈(b,c)`` closed by ``(a,c)``), then the three corners
    fan back out to nodes. ``clustering = 2T / (d(d−1))`` for degree
    ≥ 2 — the density/community companion to [[pagerank]]'s
    centrality (spam clusters and bot rings show up as clustering
    anomalies long before rank moves).

    The edge aggregation is the distributed step; the wedge join runs
    on the canonical edge frame with both sides shuffled on the shared
    node key. Triples are canonicalized by the DEGREE order
    ``a ≺ b ≺ c`` where ``x ≺ y ⇔ (deg(x), x) < (deg(y), y)`` — the
    standard compact-forward refinement: every edge is oriented toward
    its higher-degree endpoint, so a node's forward adjacency list is
    bounded by O(√m) regardless of its degree, the total wedge count is
    O(m^1.5) even on power-law graphs, and every wedge and closure is
    still checked exactly once (no 6× duplication + dedup). A star's
    hub — the node-value ordering's worst case, d(d−1)/2 wedges on one
    key — generates ZERO wedges here because all its edges point AWAY
    from the low-degree leaves into the hub
    (tests/test_skew.py::test_triangle_wedges_degree_ordered_star).
    Costs one extra m×n join to attach degrees before orienting; the
    oriented frame rides the pin registry (released between
    catalog queries by ``release_pins()``). Returns ``(node, degree,
    n_triangles, clustering)`` for every node of the graph, clustering
    NULL below degree 2.
    """
    raw = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).where(
        F.col(src) != F.col(dst)
    )
    und = pin(
        raw.select(
            F.least("__s", "__d").alias("u"), F.greatest("__s", "__d").alias("v")
        ).distinct()
    )
    # one explode pass over the cached edge frame, and PINNED: deg is
    # referenced three times (both orientation sides + the final join) —
    # unpinned it re-aggregated per reference, and its repeated subtree
    # blew the printed/optimized plan up exponentially (368 scan nodes)
    deg = pin(
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    # orient each edge toward its (degree, node)-larger endpoint: the
    # forward out-degree of ANY node is O(sqrt(m)), which bounds every
    # wedge list the join below builds
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("__dv"))
    u_first = F.struct(F.col("__du"), F.col("u")) < F.struct(
        F.col("__dv"), F.col("v")
    )
    fwd = pin(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
    )
    e1 = fwd.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = fwd.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = fwd.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # explode, don't union: three union branches each referenced `tri`,
    # and Spark shares no subtrees pre-execution — the whole wedge join
    # ran THREE times (3.1x end-to-end once collapsed to one pass)
    corners = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    out = deg.join(corners, "node", "left").fillna(0, subset=["n_triangles"])
    d = F.col("degree").cast("double")
    return out.select(
        "node",
        "degree",
        "n_triangles",
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0) * F.col("n_triangles").cast("double") / (d * (d - F.lit(1.0))),
        ).alias("clustering"),
    )
