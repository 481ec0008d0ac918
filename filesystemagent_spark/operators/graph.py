"""Distributed graph operators over edge DataFrames.

The reference's only graph-shaped computation is greedy near-duplicate
clustering (/root/reference/src/media_fingerprinting.py:278-310), which
operators/dedup.py already generalizes to connected components. This
module adds the two iterative-graph capabilities a large-scale data
pipeline needs beyond components: link-analysis ranking (PageRank) and
bounded-hop reachability — both as pure DataFrame programs whose
per-iteration cost is one join + one aggregation on the edge list.

Scale stance: an iteration shuffles `edges` on src (join against the
rank table) and the contributions on dst (the re-aggregation). Edges
are the big side and their partitioning by src is stable across
iterations, so at cluster scale the src-side exchange is reused by
every iteration (Spark keeps the edge scan + hash partitions cached if
the caller persists `edges`); ranks are node-cardinality — orders of
magnitude smaller than edges — so the per-iteration state that moves
is minimal.

Determinism: ranks are kept in integer micro-units and every division
is integral (`div`), making the fixed point bit-identical across
engines and partition orders — no float summation drift. A DuckDB
oracle can replay iterations exactly (queries/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filesystemagent_spark.caching import track_persist, tracked_scope


def copurchase_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Symmetric co-occurrence edge list: ``src <-> dst`` iff the two
    items appear in one order. Grouped pair expansion (collect the
    order's distinct items, expand the bounded array comprehension)
    shuffles each order once — never a quadratic self-join on the
    table. Returns distinct directed edges (both directions), so every
    node of the graph has out-degree >= 1.
    """
    # ONE shuffle, not two (guide §2.4): collect_set dedups
    # per order INSIDE the aggregation, so the standalone
    # `.distinct()` pre-pass — a full extra exchange of the fact
    # table's (order, item) pairs — is gone. Per-order sets equal
    # DISTINCT pairs by definition, and map-side partial collect_set
    # shrinks the one remaining shuffle to unique items per order.
    grouped = lineitem.select(order_col, item_col).groupBy(order_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("_items")
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("_items"),
            lambda a, i: F.transform(
                F.slice(F.col("_items"), i + 2, F.size("_items")),
                lambda b: F.struct(a.alias("src"), b.alias("dst")),
            ),
        )
    )
    one_way = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )
    return one_way.unionAll(
        one_way.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank_int(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    broadcast_ranks: bool = True,
) -> DataFrame:
    """PageRank in exact integer micro-units: rank_0 = `scale`;
    rank_{i+1}(v) = (1-d)*scale + (d * Σ_{u→v} rank_i(u) div deg(u))
    with d applied as an integer percentage. All arithmetic is BIGINT
    (`div` = floor division on non-negatives), so results are
    bit-identical regardless of partitioning, merge order, or engine.

    Assumes every src has out-degree >= 1 and (for the classic "no
    dangling mass" semantics) that the edge set is symmetric — which
    `copurchase_edges` guarantees. Returns (node, rank) with rank in
    micro-units.
    """
    teleport = (100 - damping_pct) * scale // 100
    # Degree via aggregation + join, not repartition + window (guide
    # §2.4/§2.3): the window path shuffled the FULL edge list on src
    # just to count per-src rows; the aggregation shuffles
    # only map-side partial counts (node-cardinality), and the count
    # table re-attaches by the same join strategy the iterations use —
    # broadcast when the node table fits (the default here), a
    # partitioned join otherwise. Persisted: every iteration probes
    # this table, and without the cache each round would re-derive the
    # whole edge build. AQE right-sizes the persisted partitioning at
    # runtime (canChangeCachedPlanOutputPartitioning).
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    dside = F.broadcast(deg) if broadcast_ranks else deg
    # Eager localCheckpoint per round: iterative DataFrame algorithms
    # must truncate lineage (the plan doubles every round otherwise),
    # and the final ranks must not reference `ed` so its scope can
    # release it before returning a still-lazy result. On a cluster
    # with an HDFS checkpoint dir, checkpoint() adds executor-loss
    # resilience (same note as dedup.near_dup_clusters).
    with tracked_scope():
        ed = track_persist(edges.join(dside, "src"))
        # rank_0 comes from the degree table — already one row per src
        # — instead of a THIRD full-edge exchange for distinct(src).
        ranks = (
            deg.select(F.col("src").alias("node"))
            .withColumn("rank", F.lit(scale).cast("long"))
            .localCheckpoint(eager=True)
        )
        for _ in range(iterations):
            # The rank table is node-cardinality — orders of magnitude
            # smaller than the edge list — so broadcasting it makes each
            # iteration's contribution pass a map-side hash join over the
            # PERSISTED edges: the only shuffle per round is the dst
            # aggregation. (At web-graph scale where even the node table
            # exceeds broadcast limits, pass broadcast_ranks=False to fall
            # back to the partitioned join.)
            rside = F.broadcast(ranks) if broadcast_ranks else ranks
            contribs = ed.join(
                rside, ed["src"] == rside["node"]
            ).select(F.col("dst"), F.expr("rank div deg").alias("c"))
            ranks = (
                contribs.groupBy(F.col("dst").alias("node"))
                .agg(
                    (F.lit(teleport) + F.expr(f"({damping_pct} * sum(c)) div 100"))
                    .cast("long")
                    .alias("rank")
                )
                .localCheckpoint(eager=True)
            )
    return ranks


def reach_min_hops(
    spark,
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Minimum-hop distance from a seed set, via Spark 4's recursive
    CTE (WITH RECURSIVE) — the declarative BFS. `seeds` must have a
    single column `node`; `edges` columns (src, dst). The recursive
    step is DISTINCT-deduplicated so each frontier is at most
    node-cardinality; MIN(dist) collapses multi-path reaches.
    """
    edges.createOrReplaceTempView("_reach_edges")
    seeds.createOrReplaceTempView("_reach_seeds")
    return spark.sql(
        f"""
        WITH RECURSIVE frontier(node, dist) AS (
            SELECT node, 0 FROM _reach_seeds
            UNION ALL
            SELECT DISTINCT e.dst, f.dist + 1
            FROM frontier f JOIN _reach_edges e ON e.src = f.node
            WHERE f.dist < {int(max_hops)}
        )
        SELECT node, MIN(dist) AS dist
        FROM frontier
        GROUP BY node
        """
    )


def triangle_counts(edges_oneway: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    given as canonical one-way edges (``src < dst``, distinct).
    Returns (node, n_triangles) for every node in >= 1 triangle.

    Scale shape — the classic degree-ordered orientation (node
    iterator / "compact-forward"): each undirected edge is directed
    from the endpoint with the smaller (degree, id) rank to the
    larger, which bounds every out-neighborhood by O(sqrt(m)). The
    wedge self-join therefore generates O(m^1.5) candidates worst
    case (vs O(Σ deg²) un-oriented — quadratic in the hottest hub),
    and the closing check is one more equi-join, never a per-node
    loop. Three shuffles total: degree agg, wedge join on the pivot
    node, closure join on the (b, c) pair.

    The triangle SET is orientation-invariant, so a SQL oracle that
    orients by plain id (3-way self-join with a<b<c) counts the
    same triangles."""
    # The edge list is referenced four times below (degree pass via
    # both directions, then the orientation join) and is usually an
    # expensive derivation (co-purchase pair expansion) — persist it,
    # same derived-sketch rule as the dedup self-joins. Right-size the
    # persisted/iterated working set to cluster parallelism (the
    # pagerank fix, SCALE.md lesson 1): under a default-config session
    # the upstream shuffles leave 200 micro-partitions, and the
    # per-task overhead of re-scanning them across this operator's
    # four joins dominated the actual compute (measured 29.3s -> 2.7s
    # warm at sf0.01). The closure join is deliberately NOT manually
    # repartitioned — AQE coalesces that shuffle fine, and forcing it
    # measured slower.
    par = edges_oneway.sparkSession.sparkContext.defaultParallelism
    edges_oneway = track_persist(edges_oneway.repartition(par, "src"))
    both = edges_oneway.unionAll(
        edges_oneway.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = (
        both.repartition(par, "src")
        .groupBy("src")
        .agg(F.count("*").alias("d"))
        .withColumnRenamed("src", "n")
    )

    keep = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    e = (
        edges_oneway.join(deg.withColumnsRenamed({"n": "src", "d": "ds"}), "src")
        .join(deg.withColumnsRenamed({"n": "dst", "d": "dd"}), "dst")
        .select(
            F.when(keep, F.col("src")).otherwise(F.col("dst")).alias("a"),
            F.when(keep, F.col("dst")).otherwise(F.col("src")).alias("b"),
            # rank of the head endpoint, for ordering wedge arms
            F.when(keep, F.col("dd")).otherwise(F.col("ds")).alias("rank_b"),
        )
    )
    # The oriented edges feed three joins (both wedge arms + the
    # closure side) — persist the 3-int-column projection so the
    # orientation pass runs once, hash-partitioned on the wedge pivot
    # so both wedge arms inherit the cache's distribution and the
    # wedge self-join adds no exchange.
    e = track_persist(e.repartition(par, "a"))
    # wedge: two oriented edges out of the same pivot a, endpoints
    # ordered by (deg, id) rank so each unordered pair appears once
    e1 = e.select(F.col("a"), F.col("b"), F.col("rank_b"))
    e2 = e.select(
        F.col("a"), F.col("b").alias("c"), F.col("rank_b").alias("rank_c")
    )
    wedges = e1.join(e2, "a").where(
        (F.col("rank_b") < F.col("rank_c"))
        | ((F.col("rank_b") == F.col("rank_c")) & (F.col("b") < F.col("c")))
    )
    closing = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    tris = wedges.join(closing, ["b", "c"]).select("a", "b", "c")
    return (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
