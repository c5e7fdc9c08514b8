"""Batch-iterative graph primitives used by the crawl engine's traversal
semantics (SURVEY.md §2.4 T1) expressed as standalone operators.

`bfs_min_depth` is the wave loop distilled: frontier expansion with
min-depth dedup per superstep — exactly the shape the crawl scheduler runs,
minus fetch/extract. Joins shuffle on the node id; the visited set stays a
DataFrame (no driver collect), so the loop scales with executors. AQE
handles skewed hubs; the loop is depth-synchronous: one action per level
(a count of the level's new nodes), whose shuffle stages AQE runs as a few
Spark jobs — the number depends on the graph, never on the node count."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jcrawler_spark.checkpoints import drop_checkpoints


def bfs_min_depth(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "doc_id",
) -> DataFrame:
    """Minimum BFS depth of every node reachable from `sources`.

    edges: (src, dst); sources: (id_col), duplicates allowed. Returns
    (id_col, depth), one row per reached node, with depth = length of the
    shortest path (sources at 0). Each superstep: join the frontier to
    edges, anti-join the visited set, advance.

    The loop-invariant (src, dst) projection is checkpointed once, so no
    level re-reads or re-plans the caller's edge lineage. Each level's new
    nodes are a lazy ``localCheckpoint`` whose ``count()`` is the
    emptiness test — the level's one action — and the visited set is the
    union under a lazy ``localCheckpoint``, materialised by the next
    level's anti-join. Checkpoints no later level reads are freed as the
    loop goes; the returned frame reads the last one."""
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ).localCheckpoint(eager=True)
    visited = (
        sources.select(
            F.col(id_col).cast("long").alias("id"),
            F.lit(0).cast("long").alias("depth"),
        )
        .dropDuplicates(["id"])
        .localCheckpoint(eager=False)
    )
    held = [e, visited]
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .withColumn("depth", F.lit(depth).cast("long"))
            .localCheckpoint(eager=False)
        )
        n_new = nxt.count()
        # the count materialised nxt and, through the anti-join, visited:
        # no older checkpoint is read again
        drop_checkpoints(held, keep=(e, visited, nxt))
        held = [e, visited, nxt]
        if n_new == 0:
            break
        frontier = nxt
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        held.append(visited)
    else:
        # max_depth cut: no level read the last union yet
        visited.count()
    drop_checkpoints(held, keep=(visited,))
    return visited.select(F.col("id").alias(id_col), "depth")


def link_graph_from_pages(pages: DataFrame) -> DataFrame:
    """Offline re-analysis over the MEMOIZED links column (S11,
    JCrawler.java:1379-1398): rebuild the crawl's edge list
    (src_url, dst_url, is_resource, is_redirect, order_in_page) straight
    from a committed pages table — no html, no re-extraction, one explode.
    Feeds bfs_min_depth (joined through url_hash ids) or any link-analysis
    pass; with config.recompute_links the caller re-extracts instead."""
    return (
        pages.where(
            ~F.col("skipped") & F.col("error").isNull() & F.col("links").isNotNull()
        )
        .select(
            F.col("url").alias("src_url"),
            F.col("url_hash").alias("src_hash"),
            F.explode("links").alias("l"),
        )
        .select(
            "src_url",
            "src_hash",
            F.col("l.url").alias("dst_url"),
            F.col("l.is_resource").alias("is_resource"),
            F.col("l.is_redirect").alias("is_redirect"),
            F.col("l.order_in_page").alias("order_in_page"),
        )
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 8,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frontier-prioritization rank over the memoized link graph — the
    classic power iteration (Page et al. 1999), the scheduler's input when
    a crawl orders its politeness waves by authority instead of BFS depth
    (the reference crawls purely by depth, JCrawler.java:568-574; rank
    ordering is a scale-tier addition like T3's parallel BFS).

    Semantics (documented, pinned by the DuckDB oracle): ranks start at
    1/N; each iteration redistributes rank/out_degree along edges
    (parallel edges count separately), dangling mass (nodes with no
    out-edges) is shared uniformly, and every node gets the
    (1-damping)/N base:  r' = (1-d)/N + d*(in_contrib + dangling/N).

    Scale shape: per iteration exactly one join shuffle on ``src`` and one
    groupBy shuffle on ``dst`` — both O(edges), never O(nodes^2); the
    degree-annotated edge list is computed once and persisted; ranks are
    localCheckpoint-ed every iteration so the loop's plan stays O(1) per
    superstep (same cut as bfs_min_depth). Skewed mega-hubs are AQE's
    skew-join case; nothing collects to the driver but the node count —
    the dangling mass stays in-plan as a broadcast 1-row aggregate, so
    each iteration is exactly one Spark job."""
    n = nodes.count()
    ids = nodes.select(F.col(id_col).cast("long").alias("id"))
    if n == 0:
        return ids.withColumn("rank", F.lit(0.0)).select(
            F.col("id").alias(id_col), "rank"
        )
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # deg (one row per node with out-links) feeds the per-iteration
    # dangling anti-join; persisting it avoids re-shuffling the edge list
    # every iteration. e_deg is the degree-annotated edge list contrib uses.
    deg = e.groupBy("src").agg(F.count("*").cast("double").alias("outd")).persist()
    e_deg = e.join(deg, "src").persist()
    base = (1.0 - damping) / n
    # each iteration's result is localCheckpoint-ed (stored partitions +
    # lineage cut), so no persist/unpersist chain is needed on the ranks
    ranks = ids.withColumn("rank", F.lit(1.0 / n))
    try:
        for _ in range(n_iter):
            dang = (
                ranks.join(deg, ranks["id"] == deg["src"], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling"))
            )
            contrib = (
                ranks.join(e_deg, ranks["id"] == e_deg["src"])
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("outd")).alias("s"))
            )
            ranks = (
                ids.crossJoin(F.broadcast(dang))
                .join(contrib, ids["id"] == contrib["dst"], "left")
                .select(
                    "id",
                    (
                        F.lit(base)
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("s"), F.lit(0.0))
                            + F.col("dangling") / F.lit(float(n))
                        )
                    ).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        e_deg.unpersist()
        deg.unpersist()
    return ranks.select(F.col("id").alias(id_col), "rank")


def host_graph(
    edges: DataFrame,
    src_host_col: str = "src_host",
    dst_host_col: str = "dst_host",
    src_id_col: str | None = None,
) -> DataFrame:
    """Domain-level link-graph roll-up (the Common-Crawl host/domain-graph
    dataset shape, built from url-level edges whose hosts the caller has
    already derived — e.g. ``urlops.host_col`` over
    ``link_graph_from_pages`` output):
    ``(src_host, dst_host, n_links[, n_src_pages])``.

    One map-side-combining groupBy on the (src_host, dst_host) pair — at
    10^10 edges the host pair cardinality is orders of magnitude smaller
    than the edge count, so partial aggregation collapses nearly all of
    the shuffle. ``src_id_col`` adds a distinct-source-page count (a
    second shuffle for the distinct; leave None to stay one-shuffle).
    Feed the result's (src_host, dst_host) edges to :func:`pagerank` for
    host-authority scores."""
    grouped = edges.groupBy(
        F.col(src_host_col).alias("src_host"),
        F.col(dst_host_col).alias("dst_host"),
    )
    if src_id_col is None:
        return grouped.agg(F.count(F.lit(1)).alias("n_links"))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_links"),
        F.count_distinct(F.col(src_id_col)).alias("n_src_pages"),
    )
