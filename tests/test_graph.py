"""Unit tests for graph.bfs_min_depth: minimum depths against a pure-Python
BFS, the max_depth cut-off, degenerate sources, and that the loop's
checkpoints are freed."""

from __future__ import annotations

from collections import deque

from jcrawler_spark.operators import graph


def _bfs(edges, sources, max_depth):
    adj: dict[int, list[int]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    depth = {s: 0 for s in sources}
    q = deque(sources)
    while q:
        u = q.popleft()
        if depth[u] == max_depth:
            continue
        for v in adj.get(u, []):
            if v not in depth:
                depth[v] = depth[u] + 1
                q.append(v)
    return depth


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _result_rdd(df) -> int:
    """Id of the checkpoint RDD the returned frame reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return leaves.apply(0).rdd().id()


def _run(spark, edges, sources, max_depth=30):
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in sources], "doc_id long")
    before = _persisted(spark)
    out = graph.bfs_min_depth(e, s, max_depth=max_depth)
    got = {r["doc_id"]: r["depth"] for r in out.collect()}
    rows = out.count()
    # no checkpoint of the loop outlives the call, except the one the
    # result itself reads
    assert _persisted(spark) - before <= {_result_rdd(out)}
    assert rows == len(got)  # one row per node
    return got


# diamond 0→{1,2}→3, a cycle 3→4→1, a back edge 3→0, a tail 4→5→6, and
# nodes 7, 8 that only point INTO the reachable part (unreachable)
DIAMOND = [
    (0, 1), (0, 2), (1, 3), (2, 3), (3, 4), (4, 1), (3, 0), (4, 5), (5, 6),
    (7, 3), (8, 7),
]


def test_min_depth_diamond_with_cycle(spark):
    got = _run(spark, DIAMOND, [0])
    assert got == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}
    assert got == _bfs(DIAMOND, [0], 30)


def test_unreachable_nodes_left_out(spark):
    got = _run(spark, DIAMOND, [5])
    assert got == {5: 0, 6: 1}
    assert 7 not in _run(spark, DIAMOND, [0])


def test_max_depth_cut_off(spark):
    chain = [(i, i + 1) for i in range(8)]
    assert _run(spark, chain, [0], max_depth=3) == {0: 0, 1: 1, 2: 2, 3: 3}
    assert _run(spark, DIAMOND, [0], max_depth=2) == _bfs(DIAMOND, [0], 2)
    assert _run(spark, chain, [0], max_depth=0) == {0: 0}


def test_empty_sources(spark):
    assert _run(spark, DIAMOND, []) == {}


def test_duplicate_sources(spark):
    got = _run(spark, DIAMOND, [0, 0, 2, 2, 2])
    assert got == {0: 0, 2: 0, 1: 1, 3: 1, 4: 2, 5: 3, 6: 4}
    assert got == _bfs(DIAMOND, [0, 2], 30)
