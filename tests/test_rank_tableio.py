"""Unit tests for the global-rank operators, the crawl engine's frontier
rank, and the snapshot store."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from jcrawler_spark import corpus
from jcrawler_spark.checkpoints import drop_checkpoints
from jcrawler_spark.config import CrawlConfig
from jcrawler_spark.engine import CrawlEngine, SyntheticFetcher
from jcrawler_spark.operators.rank import (
    pid_expr,
    rank_from_offsets,
    with_global_rank,
)
from jcrawler_spark.plans.tableio import SnapshotStore


def test_global_rank_dense_and_ordered(spark):
    rows = [(i % 13, i, f"u{i:04d}") for i in range(500)]
    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, ["a", "b", "u"]).repartition(7)
    ranked, total, cache = with_global_rank(df, ["a", "b"], "r")
    got = sorted((r["r"], r["a"], r["b"]) for r in ranked.collect())
    assert total == 500
    assert [g[0] for g in got] == list(range(500))  # dense 0..n-1
    expected = sorted((x[0], x[1]) for x in rows)
    assert [(g[1], g[2]) for g in got] == expected
    cache.unpersist()


def test_global_rank_survives_union(spark):
    """The regression that bit the engine: rank consumed through a union
    must keep partition-relative offsets correct."""
    rows = [(i, f"u{i}") for i in range(100)]
    random.Random(3).shuffle(rows)
    df = spark.createDataFrame(rows, ["k", "u"]).repartition(5)
    ranked, total, cache = with_global_rank(df, ["k"], "r")
    other = spark.createDataFrame([(999, "x", -1)], ["k", "u", "r"])
    unioned = other.unionByName(ranked).collect()
    got = sorted((r["r"], r["k"]) for r in unioned if r["r"] >= 0)
    assert [g[0] for g in got] == list(range(100))
    assert [g[1] for g in got] == sorted(x[0] for x in rows)
    cache.unpersist()


def test_global_rank_empty(spark):
    df = spark.createDataFrame([], "k int, u string")
    ranked, total, cache = with_global_rank(df, ["k"], "r")
    assert total == 0
    assert ranked.count() == 0
    cache.unpersist()


SORT = ["src_order_key", "order_in_page", "url"]


def _rank_kernel(spark, rows, npart, span):
    """rank_from_offsets over ``rows`` with the engine's pid and offsets
    (counts per pid, accumulated in pid order), next to the global
    row_number() over the same sort it must equal."""
    df = spark.createDataFrame(
        rows, "src_order_key long, order_in_page int, url string"
    ).withColumn("__pid", pid_expr(F.col("src_order_key"), npart, span))
    offsets, n = {}, 0
    for r in df.groupBy("__pid").count().orderBy("__pid").collect():
        offsets[r["__pid"]] = n
        n += r["count"]
    ranked = rank_from_offsets(df, SORT, offsets)
    assert "__pid" not in ranked.columns
    got = {(r[0], r[1], r[2]): r["rank"] for r in ranked.collect()}
    want = {
        (r[0], r[1], r[2]): r["want"]
        for r in df.withColumn(
            "want", F.row_number().over(Window.orderBy(*SORT)) - 1
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(len(rows)))
    return offsets


def test_rank_from_offsets_equals_global_row_number(spark):
    # 32 pids over the session's 8 shuffle partitions: several pids share
    # a partition. Keys 50..59 (pid 5) are left out, so one pid is empty;
    # parents repeat with several in-page positions, and one position
    # repeats with different urls (the url breaks the tie).
    keys = [k for k in range(0, 320, 3) if not 50 <= k < 60]
    rows = [
        (k, pos, f"https://h{k % 7}.example/{k}/{pos}")
        for k in keys
        for pos in range(k % 4 + 1)
    ]
    rows += [(9, 0, "https://a.example/tie"), (9, 0, "https://b.example/tie")]
    random.Random(5).shuffle(rows)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) < 32
    offsets = _rank_kernel(spark, rows, npart=32, span=320)
    assert 5 not in offsets and len(offsets) > 8


def test_rank_from_offsets_single_row(spark):
    assert _rank_kernel(
        spark, [(7, 0, "https://h.example/")], npart=4, span=10
    ) == {2: 0}


def test_frontier_write_has_no_python_rank(spark, tmp_path):
    """The inline rank of a superstep's new frontier rows runs in the JVM:
    the frontier_add write plan has no MapInPandas node (the sampled
    with_global_rank path, which still has one, is the control)."""
    n, h = 60, 4
    pages = corpus.build_pages_df(spark, n, h, partitions=4).cache()
    root = str(tmp_path / "state")
    cfg = CrawlConfig(
        accept=[f"host{i}.example" for i in range(h)],
        max_docs=100,
        max_connections=None,
    )
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages), root)
    eng.seed([corpus.url_of(0, h)])
    plans: list[str] = []
    stage_append = eng.store.stage_append

    def spy(table, df, superstep, replace=False):
        if table == "frontier_add":
            plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return stage_append(table, df, superstep, replace)

    eng.store.stage_append = spy
    st = eng.step()
    assert st.new_frontier > 0 and len(plans) == 1
    assert "MapInPandas" not in plans[0]
    ranked, _, ckpt = with_global_rank(spark.range(3), ["id"])
    assert "MapInPandas" in (
        ranked._jdf.queryExecution().optimizedPlan().toString()
    )
    drop_checkpoints([ckpt])
    pages.unpersist()


def test_sampled_rank_path_matches_inline(spark, tmp_path):
    """rank_inline_max_wave=None ranks new frontier rows through the
    sampled with_global_rank path; emission, order keys and the pending
    frontier must equal the inline rank's, and no step checkpoint may
    outlive its superstep."""
    n, h = 60, 4
    pages = corpus.build_pages_df(spark, n, h, partitions=4).cache()
    pages.count()

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def crawl(name, **kw):
        root = str(tmp_path / name)
        cfg = CrawlConfig(
            accept=[f"host{i}.example" for i in range(h)],
            max_docs=100,
            max_connections=None,
            **kw,
        )
        eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages), root)
        before = persisted()
        eng.run(seeds=[corpus.url_of(0, h)], max_supersteps=3)
        assert persisted() <= before
        cols = ["url", "order_key", "path_key", "superstep"]
        pending = eng._read_frontier().select(*cols).collect()
        return (
            [tuple(r) for r in eng.emitted().select(*cols).collect()],
            sorted(tuple(r) for r in pending),
        )

    inline = crawl("inline")
    assert inline[0] and inline[1]
    assert crawl("sampled", rank_inline_max_wave=None) == inline
    pages.unpersist()


def test_snapshot_store_commit_rollback_vacuum(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st"), spark)
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    store.stage_append("pages", df1, 1)
    store.stage_snapshot("frontier", df1, 1)
    store.commit(1, {"n": 1})
    df2 = spark.createDataFrame([(2, "b")], ["id", "v"])
    store.stage_append("pages", df2, 2)
    store.stage_snapshot("frontier", df2, 2)
    store.commit(2, {"n": 2})

    assert store.last_superstep() == 2
    assert store.read("pages").count() == 2  # appends accumulate
    assert store.read("frontier").count() == 1  # snapshot replaces
    assert [r["id"] for r in store.read("frontier").collect()] == [2]
    # as-of read
    assert store.read("pages", as_of=1).count() == 1
    assert store.counters(1) == {"n": 1}

    # uncommitted staging is invisible
    df3 = spark.createDataFrame([(3, "c")], ["id", "v"])
    store.stage_append("pages", df3, 3)
    assert store.read("pages").count() == 2

    # rollback drops newer commits; vacuum reclaims orphans
    store._staged = {}
    store.rollback_to(1)
    assert store.last_superstep() == 1
    assert store.read("pages").count() == 1
    removed = store.vacuum()
    assert removed >= 2  # superstep-2 delta + snapshot + staged orphan
    assert store.read("pages").count() == 1


def test_snapshot_store_blob(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "st2"), spark)
    store.stage_blob("bloom", b"\x01\x02", 1)
    df = spark.createDataFrame([(1,)], ["id"])
    store.stage_snapshot("frontier", df, 1)
    store.commit(1, {})
    assert store.read_blob() == b"\x01\x02"
    store.stage_blob("bloom", b"\x03", 2)
    store.stage_snapshot("frontier", df, 2)
    store.commit(2, {})
    assert store.read_blob() == b"\x03"
    assert store.read_blob(as_of=1) == b"\x01\x02"


def test_stage_append_replace_compacts(spark, tmp_path):
    """replace=True makes this superstep's files REPLACE the accumulated
    delta list (compaction); min_superstep skips older delta file sets."""
    from jcrawler_spark.plans.tableio import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"), spark)
    df = lambda *vals: spark.createDataFrame([(v,) for v in vals], ["id"])
    store.stage_append("pages", df(1), 1)
    store.commit(1)
    store.stage_append("pages", df(2), 2)
    store.commit(2)
    assert sorted(r["id"] for r in store.read("pages").collect()) == [1, 2]
    # incremental read: only deltas at/after superstep 2
    assert [r["id"] for r in store.read("pages", min_superstep=2).collect()] == [2]
    # compaction replaces the whole list
    store.stage_append("pages", df(9), 3, replace=True)
    store.commit(3)
    assert [r["id"] for r in store.read("pages").collect()] == [9]
    # older snapshots still read their own manifests (time travel intact)
    assert sorted(r["id"] for r in store.read("pages", as_of=2).collect()) == [1, 2]
    # vacuum keeps every file referenced by ANY committed manifest
    removed = store.vacuum()
    assert removed == 0
    assert sorted(r["id"] for r in store.read("pages", as_of=2).collect()) == [1, 2]


def test_plain_to_bucketed_migration(spark, tmp_path):
    """Reopening a store written with bucketing OFF using bucketing ON must
    migrate the plain delta rows into the bucketed table (ADVICE r3):
    before the fix, the first bucketed commit silently shadowed every
    prior plain row at read time."""
    root = str(tmp_path / "mig")
    plain = SnapshotStore(root, spark)
    df1 = spark.createDataFrame(
        [(f"h{i}", 1) for i in range(10)], ["url_hash", "superstep"]
    )
    plain.stage_append("seen_index", df1, 1)
    plain.commit(1, {"n": 1})

    b = SnapshotStore(root, spark, bucketed={"seen_index": 4})
    got = {r["url_hash"] for r in b.read("seen_index").collect()}
    assert got == {f"h{i}" for i in range(10)}
    # counters survive the migration re-commit
    assert b.counters() == {"n": 1}
    # a subsequent bucketed commit keeps the migrated rows visible
    df2 = spark.createDataFrame([("h10", 2)], ["url_hash", "superstep"])
    b.stage_append("seen_index", df2, 2)
    b.commit(2, {"n": 2})
    got2 = {r["url_hash"] for r in b.read("seen_index").collect()}
    assert got2 == {f"h{i}" for i in range(11)}
    # the manifest no longer lists plain files for the table; the plain
    # delta files became vacuum-able orphans and vacuum is row-preserving
    m = b._manifest(2)
    assert not m["appends"].get("seen_index")
    b.vacuum()
    assert {r["url_hash"] for r in b.read("seen_index").collect()} == got2


def test_rollback_removes_bucketed_orphans(spark, tmp_path):
    """rollback_to must reclaim bucketed data files of rolled-back
    supersteps immediately (ADVICE r3): a retried superstep re-appends
    rows with the same superstep value, so leftover files would alias
    them as visible duplicates."""
    root = str(tmp_path / "rb")
    st = SnapshotStore(root, spark, bucketed={"seen_index": 4})
    row = lambda h, s: spark.createDataFrame([(h, s)], ["url_hash", "superstep"])
    st.stage_append("seen_index", row("a", 1), 1)
    st.commit(1, {})
    st.stage_append("seen_index", row("b", 2), 2)
    st.commit(2, {})
    st.rollback_to(1)
    assert [r["url_hash"] for r in st.read("seen_index").collect()] == ["a"]
    # retry superstep 2 with different content: no resurrected "b"
    st.stage_append("seen_index", row("b2", 2), 2)
    st.commit(2, {})
    rows = sorted(r["url_hash"] for r in st.read("seen_index").collect())
    assert rows == ["a", "b2"]


def test_stage_async_same_table_overlap_refused(spark, tmp_path):
    """Two outstanding stage_async writes to the SAME table would corrupt
    the bucketed before/after file attribution — the guard must refuse
    the second batch, and the guard entry must clear once the first
    write's future resolves."""
    store = SnapshotStore(str(tmp_path / "st"), spark)
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], ["id", "v"])
    futs = store.stage_async(1, appends={"pages": df})
    # racing batch on the same table: either refused (first still in
    # flight) or accepted (first already finished) — never silent overlap
    try:
        futs2 = store.stage_async(1, appends={"pages": df})
    except RuntimeError as e:
        assert "in-flight" in str(e)
        futs2 = []
    for f in futs + futs2:
        f.result()
    store.drain_inflight()
    # guard cleared: staging the same table again now succeeds
    for f in store.stage_async(1, appends={"pages": df}):
        f.result()
    store.commit(1)
    n = 10 * (2 + len(futs2))
    assert store.read("pages").count() == n


def test_drain_inflight_before_reclaim(spark, tmp_path):
    """sync_bucketed/vacuum must not sweep while stage_async writes are
    still landing: drain_inflight blocks until the futures resolve, so a
    commit right after sees every staged file."""
    store = SnapshotStore(
        str(tmp_path / "st"), spark, bucketed={"seen_index": 4}
    )
    df = spark.createDataFrame(
        [(f"h{i}", i) for i in range(50)], ["url_hash", "superstep"]
    )
    futs = store.stage_async(1, appends={"seen_index": df})
    store.drain_inflight()
    assert all(f.done() for f in futs)
    store.commit(1)
    assert store.read("seen_index").count() == 50
    assert store.sync_bucketed() == 0  # nothing orphaned
