"""Crawl-order + URL-seen-set equivalence tests (SURVEY.md §5.1, §7.2.6) —
the network-free stand-ins for the reference's golden crawl tests
(JCrawlerTest.java:68-141): the Spark engine must emit the IDENTICAL ordered
URL list and visited set as a pure-Python oracle implementing the
reference's semantics, plus checkpoint/resume bit-equivalence."""

from __future__ import annotations

import shutil

import pytest

from jcrawler_spark import corpus
from jcrawler_spark.config import CrawlConfig, TraversalType
from jcrawler_spark.engine import CrawlEngine, SyntheticFetcher
from jcrawler_spark.functions import urlops
from jcrawler_spark.operators import accept as accept_ops

from crawl_oracle import OracleResult, _links_of, crawl_oracle, fifo_bfs_oracle

N, H = 120, 8
SEEDS = None  # initialized lazily
ACCEPTS = [f"host{i}.example" for i in range(H)]


def _seeds():
    return [corpus.url_of(0, H)]


def _accept_set():
    return accept_ops.build_accept_set(_seeds(), ACCEPTS)


@pytest.fixture(scope="module")
def pages_df(spark):
    df = corpus.build_pages_df(spark, N, H, partitions=4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def pages_local():
    return {p["url"]: p for p in corpus.local_pages(N, H)}


def _run(spark, pages_df, tmp_path, cfg, failing=None, max_supersteps=40):
    root = str(tmp_path / "state")
    shutil.rmtree(root, ignore_errors=True)
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df, failing), root)
    eng.run(seeds=_seeds(), max_supersteps=max_supersteps)
    return eng


def test_bfs_matches_fifo_and_wave_oracle(spark, pages_df, pages_local, tmp_path):
    # bloom_enabled=True: the default is now off (BENCH/BASELINE.md policy),
    # so pin the Bloom-prefilter engine path here to keep it covered
    cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=500, max_connections=None, bloom_enabled=True
    )
    eng = _run(spark, pages_df, tmp_path, cfg)
    emitted = eng.emitted_urls()
    aset = _accept_set()
    oracle = crawl_oracle(pages_local, _seeds(), aset, max_docs=500)
    fifo = fifo_bfs_oracle(pages_local, _seeds(), aset, max_docs=500)
    assert emitted == oracle.emitted
    assert emitted == fifo  # wave-synchronous == sequential FIFO BFS
    assert eng.visited_set() == oracle.visited
    assert eng.ignored_domains() == sorted(oracle.ignored_domains)
    assert len(emitted) == len(set(emitted))  # exactly-once invariant


def test_overlap_writes_on_equivalence(spark, pages_df, pages_local, tmp_path):
    # overlap_writes=True pins the async pre-rank staging path (the default
    # is now the blocking form, BENCH/BASELINE.md "Write overlap");
    # emissions, visited set and lineage must be identical to the default
    # path already oracle-checked above
    cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=500, max_connections=None,
        overlap_writes=True,
    )
    eng = _run(spark, pages_df, tmp_path, cfg)
    emitted = eng.emitted_urls()
    aset = _accept_set()
    oracle = crawl_oracle(pages_local, _seeds(), aset, max_docs=500)
    assert emitted == oracle.emitted
    assert eng.visited_set() == oracle.visited
    assert len(emitted) == len(set(emitted))


def test_budgets_and_failing_host(spark, pages_df, pages_local, tmp_path):
    cfg = CrawlConfig(
        accept=ACCEPTS,
        max_docs=500,
        per_host_budget=3,
        wave_budget=12,
        failing_host_backoff_seconds=600,
        seconds_per_superstep=1,
        bloom_enabled=False,  # exercise the no-Bloom path too
    )
    failing = ["host7.example"]
    eng = _run(spark, pages_df, tmp_path, cfg, failing=failing, max_supersteps=60)
    oracle = crawl_oracle(
        pages_local,
        _seeds(),
        _accept_set(),
        max_docs=500,
        per_host_budget=3,
        wave_budget=12,
        failing_hosts=set(failing),
        backoff_supersteps=600,
    )
    assert eng.emitted_urls() == oracle.emitted
    assert eng.visited_set() == oracle.visited


def test_max_docs_truncation(spark, pages_df, pages_local, tmp_path):
    cfg = CrawlConfig(accept=ACCEPTS, max_docs=7, max_connections=None)
    eng = _run(spark, pages_df, tmp_path, cfg)
    fifo = fifo_bfs_oracle(pages_local, _seeds(), _accept_set(), max_docs=7)
    assert eng.emitted_urls() == fifo
    assert len(fifo) == 7


def test_checkpoint_resume_equivalence(spark, pages_df, tmp_path):
    """Kill after superstep k, resume from snapshot, assert identical final
    emission + frontier state (FIXTURES.md §6 resume-equivalence)."""
    # Bloom on: resume must also restore the staged bloom blob (tableio
    # stage_blob/read_blob round-trip through a crash)
    cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=500, max_connections=None, bloom_enabled=True
    )
    root_a = str(tmp_path / "a")
    eng_a = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df), root_a)
    eng_a.run(seeds=_seeds(), max_supersteps=40)

    root_b = str(tmp_path / "b")
    eng_b = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df), root_b)
    eng_b.seed(_seeds())
    for _ in range(2):
        eng_b.step()
    # simulate crash: a NEW engine object resumes from the committed snapshot
    eng_b2 = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df), root_b)
    eng_b2.run(seeds=None, max_supersteps=40)

    assert eng_b2.emitted_urls() == eng_a.emitted_urls()
    rows_a = sorted(
        (r["url"], r["depth"], r["order_key"])
        for r in eng_a.emitted().collect()
    )
    rows_b = sorted(
        (r["url"], r["depth"], r["order_key"])
        for r in eng_b2.emitted().collect()
    )
    assert rows_a == rows_b
    # uncommitted-orphan safety: vacuum removes nothing referenced
    eng_b2.store.vacuum()
    assert eng_b2.emitted_urls() == eng_a.emitted_urls()


def test_resume_prefilter_off_crawl_with_prefilter_on(
    spark, pages_df, pages_local, tmp_path
):
    """A prefilter-off crawl builds no seen-filter and writes no filter
    blob. Resumed with the prefilter on, the (default Bloom) filter is
    built from seen_index, so the continued crawl emits exactly what an
    uninterrupted one does — no already-seen URL slips past as fresh."""
    import os

    from jcrawler_spark.operators import bloom as bloom_ops

    off = CrawlConfig(accept=ACCEPTS, max_docs=500, max_connections=None)
    root = str(tmp_path / "st")
    eng = CrawlEngine(spark, off, SyntheticFetcher(pages_df), root)
    eng.seed(_seeds())
    for _ in range(2):
        eng.step()
    assert eng._bloom is None
    assert eng.store.read_blob() is None
    assert not os.path.exists(os.path.join(root, "bloom"))

    on = CrawlConfig(
        accept=ACCEPTS, max_docs=500, max_connections=None, bloom_enabled=True
    )
    eng2 = CrawlEngine(spark, on, SyntheticFetcher(pages_df), root)
    eng2.resume()
    assert isinstance(eng2._bloom, bloom_ops.GenerationalBloom)
    seen = [
        r["url_hash"]
        for r in eng2.store.read("seen_index").select("url_hash").collect()
    ]
    assert seen and bool(eng2._bloom.contains_hexes(seen).all())
    assert eng2.store.read_blob() is not None  # the build is committed
    eng2.run(seeds=None, max_supersteps=40)
    oracle = crawl_oracle(pages_local, _seeds(), _accept_set(), max_docs=500)
    assert eng2.emitted_urls() == oracle.emitted
    assert eng2.visited_set() == oracle.visited


def test_resume_backfills_legacy_seen_index(spark, pages_df, tmp_path):
    """A state root committed BEFORE the slim seen_index table existed must
    not resume with an empty visited set (ADVICE r3): resume() backfills
    the (url_hash, superstep) projection from pages, so the continued
    crawl stays exactly-once and matches an uninterrupted run."""
    import glob
    import json
    import os

    cfg = CrawlConfig(accept=ACCEPTS, max_docs=500, max_connections=None)
    root = str(tmp_path / "legacy")
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df), root)
    eng.seed(_seeds())
    for _ in range(2):
        eng.step()
    emitted_before = set(eng.emitted_urls())
    assert emitted_before  # the partial crawl did emit something

    # forge the pre-seen_index on-disk format: strip the table from every
    # committed manifest and drop its data dir
    for path in glob.glob(os.path.join(root, "checkpoints", "ckpt-*.json")):
        with open(path) as f:
            m = json.load(f)
        m["appends"].pop("seen_index", None)
        m.get("bucketed", {}).pop("seen_index", None)
        with open(path, "w") as f:
            json.dump(m, f)
    shutil.rmtree(os.path.join(root, "seen_index"), ignore_errors=True)

    eng2 = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df), root)
    eng2.run(seeds=None, max_supersteps=40)
    emitted = eng2.emitted_urls()
    assert len(emitted) == len(set(emitted))  # no re-emission of old URLs

    fresh_root = str(tmp_path / "fresh")
    fresh = CrawlEngine(spark, cfg, SyntheticFetcher(pages_df), fresh_root)
    fresh.run(seeds=_seeds(), max_supersteps=40)
    assert set(emitted) == set(fresh.emitted_urls())


def _dfs_preorder_oracle(pages_by_url, seed, accept_set, max_docs, max_depth=100):
    emitted: list[str] = []
    seen: set[str] = set()

    def visit(url, depth, is_res, is_red):
        if len(emitted) >= max_docs:
            return
        h = urlops.url_hash(url)
        if h in seen:
            return
        seen.add(h)
        emitted.append(url)
        ok, _ = accept_ops.accept_link(url, depth, is_res, is_red, accept_set, max_depth)
        if not ok:
            return
        page = pages_by_url.get(url)
        if page is None:
            return
        for l in _links_of(page, url, depth):
            ok2, _ = accept_ops.accept_link(
                l["url"], depth + 1, l["is_resource"], l["is_redirect"],
                accept_set, max_depth,
            )
            if ok2:
                visit(l["url"], depth + 1, l["is_resource"], l["is_redirect"])

    visit(seed, 0, False, False)
    return emitted


def test_dfs_preorder(spark, pages_df, pages_local, tmp_path):
    cfg = CrawlConfig(
        accept=ACCEPTS,
        max_docs=12,
        traversal=TraversalType.DEPTH_FIRST_PREORDER,
        bloom_enabled=False,
    )
    eng = _run(spark, pages_df, tmp_path, cfg, max_supersteps=12)
    expected = _dfs_preorder_oracle(pages_local, _seeds()[0], _accept_set(), 12)
    assert eng.emitted_urls() == expected


def test_dfs_two_path_rediscovery_single_visit(spark, tmp_path):
    """ADVICE round 1: a URL rediscovered via two paths BEFORE its first
    visit must be popped exactly once (Guava preorder first-encounter
    semantics). Graph: A→[B,C], B→[C] — C sits pending via two path_keys
    when B is expanded; after one copy pops, the other must die."""
    import datetime as dt

    from jcrawler_spark import schemas

    def page(url, hrefs):
        html = "<html><body>" + "".join(
            f"<a href='{h}'>x</a>" for h in hrefs
        ) + "</body></html>"
        return {
            "url": url,
            "warc_ts": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
            "html": html.encode(),
            "text": "t",
            "lang": "en",
            "status": 200,
            "location": None,
            "content_type": "text/html",
            "host": "a.example",
            "url_hash": urlops.url_hash(url),
            "fetch_ts": dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc),
            "error": None,
        }

    a, b, c = (f"https://a.example/{x}" for x in "abc")
    pages = spark.createDataFrame(
        [page(a, [b, c]), page(b, [c]), page(c, [])], schema=schemas.PAGES
    )
    cfg = CrawlConfig(
        accept=["a.example"], max_docs=10,
        traversal=TraversalType.DEPTH_FIRST_PREORDER, bloom_enabled=False,
    )
    root = str(tmp_path / "dfs2")
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages), root)
    eng.run(seeds=[a], max_supersteps=10)
    assert eng.emitted_urls() == [a, b, c]  # C exactly once, under B


def test_priority_scores_reorder_waves(spark, pages_df, pages_local, tmp_path):
    """Authority-ordered scheduling (set_priority_scores): with a score on
    one late-FIFO child of the seed, that child is fetched FIRST after the
    seed (priority=-score beats every depth priority at wave_budget=1);
    unscored URLs keep the depth-FIFO order, and the visited SET is
    unchanged vs the default crawl."""
    seed = _seeds()[0]
    fifo = fifo_bfs_oracle(pages_local, _seeds(), _accept_set(), max_docs=12)
    children = [
        l["url"]
        for l in _links_of(pages_local[seed], seed, 0)
        if l["url"] in set(fifo)
    ]
    assert len(children) >= 2
    target = children[-1]
    assert fifo[1] != target  # default FIFO would fetch someone else first

    cfg = CrawlConfig(
        accept=ACCEPTS,
        max_docs=12,
        wave_budget=1,
        max_connections=None,
        bloom_enabled=False,
    )
    # a duplicate url_hash with a LOWER score must lose deterministically
    # (max wins — an arbitrary keep could flip the schedule between
    # supersteps since the plan re-evaluates per wave)
    scores = spark.createDataFrame(
        [(urlops.url_hash(target), 10.0), (urlops.url_hash(target), 0.01)],
        "url_hash string, score double",
    )
    eng = CrawlEngine(
        spark, cfg, SyntheticFetcher(pages_df), str(tmp_path / "prio")
    )
    eng.set_priority_scores(scores)
    eng.run(seeds=_seeds(), max_supersteps=40)
    emitted = eng.emitted_urls()
    assert emitted[0] == seed
    assert emitted[1] == target
    # the score only reorders the schedule — the crawl still fills its
    # budget exactly once per URL (under truncation the emitted SET may
    # legitimately differ from FIFO's, since order decides which 12 fit)
    assert len(emitted) == 12
    assert len(emitted) == len(set(emitted))
