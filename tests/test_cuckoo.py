"""Cuckoo seen-prefilter tests (operators/cuckoo.py): filter invariants,
Spark prefilter forms, engine equivalence, and the deletion property that
motivates it (requeue_expired forgets requeued URLs)."""

from __future__ import annotations

import hashlib
import shutil

import numpy as np
from pyspark.sql import functions as F

from jcrawler_spark import corpus
from jcrawler_spark.config import CrawlConfig
from jcrawler_spark.engine import CrawlEngine, SyntheticFetcher
from jcrawler_spark.operators import cuckoo

from crawl_oracle import crawl_oracle

N, H = 120, 8
ACCEPTS = [f"host{i}.example" for i in range(H)]


def _hx(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def test_no_false_negatives():
    c = cuckoo.ShardedCuckoo(n_shards=4, n_buckets=1 << 12)
    keys = [_hx(f"u{i}") for i in range(20_000)]
    c.add_hexes(keys)
    assert bool(c.contains_hexes(keys).all())


def test_false_positive_rate_reasonable():
    c = cuckoo.ShardedCuckoo(n_shards=4, n_buckets=1 << 12)
    c.add_hexes(_hx(f"u{i}") for i in range(20_000))
    probes = [_hx(f"other{i}") for i in range(20_000)]
    fp = float(c.contains_hexes(probes).mean())
    # b=4 slots x 2 buckets x 16-bit fp -> epsilon ~ 8/65536 ~ 0.012% at
    # full load (Fan et al. 2014 eq. 2); leave generous noise headroom
    assert fp < 0.01, fp


def test_high_load_no_false_negatives():
    # 2 shards x 1024 buckets x 4 slots = 8192 slots; 0.93 load is inside
    # the sustainable region for b=4 — everything stays findable, stash
    # stays tiny
    c = cuckoo.ShardedCuckoo(n_shards=2, n_buckets=1 << 10)
    keys = [_hx(f"k{i}") for i in range(7_600)]
    c.add_hexes(keys)
    assert bool(c.contains_hexes(keys).all())
    assert c.fill_ratio() > 0.85
    assert len(c.stash) < 64


def test_delete_restores_unseen():
    c = cuckoo.ShardedCuckoo(n_shards=4, n_buckets=1 << 12)
    keys = [_hx(f"d{i}") for i in range(10_000)]
    c.add_hexes(keys)
    gone, kept = keys[:5_000], keys[5_000:]
    assert c.delete_hexes(gone) == len(gone)
    # kept keys: NO false negatives, ever
    assert bool(c.contains_hexes(kept).all())
    # deleted keys: forgotten except for fp-collisions with kept keys
    assert float(c.contains_hexes(gone).mean()) < 0.01


def test_duplicate_copies_make_deletion_collision_safe():
    c = cuckoo.ShardedCuckoo(n_shards=1, n_buckets=1 << 4)
    # force two keys with identical (fp, buckets): insert the same hex
    # twice stands in for two colliding keys — two copies must coexist
    h = _hx("twin")
    c.add_hexes([h, h])
    assert c.delete_hexes([h]) == 1
    assert bool(c.contains_hexes([h]).all())  # second copy still answers
    assert c.delete_hexes([h]) == 1
    assert not c.contains_hexes([h]).any()


def test_serialization_roundtrip_with_stash():
    c = cuckoo.ShardedCuckoo(n_shards=2, n_buckets=1 << 4)
    # overfill a tiny table so some keys land in the stash
    keys = [_hx(f"s{i}") for i in range(200)]
    c.add_hexes(keys)
    assert c.stash  # tiny table must have overflowed
    c2 = cuckoo.ShardedCuckoo.from_bytes(c.to_bytes())
    assert c2.n_shards == 2 and c2.n_buckets == 1 << 4
    assert np.array_equal(c.arr, c2.arr)
    assert c2.stash == c.stash
    assert bool(c2.contains_hexes(keys).all())


def test_seen_filter_from_bytes_dispatch():
    from jcrawler_spark.operators import bloom

    c = cuckoo.ShardedCuckoo(n_shards=2, n_buckets=1 << 8)
    assert isinstance(
        cuckoo.seen_filter_from_bytes(c.to_bytes()), cuckoo.ShardedCuckoo
    )
    b = bloom.GenerationalBloom(2, 1 << 12, 3)
    assert isinstance(
        cuckoo.seen_filter_from_bytes(b.to_bytes()), bloom.GenerationalBloom
    )


def test_spark_build_and_prefilter_forms_agree(spark):
    c = cuckoo.ShardedCuckoo(n_shards=4, n_buckets=1 << 10)
    seen_keys = [_hx(f"seen{i}") for i in range(800)]

    # distributed key-material build == driver add
    df = spark.createDataFrame([(k,) for k in seen_keys], "url_hash string")
    for shard, fps, i1s in cuckoo.build_shard_inserts(df, 4, 1 << 10):
        c.insert_batch(shard, fps, i1s)
    direct = cuckoo.ShardedCuckoo(n_shards=4, n_buckets=1 << 10)
    direct.add_hexes(seen_keys)
    # same membership answers for every probed key (slot layout may differ
    # by insert order; membership is the contract)
    probes = seen_keys + [_hx(f"new{i}") for i in range(800)]
    assert np.array_equal(c.contains_hexes(probes), direct.contains_hexes(probes))

    cand = spark.createDataFrame([(k,) for k in probes], "url_hash string")
    bc = cuckoo.prefilter_unseen(spark, cand, c).orderBy("url_hash")
    sh = cuckoo.prefilter_unseen_sharded(cand, c).orderBy("url_hash")
    assert bc.collect() == sh.collect()
    got = {r["url_hash"]: r["maybe_seen"] for r in bc.collect()}
    for k in seen_keys:
        assert got[k] is True  # no false negatives through either form


def test_engine_cuckoo_crawl_matches_oracle(spark, tmp_path):
    pages = corpus.build_pages_df(spark, N, H, partitions=4).cache()
    pages.count()
    pages_local = {p["url"]: p for p in corpus.local_pages(N, H)}
    cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=500, max_connections=None,
        bloom_enabled=True, seen_filter_kind="cuckoo",
        cuckoo_buckets_per_shard=1 << 10,
    )
    root = str(tmp_path / "st")
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages), root)
    eng.run(seeds=[corpus.url_of(0, H)], max_supersteps=40)

    from jcrawler_spark.operators import accept as accept_ops

    aset = accept_ops.build_accept_set([corpus.url_of(0, H)], ACCEPTS)
    oracle = crawl_oracle(pages_local, [corpus.url_of(0, H)], aset, max_docs=500)
    assert eng.emitted_urls() == oracle.emitted
    assert eng.visited_set() == oracle.visited
    assert isinstance(eng._bloom, cuckoo.ShardedCuckoo)

    # resume restores the cuckoo (blob magic dispatch)
    eng2 = CrawlEngine(spark, cfg, SyntheticFetcher(pages), root)
    eng2.resume()
    assert isinstance(eng2._bloom, cuckoo.ShardedCuckoo)
    assert np.array_equal(eng2._bloom.arr, eng._bloom.arr)
    pages.unpersist()


def test_resume_with_prefilter_toggled_on_rebuilds_filter(spark, tmp_path):
    # A crawl run with the prefilter OFF builds no filter and stages no
    # blob. Resuming with the prefilter ON must not start from an empty
    # filter (every seen URL would look "fresh", skip the exact anti-join,
    # and re-emit); resume() builds it from seen_index so inserted == seen.
    pages = corpus.build_pages_df(spark, 60, H, partitions=4).cache()
    root = str(tmp_path / "st")
    off_cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=10_000, max_connections=None,
        bloom_enabled=False, seen_filter_kind="cuckoo",
        cuckoo_buckets_per_shard=1 << 10,
    )
    eng = CrawlEngine(spark, off_cfg, SyntheticFetcher(pages), root)
    eng.run(seeds=[corpus.url_of(0, H)], max_supersteps=40)
    emitted = eng.emitted_count
    seen = [
        r["url_hash"]
        for r in eng.store.read("seen_index").select("url_hash").distinct().collect()
    ]
    assert eng._bloom is None and eng.store.read_blob() is None

    on_cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=10_000, max_connections=None,
        bloom_enabled=True, seen_filter_kind="cuckoo",
        cuckoo_buckets_per_shard=1 << 10,
    )
    eng2 = CrawlEngine(spark, on_cfg, SyntheticFetcher(pages), root)
    eng2.resume()
    assert isinstance(eng2._bloom, cuckoo.ShardedCuckoo)
    assert bool(eng2._bloom.contains_hexes(seen).all())  # rebuilt from seen
    # continuing emits nothing new (no duplicate re-crawl)
    eng2.run(seeds=None, max_supersteps=10)
    assert eng2.emitted_count == emitted
    # the rebuild is committed: a SECOND resume trusts the blob directly
    eng3 = CrawlEngine(spark, on_cfg, SyntheticFetcher(pages), root)
    eng3.resume()
    assert bool(eng3._bloom.contains_hexes(seen).all())
    pages.unpersist()


def test_requeue_expired_forgets_in_cuckoo(spark, tmp_path):
    pages = corpus.build_pages_df(spark, 60, H, partitions=4).cache()
    cfg = CrawlConfig(
        accept=ACCEPTS, max_docs=10_000, max_connections=None,
        bloom_enabled=True, seen_filter_kind="cuckoo",
        cuckoo_buckets_per_shard=1 << 10,
    )
    root = str(tmp_path / "st")
    shutil.rmtree(root, ignore_errors=True)
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages), root)
    eng.run(seeds=[corpus.url_of(0, H)], max_supersteps=40)
    first_emitted = eng.emitted_count
    visited_hashes = [
        r["url_hash"]
        for r in eng.store.read("seen_index").select("url_hash").distinct().collect()
    ]
    assert bool(eng._bloom.contains_hexes(visited_hashes).all())

    n = eng.requeue_expired(0)
    assert n == first_emitted
    # the filter FORGOT the requeued URLs (the Bloom cannot do this)
    assert float(eng._bloom.contains_hexes(visited_hashes).mean()) < 0.02
    # and the committed blob agrees (resume sees the deletion too)
    resumed = cuckoo.seen_filter_from_bytes(eng.store.read_blob(eng.superstep))
    assert float(resumed.contains_hexes(visited_hashes).mean()) < 0.02

    # recrawl is a full re-emission, same as the Bloom-less requeue test
    eng.run(seeds=None, max_supersteps=40)
    assert eng.emitted_count == 2 * first_emitted
    pages.unpersist()
