"""The batch-iterative superstep crawl engine (SURVEY.md §2.4/§3.1).

Re-expresses the reference's graph-traversal scheduler
(/root/reference/src/main/java/org/raisercostin/jcrawler/ParallelGraphTraverser.java:46-135
and JCrawler.downloadAndExtractLinks, JCrawler.java:995-1256) as a driver
superstep loop over DataFrames with snapshot-committed state:

    wave  = politeness-gated, budget-capped prefix of pending (by order_key)
    seen += wave                       (visited gate, ParallelGraphTraverser.java:85)
    fetched = fetch(wave)              (synthetic join in-sandbox; HTTP in prod)
    links = explode(extract_links_udf) (JCrawler.java:420-559)
          → self-filter → per-page first-wins dedup → accept filter
            (exact reference order, JCrawler.java:1233-1244)
    new   = links ⟕anti frontier adds ⟕anti seen (opt-in prefilter), ranked
    commit(pages Δ, emitted Δ, seen Δ, pending snapshot, host_state, bloom, lineage)

Determinism contract: the reference's default parallel mode has undefined
order (README.md:191); BFS is FIFO (JCrawler.java:568-574). This engine is
deterministic in every mode: emission order is `order_key` (discovery FIFO →
matches the reference BFS golden order), and DFS preorder is reproduced
exactly by ordering pending on a fixed-width lexicographic `path_key` with
wave size 1 (the smallest unvisited path key IS the next preorder node).

Scale design (north rule):
  * per-host politeness is a two-phase salted top-k — phase 1 row_number over
    (host, salt16) caps a mega-host partition at budget×salt rows, phase 2
    exact row_number over host — so no single task ever sees a mega-host's
    whole frontier (skew defusal beyond AQE).
  * the seen gate is an exact anti-join on url_hash against the bucketed
    seen_index. A Bloom or cuckoo prefilter in front of it is opt-in
    (config.bloom_enabled, off by default: it measured slower than the
    plain anti-join at the sizes tried, BENCH/BASELINE.md).
  * a superstep's intermediates (the wave, the fetched pages, the links,
    the ranked candidates) are lazy localCheckpoints, not cached plans:
    the first job that reads one stores its rows, every later plan of the
    step starts from that LogicalRDD leaf instead of re-planning the
    frontier-read → fetch → extract lineage, and the step frees the blocks
    through their RDDs once its writes have landed (checkpoints.py).
  * new frontier rows are ranked in the JVM: offsets[pid] + row_number()
    over a monotone bucket of the parent's order_key, with the per-bucket
    counts riding the step's one stats collect (operators/rank.py).
  * time is a logical clock (1 superstep = config.seconds_per_superstep) so
    the failing-host backoff (10 min, JCrawler.java:870-872) and crawl-delay
    are deterministic and testable.
  * every superstep commit is an atomic snapshot (plans/tableio.py); a crawl
    resumes bit-identically from any committed superstep.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jcrawler_spark import schemas
from jcrawler_spark.checkpoints import drop_checkpoints
from jcrawler_spark.config import CrawlConfig, TraversalType
from jcrawler_spark.functions import generators, urlops
from jcrawler_spark.operators import accept as accept_ops
from jcrawler_spark.operators import bloom as bloom_ops
from jcrawler_spark.operators import cuckoo as cuckoo_ops
from jcrawler_spark.operators import extract
from jcrawler_spark.operators import rank as rank_ops
from jcrawler_spark.plans.tableio import SnapshotStore

# frontier/pending schema used internally (superset of schemas.FRONTIER)
_PENDING = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("is_resource", T.BooleanType(), False),
        T.StructField("is_redirect", T.BooleanType(), False),
        T.StructField("src_url", T.StringType(), True),
        T.StructField("superstep", T.IntegerType(), False),
        T.StructField("order_key", T.LongType(), False),
        T.StructField("path_key", T.StringType(), False),
    ]
)


class SyntheticFetcher:
    """S8 in the sandbox: the 'scan of the web' is a join of the wave
    against the synthetic pages corpus on url (SURVEY.md §2.1 S8). Hosts in
    `failing_hosts` raise on fetch — modelled as an error row (the reference
    marks the host failing and records error metadata,
    JCrawler.java:1126-1131). URLs absent from the corpus are HTTP 404s
    (valid responses, not errors — detected by the join's null html, never
    by a driver-side URL set).

    Two join shapes, picked by wave size (`approx_rows` from the engine):
      * small wave  → the wave is BROADCAST: inner broadcast join for hits
        plus a broadcast anti-join of the wave against the hit urls for the
        404 misses (the hit-url probe is column-pruned to `url` only);
      * large wave  → ONE left-outer join wave⟕corpus on url. The corpus
        side shuffles only if it isn't bucketed — a pages table bucketed by
        url (corpus.write_pages_bucketed / Iceberg bucket partitioning in
        production) makes this a one-sided shuffle of just the wave, the
        shape that survives 10^7-row waves where a broadcast cannot.

    Nothing is ever collected to the driver."""

    def __init__(
        self,
        pages: DataFrame,
        failing_hosts: list[str] | None = None,
        broadcast_wave_rows: int = 150_000,
    ):
        cols = ["url", "html", "status", "location", "content_type", "text"]
        self.pages = pages.select(*cols)
        self.failing_hosts = set(failing_hosts or [])
        self.broadcast_wave_rows = broadcast_wave_rows

    def fetch(self, wave: DataFrame, approx_rows: int | None = None) -> DataFrame:
        """wave columns + (html, status, location, content_type, error)."""
        small = (
            approx_rows is not None and approx_rows <= self.broadcast_wave_rows
        )
        if small:
            pages = self.pages.withColumnsRenamed({"url": "p_url"})
            hits = pages.join(
                F.broadcast(wave), wave["url"] == pages["p_url"]
            ).drop("p_url")
            # misses = wave ∖ hits; the anti probe re-reads only the corpus
            # url column (pruned scan), and the build side is ≤ the wave
            misses = wave.join(
                F.broadcast(hits.select("url")), "url", "left_anti"
            )
            for c in ["html", "status", "location", "content_type", "text"]:
                typ = {"html": "binary", "status": "int"}.get(c, "string")
                misses = misses.withColumn(c, F.lit(None).cast(typ))
            joined = hits.unionByName(misses)
        else:
            joined = wave.join(self.pages, "url", "left")
        failing = F.lit(False)
        for h in self.failing_hosts:
            failing = failing | (F.col("host") == F.lit(h))
        return (
            joined.withColumn("fetch_failed", failing)
            .withColumn(
                "error",
                F.when(F.col("fetch_failed"), F.lit("connect error: synthetic failing host")),
            )
            .withColumn(
                "status",
                F.when(F.col("fetch_failed"), F.lit(None).cast("int")).otherwise(
                    F.coalesce(F.col("status"), F.lit(404))
                ),
            )
            .withColumn(
                "html",
                F.when(F.col("fetch_failed"), F.lit(None).cast("binary")).otherwise(F.col("html")),
            )
            .withColumn(
                "content_type",
                F.when(F.col("fetch_failed"), F.lit(None).cast("string")).otherwise(
                    F.coalesce(F.col("content_type"), F.lit("text/plain"))
                ),
            )
            .drop("fetch_failed")
        )


@dataclass
class StepStats:
    superstep: int
    wave: int
    fetched: int
    errors: int
    links: int
    new_frontier: int
    emitted_total: int
    pending_left: int
    wall_ms: int


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        config: CrawlConfig,
        fetcher,
        state_root: str,
        clock=None,
        sleep=None,
    ):
        self.spark = spark
        self.config = config
        self.fetcher = fetcher
        # injectable time source for --real-clock pacing (tests pass fakes)
        self._clock = clock if clock is not None else time.monotonic
        self._sleep = sleep if sleep is not None else time.sleep
        self._last_step_start: float | None = None
        # bucket the KEY tables only: the per-superstep anti-joins touch
        # (url_hash, superstep), so the slim seen_index and the frontier
        # deltas are kept bucketed (no state reshuffle on join) while the
        # payload-bearing pages deltas (links arrays) stay plain appends —
        # bucketing them would shuffle+sort the whole payload every
        # superstep for joins that never read it.
        nb = config.state_buckets
        self.store = SnapshotStore(
            state_root,
            spark,
            bucketed=(
                {"seen_index": nb, "frontier_add": nb}
                if nb is not None
                else None
            ),
            compression=config.state_compression,
        )
        self.accept_set: list[str] = []
        self.superstep = 0
        self.emitted_count = 0
        self.order_counter = 0
        self._pending_count = 0
        self._any_host_errors = False
        # the lazy localCheckpoints the current superstep reads (wave,
        # fetched, links, ranked candidates); freed at its end — or, if a
        # step died mid-flight, at the start of the next one
        self._ckpts: list[DataFrame] = []
        # opt-in authority-ordered scheduling (set_priority_scores)
        self._priority_scores: DataFrame | None = None
        # seen-prefilter (GenerationalBloom or ShardedCuckoo by
        # config.seen_filter_kind — same facade, same blob slot); None
        # unless config.bloom_enabled
        self._bloom: (
            bloom_ops.GenerationalBloom | cuckoo_ops.ShardedCuckoo | None
        ) = None
        # frontier delta-log compaction horizon: pages deltas at or before
        # this superstep are already folded into the frontier_add base
        self._last_compact = 0

    # ------------------------------------------------------------------
    # seeding / resume
    # ------------------------------------------------------------------

    def seed(self, seed_patterns: list[str]) -> None:
        """Expand seed patterns through Generators (JCrawler.java:710), build
        the accept set (JCrawler.java:876-889), commit superstep 0.

        Seed rows are built JVM-side (hashing/host parsing as Column
        expressions) so million-URL seed lists don't serialize through
        driver Python row-by-row; only the raw strings cross."""
        urls = generators.generate_all(seed_patterns)
        self.accept_set = accept_ops.build_accept_set(
            urls, self.config.accept, self.config.accept_hostname
        )
        # Arrow path: a pandas frame converts in bulk, not row-by-row
        raw = self.spark.createDataFrame(
            pd.DataFrame({"url": urls, "pos": range(len(urls))})
        )
        w_dedup = Window.partitionBy("url_hash").orderBy("pos")
        deduped = (
            raw.withColumn("url_hash", urlops.url_hash_col(F.col("url")))
            .withColumn("rn", F.row_number().over(w_dedup))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        # global FIFO order_key via the range-partitioned Arrow rank — a
        # million-URL seed list never funnels through one window task
        ranked, n_seeds, rank_cache = rank_ops.with_global_rank(
            deduped, ["pos"], out_col="order_key"
        )
        pending = ranked.select(
            "url",
            "url_hash",
            urlops.host_col(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            F.lit(0.0).alias("priority"),
            F.lit(False).alias("is_resource"),
            F.lit(False).alias("is_redirect"),
            F.lit(None).cast("string").alias("src_url"),
            F.lit(0).alias("superstep"),
            F.col("order_key").cast("long").alias("order_key"),
            F.format_string("%08x", F.col("order_key")).alias("path_key"),
        )
        self.store.stage_append("frontier_add", pending, 0)
        drop_checkpoints([rank_cache])
        self.order_counter = n_seeds
        self._pending_count = n_seeds
        if self.config.bloom_enabled:
            self._bloom = self._new_seen_filter()
            self.store.stage_blob("bloom", self._bloom.to_bytes(), 0)
        host_state = self.spark.createDataFrame([], schema=self._host_state_schema())
        self.store.stage_snapshot("host_state", host_state, 0)
        self.store.commit(0, self._counters())
        self.superstep = 0

    def _new_seen_filter(
        self,
    ) -> bloom_ops.GenerationalBloom | cuckoo_ops.ShardedCuckoo:
        """An empty seen-prefilter of ``config.seen_filter_kind``."""
        cfg = self.config
        if cfg.seen_filter_kind == "cuckoo":
            return cuckoo_ops.ShardedCuckoo(
                cfg.bloom_shards, cfg.cuckoo_buckets_per_shard
            )
        return bloom_ops.GenerationalBloom(
            cfg.bloom_shards, cfg.bloom_bits_per_shard, cfg.bloom_hashes,
            grow_at_fill=cfg.bloom_grow_at_fill,
        )

    @staticmethod
    def _host_state_schema() -> T.StructType:
        return T.StructType(
            [
                T.StructField("host", T.StringType(), False),
                T.StructField("last_fetch_superstep", T.IntegerType(), True),
                T.StructField("last_error_superstep", T.IntegerType(), True),
                # robots.txt Disallow rules discovered for this host
                # (resolved absolute URL prefixes)
                T.StructField(
                    "robots_disallow", T.ArrayType(T.StringType()), True
                ),
                # robots.txt Allow rules (RFC 9309 precedence carve-outs)
                T.StructField(
                    "robots_allow", T.ArrayType(T.StringType()), True
                ),
                # robots.txt 'Crawl-delay:' for this host, milliseconds
                # (harvested opt-in; schemas.HOST_STATE parity)
                T.StructField("crawl_delay_ms", T.IntegerType(), True),
            ]
        )

    def _counters(self) -> dict:
        return {
            "emitted_count": self.emitted_count,
            "order_counter": self.order_counter,
            "pending_count": self._pending_count,
            "any_host_errors": self._any_host_errors,
            "accept_set": self.accept_set,
            "last_compact": self._last_compact,
            # whether the staged filter blob has actually been receiving
            # wave inserts — resume() uses this to detect a prefilter
            # toggled ON across resume against a stale/empty blob
            "seen_filter_active": self.config.bloom_enabled,
        }

    def resume(self) -> int:
        """Restore driver state from the latest committed snapshot."""
        last = self.store.last_superstep()
        if last is None:
            raise ValueError("nothing to resume from")
        # a crashed half-written superstep leaves orphan files in the
        # bucketed state dirs; they'd alias the retried superstep's rows
        self.store.sync_bucketed()
        # Legacy state root (committed before the slim seen_index table
        # existed): the visited set would read as EMPTY and every stored
        # page would be re-crawled and re-emitted silently. Backfill the
        # (url_hash, superstep) projection from the pages table — exactly
        # the rows step() would have written — and re-commit the manifest.
        if self.store.read("seen_index") is None:
            pages = self.store.read("pages")
            if pages is not None:
                self.store.stage_append(
                    "seen_index",
                    pages.select("url_hash", "superstep"),
                    last,
                )
                self.store.commit(last, counters=self.store.counters(last))
        c = self.store.counters(last)
        self.superstep = last
        self.emitted_count = c["emitted_count"]
        self.order_counter = c["order_counter"]
        self._pending_count = c.get("pending_count", 1 << 62)
        self._any_host_errors = bool(c.get("any_host_errors", True))
        self.accept_set = list(c["accept_set"])
        self._last_compact = int(c.get("last_compact", 0))
        # the prefilter exists only while bloom_enabled is set: a crawl run
        # with it off stages no blob and never reads one
        self._bloom = None
        if not self.config.bloom_enabled:
            return last
        blob = self.store.read_blob(last)
        if blob is not None and c.get("seen_filter_active", False):
            # dispatch by blob magic: a resumed crawl keeps the filter KIND
            # it was seeded with, whatever the current config says
            self._bloom = cuckoo_ops.seen_filter_from_bytes(blob)
        else:
            # The prefilter was toggled ON across resume: there is no blob,
            # or the stored one stopped receiving the crawl's wave inserts
            # when the prefilter was turned off. Trusting it would mark
            # already-seen URLs "fresh", SKIP the exact anti-join, and
            # re-emit them — and requeue_expired would delete never-inserted
            # keys (which can evict a colliding key's only copy). Build the
            # configured filter from the committed seen_index so
            # inserted == seen.
            self._bloom = self._new_seen_filter()
            seen = self._seen_hashes()
            if seen is not None:
                if isinstance(self._bloom, cuckoo_ops.ShardedCuckoo):
                    for shard, fps, i1s in cuckoo_ops.build_shard_inserts(
                        seen, self._bloom.n_shards, self._bloom.n_buckets
                    ):
                        self._bloom.insert_batch(shard, fps, i1s)
                else:
                    for shard, bitmap in bloom_ops.build_shard_increments(
                        seen,
                        self._bloom.n_shards,
                        self._bloom.m_bits,
                        self._bloom.k,
                    ):
                        self._bloom.merge_shard(shard, bitmap)
            self.store.stage_blob("bloom", self._bloom.to_bytes(), last)
            self.store.commit(last, counters={**c, "seen_filter_active": True})
        return last

    # ------------------------------------------------------------------
    # wave selection (T1/T2/T6/T7/F7)
    # ------------------------------------------------------------------

    def _is_dfs(self) -> bool:
        return self.config.traversal in (
            TraversalType.DEPTH_FIRST_PREORDER,
            TraversalType.DEPTH_FIRST_POSTORDER,
        )

    def _order_cols(self) -> list:
        if self._is_dfs():
            return [F.col("path_key")]
        return [F.col("priority"), F.col("order_key")]

    def _select_wave(self, pending: DataFrame) -> tuple[DataFrame, int]:
        """Returns (wave, approx_rows) — approx_rows is an upper bound on the
        wave size (the binding limit, else the exact pending count), used by
        the fetcher to pick broadcast vs shuffle join."""
        cfg = self.config
        cand = pending

        # DFS visit-time dedup (Guava preorder yields on first encounter):
        # pending may hold the same URL via several paths. No extra gate is
        # needed here — when one copy pops, step()'s next_pending anti-join
        # on url_hash removes EVERY pending copy of that hash, so a second
        # copy can never be popped later (pinned by the two-path DFS test).

        # per-host crawl-delay (north rule, opt-in): a host fetched at
        # logical time t is DEFERRED — rows stay pending, not consumed —
        # until t + crawl_delay. Unlike the reference's failing-host gate
        # (which consumes, JCrawler.java:1000-1003), this is a scheduling
        # window, so it lives in wave selection.
        if cfg.enforce_crawl_delay:
            hs = self.store.read("host_state")
            if hs is not None:
                if "crawl_delay_ms" not in hs.columns:  # pre-round-5 store
                    hs = hs.withColumn(
                        "crawl_delay_ms", F.lit(None).cast("int")
                    )
                s = self.superstep + 1
                tick = max(1, cfg.seconds_per_superstep)
                # per-host delay harvested from that host's robots.txt
                # 'Crawl-delay:' (host_state.crawl_delay_ms, round 5 —
                # VERDICT r4 #4); the global config value is the fallback
                delay_s = F.coalesce(
                    F.col("crawl_delay_ms").cast("double") / 1000.0,
                    F.lit(float(cfg.crawl_delay_seconds)),
                )
                delay_steps = F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(delay_s / F.lit(float(tick))),
                )
                hsf = F.broadcast(
                    hs.select("host", "last_fetch_superstep", "crawl_delay_ms")
                )
                cand = (
                    cand.join(hsf, "host", "left")
                    .where(
                        F.col("last_fetch_superstep").isNull()
                        | (F.lit(s) - F.col("last_fetch_superstep") >= delay_steps)
                    )
                    .drop("last_fetch_superstep", "crawl_delay_ms")
                )

        # F7 failing-host gate (logical clock): skip hosts errored within
        # backoff. Skipped rows are consumed like the reference (the visited
        # gate already fired when they were popped — our wave membership is
        # the pop), so they're still selected but not fetched; the fetch gate
        # happens in step(). Here we only apply scheduling windows.
        # NOTE crawl-delay scope: enforce_crawl_delay is a PER-LOGICAL-TICK
        # guarantee — a host fetched at tick t is not fetched at any later
        # tick before t+delay. Fetches within ONE wave share a tick and are
        # deliberately allowed (they model one connection burst, bounded by
        # per_host_budget / the max_connections wave cap, like the
        # reference's token pool, JCrawler.java:868). For strictly serial
        # per-host fetching set per_host_budget=1 (DIVERGENCES.md #13).
        if cfg.per_host_budget is not None:
            b = cfg.per_host_budget
            nsalt = cfg.skew_salt_buckets
            w1 = Window.partitionBy("host", "salt").orderBy(*self._order_cols())
            w2 = Window.partitionBy("host").orderBy(*self._order_cols())
            cand = (
                cand.withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(nsalt)))
                .withColumn("rn1", F.row_number().over(w1))
                .where(F.col("rn1") <= b)
                .withColumn("rn", F.row_number().over(w2))
                .where(F.col("rn") <= b)
                .drop("salt", "rn1", "rn")
            )

        limit = None
        if self._is_dfs():
            limit = 1  # sequential by definition (single stack pop)
        wave_budget = cfg.effective_wave_budget()
        if wave_budget is not None:
            limit = min(limit or wave_budget, wave_budget)
        remaining = cfg.max_docs - self.emitted_count
        limit = min(limit, remaining) if limit is not None else remaining
        # only pay the global TakeOrdered when a cap actually binds — an
        # unbounded wave needs no sort (processing order is restored from
        # order_key at emission time)
        if limit is not None and limit < self._pending_count:
            cand = cand.orderBy(*self._order_cols()).limit(int(limit))
        approx = self._pending_count
        if limit is not None:
            approx = min(approx, int(limit))
        return cand, max(approx, 1)

    # ------------------------------------------------------------------
    # one superstep
    # ------------------------------------------------------------------

    def step(self) -> StepStats | None:
        t0 = time.monotonic()
        cfg = self.config
        # --real-clock pacing: a superstep may not START sooner than
        # seconds_per_superstep after the previous one started, so one
        # logical tick ≈ one wall tick and crawl_delay_seconds /
        # failing_host_backoff_seconds become real-world politeness. A step
        # slower than the tick is never padded further (no double delay).
        if cfg.real_clock:
            now = self._clock()
            if self._last_step_start is not None:
                wait = self._last_step_start + cfg.seconds_per_superstep - now
                if wait > 0:
                    self._sleep(wait)
                    now = self._clock()
            self._last_step_start = now
        s = self.superstep + 1

        def _tick(label: str, since: list[float]) -> None:
            if cfg.debug_timing:
                now = time.monotonic()
                print(f"    [step {s}] {label}: {now - since[0]:.2f}s")
                since[0] = now

        tick = [t0]
        is_dfs = self._is_dfs()
        self._drop_step_checkpoints()  # left by a step that died mid-flight
        adds = self.store.read("frontier_add")
        if adds is None:
            return None
        pending = self._pending_view(adds)
        # BFS tracks the pending count exactly — empty frontier needs no job.
        # (DFS pending can hold only already-seen rediscoveries, so it must
        # probe with a real count.)
        if not is_dfs and self._pending_count == 0:
            return None

        wave, approx_rows = self._select_wave(pending)
        wave = self._checkpoint(wave)
        if is_dfs:
            wave_n = wave.count()
            if wave_n == 0:
                self._drop_step_checkpoints()
                return None
        else:
            wave_n = -1  # filled from the write-time observation below
        _tick("wave select", tick)

        # ---- gates at pop time (JCrawler.java:995-1003): accept re-check +
        # failing-host backoff (logical clock) ----
        backoff_steps = max(
            1, cfg.failing_host_backoff_seconds // max(1, cfg.seconds_per_superstep)
        )
        gated = accept_ops.with_accept_predicate(
            wave, "gate_accept", self.accept_set, cfg.depth
        )
        # reading the snapshot is lazy (metadata only); the broadcast gate
        # join is only paid once any host has actually errored
        host_state = self.store.read("host_state")
        if host_state is not None:
            # stores written before round 5 lack the Crawl-delay / Allow
            # columns: normalize so resume keeps working across the
            # schema addition
            if "crawl_delay_ms" not in host_state.columns:
                host_state = host_state.withColumn(
                    "crawl_delay_ms", F.lit(None).cast("int")
                )
            if "robots_allow" not in host_state.columns:
                host_state = host_state.withColumn(
                    "robots_allow",
                    F.lit(None).cast(T.ArrayType(T.StringType())),
                )
        if host_state is not None and self._any_host_errors:
            hs = F.broadcast(host_state.select("host", "last_error_superstep"))
            gated = gated.join(hs, "host", "left").withColumn(
                "gate_host",
                F.col("last_error_superstep").isNull()
                | (F.lit(s) - F.col("last_error_superstep") > F.lit(backoff_steps)),
            ).drop("last_error_superstep")
        else:
            gated = gated.withColumn("gate_host", F.lit(True))

        # robots enforcement (north rule, opt-in — the reference extracts
        # robots directives as links but never enforces them, README.md:208):
        # a URL matching one of its host's discovered Disallow prefixes is
        # consumed without fetching
        if cfg.enforce_robots and host_state is not None:
            hr = F.broadcast(
                host_state.where(F.col("robots_disallow").isNotNull()).select(
                    "host", "robots_disallow", "robots_allow"
                )
            )

            # RFC 9309 §2.2.2 precedence (round 5, VERDICT r4 #5): most
            # specific match wins, Allow wins ties — shared Column form,
            # oracle-pinned by the robots_precedence contract query
            gated = gated.join(hr, "host", "left").withColumn(
                "gate_robots",
                accept_ops.robots_allowed_col(
                    F.col("url"),
                    F.col("robots_disallow"),
                    F.col("robots_allow"),
                ),
            ).drop("robots_disallow", "robots_allow")
        else:
            gated = gated.withColumn("gate_robots", F.lit(True))

        gate_ok = (
            F.col("gate_accept") & F.col("gate_host") & F.col("gate_robots")
        )
        to_fetch = gated.where(gate_ok)
        skipped = gated.where(~gate_ok)

        # ---- fetch + extract in ONE pass (S8 + §2.3) ----
        # The fetch join and the extraction UDF run in the same job: html is
        # read exactly once, links land in a column, and only the html-free
        # projection (metadata + links array) is checkpointed. This halves
        # the corpus probes per superstep and makes the links column part
        # of the pages delta (S11 links.json memoization,
        # JCrawler.java:1379-1398).
        fetched_full = self.fetcher.fetch(to_fetch, approx_rows=approx_rows)
        extracted = extract.links_extractor_udf(
            include_crawl_delay=cfg.enforce_crawl_delay
        )("html", "url", "status", "content_type", "location")
        if "links" in fetched_full.columns and not cfg.recompute_links:
            # cache-backed fetcher (CachedFetcher): reuse memoized links for
            # hits; misses carry links=NULL and extract as usual. Hit rows
            # have html=NULL so the extraction UDF is a no-op on them.
            links_col = F.coalesce(F.col("links"), extracted)
        else:
            links_col = extracted
        fetched = self._checkpoint(
            fetched_full.withColumn("links", links_col).drop("html", "text")
        )

        # lineage leg: per-partition wave stats — its collect doubles as the
        # count action (rows are ≤ #partitions) and the union leg counts
        # gate-skipped rows in the SAME job, so wave_n = fetch_n + skipped_n
        # needs no extra job and no Observation (observed metrics through
        # the bucketed saveAsTable write proved unreliable after a resume).
        # In inline-rank mode the successor per-pid counts ride this SAME
        # collect (the `rank` kind below), so the whole superstep schedules
        # ONE read action — the round-5 driver-fixed-cost cut (VERDICT #2).
        lineage_leg = (
            fetched.select(
                F.spark_partition_id().alias("partition_id"),
                "error",
                F.lit(False).alias("was_skipped"),
            )
            .unionByName(
                skipped.select(
                    F.spark_partition_id().alias("partition_id"),
                    F.lit(None).cast("string").alias("error"),
                    F.lit(True).alias("was_skipped"),
                )
            )
            .groupBy("partition_id")
            .agg(
                F.count(F.when(~F.col("was_skipped"), 1)).alias("rows_in"),
                F.count(
                    F.when(~F.col("was_skipped") & F.col("error").isNull(), 1)
                ).alias("fetched"),
                F.count(F.when(F.col("error").isNotNull(), 1)).alias("errors"),
                F.count(F.when(F.col("was_skipped"), 1)).alias("skipped"),
            )
            .select(
                F.lit("lin").alias("kind"),
                F.col("partition_id").alias("key"),
                "rows_in", "fetched", "errors", "skipped",
            )
        )

        # one consolidated wave-result delta: every popped URL (fetched or
        # gate-skipped) — this IS the seen delta AND the emission record
        page_cols = [
            "url", "url_hash", "host", "depth", "is_resource", "is_redirect",
            "src_url", "order_key", "path_key",
            "status", "content_type", "location", "error", "links",
        ]
        pages_delta = (
            fetched.select(
                *page_cols, F.lit(False).alias("skipped"),
                F.lit(s).alias("superstep"),
            )
            .unionByName(
                skipped.select(
                    "url", "url_hash", "host", "depth", "is_resource",
                    "is_redirect", "src_url", "order_key", "path_key",
                    F.lit(None).cast("int").alias("status"),
                    F.lit(None).cast("string").alias("content_type"),
                    F.lit(None).cast("string").alias("location"),
                    F.lit(None).cast("string").alias("error"),
                    F.lit(None).cast(schemas.LINKS_ARRAY).alias("links"),
                    F.lit(True).alias("skipped"),
                    F.lit(s).alias("superstep"),
                )
            )
        )

        # rank-independent state writes: pages + seen_index depend only on
        # the checkpointed wave results.  Staged after the stats collect
        # below (fetched already stored); all staging jobs run concurrently
        # in the store pool either way.  Concurrent readers of seen_index are safe:
        # every committed read filters superstep <= last-committed, captured
        # at plan time, so rows staged at superstep s are stats-pruned.
        state_appends = {
            "pages": pages_delta,
            # slim key projection of the same delta — the bucketed seen
            # set the next supersteps anti-join against (and the
            # consumption log the pending view composes with)
            "seen_index": pages_delta.select("url_hash", "superstep"),
        }
        early_futs: list = []

        # ---- successor pipeline (JCrawler.java:1395-1450): errors → no
        # links (their links array is empty — null html extracts nothing).
        # Self-filter (F8) + per-page first-wins dedup (A1) already ran
        # inside the Arrow batch (JCrawler.java:1233-1238) — no shuffle:
        # the whole page's link list was local to the UDF call. ----
        links = fetched.where(F.col("error").isNull()).select(
            F.col("url").alias("src_url"),
            F.col("depth").alias("src_depth"),
            F.col("order_key").alias("src_order_key"),
            F.col("path_key").alias("src_path_key"),
            F.explode("links").alias("l"),
        ).select(
            "src_url",
            "src_depth",
            "src_order_key",
            "src_path_key",
            F.col("l.url").alias("url"),
            F.col("l.text").alias("text"),
            F.col("l.is_resource").alias("is_resource"),
            F.col("l.is_redirect").alias("is_redirect"),
            F.col("l.order_in_page").alias("order_in_page"),
        )
        # accept filter on successors (JCrawler.java:1239-1244) + F6 side-output
        links = accept_ops.with_accept(
            links.withColumn("depth", F.col("src_depth") + 1),
            self.accept_set,
            cfg.depth,
        )
        ignored = None
        # the ignored-domains aggregate, the robots-rules leg and the
        # crawl-delay leg re-traverse `links`; checkpoint once if any
        # second consumer exists
        if (
            cfg.track_ignored_domains
            or cfg.enforce_robots
            or cfg.enforce_crawl_delay
        ):
            links = self._checkpoint(links)
        ignored_leg = None
        if cfg.track_ignored_domains:
            ignored = (
                links.where(F.col("ignored_domain").isNotNull())
                .select(F.col("ignored_domain").alias("host"))
                .distinct()
            )
            # emptiness rides the stats collect below (kind='ign', one
            # global-count row over the checkpointed links): a superstep
            # whose accept set covers every link — the accept-everything
            # 10^10-frontier crawl shape — skips the ignored_domains write
            # job entirely instead of appending an empty delta
            ignored_leg = (
                links.where(F.col("ignored_domain").isNotNull())
                .groupBy()
                .agg(F.count(F.lit(1)).alias("rows_in"))
                .select(
                    F.lit("ign").alias("kind"),
                    F.lit(0).alias("key"),
                    "rows_in",
                    F.lit(0).cast("long").alias("fetched"),
                    F.lit(0).cast("long").alias("errors"),
                    F.lit(0).cast("long").alias("skipped"),
                )
            )

        accepted = links.where(F.col("accepted"))

        # ---- horizon dedup (T4/T5): wave-internal first-wins, then
        # anti-join vs the frontier adds, exact anti-join vs seen (behind
        # the opt-in Bloom/cuckoo prefilter).
        # DFS preorder skips the horizon gates: it dedups at visit time
        # (Guava preorder semantics), so rediscoveries stay pending.
        accepted = accepted.withColumn("url_hash", urlops.url_hash_col(F.col("url")))
        if is_dfs:
            seen_tbl = self._seen_hashes()
            cand = accepted
            if seen_tbl is not None:
                cand = cand.join(seen_tbl, "url_hash", "left_anti")
        else:
            w_wave = Window.partitionBy("url_hash").orderBy(
                "src_order_key", "order_in_page"
            )
            cand = (
                accepted.withColumn("rn", F.row_number().over(w_wave))
                .where(F.col("rn") == 1)
                .drop("rn")
            )
            # not already pending (horizonSet gate,
            # ParallelGraphTraverser.java:96-105); wave ⊆ seen this
            # superstep. It runs against every frontier ADD, not the
            # composed pending view: adds ⊆ pending ∪ seen and
            # pending ⊆ adds, and the seen anti-join below always follows,
            # so the result is the same with one join and one seen_index
            # scan fewer. Runs BEFORE the bloom split: here cand still
            # carries the window's hashpartitioning(url_hash), so with a
            # bucketed frontier this anti-join adds NO exchange at all —
            # after the fresh∪maybe union that partitioning would be lost.
            cand = cand.join(adds.select("url_hash"), "url_hash", "left_anti")
            seen_tbl = self._seen_hashes()
            if cfg.bloom_enabled and self._bloom is not None:
                pf = (
                    cuckoo_ops.prefilter_auto
                    if isinstance(self._bloom, cuckoo_ops.ShardedCuckoo)
                    else bloom_ops.prefilter_auto
                )
                cand = pf(self.spark, cand, self._bloom)
                maybe = cand.where(F.col("maybe_seen")).drop("maybe_seen")
                fresh = cand.where(~F.col("maybe_seen")).drop("maybe_seen")
                if seen_tbl is not None:
                    maybe = maybe.join(seen_tbl, "url_hash", "left_anti")
                cand = fresh.unionByName(maybe)
            else:
                if seen_tbl is not None:
                    cand = cand.join(seen_tbl, "url_hash", "left_anti")

        # ---- stats collect + deterministic rank → order_key for new rows.
        # Inline mode (wave ≤ rank_inline_max_wave): the successor per-pid
        # counts union into the lineage collect — ONE action yields the
        # wave stats AND the dense-rank offsets (pid is a monotone bucket
        # over the KNOWN src_order_key domain [0, order_counter), so no
        # sampling job), and the rank's shuffle runs inside the frontier
        # write job.  Sampled mode (huge waves / opt-out): the two-job
        # range-partitioned rank — its sampling also balances the rank
        # stage against out-degree skew the domain-uniform pid cannot see.
        inline = (
            cfg.rank_inline_max_wave is not None
            and approx_rows <= cfg.rank_inline_max_wave
        )
        sort_cols = ["src_order_key", "order_in_page", "url"]
        npart = self.spark.sparkContext.defaultParallelism
        if inline:
            cand = self._checkpoint(
                cand.withColumn(
                    "__pid",
                    rank_ops.pid_expr(
                        F.col("src_order_key"), npart, self.order_counter
                    ),
                )
            )
            counts_leg = (
                cand.groupBy("__pid")
                .agg(F.count(F.lit(1)).alias("rows_in"))
                .select(
                    F.lit("rank").alias("kind"),
                    F.col("__pid").alias("key"),
                    "rows_in",
                    F.lit(0).cast("long").alias("fetched"),
                    F.lit(0).cast("long").alias("errors"),
                    F.lit(0).cast("long").alias("skipped"),
                )
            )
            stats_src = lineage_leg.unionByName(counts_leg)
        else:
            stats_src = lineage_leg
        if ignored_leg is not None:
            stats_src = stats_src.unionByName(ignored_leg)
        stat_rows = stats_src.collect()
        lineage_rows = [r for r in stat_rows if r["kind"] == "lin"]
        fetch_n = sum(r["rows_in"] for r in lineage_rows)
        err_n = sum(r["errors"] for r in lineage_rows)
        skipped_n = sum(r["skipped"] for r in lineage_rows)
        ignored_n = sum(
            int(r["rows_in"]) for r in stat_rows if r["kind"] == "ign"
        )
        _tick("fetch+extract+stats", tick)

        if cfg.overlap_writes and not inline:
            # launch pages/seen staging before the sampled rank's driver
            # barrier (a real cluster's executors idle through it)
            early_futs = self.store.stage_async(s, appends=state_appends)

        new_rows = None
        if inline:
            offsets: dict[int, int] = {}
            new_n = 0
            for pid, c in sorted(
                (int(r["key"]), int(r["rows_in"]))
                for r in stat_rows
                if r["kind"] == "rank"
            ):
                offsets[pid] = new_n
                new_n += c
            if new_n > 0:
                ranked = rank_ops.rank_from_offsets(cand, sort_cols, offsets)
                new_rows = self._rank_select(ranked, s)
        else:
            new_rows, new_n = self._rank_new(cand, s)
            if new_n == 0:
                new_rows = None
        _tick("rank new frontier", tick)
        self.order_counter += new_n

        # ---- frontier delta (O(wave+new) per superstep, never O(frontier)):
        # the wave's hashes are CONSUMED, the ranked discoveries are ADDED;
        # the pending view is adds ∖ later-consumed (see _read_frontier).
        # Every Kth superstep the composed view compacts into one base so
        # the read plan stays bounded — at a 10^10-row frontier the full
        # rewrite this replaces would dominate every superstep. ----
        frontier_add = (
            new_rows.select(*[f.name for f in _PENDING.fields])
            if new_rows is not None
            else None  # nothing discovered: skip the append job entirely
        )
        compact = (
            cfg.frontier_compact_every is not None
            and s % cfg.frontier_compact_every == 0
        )
        if compact:
            # surviving rows are rewritten AT superstep s: a compacted add
            # provably has no consumption ≤ s, so `c_superstep >= s` keeps
            # the compose exact — and in the bucketed store, old delta
            # files (all rows < s) drop below the floor without a rewrite
            compacted = pending.join(
                wave.select("url_hash"), "url_hash", "left_anti"
            )
            if frontier_add is not None:
                compacted = compacted.unionByName(frontier_add)
            compacted = compacted.withColumn("superstep", F.lit(s))

        # ---- host_state update (logical clock) ----
        # Readers consult host_state only for: last_error (failing-host
        # gate — written whenever errors occur), last_fetch (crawl-delay —
        # only read when enforced), robots rules (only when enforced). A
        # default-config superstep with zero errors can skip the rewrite
        # entirely — the prior snapshot carries forward in the manifest.
        need_host_state = (
            cfg.enforce_crawl_delay or cfg.enforce_robots or err_n > 0
        )
        fetch_hosts = fetched.groupBy("host").agg(
            F.max(F.when(F.col("error").isNull(), F.lit(s))).alias(
                "last_fetch_superstep"
            ),
            F.max(F.when(F.col("error").isNotNull(), F.lit(s))).alias(
                "last_error_superstep"
            ),
        ).withColumn(
            "robots_disallow", F.lit(None).cast(T.ArrayType(T.StringType()))
        ).withColumn(
            "robots_allow", F.lit(None).cast(T.ArrayType(T.StringType()))
        ).withColumn("crawl_delay_ms", F.lit(None).cast("int"))
        prev_hs = host_state if host_state is not None else self.spark.createDataFrame(
            [], schema=self._host_state_schema()
        )
        legs = prev_hs.unionByName(fetch_hosts)
        if cfg.enforce_robots:
            # harvest newly discovered Disallow AND Allow rules
            # (robotsTxtExp links, JCrawler.java:362-365) for the host the
            # rule URL points at; Allow feeds RFC 9309 precedence in
            # gate_robots (collect_set drops the when()'s nulls).
            # Same-host provenance (round-5 review fix): a rule only
            # affects the host it names when it was DISCOVERED on a page
            # of that same host — otherwise any third-party page
            # containing "Allow: https://victim/…" text could weaken (or
            # "Disallow:" could censor) another host's enforcement.
            robot_rules = (
                links.where(F.col("text").isin("Disallow", "Allow"))
                .withColumn("host_rule", urlops.host_col(F.col("url")))
                .where(
                    F.col("host_rule").isNotNull()
                    & (F.col("host_rule") == urlops.host_col(F.col("src_url")))
                )
            )
            rules_leg = (
                robot_rules.groupBy(F.col("host_rule").alias("host"))
                .agg(
                    F.collect_set(
                        F.when(F.col("text") == "Disallow", F.col("url"))
                    ).alias("robots_disallow"),
                    F.collect_set(
                        F.when(F.col("text") == "Allow", F.col("url"))
                    ).alias("robots_allow"),
                )
                .select(
                    "host",
                    F.lit(None).cast("int").alias("last_fetch_superstep"),
                    F.lit(None).cast("int").alias("last_error_superstep"),
                    "robots_disallow",
                    "robots_allow",
                    F.lit(None).cast("int").alias("crawl_delay_ms"),
                )
            )
            legs = legs.unionByName(rules_leg)
        next_hs = legs.groupBy("host").agg(
            F.max("last_fetch_superstep").alias("last_fetch_superstep"),
            F.max("last_error_superstep").alias("last_error_superstep"),
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce("robots_disallow", F.array()))
                )
            ).alias("robots_disallow"),
            F.array_distinct(
                F.flatten(
                    F.collect_list(F.coalesce("robots_allow", F.array()))
                )
            ).alias("robots_allow"),
            F.max("crawl_delay_ms").alias("crawl_delay_ms"),
        )
        if cfg.enforce_crawl_delay:
            # harvest robots 'Crawl-delay: <seconds>' pseudo-links emitted by
            # the opt-in extractor (url 'crawl-delay:<v>', never accepted, so
            # they exist only for this leg); keyed by the DISCOVERING page's
            # host (the robots.txt's own host — same-host by construction).
            # Last observation wins (round-5 review fix): joined AFTER the
            # carry-forward aggregate so a host republishing a SMALLER
            # Crawl-delay takes effect — the previous max() ratchet made the
            # delay monotonically non-decreasing forever. Within one
            # superstep, max() of this wave's observations is conservative.
            delay_leg = (
                links.where(F.col("text") == "Crawl-delay")
                .withColumn("host_rule", urlops.host_col(F.col("src_url")))
                .where(F.col("host_rule").isNotNull())
                .groupBy(F.col("host_rule").alias("host"))
                .agg(
                    F.ceil(
                        F.max(
                            F.substring_index(F.col("url"), ":", -1)
                            .cast("double")
                        ) * 1000
                    ).cast("int").alias("crawl_delay_new")
                )
            )
            next_hs = (
                next_hs.join(delay_leg, "host", "left")
                .withColumn(
                    "crawl_delay_ms",
                    F.coalesce("crawl_delay_new", "crawl_delay_ms"),
                )
                .drop("crawl_delay_new")
            )

        # ---- update seen-prefilter with this wave's hashes (distributed) ----
        if cfg.bloom_enabled and self._bloom is not None:
            _tick("pre-bloom", tick)
            if isinstance(self._bloom, cuckoo_ops.ShardedCuckoo):
                for shard, fps, i1s in cuckoo_ops.build_shard_inserts(
                    wave.select("url_hash"),
                    self._bloom.n_shards,
                    self._bloom.n_buckets,
                ):
                    self._bloom.insert_batch(shard, fps, i1s)
            else:
                incs = bloom_ops.build_shard_increments(
                    wave.select("url_hash"),
                    self._bloom.n_shards,
                    self._bloom.m_bits,
                    self._bloom.k,
                )
                for shard, bitmap in incs:
                    self._bloom.merge_shard(shard, bitmap)
            # saturation check: grow a fresh 4x generation when the current
            # one crosses the fill threshold (loud, never silent; cuckoo
            # tables park overflow in the stash instead — also loud)
            self._bloom.maybe_grow()

        # ---- lineage from the already-collected per-partition rows:
        # written driver-side via pyarrow (stage_rows) — rows are ≤
        # #partitions and already local, so a Spark write job here was pure
        # fixed cost (round-5 cut, VERDICT #2) ----
        wall_ms = int((time.monotonic() - t0) * 1000)
        self.store.stage_rows(
            "lineage",
            [
                (
                    s, int(r["key"]), int(r["rows_in"]), int(new_n),
                    int(r["fetched"]), int(r["errors"]), wall_ms,
                )
                for r in lineage_rows
            ],
            schemas.LINEAGE,
            s,
        )

        # ---- atomic commit ----
        if err_n > 0:
            self._any_host_errors = True
        appends = {}
        if not early_futs:
            appends.update(state_appends)
        replaces = {}
        if compact:
            replaces["frontier_add"] = compacted
        elif frontier_add is not None:
            appends["frontier_add"] = frontier_add
        if ignored is not None and ignored_n > 0:
            appends["ignored_domains"] = ignored.withColumn("superstep", F.lit(s))
        late_futs = self.store.stage_async(
            s,
            appends,
            {"host_state": next_hs} if need_host_state else {},
            replaces=replaces,
        )
        # commit gate: EVERY staged write (the early pages/seen_index batch
        # launched before the rank, and this one) must land first
        for f in early_futs + late_futs:
            f.result()
        if wave_n < 0:
            wave_n = fetch_n + skipped_n  # both observed in the lineage job
        self.emitted_count += wave_n
        if self._bloom is not None:
            self.store.stage_blob("bloom", self._bloom.to_bytes(), s)
        if compact:
            self._last_compact = s
        self.store.commit(s, self._counters())
        _tick("writes+commit", tick)
        self.superstep = s

        if is_dfs:
            pending_left = self._read_frontier().count()
        else:
            # exact: wave ⊆ pending (by hash), new rows disjoint from pending
            pending_left = self._pending_count - wave_n + new_n
        self._pending_count = pending_left
        stats = StepStats(
            superstep=s,
            wave=wave_n,
            fetched=fetch_n,
            errors=err_n,
            links=-1,
            new_frontier=new_n,
            emitted_total=self.emitted_count,
            pending_left=pending_left,
            wall_ms=int((time.monotonic() - t0) * 1000),
        )
        self._drop_step_checkpoints()
        return stats

    def _checkpoint(self, df: DataFrame) -> DataFrame:
        """A lazy localCheckpoint of ``df`` that the superstep holds until
        its end: the first job that reads it stores its rows, and every
        later plan of the step starts from them instead of re-planning the
        frontier-read → fetch → extract lineage under it."""
        df = df.localCheckpoint(eager=False)
        self._ckpts.append(df)
        return df

    def _drop_step_checkpoints(self) -> None:
        drop_checkpoints(self._ckpts)
        self._ckpts = []

    def _read_frontier(self) -> DataFrame | None:
        adds = self.store.read("frontier_add")
        return None if adds is None else self._pending_view(adds)

    def _pending_view(self, adds: DataFrame) -> DataFrame:
        """The pending view over the frontier delta log: ``adds`` minus
        every add whose hash was consumed at-or-after its add superstep (so a
        requeue of a previously consumed hash — a LATER add — survives).

        The consumed set is the slim bucketed seen_index — the (url_hash,
        superstep) projection of every popped URL's pages row, written in
        the same superstep (older consumption is folded into the compacted
        base — an add surviving compaction provably has no seen_index row
        at or after its add superstep). Both sides of this anti-join are
        bucketed on url_hash, so the compose is shuffle-free; the
        incremental read touches only files at or after the floor."""
        consumed = self.store.read(
            "seen_index", min_superstep=self._last_compact + 1
        )
        if consumed is None:
            return adds
        c = consumed.select(
            F.col("url_hash").alias("c_hash"),
            F.col("superstep").alias("c_superstep"),
        )
        return adds.join(
            c,
            (adds["url_hash"] == c["c_hash"])
            & (c["c_superstep"] >= adds["superstep"]),
            "left_anti",
        )

    def _seen_hashes(self) -> DataFrame | None:
        """The visited-set hashes = every wave-result row ever committed —
        read from the bucketed slim seen_index (url_hash, superstep), so
        the anti-join scan never touches the pages payload and never
        re-shuffles the accumulated state."""
        df = self.store.read("seen_index")
        return None if df is None else df.select("url_hash")

    def requeue_expired(self, max_age_supersteps: int | None = None) -> int:
        """S10 cache-expiry re-fetch (JCrawler.forceDownload,
        JCrawler.java:762-788): URLs whose LATEST fetch happened more than
        `max_age_supersteps` logical steps ago move back to pending. The
        re-fetch appends a fresh pages row — the URL re-emits, exactly like
        the reference re-downloading an expired cache entry. Committed as a
        maintenance superstep (frontier snapshot only). Default age =
        config.cache_expiry_seconds on the logical clock (--expire)."""
        if max_age_supersteps is None:
            max_age_supersteps = self.config.cache_expiry_supersteps()
        s = self.superstep
        pages = self.store.read("pages")
        if pages is None:
            return 0
        pending = self._read_frontier()
        latest = pages.groupBy("url_hash").agg(F.max("superstep").alias("last_s"))
        expired = (
            pages.where(~F.col("skipped"))
            .join(latest, "url_hash")
            .where(F.col("superstep") == F.col("last_s"))
            .where(F.col("last_s") <= F.lit(s - max_age_supersteps))
        )
        if pending is not None:
            # skip URLs already queued; a fully-drained-and-compacted
            # frontier reads as None (no pending rows at all)
            expired = expired.join(
                pending.select("url_hash"), "url_hash", "left_anti"
            )
        rows = expired.select(
            "url",
            "url_hash",
            "host",
            F.col("depth").cast("int").alias("depth"),
            F.col("depth").cast("double").alias("priority"),
            "is_resource",
            "is_redirect",
            "src_url",
            F.lit(s + 1).alias("superstep"),
            "order_key",   # original discovery order keeps the re-crawl FIFO
            "path_key",
        )
        # a frontier_add delta at superstep s+1: being a LATER add than any
        # consumption of these hashes, the composed view resurrects them
        # (commit() carries forward all other tables from the prior manifest).
        # rows is read up to three times (write, count, cuckoo key build) —
        # persist so the pages-join lineage runs once.
        rows = rows.persist()
        self.store.stage_append("frontier_add", rows, s + 1)
        n = rows.count()
        if (
            self.config.bloom_enabled
            and isinstance(self._bloom, cuckoo_ops.ShardedCuckoo)
            and n > 0
        ):
            # the cuckoo prefilter can FORGET requeued URLs (the Bloom
            # can't): without this every expired-and-requeued URL stays
            # "maybe seen" forever and the prefilter's selectivity decays
            # across recrawl cycles. Same distributed key-material build
            # as insert; deletion of inserted-only keys keeps the
            # no-false-negative contract (operators/cuckoo.py docstring).
            for shard, fps, i1s in cuckoo_ops.build_shard_inserts(
                rows.select("url_hash"),
                self._bloom.n_shards,
                self._bloom.n_buckets,
            ):
                self._bloom.delete_batch(shard, fps, i1s)
            self.store.stage_blob("bloom", self._bloom.to_bytes(), s + 1)
        rows.unpersist()
        self._pending_count += n
        self.superstep = s + 1
        self.store.commit(s + 1, self._counters())
        return n

    def set_priority_scores(self, scores: DataFrame) -> None:
        """Authority-ordered scheduling (opt-in, beyond the reference's
        depth-FIFO): `scores` is a (url_hash, score) table — typically
        operators/graph.pagerank over a prior crawl's memoized link graph,
        keyed through url_hash — and newly discovered frontier rows take
        priority = -score, so the politeness wave selection (which orders
        by (priority, order_key)) fetches high-authority URLs first within
        every budget. Unscored URLs keep priority = depth (the BFS
        default), and when never called the pipeline is bit-identical to
        the oracle-pinned reference ordering. At 10^10-frontier scale pass
        a table bucketed on url_hash so the per-superstep lookup join is
        one-sided (wave-side shuffle only) — the same shape as the seen
        anti-join. url_hash must be unique per row (pagerank output is); a
        duplicate would fan out frontier rows in the lookup join and break
        exactly-once, so duplicates are reduced DETERMINISTICALLY here
        (max score wins — dropDuplicates would keep an arbitrary row,
        and since this plan re-evaluates every superstep, an arbitrary
        pick could differ across supersteps within one run)."""
        self._priority_scores = (
            scores.select(
                "url_hash", F.col("score").cast("double").alias("_prio_score")
            )
            .groupBy("url_hash")
            .agg(F.max("_prio_score").alias("_prio_score"))
        )

    def _rank_new(self, cand: DataFrame, s: int) -> tuple[DataFrame, int]:
        """Deterministic FIFO order_keys for newly discovered URLs by
        (parent order, in-page order): range-partitioned Arrow rank
        (operators/rank.py) — no single-partition window, no per-row
        Python, scales with executors."""
        ranked, total, ckpt = rank_ops.with_global_rank(
            cand, ["src_order_key", "order_in_page", "url"], out_col="rank"
        )
        self._ckpts.append(ckpt)
        return self._rank_select(ranked, s), total

    def _rank_select(self, ranked: DataFrame, s: int) -> DataFrame:
        """Shared projection from a ranked successor frame (rank = dense
        0..n-1 in FIFO order, from either the inline offset rank or the
        sampled range rank) to new frontier rows."""
        base = self.order_counter
        if self._priority_scores is not None:
            ranked = ranked.join(self._priority_scores, "url_hash", "left")
            priority = F.coalesce(
                -F.col("_prio_score"), F.col("depth").cast("double")
            )
        else:
            priority = F.col("depth").cast("double")
        df = ranked.select(
            "url",
            "url_hash",
            urlops.host_col(F.col("url")).alias("host"),
            F.col("depth").cast("int").alias("depth"),
            priority.alias("priority"),
            "is_resource",
            "is_redirect",
            "src_url",
            F.lit(s).alias("superstep"),
            (F.lit(base) + F.col("rank")).cast("long").alias("order_key"),
            # sibling order via in-page position (unique per parent after
            # the per-page dedup; monotone == dense, so DFS order is exact)
            F.concat(
                F.col("src_path_key"),
                F.lit("/"),
                F.format_string("%08x", F.col("order_in_page")),
            ).alias("path_key"),
        )
        return df

    # ------------------------------------------------------------------
    # run loop + outputs
    # ------------------------------------------------------------------

    def run(
        self, seeds: list[str] | None = None, max_supersteps: int | None = None
    ) -> list[StepStats]:
        if seeds is not None:
            self.seed(seeds)
        else:
            self.resume()
        stats: list[StepStats] = []
        while self.emitted_count < self.config.max_docs:
            if max_supersteps is not None and len(stats) >= max_supersteps:
                break
            st = self.step()
            if st is None:
                break
            stats.append(st)
        return stats

    def emitted(self) -> DataFrame:
        """The crawl emission in deterministic order (T8): the reference's
        visitedOrder queue as a table."""
        df = self.store.read("pages")
        if df is None:
            return self.spark.createDataFrame([], schema=schemas.EMITTED)
        if self.config.traversal == TraversalType.DEPTH_FIRST_PREORDER:
            # DFS pop order == global lexicographic path_key order (children
            # extend the parent's prefix, so they sort right after it)
            order = [F.col("path_key")]
        elif self.config.traversal == TraversalType.DEPTH_FIRST_POSTORDER:
            # append a sentinel > '/' and > hex digits: children ("p/xx…")
            # then sort BEFORE their parent ("p<sentinel>") — postorder
            order = [F.concat(F.col("path_key"), F.lit("\x7f"))]
        else:
            # wave processing order: supersteps in sequence, order_key within
            # a wave (budget-deferred rows re-emit later with their old key)
            order = [F.col("superstep"), F.col("order_key")]
        return df.orderBy(*order).limit(self.config.max_docs)

    def emitted_urls(self) -> list[str]:
        return [r["url"] for r in self.emitted().select("url").collect()]

    def visited_set(self) -> set[str]:
        return {r["url"] for r in self.emitted().select("url").collect()}

    def ignored_domains(self) -> list[str]:
        df = self.store.read("ignored_domains")
        if df is None:
            return []
        return [
            r["host"]
            for r in df.select("host").distinct().orderBy("host").collect()
        ]
