"""Snapshot-committed table state — the Iceberg-shaped checkpoint layer.

The reference's resumability contract is its disk cache: "visited can be
always detected from stored content (cache); horizon can be always recomputed
from stored content" (/root/reference/README.md:199-201). The north rule maps
this to Iceberg snapshots: every superstep commits pages+frontier+seen+lineage
atomically, and a crawl resumes exactly from any committed superstep.

No Iceberg runtime jar exists in this sandbox (SURVEY.md §7.1), so this module
implements the same contract on plain parquet with an explicit commit log —
structurally what Iceberg does (data files + manifest + atomic snapshot
pointer):

    root/
      checkpoints/ckpt-00000003.json   # atomic commit marker (tmp+rename);
                                       # lists every data file of superstep 3
      frontier/delta-00000003-<uuid>.parquet/   # appended per superstep
      seen/delta-.../  pages/delta-.../  emitted/delta-.../  lineage/delta-...
      host_state/snap-00000003.parquet/         # small table, full rewrite
      bloom/shard-00000003.npz                  # Bloom bitmap sidecar

Crash safety: data written first, marker renamed last; readers only see files
listed in committed markers, so a crash mid-superstep leaves orphan files that
are ignored (and reclaimed by `vacuum`). On a real cluster swap this class for
`plans/iceberg.py::IcebergSnapshotStore` — the SAME API on real Iceberg
tables (`append` → table append snapshot, bucketing → `bucket(nb, url_hash)`
partition transform, `read` → VERSION AS OF the marker's recorded snapshot
ids), gated on the runtime jar and contract-tested in tests/test_iceberg.py.
(MERGE key url_hash; cf. the `.index/<sha256>` symlink uniqueness in the
reference, JCrawler.java:1005-1010.)
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

APPEND_TABLES = (
    "pages", "seen_index", "lineage", "ignored_domains", "frontier_add",
    "frontier_consumed",
)
SNAP_TABLES = ("host_state", "frontier")


class SnapshotStore:
    """``bucketed`` maps append-table name → bucket count: those tables are
    kept as catalog parquet tables CLUSTERED BY (url_hash) — the sandbox
    analogue of an Iceberg ``bucket(N, url_hash)`` partition transform. A
    join/anti-join against such a table on url_hash shuffles ONLY the other
    side (the wave); the accumulated crawl state is never re-shuffled
    (north rule; VERDICT r2 #1). Snapshot isolation for bucketed tables is
    the ``superstep`` column: readers filter ``superstep <= committed``
    (parquet file-stats prune whole files — every delta file is
    single-superstep), so staged or crash-orphan files are invisible, and
    compaction rewrites rows AT the compaction superstep so dead files fall
    below the recorded ``floor``. The bucketing spec is recorded in the
    manifest, so a reader store needs no constructor hints."""

    def __init__(
        self,
        root: str,
        spark: SparkSession,
        bucketed: dict[str, int] | None = None,
        bucket_key: str = "url_hash",
        compression: str = "snappy",
        bucketed_scan_min_bytes: int = 64 << 20,
    ):
        self.root = os.path.abspath(root)
        self.spark = spark
        self.bucket_key = bucket_key
        self.compression = compression
        # below this on-disk size, read() serves a bucketed table as a
        # PLAIN parquet read of the same files: Spark then sees true file
        # sizes and broadcasts the state side of joins (instant at small
        # state), instead of paying the catalog/SMJ machinery whose payoff
        # — never re-shuffling the state — only exists once the state is
        # too big to broadcast. Writes are always bucket-valid, so the
        # crossover needs no rewrite: the read path just switches.
        self.bucketed_scan_min_bytes = bucketed_scan_min_bytes
        os.makedirs(os.path.join(root, "checkpoints"), exist_ok=True)
        self._staged: dict[str, list[str]] = {}
        self._staged_replace: set[str] = set()
        # table -> list of (superstep, [new data files], replace)
        self._staged_bucketed: dict[str, list[tuple[int, list[str], bool]]] = {}
        self._lock = threading.Lock()
        # one pool for the store's lifetime: stage_async futures must
        # outlive the submitting call (a per-call context-managed pool
        # would join them immediately and lose the overlap)
        self._stage_pool = ThreadPoolExecutor(
            max_workers=8, thread_name_prefix="stage"
        )
        # tables with an unfinished stage_async write (same-table overlap
        # would corrupt the bucketed before/after file attribution), and
        # the live futures themselves (drained before orphan reclamation)
        self._inflight_tables: set[str] = set()
        self._inflight_futs: set = set()
        self._bucketed: dict[str, dict] = {
            t: {"nb": nb} for t, nb in (bucketed or {}).items()
        }
        last = self.last_superstep()
        if last is not None:
            m = self._manifest(last)
            # committed spec is authoritative (readers self-configure)
            for t, spec in m.get("bucketed", {}).items():
                self._bucketed[t] = {
                    k: spec[k] for k in ("nb", "ddl", "cols", "floor")
                }
            # A table this store wants bucketed but whose manifest still
            # carries PLAIN append files (written by an earlier store with
            # bucketing off, or mixed during such a transition) would have
            # those rows silently shadowed after the first bucketed commit
            # (read() prefers the bucketed entry). Migrate them into the
            # bucketed table now, once, and re-commit the manifest.
            legacy = [
                t for t in self._bucketed if m["appends"].get(t)
            ]
            if legacy:
                self._migrate_plain_to_bucketed(legacy, last, m)
        elif self._bucketed:
            # fresh store on a possibly-reused root: drop stale catalog
            # entries and data dirs so old files can't shadow the new crawl
            for t in self._bucketed:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self._catalog_name(t)}"
                )
                d = os.path.join(self.root, t)
                if os.path.isdir(d):
                    shutil.rmtree(d)

    # ---- bucketed catalog tables ----

    def _catalog_name(self, table: str) -> str:
        tag = hashlib.md5(self.root.encode()).hexdigest()[:12]
        return f"jc_state_{tag}_{table}"

    def is_bucketed(self, table: str) -> bool:
        return table in self._bucketed

    def _register_bucketed(self, table: str) -> str:
        """Ensure the catalog entry exists (idempotent; rebuilt after a
        session restart — the in-memory catalog does not persist)."""
        spec = self._bucketed[table]
        name = self._catalog_name(table)
        if not self.spark.catalog.tableExists(name):
            self.spark.sql(
                f"CREATE TABLE {name} ({spec['ddl']}) USING parquet "
                f"CLUSTERED BY ({self.bucket_key}) "
                f"SORTED BY ({self.bucket_key}) INTO {spec['nb']} BUCKETS "
                f"LOCATION '{os.path.join(self.root, table)}'"
            )
        return name

    def _list_data_files(self, table: str) -> set[str]:
        d = os.path.join(self.root, table)
        if not os.path.isdir(d):
            return set()
        return {
            os.path.join(table, f)
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")
        }

    def _stage_append_bucketed(
        self, table: str, df: DataFrame, superstep: int, replace: bool
    ) -> None:
        spec = self._bucketed[table]
        if "ddl" not in spec:
            spec["ddl"] = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in df.schema.fields
            )
            spec["cols"] = list(df.columns)
            spec.setdefault("floor", 0)
        name = self._register_bucketed(table)
        before = self._list_data_files(table)
        (
            df.repartition(spec["nb"], self.bucket_key)
            .write.mode("append")
            .format("parquet")
            .option("path", os.path.join(self.root, table))
            .option("compression", self.compression)
            .bucketBy(spec["nb"], self.bucket_key)
            .sortBy(self.bucket_key)
            .saveAsTable(name)
        )
        new = sorted(self._list_data_files(table) - before)
        with self._lock:
            self._staged_bucketed.setdefault(table, []).append(
                (superstep, new, replace)
            )

    def _migrate_plain_to_bucketed(
        self, tables: list[str], last: int, manifest: dict
    ) -> None:
        """One-time upgrade: rewrite a table's plain delta files into its
        bucketed form and re-commit the latest manifest without the plain
        entries (their files become vacuum-able orphans). Rows keep their
        own ``superstep`` values — snapshot filters stay correct."""
        for t in tables:
            rels = manifest["appends"][t]
            df = self.spark.read.parquet(
                *[os.path.join(self.root, r) for r in rels]
            )
            self._stage_append_bucketed(t, df, last, replace=False)
        self.commit(last, counters=manifest.get("counters") or None)

    # ---- commit log ----

    def _ckpt_path(self, superstep: int) -> str:
        return os.path.join(self.root, "checkpoints", f"ckpt-{superstep:08d}.json")

    def committed_supersteps(self) -> list[int]:
        d = os.path.join(self.root, "checkpoints")
        out = []
        for f in os.listdir(d):
            if f.startswith("ckpt-") and f.endswith(".json"):
                out.append(int(f[len("ckpt-") : -len(".json")]))
        return sorted(out)

    def last_superstep(self) -> int | None:
        ss = self.committed_supersteps()
        return ss[-1] if ss else None

    def _manifest(self, superstep: int) -> dict:
        with open(self._ckpt_path(superstep)) as f:
            return json.load(f)

    # ---- writes (staged until commit) ----

    def stage_append(
        self, table: str, df: DataFrame, superstep: int, replace: bool = False
    ) -> None:
        """Write a delta file set for `table`; visible only after commit.
        `replace=True` makes this superstep's files REPLACE the table's
        whole accumulated file list at commit (delta compaction — Iceberg's
        rewrite-data-files): prior files become vacuum-able orphans."""
        if table in self._bucketed:
            self._stage_append_bucketed(table, df, superstep, replace)
            return
        rel = os.path.join(table, f"delta-{superstep:08d}-{uuid.uuid4().hex[:8]}.parquet")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        with self._lock:
            self._staged.setdefault(table, []).append(rel)
            if replace:
                self._staged_replace.add(table)

    def stage_rows(
        self, table: str, rows: list[tuple], schema, superstep: int
    ) -> None:
        """Stage a tiny driver-resident delta (e.g. per-partition lineage:
        <= #partitions rows, already collected) WITHOUT a Spark job — the
        rows are written as one parquet file via pyarrow on the driver
        (~ms), then committed/rolled back exactly like a stage_append delta.
        Cutting the per-superstep createDataFrame→write job is part of the
        round-5 driver-fixed-cost reduction (VERDICT r4 #2). `schema` is the
        Spark StructType the table's Spark-written deltas use; types are
        mapped exactly so readers see one homogeneous schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        _PA = {
            "int": pa.int32(), "bigint": pa.int64(), "double": pa.float64(),
            "string": pa.string(), "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us", tz="UTC"),
        }
        pa_schema = pa.schema(
            [
                pa.field(f.name, _PA[f.dataType.simpleString()], f.nullable)
                for f in schema.fields
            ]
        )
        cols = [
            pa.array([r[i] for r in rows], type=pa_schema.field(i).type)
            for i in range(len(pa_schema))
        ]
        rel = os.path.join(
            table, f"delta-{superstep:08d}-{uuid.uuid4().hex[:8]}.parquet"
        )
        path = os.path.join(self.root, rel)
        os.makedirs(path, exist_ok=True)  # directory form, like df.write
        pq.write_table(
            pa.Table.from_arrays(cols, schema=pa_schema),
            os.path.join(path, "part-00000.parquet"),
            compression=self.compression,
        )
        with self._lock:
            self._staged.setdefault(table, []).append(rel)

    def stage_snapshot(self, table: str, df: DataFrame, superstep: int) -> None:
        """Full-rewrite table (small dimension state, e.g. host_state)."""
        rel = os.path.join(table, f"snap-{superstep:08d}.parquet")
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        with self._lock:
            self._staged.setdefault(table, []).append(rel)

    def stage_blob(self, name: str, payload: bytes, superstep: int) -> str:
        """Binary sidecar (Bloom shards). Returns the relative path."""
        rel = os.path.join("bloom", f"{name}-{superstep:08d}.bin")
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.replace(tmp, path)
        with self._lock:
            self._staged.setdefault("__blobs__", []).append(rel)
        return rel

    def stage_async(self, superstep: int,
                    appends: dict[str, DataFrame] | None = None,
                    snapshots: dict[str, DataFrame] | None = None,
                    replaces: dict[str, DataFrame] | None = None) -> list:
        """Launch table-staging writes WITHOUT blocking and return their
        futures — the caller overlaps driver-side work (e.g. the frontier
        rank's sampling+counts jobs) with these independent Spark jobs and
        waits on the futures before commit(). Safe against concurrent
        readers of the same tables: every committed-snapshot read filters
        `superstep <= last_committed`, so rows staged here (all at the
        in-flight superstep) are stats-pruned even if a racing scan lists
        the new files — the same invariant that makes crash orphans
        invisible. Visibility still gated by the single commit(). If the
        caller aborts before waiting, in-flight writes finish in the
        background as uncommitted orphans — identical to crash semantics;
        resume()/sync_bucketed reclaims them.

        NOT safe: two outstanding stagings of the SAME table — the bucketed
        path attributes new data files by a before/after directory diff, so
        overlapping same-table writes would cross-attribute files. Guarded:
        raises if the table already has an unfinished staged write."""
        def _guarded(fn, t, *a):
            try:
                return fn(t, *a)
            finally:
                with self._lock:
                    self._inflight_tables.discard(t)

        work = (
            [(self.stage_append, t, (df, superstep))
             for t, df in (appends or {}).items()]
            + [(self.stage_snapshot, t, (df, superstep))
               for t, df in (snapshots or {}).items()]
            + [(self.stage_append, t, (df, superstep, True))
               for t, df in (replaces or {}).items()]
        )
        with self._lock:
            clash = {t for _, t, _ in work} & self._inflight_tables
            if clash:
                raise RuntimeError(
                    f"stage_async: table(s) {sorted(clash)} already have an "
                    "in-flight staged write; wait on its future first"
                )
            self._inflight_tables.update(t for _, t, _ in work)
        futs = [
            self._stage_pool.submit(_guarded, fn, t, *a) for fn, t, a in work
        ]
        with self._lock:
            self._inflight_futs.update(futs)
        for f in futs:
            f.add_done_callback(self._discard_fut)
        return futs

    def _discard_fut(self, f) -> None:
        with self._lock:
            self._inflight_futs.discard(f)

    def drain_inflight(self) -> None:
        """Block until every stage_async write has finished (errors
        swallowed — the caller is about to reconcile state from committed
        manifests anyway). Called before orphan reclamation so a deletion
        sweep never races a still-writing staging thread."""
        with self._lock:
            futs = list(self._inflight_futs)
        for f in futs:
            try:
                f.result()
            except Exception:
                pass

    def stage_all(self, superstep: int, appends: dict[str, DataFrame],
                  snapshots: dict[str, DataFrame],
                  replaces: dict[str, DataFrame] | None = None) -> None:
        """Stage several table writes CONCURRENTLY (independent Spark jobs
        share the cluster; serial staging leaves executors idle between
        small writes), blocking until all land. Visibility still gated by
        the single commit(). `replaces` entries compact: their files
        replace the table's whole accumulated list."""
        for f in self.stage_async(superstep, appends, snapshots, replaces):
            f.result()

    def commit(self, superstep: int, counters: dict | None = None) -> None:
        """Atomic superstep commit: carry forward the previous manifest's
        file lists, add this superstep's staged files, rename marker last."""
        prev = self.last_superstep()
        base: dict[str, list[str]] = {}
        snaps: dict[str, str] = {}
        blobs: list[str] = []
        bucketed_m: dict[str, dict] = {}
        if prev is not None:
            m = self._manifest(prev)
            base = {t: list(fs) for t, fs in m["appends"].items()}
            snaps = dict(m["snapshots"])
            blobs = list(m.get("blobs", []))
            bucketed_m = {
                t: dict(spec, files=dict(spec.get("files", {})))
                for t, spec in m.get("bucketed", {}).items()
            }
        for t, rels in self._staged.items():
            if t == "__blobs__":
                blobs = rels  # latest blob set replaces (bloom is cumulative bits)
            elif t in SNAP_TABLES:
                snaps[t] = rels[-1]
            elif t in self._staged_replace:
                base[t] = list(rels)  # compaction: replace the file list
            else:
                base.setdefault(t, []).extend(rels)
        for t, entries in self._staged_bucketed.items():
            # a bucketed table never also serves plain delta files; any such
            # entry is pre-migration legacy whose rows were just rewritten
            # by _migrate_plain_to_bucketed — drop it (files → orphans)
            base.pop(t, None)
            spec = self._bucketed[t]
            cur = bucketed_m.get(
                t,
                {
                    "nb": spec["nb"], "ddl": spec["ddl"],
                    "cols": spec["cols"], "floor": spec.get("floor", 0),
                    "files": {},
                },
            )
            for s, rels, replace in entries:
                if replace:
                    # compaction: rows were rewritten AT superstep s, so
                    # older files (all rows < s) fall below the floor —
                    # physically present until vacuum, logically invisible
                    cur["floor"] = s
                    cur["files"] = {
                        r: fs for r, fs in cur["files"].items() if fs >= s
                    }
                for r in rels:
                    cur["files"][r] = s
            bucketed_m[t] = cur
            spec["floor"] = cur["floor"]
        manifest = {
            "superstep": superstep,
            "appends": base,
            "snapshots": snaps,
            "blobs": blobs,
            "bucketed": bucketed_m,
            "counters": counters or {},
        }
        tmp = self._ckpt_path(superstep) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._ckpt_path(superstep))
        self._staged = {}
        self._staged_replace = set()
        self._staged_bucketed = {}

    # ---- reads (snapshot-as-of) ----

    def read(
        self,
        table: str,
        as_of: int | None = None,
        min_superstep: int | None = None,
    ) -> DataFrame | None:
        """Read a table at a committed superstep (default: latest).
        `min_superstep` skips delta file sets written before that superstep
        (the superstep is part of the delta file name) — Iceberg
        incremental-read: callers that only need recent deltas never touch
        the old files' metadata or data."""
        s = as_of if as_of is not None else self.last_superstep()
        if s is None:
            return None
        m = self._manifest(s)
        bm = m.get("bucketed", {}).get(table)
        if bm is not None:
            return self._read_bucketed(table, bm, s, min_superstep)
        if table in SNAP_TABLES:
            rel = m["snapshots"].get(table)
            if rel is None:
                return None
            return self.spark.read.parquet(os.path.join(self.root, rel))
        rels = m["appends"].get(table, [])
        if min_superstep is not None:
            rels = [
                r for r in rels
                if int(os.path.basename(r).split("-")[1]) >= min_superstep
            ]
        if not rels:
            return None
        return self.spark.read.parquet(*[os.path.join(self.root, r) for r in rels])

    def _read_bucketed(
        self, table: str, bm: dict, s: int, min_superstep: int | None
    ) -> DataFrame | None:
        if not bm["files"]:
            return None
        if table not in self._bucketed:  # reader store without hints
            self._bucketed[table] = {
                k: bm[k] for k in ("nb", "ddl", "cols", "floor")
            }
        on_disk = 0
        for r in bm["files"]:
            try:
                on_disk += os.path.getsize(os.path.join(self.root, r))
            except OSError:
                pass
        if (
            s == self.last_superstep()
            and on_disk >= self.bucketed_scan_min_bytes
        ):
            # bucketed catalog scan: outputPartitioning =
            # HashPartitioning(url_hash, nb) — joins against it shuffle only
            # the other side. The superstep filters are file-stats prunes.
            name = self._register_bucketed(table)
            df = self.spark.table(name).where(F.col("superstep") <= F.lit(s))
        else:
            # small state (broadcast beats bucket co-location) or time
            # travel: exact committed file list, plain parquet read
            # (bucketing metadata is lost, correctness is not). The
            # manifest's schema is given, so no job reads parquet footers
            # to infer it.
            df = self.spark.read.schema(bm["ddl"]).parquet(
                *[os.path.join(self.root, r) for r in bm["files"]]
            )
        lo = max(bm.get("floor", 0), min_superstep or 0)
        if lo > 0:
            df = df.where(F.col("superstep") >= F.lit(lo))
        return df.select(*bm["cols"])

    def sync_bucketed(self) -> int:
        """Delete bucketed-table data files not referenced by ANY committed
        manifest — crash orphans from a half-written superstep, which would
        otherwise become visible duplicates when that superstep is retried.
        Called on resume/rollback; returns files removed."""
        if not self._bucketed:
            return 0
        self.drain_inflight()
        referenced: set[str] = set()
        for s in self.committed_supersteps():
            for spec in self._manifest(s).get("bucketed", {}).values():
                referenced.update(spec.get("files", {}))
        removed = 0
        for t in self._bucketed:
            for rel in self._list_data_files(t) - referenced:
                os.remove(os.path.join(self.root, rel))
                removed += 1
            name = self._catalog_name(t)
            if self.spark.catalog.tableExists(name):
                self.spark.catalog.refreshTable(name)
        return removed

    def read_blob(self, as_of: int | None = None) -> bytes | None:
        s = as_of if as_of is not None else self.last_superstep()
        if s is None:
            return None
        m = self._manifest(s)
        blobs = m.get("blobs", [])
        if not blobs:
            return None
        with open(os.path.join(self.root, blobs[-1]), "rb") as f:
            return f.read()

    def counters(self, as_of: int | None = None) -> dict:
        s = as_of if as_of is not None else self.last_superstep()
        if s is None:
            return {}
        return self._manifest(s).get("counters", {})

    def rollback_to(self, superstep: int) -> None:
        """Drop commit markers newer than `superstep` (data files become
        orphans, reclaimed by vacuum) — Iceberg rollback-to-snapshot.
        Bucketed orphans are removed HERE, not lazily: a retried superstep
        re-appends rows with the same ``superstep`` value, and the catalog
        scan lists whatever files are in the directory — rolled-back files
        left behind would resurface as visible duplicates."""
        self.drain_inflight()
        for s in self.committed_supersteps():
            if s > superstep:
                os.remove(self._ckpt_path(s))
        # restore the in-memory floor to the rolled-back-to manifest's
        if os.path.exists(self._ckpt_path(superstep)):
            for t, spec in self._manifest(superstep).get("bucketed", {}).items():
                if t in self._bucketed:
                    self._bucketed[t]["floor"] = spec.get("floor", 0)
        self.sync_bucketed()

    def vacuum(self) -> int:
        """Delete data files not referenced by any committed manifest."""
        self.drain_inflight()
        referenced: set[str] = set()
        for s in self.committed_supersteps():
            m = self._manifest(s)
            for fs in m["appends"].values():
                referenced.update(fs)
            referenced.update(m["snapshots"].values())
            referenced.update(m.get("blobs", []))
            for spec in m.get("bucketed", {}).values():
                referenced.update(spec.get("files", {}))
        removed = 0
        for table in (*APPEND_TABLES, *SNAP_TABLES, "bloom"):
            d = os.path.join(self.root, table)
            if not os.path.isdir(d):
                continue
            for f in os.listdir(d):
                rel = os.path.join(table, f)
                if rel in referenced or f.endswith(".tmp"):
                    continue
                if table in self._bucketed and not f.endswith(".parquet"):
                    continue  # keep _SUCCESS/.crc sidecars of bucketed dirs
                full = os.path.join(self.root, rel)
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    os.remove(full)
                removed += 1
        for t in self._bucketed:
            name = self._catalog_name(t)
            if self.spark.catalog.tableExists(name):
                self.spark.catalog.refreshTable(name)
        return removed
