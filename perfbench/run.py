"""jcrawler-spark benchmark: one process runs one workload and prints one
JSON result line.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 20 --trace 0

Workloads (see README.md): ``crawl_deep`` (many small supersteps),
``crawl_wide`` (few large supersteps over ~12 KB pages) and ``analyze``
(the training-data queries of ``__spark_entry__.queries()``). The run's work
is fixed by ``--seconds`` alone, never by how fast it goes, so every run of a
workload does the same operations. ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones and writes the spans to
``.perfbench_runs/traces/``.
"""

from __future__ import annotations

import time

T_TOP = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")

# operations per run = max(min_ops, round(seconds / op_s)); op_s is the
# nominal cost of one operation on a 4-core host, so --seconds sizes the work
WORKLOADS = {
    "crawl_wide": {
        "kind": "crawl", "n_pages": 30_000, "page_bytes": 12_000,
        "n_seeds": 3_000, "wave": 4_000, "compact_every": 8,
        "op_s": 7.5, "min_ops": 3, "warmup": 1,
    },
    # not in BENCHMARK.json (run-time budget); kept for diagnosing the
    # per-superstep fixed cost, which is nearly all of its time
    "crawl_deep": {
        "kind": "crawl", "n_pages": 12_000, "page_bytes": 500,
        "n_seeds": 1_000, "wave": 1_500, "compact_every": 2,
        "op_s": 5.0, "min_ops": 3, "warmup": 1,
    },
    "analyze": {"kind": "analyze", "n_docs": 1_000, "op_s": 25.0, "min_ops": 1},
}

QUERIES = (
    "dedup_groups", "lsh_pairs", "gopher_filter", "c4_filter", "ccnet_bucket",
    "paragraph_dedup", "repetition_stats", "cross_dup_spans",
    "bfs_reachability", "pagerank",
)

STATE_TABLES = (
    "pages", "seen_index", "frontier_add", "lineage", "host_state",
    "ignored_domains", "bloom", "checkpoints",
)


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """An eighth of host memory, between 1 and 4 GB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(4096, total_kb // 8192))


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


# --- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc every 50 ms."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for p in process_tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._halt.wait(0.05):
            self.sample()

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.sample()
        return self.peak / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, then wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    tree = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in tree if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under path; data files exclude _SUCCESS and .crc."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(base, n))
            if not n.startswith(("_", ".")):
                files += 1
    return size, files


# --- workloads ---------------------------------------------------------------


def n_ops(w: dict, seconds: int) -> int:
    return max(w["min_ops"], round(seconds / w["op_s"]))


def run_crawl(spark, w: dict, seed: int, ops: int, run_dir: str, tracer, marks):
    from pyspark.sql import functions as F

    from jcrawler_spark import corpus
    from jcrawler_spark.config import CrawlConfig
    from jcrawler_spark.engine import CrawlEngine, SyntheticFetcher
    from jcrawler_spark.operators import extract
    from perfbench import checks, inputs

    n_pages = w["n_pages"]
    n_hosts = max(8, n_pages // 100)
    cores = host_cores()
    pages = inputs.build_corpus(spark, n_pages, n_hosts, w["page_bytes"], 2 * cores)
    pages.count()
    seed_ids = inputs.crawl_seed_ids(seed, n_pages, w["n_seeds"])
    seed_urls = [corpus.url_of(i, n_hosts) for i in seed_ids]
    marks["inputs"] = time.time()

    cfg = CrawlConfig(
        max_docs=1 << 40,
        max_connections=None,
        wave_budget=w["wave"],
        frontier_compact_every=w["compact_every"],
        # the state tables' bucket count follows the host, as the
        # shuffle partitions do (session.get_spark: 2 x cores)
        state_buckets=2 * cores,
    )
    state_root = os.path.join(run_dir, "state")
    eng = CrawlEngine(spark, cfg, SyntheticFetcher(pages), state_root)
    eng.seed(seed_urls)
    # every synthetic host shares the 'host*.example' prefix; external
    # links (externalN.example) stay outside the accept set
    eng.accept_set = ["https://host", "http://host"]
    # untimed warm-up supersteps: the first one also pays JIT compilation
    stats = [eng.step() for _ in range(w["warmup"])]
    marks["setup"] = time.time()

    op_s = []
    t0 = time.time()
    for _ in range(ops):
        a = time.time()
        st = eng.step()
        if st is None:
            break
        op_s.append(time.time() - a)
        stats.append(st)
    work_s = time.time() - t0

    out = checks.CrawlOutputs(
        rows=checks.read_pages(state_root),
        seed_urls=seed_urls,
        waves=[s.wave for s in stats],
        new_frontier=[s.new_frontier for s in stats],
        emitted=eng.emitted_count,
        pending_left=stats[-1].pending_left if stats else len(seed_urls),
        reachable=inputs.reachable_ids(seed_ids, n_pages),
        n_pages=n_pages,
        n_hosts=n_hosts,
    )
    fails = checks.run_crawl_checks(out)
    timed = stats[w["warmup"]:]
    if [s.wave for s in timed] != [w["wave"]] * ops:
        # every run must do the same work: ops full waves
        fails.append(f"timed waves {[s.wave for s in timed]} are not {ops} x {w['wave']}")
    result = {
        "attempted": ops,
        "failed": 0,
        "fails": fails,
        "work_s": work_s,
        "op_s": op_s,
        "emitted": eng.emitted_count,
        "stats": [vars(s) for s in timed],
        "supersteps": len(stats),
    }
    if tracer is None:
        return result

    # traced only: state make-up, resume, and the extract leg on its own
    result["state"] = {t: dir_bytes(os.path.join(state_root, t)) for t in STATE_TABLES}
    a = time.time()
    CrawlEngine(spark, cfg, SyntheticFetcher(pages), state_root).resume()
    result["resume_s"] = time.time() - a
    links = pages.select(
        F.explode(
            extract.extract_links_udf("html", "url", "status", "content_type", "location")
        ).alias("l")
    ).select("l.*")
    from pyspark.sql import Observation

    obs = Observation("links")
    a = time.time()
    links.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    result["extract_s"] = time.time() - a
    result["extract_links"] = obs.get["n"]
    result["n_pages"] = n_pages
    return result


def run_analyze(spark, w: dict, seed: int, ops: int, run_dir: str, tracer, marks):
    import __spark_entry__ as entry
    from perfbench import checks, inputs

    variant = inputs.doc_variant(seed)
    with open(os.path.join(os.path.dirname(__file__), "oracles.json")) as f:
        oracles = json.load(f)
    if oracles["n_docs"] != w["n_docs"]:
        raise SystemExit("oracles.json was made for another n_docs: run make_oracles.py")
    expect = oracles["variants"][str(variant)]
    docs_dir = os.path.join(run_dir, "docs")
    os.makedirs(docs_dir)
    inputs.write_documents(os.path.join(docs_dir, "documents.parquet"), variant, w["n_docs"])
    marks["inputs"] = time.time()
    spark.read.parquet(os.path.join(docs_dir, "documents.parquet")).count()
    marks["setup"] = time.time()

    fns = entry.queries()
    op_s, outputs, failed = [], [], 0
    t0 = time.time()
    for _ in range(ops):
        for q in QUERIES:
            a = time.time()
            try:
                df = fns[q](spark, docs_dir)
                pdf = df.toPandas()
            except Exception as e:  # counted, and the pass goes on
                print(f"perfbench: {q} failed: {e}", file=sys.stderr)
                failed += 1
                continue
            b = time.time()
            op_s.append(b - a)
            outputs.append((q, pdf))
            if tracer is not None:
                tracer.add(f"analyze.{q}", a, b, plan_s=plan_seconds(df))
    work_s = time.time() - t0

    fails = []
    for q, pdf in outputs:
        msg = checks.check_query(q, pdf, expect[q])
        if msg:
            fails.append(msg)
    for q, pdf in outputs[: len(QUERIES)]:
        fails.extend(checks.self_test_query(q, pdf, expect[q]))
    return {
        "attempted": ops * len(QUERIES),
        "failed": failed,
        "fails": fails,
        "work_s": work_s,
        "op_s": op_s,
    }


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of df's final plan, from its
    query planning tracker."""
    qe = df._jdf.queryExecution()
    conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    phases = conv.asJava(qe.tracker().phases())
    return sum(phases[k].durationMs() for k in phases) / 1000.0


# --- metrics -----------------------------------------------------------------


def end_to_end(res: dict, setup_s: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "work_s": {"value": res["work_s"], "unit": "s"},
        "op_p50_s": {"value": statistics.median(res["op_s"]), "unit": "s"},
    }


def per_layer(spark, kind: str, res: dict, tracer, marks: dict) -> dict:
    from perfbench.trace import SparkRecord

    rec = SparkRecord(spark)
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("setup.session_s", marks["session"] - marks["start"], "s")
    put("setup.inputs_s", marks["inputs"] - marks["session"], "s")
    put("setup.seed_s", marks["setup"] - marks["inputs"], "s")

    if kind == "crawl":
        ops = [s for s in tracer.named("engine.step") if s["t0"] >= marks["setup"]]
    else:
        ops = [s for s in tracer.spans if s["name"].startswith("analyze.")]
    n = max(1, len(ops))
    per_op = [rec.task_metrics(rec.jobs_in(s["t0"], s["t1"])) for s in ops]
    for key, name, unit in (
        ("cpu_s", "spark.task_cpu_s", "s"),
        ("run_s", "spark.task_run_s", "s"),
        ("tasks", "spark.tasks", "count"),
        ("shuffle_read", "spark.shuffle_read_bytes", "bytes"),
        ("shuffle_write", "spark.shuffle_write_bytes", "bytes"),
        ("spill", "spark.spill_bytes", "bytes"),
    ):
        put(name, sum(p[key] for p in per_op) / n, unit)

    crawl = kind == "crawl"
    steps = ops if crawl else []
    walls = [s["t1"] - s["t0"] for s in steps]
    put("engine.superstep_p50_s", statistics.median(walls) if walls else 0.0, "s")
    put("engine.superstep_max_s", max(walls) if walls else 0.0, "s")
    # last timed superstep / first timed one (warm, at the full wave budget)
    put("engine.superstep_growth", walls[-1] / walls[0] if walls else 0.0, "ratio")
    put("engine.jobs_per_superstep",
        sum(len(rec.jobs_in(s["t0"], s["t1"])) for s in steps) / n if crawl else 0, "count")
    put("engine.sql_executions_per_superstep",
        sum(rec.sql_in(s["t0"], s["t1"]) for s in steps) / n if crawl else 0, "count")
    put("engine.no_job_s",
        sum(rec.idle_s(s["t0"], s["t1"]) for s in steps) / n if crawl else 0.0, "s")
    put("engine.wave_urls",
        statistics.mean(s["wave"] for s in res["stats"]) if crawl else 0, "count")
    put("engine.urls_per_s",
        sum(s["wave"] for s in res["stats"]) / res["work_s"] if crawl else 0.0, "urls/s")

    # fetch join -> extract -> accept -> dedup all run in the one stats
    # collect of each superstep
    fetch_cpu = 0.0
    for s in steps:
        for c in tracer.named("collect"):
            if s["t0"] <= c["t0"] <= s["t1"]:
                fetch_cpu += rec.task_metrics(rec.jobs_in(c["t0"], c["t1"]))["cpu_s"]
    put("fetch.task_cpu_s", fetch_cpu / n if crawl else 0.0, "s")
    put("extract.pages_per_s", res["n_pages"] / res["extract_s"] if crawl else 0.0, "pages/s")
    put("extract.links", res["extract_links"] if crawl else 0, "count")

    stage = tracer.named("tableio.stage_async")
    commit = tracer.named("tableio.commit")
    in_steps = lambda spans: [  # noqa: E731
        x for x in spans if any(s["t0"] <= x["t0"] <= s["t1"] for s in steps)
    ]
    put("tableio.stage_s", sum(x["t1"] - x["t0"] for x in in_steps(stage)) / n if crawl else 0.0, "s")
    put("tableio.commit_s", sum(x["t1"] - x["t0"] for x in in_steps(commit)) / n if crawl else 0.0, "s")
    state = res.get("state", {})
    total = sum(b for b, _f in state.values())
    put("tableio.files_per_superstep",
        sum(f for _b, f in state.values()) / res["supersteps"] if crawl else 0.0, "count")
    for t in STATE_TABLES:
        put(f"tableio.bytes.{t}", state.get(t, (0, 0))[0], "bytes")
    put("tableio.state_bytes_per_url", total / res["emitted"] if crawl else 0.0, "bytes/url")
    put("tableio.resume_s", res.get("resume_s", 0.0), "s")

    for q in QUERIES:
        spans = tracer.named(f"analyze.{q}")
        k = max(1, len(spans))
        plan = sum(s["plan_s"] for s in spans) / k
        wall = sum(s["t1"] - s["t0"] for s in spans) / k
        jobs = sum(len(rec.jobs_in(s["t0"], s["t1"])) for s in spans) / k
        put(f"analyze.{q}.plan_s", plan, "s")
        put(f"analyze.{q}.exec_s", wall - plan if spans else 0.0, "s")
        put(f"analyze.{q}.jobs", jobs, "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def install_tracer():
    from pyspark.sql.classic.dataframe import DataFrame

    from jcrawler_spark.engine import CrawlEngine, SyntheticFetcher
    from jcrawler_spark.plans.tableio import SnapshotStore
    from perfbench.trace import Tracer

    tracer = Tracer()
    tracer.wrap(CrawlEngine, "seed", "engine.seed")
    tracer.wrap(
        CrawlEngine, "step", "engine.step",
        on_result=lambda span, st: span.update(wave=st.wave if st else 0),
    )
    tracer.wrap(CrawlEngine, "resume", "engine.resume")
    tracer.wrap_futures(SnapshotStore, "stage_async", "tableio.stage_async")
    tracer.wrap(SnapshotStore, "commit", "tableio.commit")
    tracer.wrap(SyntheticFetcher, "fetch", "fetcher.fetch")
    tracer.wrap(DataFrame, "collect", "collect")
    return tracer


# --- main --------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "jcrawler_spark")):
        print(f"perfbench: no jcrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    w = WORKLOADS[args.workload]
    ops = n_ops(w, args.seconds)

    # everything the run writes stays inside the checkout
    run_dir = os.path.join(RUNS, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JCRAWLER_DRIVER_MEM"] = f"{driver_mem_mb()}m"
    # every JVM started from here (launcher and driver) writes its temp
    # files in the run directory and no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    # the process's age when this module started running
    start_offset = seconds_since_process_start() - (time.time() - T_TOP)
    rss = None
    if args.trace:
        rss = RssSampler()
        rss.start()
    marks = {"start": T_TOP - start_offset}
    from jcrawler_spark.session import get_spark

    tracer = install_tracer() if args.trace else None
    cores = host_cores()
    spark = get_spark(
        f"local[{cores}]",
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    marks["session"] = time.time()
    try:
        runner = run_crawl if w["kind"] == "crawl" else run_analyze
        res = runner(spark, w, args.seed, ops, run_dir, tracer, marks)
        setup_s = start_offset + (marks["setup"] - T_TOP)
        e2e = end_to_end(res, setup_s)
        metrics = e2e
        stamp = loadavg()
        if tracer is not None:
            metrics = per_layer(spark, w["kind"], res, tracer, marks)
            metrics["process.peak_rss_mb"] = {"value": rss.stop(), "unit": "MB"}
            os.makedirs(os.path.join(RUNS, "traces"), exist_ok=True)
            path = os.path.join(RUNS, "traces", f"{args.workload}-s{args.seed}.json")
            with open(path, "w") as f:
                json.dump(
                    {"workload": args.workload, "seed": args.seed, "loadavg": stamp,
                     "end_to_end": e2e, "per_layer": metrics,
                     "spans": tracer.spans}, f, indent=1, default=str,
                )
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for msg in res["fails"]:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print("perfbench: op seconds " + " ".join(f"{x:.2f}" for x in res["op_s"]), file=sys.stderr)
    if "stats" in res:
        print("perfbench: waves " + " ".join(str(s["wave"]) for s in res["stats"]), file=sys.stderr)
    print(f"perfbench: loadavg {stamp}", file=sys.stderr)
    print(json.dumps({
        "correct": not res["fails"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
