"""Benchmark of the morph-xr2rml-spark engine.

    python3 perfbench/run.py --workload kg_docs --seed 1 --seconds 12 --trace 0

Run from the repository root.  Generates the input tables from the seed,
computes the DuckDB oracles, sets the Spark session up several times
(each set-up: session start, source registration, mapping parse and the
warm-up operations), runs untimed a first pass of what the warm-up
leaves out, then runs the workload as a closed loop with one client for
``--seconds``, checking every output against its oracle.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a separate traced run.  ``--smoke`` runs every workload once
on a tiny input and checks it.  See perfbench/README.md for what each
metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
LOCAL_DIR = os.path.join(WORK, f"spark-local-{os.getpid()}")

SETUPS = 3                 # set-ups per run; setup_s is their median
# twice the cores it was tuned on: with one task per core, a task slowed
# by another process on a shared host held up the whole stage
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
TRACE_REPS = 3             # repetitions of each traced layer measurement
SMOKE_SF = 0.001


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# -- environment -------------------------------------------------------------------

def prepare_environment() -> None:
    """Make the package importable here and in every Python worker, and
    keep temporary files inside the work directory.  Fails loudly when the
    package is not in this checkout."""
    pkg = os.path.join(ROOT, "morph_xr2rml_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: package not found at {pkg}; "
                         "run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def build_session(run_dir: str, event_log: str | None = None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder
         .master(f"local[{len(os.sched_getaffinity(0))}]")
         .appName("perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tempfile.gettempdir()} "
                 # a fixed heap and young generation keep the peak RSS
                 # from following the collector's adaptive resizing
                 f"-XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn384m")
         .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
         # a fixed partition count: coalescing would make the plan, the
         # file count and the timings follow small changes in the data
         .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
         # the JVM keeps its first local dir for every later context
         .config("spark.local.dir", LOCAL_DIR)
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
              .config("spark.eventLog.dir", event_log)
              .config("spark.eventLog.compress", "false"))
    else:
        b = b.config("spark.eventLog.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def check_worker_import(spark) -> None:
    """A Python worker must import the package from this checkout."""
    def probe(_):
        import morph_xr2rml_spark
        yield os.path.dirname(os.path.dirname(morph_xr2rml_spark.__file__))
    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    if os.path.realpath(got[0]) != os.path.realpath(ROOT):
        raise RuntimeError(f"Python workers import morph_xr2rml_spark from "
                           f"{got[0]}, not {ROOT}")


def stop_jvm() -> None:
    """Stop the gateway JVM and wait until it (and the Python workers it
    started) have exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Driver JVM VmHWM plus this Python process's peak RSS.  The input
    and the oracles are made in a child process (``Runner.prepare``), so
    the Python figure is the driver's, not the benchmark's."""
    from pyspark import SparkContext
    jvm_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def host_probe() -> dict:
    """Load and a single-thread spin calibration: labels only."""
    t0 = time.perf_counter()
    s = 0
    for i in range(4_000_000):
        s += i
    return {"loadavg": list(os.getloadavg()),
            "spin_ms": (time.perf_counter() - t0) * 1000.0}


# -- one run -----------------------------------------------------------------------

class Runner:
    def __init__(self, workload, run_dir: str, seed: int):
        from tracing import Tracer
        self.wl = workload
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.st = None
        self.tr = Tracer(enabled=False)
        self.probed = False
        self.check_s = 0.0
        self._outs = 0

    def new_dir(self) -> str:
        self._outs += 1
        return os.path.join(self.run_dir, "out", f"{self._outs:05d}")

    def prepare(self) -> None:
        """Generate the input and compute the oracle in a forked child, so
        neither shows in this process's peak RSS; the fork shares Python's
        string-hash seed, so the child's digests match this process's."""
        from concurrent.futures import ProcessPoolExecutor
        from datagen import sizes
        from workloads import sparql_mix
        if hasattr(self.wl, "mix"):
            self.wl.mix = sparql_mix(self.seed, sizes(self.wl.sf)["orders"])
        with ProcessPoolExecutor(
                1, mp_context=multiprocessing.get_context("fork")) as pool:
            self.want = pool.submit(_make_input, self.wl, self.data_dir,
                                    self.seed).result()

    def session(self, event_log=None) -> None:
        self.close()
        self.spark = build_session(self.run_dir, event_log)
        self.st = self.wl.register(self.spark, self.data_dir)

    def op(self, key):
        """One timed operation plus its check; returns (seconds, OpResult)."""
        from workloads import OpResult
        out = self.new_dir()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.span("op", new_trace=True):
                result = self.wl.run_op(self.st, key, out, self.tr)
            dt = time.perf_counter() - t0
            t1 = time.perf_counter()
            res = self.wl.check(self.st, key, result, out, self.want)
            self.check_s += time.perf_counter() - t1
        except Exception:
            dt = time.perf_counter() - t0
            res = OpResult(False, 0, 0, traceback.format_exc(limit=4))
        shutil.rmtree(out, ignore_errors=True)
        if not res.ok:
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{getattr(key, 'name', key)}: {res.error}")
        return dt, res

    def setup(self, event_log=None) -> float:
        """Session start, source registration, mapping parse and the
        warm-up operations; returns its seconds.  Only the operations
        themselves count, not their oracle checks or output removal.  The
        worker-import probe runs once per run, untimed."""
        t0 = time.perf_counter()
        self.session(event_log)
        elapsed = time.perf_counter() - t0
        if not self.probed:
            check_worker_import(self.spark)
            self.probed = True
        for key in self.wl.warm_up():
            elapsed += self.op(key)[0]
        log(f"{self.wl.name}: set-up {elapsed:.2f}s")
        return elapsed

    def first_pass(self) -> float:
        """Run, untimed and checked, the workload's first pass: what the
        set-ups do not warm, so that the timed loop pays no operation's
        first runs in the JVM; returns its seconds, a label."""
        t0 = time.perf_counter()
        for key in self.wl.first_pass():
            self.op(key)
        return time.perf_counter() - t0

    def loop(self, seconds: float, min_rounds: int = 1) -> list:
        """Closed loop, one client: whole rounds until ``seconds`` pass."""
        samples = []
        t_end = time.perf_counter() + seconds
        rounds = 0
        while rounds < min_rounds or time.perf_counter() < t_end:
            for key in self.wl.round():
                samples.append(self.op(key))
            rounds += 1
        return samples

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def _make_input(wl, data_dir: str, seed: int):
    """Write the workload's input under ``data_dir``; return its oracle."""
    from datagen import generate
    from oracles import Oracle
    generate(data_dir, wl.sf, seed)
    orc = Oracle(data_dir)
    try:
        return wl.oracle(orc)
    finally:
        orc.close()


def end_to_end(r: Runner, seconds: float,
               setups: int = SETUPS) -> tuple[dict, dict]:
    setups = [r.setup() for _ in range(setups)]
    first_pass = r.first_pass()
    k = len(r.wl.round())
    samples = r.loop(seconds, min_rounds=2)
    rss = peak_rss_mb()
    r.close()
    ok = [(dt, res) for dt, res in samples if res.ok] or samples
    lat = [dt for dt, _ in ok]
    items = sum(res.items for _, res in ok)
    nbytes = sum(res.nbytes for _, res in ok)
    # a mix's percentiles are over each query's median round, so that one
    # slow execution (a GC pause, a busy core) does not set the tail
    dist = [statistics.median(dt for dt, _ in samples[i::k])
            for i in range(k)] if k > 1 else lat
    p50 = statistics.median(dist)
    p90 = statistics.quantiles(dist, n=10, method="inclusive")[8] \
        if len(dist) > 1 else dist[0]
    if r.wl.name.startswith("kg_"):
        # every operation writes the same triples: median throughput
        triples_per_s = ok[0][1].items / p50
    else:
        triples_per_s = items / sum(lat)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "triples_per_s": (triples_per_s, "1/s"),
        "kg_bytes_per_triple": (nbytes / max(items, 1), "B"),
        "query_ms_p50": (p50 * 1000.0, "ms"),
        "query_ms_p90": (p90 * 1000.0, "ms"),
        "queries_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    n = len(dist)
    labels = {"samples": n, "setups_s": setups, "first_pass_s": first_pass,
              "latencies_s": lat,
              # the highest percentile with at least 10 samples beyond it
              "p_supported": max(0.0, 1.0 - 10.0 / n) if n else 0.0,
              "items_per_op": ok[0][1].items}
    return metrics, labels


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(r: Runner) -> tuple[dict, dict]:
    """Untraced baseline, then the traced session: the main operation
    with its layer spans, the workload's layer decomposition, and the
    event log read back after the session stops."""
    from tracing import Tracer, read_event_log
    wl = r.wl
    # the untraced baseline runs about as warm as the traced operations
    # will: after the set-up and the first pass
    r.setup()
    r.first_pass()
    reps = TRACE_REPS if len(wl.round()) == 1 else 1
    base = r.loop(0.0, min_rounds=reps)
    base_lat = _median([dt for dt, _ in base])

    log_dir = os.path.join(r.run_dir, "eventlog")
    r.setup(event_log=log_dir)
    # spans and job tags start after the warm-up
    r.tr = Tracer(spark=r.spark, enabled=True)
    parse_ms = []
    for _ in range(5):
        t0 = time.perf_counter()
        wl.parse_mapping()
        parse_ms.append((time.perf_counter() - t0) * 1000.0)
    main = r.loop(0.0, min_rounds=reps)
    extra = wl.trace_layers(r.st, r.tr, TRACE_REPS, r.new_dir)
    r.close()
    ev = read_event_log(log_dir)
    tr = r.tr
    tr.write(os.path.join(WORK, "spans", f"{wl.name}-seed{r.seed}.json"))

    n_main = len(main)
    main_lat = _median([dt for dt, _ in main])
    results = sum(res.items for _, res in main)

    def med(span: str) -> float:
        """Median span seconds; 0 for a layer the workload never calls."""
        return _median(tr.durations(span))

    def ev_sum(key: str, *tags: str) -> float:
        return sum(ev.get(t, {}).get(key, 0.0) for t in tags)

    def per_op(key: str) -> float:
        """Per timed operation, over the jobs of its layer spans."""
        return ev_sum(key, *wl.main_spans) / max(n_main, 1)

    translate = wl.translate_span
    m = {"model.parse_ms": (_median(parse_ms), "ms"),
         "api.plan_ms": ((med("api.plan") or med("rewrite.plan")) * 1000.0,
                         "ms"),
         "native_json.translate_s": (med("native_json.translate"), "s"),
         "native.translate_s": (med("native.translate"), "s"),
         "native.join_shuffle_bytes": (
             ev_sum("shuffle_write", "native.translate") / TRACE_REPS, "B"),
         "engine.dedup_s": (med("engine.dedup_full") - med(translate), "s"),
         "engine.dedup_shuffle_bytes": (
             (ev_sum("shuffle_write", "engine.dedup_full")
              - ev_sum("shuffle_write", translate)) / TRACE_REPS, "B"),
         "engine.dedup_kept_ratio": (
             extra["rows_out"] / max(extra["rows_in"], 1), "ratio"),
         "engine.dedup_spill_bytes": (
             ev_sum("disk_spill", "engine.dedup_full") / TRACE_REPS, "B")}
    # the Arrow/Python tier: per ResumableMaterializer.run, the timed
    # operation of kg_docs_resumable and a layer run of kg_docs
    n_res = len(tr.durations("sink.resumable_run"))
    py_s = ev_sum("python_ms", "sink.resumable_run") / 1000.0 / n_res \
        if n_res else 0.0
    m["engine.python_run_s"] = (py_s, "s")
    m["engine.python_bytes_sent"] = (
        ev_sum("python_sent", "sink.resumable_run") / n_res
        if n_res else 0.0, "B")
    m["translate.triples_per_python_s"] = (
        extra["rows_out"] / py_s if py_s > 0 else 0.0, "1/s")
    m["sink.write_s"] = (main_lat - med("engine.dedup_full")
                         if tr.durations("sink.write") else 0.0, "s")
    m["sink.resumable_run_s"] = (med("sink.resumable_run"), "s")
    m["lineage.metrics_s"] = (
        med("sink.resumable_run") - med("sink.no_lineage"), "s")
    for name in ("sparql.parse", "rewrite.plan", "sparql.exec",
                 "sparql.serialize"):
        m[name + "_ms"] = (med(name) * 1000.0, "ms")
    queries = tr.counts["queries"]
    m["rewrite.exchanges_per_query"] = (
        tr.counts["exchanges"] / queries if queries else 0.0, "count")
    m["rewrite.rows_read_per_result"] = (
        ev_sum("records_read", "rewrite.plan", "sparql.exec")
        / max(results, 1) if queries else 0.0, "ratio")
    m["aggpush.hit_ratio"] = (
        extra.get("agg_hits", 0) / extra["aggs"] if extra.get("aggs")
        else 0.0, "ratio")
    m["spark.gc_s"] = (per_op("gc_ms") / 1000.0, "s")
    m["spark.fetch_wait_s"] = (per_op("fetch_wait_ms") / 1000.0, "s")
    run_ms = per_op("run_ms")
    m["spark.task_cpu_ratio"] = (
        per_op("cpu_ns") / 1e6 / run_ms if run_ms else 0.0, "ratio")
    m["trace.overhead_ratio"] = (
        main_lat / base_lat - 1.0 if base_lat else 0.0, "ratio")
    labels = {"baseline_median_s": base_lat, "traced_median_s": main_lat,
              "traced_ops": n_main, "spans": len(tr.spans),
              # Python worker time of the timed operation itself
              "main_python_s": per_op("python_ms") / 1000.0}
    return m, labels


# -- entry points ------------------------------------------------------------------

def run_one(name: str, seed: int, seconds: float, trace: bool,
            sf: float | None = None, setups: int = SETUPS) -> dict:
    from workloads import WORKLOADS
    wl = WORKLOADS[name]()
    if sf is not None:
        wl.sf = sf
    run_dir = os.path.join(WORK, f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    r = Runner(wl, run_dir, seed)
    try:
        before = host_probe()
        r.prepare()
        log(f"{name}: input and oracle ready")
        metrics, labels = (per_layer(r) if trace
                           else end_to_end(r, seconds, setups))
        labels.update(workload=name, seed=seed, sf=wl.sf, check_s=r.check_s,
                      host_before=before,
                      host_after=host_probe(), errors=r.errors)
    finally:
        r.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"{name}: done")
    print(json.dumps({"labels": labels}), flush=True)
    return {"correct": r.failed == 0 and r.attempted > 0,
            "attempted": r.attempted, "failed": r.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


# workloads.py imports the package, so its names are repeated here for
# the argument parser, which runs before the package check
WORKLOAD_NAMES = ("kg_docs", "kg_docs_resumable", "kg_tables",
                  "sparql_rewrite")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on a tiny input")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    prepare_environment()
    try:
        if args.smoke:
            results = [run_one(name, args.seed, 0.0, False, sf=SMOKE_SF,
                               setups=1)
                       for name in WORKLOAD_NAMES]
            result = {
                "correct": all(r["correct"] for r in results),
                "attempted": sum(r["attempted"] for r in results),
                "failed": sum(r["failed"] for r in results),
                "metrics": {f"{n}.{k}": v
                            for n, r in zip(WORKLOAD_NAMES, results)
                            for k, v in r["metrics"].items()}}
        else:
            result = run_one(args.workload, args.seed, args.seconds,
                             bool(args.trace))
    finally:
        stop_jvm()
        shutil.rmtree(LOCAL_DIR, ignore_errors=True)
        log("JVM stopped")
    print(json.dumps(result))
    return 0 if result["correct"] or not args.smoke else 1


if __name__ == "__main__":
    sys.exit(main())
