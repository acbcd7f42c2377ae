"""Engine benchmark: two workloads, each loading different layers.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_cold --seed 1 --seconds 15 --trace 0

Workloads (one client, closed loop, ``local[nproc]``, star tables at sf0.1):

- ``sql_cold``: registered ``sql``/``tpch`` queries, session memos and the
  CacheManager cleared before every op. The fixed per-query floor (table
  loads, schema inference, plan build) dominates; memos and iteration do
  nothing.
- ``graph_session``: registered graph/similarity queries in one session.
  Memos are cleared only at the start of each pass, which opens with the
  query that builds the ER clusters (eager connected-component rounds);
  later consumers hit the memo. Each pass ends with one pipeline refresh:
  ``Pipeline.run`` over two REST sources served by an in-process seeded
  transport into production tables that persist, so every timed load is a
  truncate-and-load. The refresh is the only op that writes; it touches no
  star tables and no memos (it clears the session's memos as it returns,
  which is where the pass ends anyway).

One op is one registered query, timed from the call of its plan function
until ``.write.format("noop")`` returns, or one ``Pipeline.run``.

A run first has the star tables and the oracle digests written by
``stardata.py`` in a separate process (once per checkout). Then the
engine's set-up is timed once, cold, as ``setup_s``: session up (JVM
launch), the query registry imported, one warm-up op done. One untimed
pass runs every op once and checks its output: each query's result
against the digest of its DuckDB oracle, the refresh's tables against the
generator's in-AOI counts and expected names. That pass also lets the JIT
and Spark's code generator compile each op's code: the first execution of
a query in a JVM is two to three times slower than the next. (The second
is still up to a tenth slower than the third. A second untimed pass would
remove that, but it would add a sixth to the run time.) The timed loop then runs whole passes, in an
order drawn from the seed: at least ``MIN_PASSES``, and more while another
still fits in ``--seconds``. The floor keeps the op mix of a run the same
whatever the timing noise.
``live_mem_mb`` is the highest resident size of the Python driver, sampled
every 50 ms during the timed loop, plus the JVM heap still in use after
full collections at its end: the memory that memos, caches and driver-side
state hold. The JVM's resident size itself is not reported; with a fixed
workload it still moved by a third from run to run, with when the
collector grew the heap.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics of ``tracing.py``. A line before it
labels the run (workload, seed, core counts, per-op latencies, failures,
and the share of CPU time the hypervisor took from this VM while timing).
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_ROOT = os.path.join(HERE, ".data")
MB = 1 << 20

REFRESH = "pipeline_refresh"
# The five queries of the 39 tagged sql or tpch that lie nearest the
# family's medians of build time, build jobs and latency, as measured by
# ``survey.py --workload sql_cold`` (figures in CHANGES.md).
SQL_COLD = (
    "sql_equidepth_value_deciles",
    "sql_monthly_revenue_ma3",
    "sql_conditional_agg_filter",
    "sql_entropy_event_types",
    "sql_keep_first_per_key",
)
# From one traced pass over the 50 queries tagged graph, iterative, dedup or
# similarity (``survey.py --workload graph_session``): of the iterative
# queries whose build takes under 3.5 s, entity_resolution_customers runs
# the most jobs before its plan exists (24), and er_precision_recall reads
# the clusters it memoizes; pagerank, hits and textrank take 8.5-9.8 s
# each. ann_cosine_topk is the cheapest caller of operators.similarity.
# The first op opens every pass and the refresh closes it; the seed orders
# the ops between. With the ER-cluster build on a random op, the median
# would move with the seed.
GRAPH_SESSION = (
    "entity_resolution_customers",
    "er_precision_recall",
    "ann_cosine_topk",
    REFRESH,
)
WORKLOADS = {
    "sql_cold": {"ops": SQL_COLD, "fixed_head": 0, "fixed_tail": 0,
                 "warmup": "q22_idle_balance_by_country", "clear": "op"},
    "graph_session": {"ops": GRAPH_SESSION, "fixed_head": 1, "fixed_tail": 1,
                      "warmup": "dedup_exact_hash", "clear": "pass"},
}
MIN_PASSES = 2  # timed passes per run, at the least
TAIL_PCT = 90  # op_tail_s percentile; a run has too few ops for ten beyond it
PROD_DB = "prod"
# the engine's driver-heap knob (its default is 8g): the benchmark stays
# small on a host whose memory it shares
DRIVER_MEM = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark process: set-up, check pass, timed loop, metrics."""

    def __init__(self, args):
        self.args = args
        self.spec = WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.nproc = _nproc()
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.spark = None
        self.tracer = None
        self.setup_s = 0.0
        self.check_s = 0.0
        self.loop_s = 0.0
        self.driver_rss_mb = 0.0
        self.live_heap_mb = 0.0
        self.steal_share = 0.0
        self.lat: list[float] = []
        self.op_names: list[str] = []
        self.failures: list[dict] = []
        self.failed_ops: set[int] = set()
        self.layer_ops: list = []
        self.storage: list[float] = []
        self.passes = 0
        self.input_bytes = 0
        self.requests = self.pages = 0
        self.digests: dict[str, dict] = {}
        self.check_failures: dict[str, str] = {}
        order = list(self.spec["ops"])
        head, tail = self.spec["fixed_head"], len(order) - self.spec["fixed_tail"]
        middle = order[head:tail]
        random.Random(args.seed).shuffle(middle)
        self.order = order[:head] + middle + order[tail:]
        self.layers = None
        if REFRESH in order:
            self.layers = pipeline_inputs.make_inputs(args.seed)
            self.transport = pipeline_inputs.SeededTransport(self.layers)

    # ---------------------------------------------------------- set-up
    def _session(self):
        from etl_pipeline_spark.session import get_spark

        local = os.path.join(self.work, "local")
        os.makedirs(local, exist_ok=True)
        self.warehouse = os.path.join(self.work, "warehouse")
        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cpus=self.nproc,
            extra_conf={
                "spark.sql.warehouse.dir": self.warehouse,
                "spark.local.dir": local,
                # keep the JVM's temp files in the checkout, and its perf-data
                # file out of /tmp
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Session up, engine modules imported, warm-up op done; timed
        once, cold, as ``setup_s``."""
        t0 = time.perf_counter()
        self.spark = self._session()
        from etl_pipeline_spark.pipeline import Pipeline, PipelineConfig
        from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded
        from etl_pipeline_spark.sources.registry import SourceConfig
        from etl_pipeline_spark.utils.session_cache import clear_caches

        _ensure_loaded()
        self.registry, self.clear_caches = REGISTRY, clear_caches
        self.Pipeline, self.PipelineConfig = Pipeline, PipelineConfig
        self.sources = [
            SourceConfig(name=name, authority=auth, type="rest_api",
                         url=pipeline_inputs.service_url(i))
            for i, (name, auth, _) in enumerate(pipeline_inputs.SOURCES)
        ]
        self._clear()
        df = self.registry[self.spec["warmup"]].spark_fn(self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()
        self._clear()
        self.setup_s = time.perf_counter() - t0

    def check_cores(self) -> None:
        dp = self.spark.sparkContext.defaultParallelism
        if dp != self.nproc:
            sys.exit(f"refusing to run: defaultParallelism {dp} != nproc {self.nproc}")
        self.default_parallelism = dp

    def _clear(self) -> None:
        self.clear_caches(self.spark)
        self.spark.catalog.clearCache()

    def queries(self) -> list[str]:
        return [n for n in self.order if n != REFRESH]

    # ----------------------------------------------------- check pass
    def untimed_pass(self) -> None:
        """Run every op once without timing it; keep each query's output
        for ``check_outputs`` and record the refresh's errors."""
        import stardata  # numpy and pyarrow: the engine has them loaded by now

        if self.spec["clear"] == "pass":
            self._clear()
        for name in self.order:
            try:
                if name == REFRESH:
                    _, summary = self._refresh("check")
                    if summary.errors():
                        self.check_failures[name] = f"RunSummary errors: {summary.errors()}"
                    continue
                if self.spec["clear"] == "op":
                    self._clear()
                df = self.registry[name].spark_fn(self.spark, self.data_dir)
                self.digests[name] = stardata.canonical_digest(df.toPandas())
            except Exception as exc:  # counted against every op of that name
                self.check_failures[name] = f"{type(exc).__name__}: {exc}"

    def check_outputs(self) -> None:
        """Compare each query's output with its oracle digest; an op whose
        output failed here counts as failed."""
        import stardata

        expected = stardata.expected_digests(DATA_ROOT, self.queries())
        for name, want in expected.items():
            got = self.digests.get(name)
            if got is not None and got != want:
                self.check_failures[name] = f"output {got} != oracle {want}"

    # ------------------------------------------------------- timed ops
    def _refresh(self, op_id: str):
        """One ``Pipeline.run`` into a fresh landing zone; returns its
        latency and RunSummary. The landing zone is measured and removed
        after the timer stops."""
        landing = os.path.join(self.work, "landing-" + op_id.replace(":", "-"))
        cfg = self.PipelineConfig(
            landing_dir=landing, production_db=PROD_DB,
            aoi_bbox=pipeline_inputs.AOI, target_epsg=3006,
        )
        pipe = self.Pipeline(self.spark, cfg, transport=self.transport)
        t = time.perf_counter()
        summary = pipe.run(self.sources)
        dt = time.perf_counter() - t
        self.input_bytes += _dir_bytes(landing)
        shutil.rmtree(landing, ignore_errors=True)
        return dt, summary

    def _query(self, name: str) -> float:
        fn = self.registry[name].spark_fn
        if self.tracer is None:
            t = time.perf_counter()
            fn(self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("plans.build", "build"):
            df = fn(self.spark, self.data_dir)
        with self.tracer.span("spark.sink", "sink"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def _op(self, i: int, name: str) -> None:
        if name != REFRESH and self.spec["clear"] == "op":
            self._clear()
        op_id = f"{i}:{name}"

        def run():
            return self._refresh(op_id) if name == REFRESH else (self._query(name), None)

        if self.tracer is None:
            dt, summary = run()
        else:
            first = len(self.tracer.spans)
            with self.tracer.op_span(op_id, "op"):
                dt, summary = run()
            self.layer_ops.append(tracing.reduce_op(self.tracer, first))
            self.storage.append(self.tracer.storage_mb())
        self.lat.append(dt)
        if summary is not None and summary.errors():
            self._fail(i, name, f"RunSummary errors: {summary.errors()}")

    def timed_loop(self) -> None:
        # start every run from collected heaps, whatever the passes before left
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        sampler = RssSampler(os.getpid())
        steal0 = _cpu_times()
        sampler.start()
        start = time.perf_counter()
        try:
            while True:
                t_pass = time.perf_counter()
                if self.spec["clear"] == "pass":
                    self._clear()
                for name in self.order:
                    i = len(self.op_names)
                    self.op_names.append(name)
                    try:
                        self._op(i, name)
                    except Exception as exc:  # one failing op must not end the run
                        self._fail(i, name, f"{type(exc).__name__}: {exc}")
                self.passes += 1
                now = time.perf_counter()
                if (self.passes >= MIN_PASSES
                        and now - start + (now - t_pass) > self.args.seconds):
                    break
        finally:
            self.loop_s = time.perf_counter() - start
            sampler.finish()
        self.driver_rss_mb = sampler.peak_kb / 1024.0
        self.live_heap_mb = self._live_heap_mb()
        steal1 = _cpu_times()
        total = sum(steal1) - sum(steal0)
        self.steal_share = (steal1[7] - steal0[7]) / total if total else 0.0

    def _live_heap_mb(self) -> float:
        """JVM heap in use after full collections. Spark's ContextCleaner
        drops the blocks of collected broadcasts, shuffles and RDDs on its
        own thread after a collection, so collect again until the figure
        stops falling."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        self.heap_gc_mb = []
        for _ in range(6):
            jvm.System.gc()
            time.sleep(0.2)
            self.heap_gc_mb.append((rt.totalMemory() - rt.freeMemory()) / MB)
            if len(self.heap_gc_mb) > 1 and self.heap_gc_mb[-2] - self.heap_gc_mb[-1] < 1.0:
                break
        return self.heap_gc_mb[-1]

    def _fail(self, i: int, name: str, why: str) -> None:
        self.failed_ops.add(i)
        self.failures.append({"op": i, "name": name, "error": why[:300]})

    def count_check_failures(self) -> None:
        """Every op whose output failed the check counts as failed."""
        if self.layers is not None:
            self._check_tables()
        for i, name in enumerate(self.op_names):
            if name in self.check_failures and i not in self.failed_ops:
                self._fail(i, name, self.check_failures[name])

    def _check_tables(self) -> None:
        cat = self.spark.catalog
        tables = sorted(t.name for t in cat.listTables(PROD_DB) if not t.isTemporary)
        want = {fc: layer.inside
                for (_, _, fc), layer in zip(pipeline_inputs.SOURCES, self.layers)}
        problems = []
        if tables != sorted(want):
            problems.append(f"tables {tables} != {sorted(want)}")
        for fc, rows in want.items():
            if fc in tables:
                got = self.spark.table(f"{PROD_DB}.{fc}").count()
                if got != rows:
                    problems.append(f"{fc}: {got} rows != {rows} in the AOI")
        if problems:
            self.check_failures.setdefault(REFRESH, "; ".join(problems))

    # --------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        lat = self.lat
        # linear interpolation between the two nearest ranks: with 8 to 20
        # samples a nearest-rank p90 is one of the two slowest ops alone
        tail = statistics.quantiles(lat, n=100, method="inclusive")[TAIL_PCT - 1]
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail, "s"),
            "ops_per_min": (60.0 * len(lat) / self.loop_s, "1/min"),
            "live_mem_mb": (self.driver_rss_mb + self.live_heap_mb, "MB"),
        }

    def per_layer(self) -> dict:
        n = len(self.layer_ops) or 1
        tot: dict[str, float] = {}
        for rec in self.layer_ops:
            for k, v in rec.items():
                tot[k] = tot.get(k, 0.0) + v
        c = self.tracer.counts

        def per_op(key):
            return tot.get(key, 0.0) / n

        hits, builds = c["session_cache.hits"], c["session_cache.builds"]
        out = {
            "sources.load_table.calls": (c["sources.load_table.calls"] / n, "count"),
            "sources.load_table.self_s": (per_op("sources.load_table.self_s"), "s"),
            "sources.load_table.jobs": (per_op("sources.load_table.jobs"), "count"),
            "plans.build.self_s": (per_op("plans.build.self_s"), "s"),
            "plans.build.jobs": (per_op("plans.build.jobs"), "count"),
            "plans.build.stages": (per_op("plans.build.stages"), "count"),
            "session_cache.builds": (builds / n, "count"),
            "session_cache.hits": (hits / n, "count"),
            "session_cache.hit_ratio": (hits / (hits + builds) if hits + builds else 0.0,
                                        "ratio"),
            "session_cache.build_self_s": (per_op("session_cache.build.self_s"), "s"),
            "session_cache.storage_mb": (sum(self.storage) / n, "MB"),
            "operators.graph.calls": (c["operators.graph.calls"] / n, "count"),
            "operators.graph.self_s": (per_op("operators.graph.self_s"), "s"),
            "operators.dedup.self_s": (per_op("operators.dedup.self_s"), "s"),
            "operators.similarity.self_s": (per_op("operators.similarity.self_s"), "s"),
            "spark.sink.self_s": (per_op("spark.sink.self_s"), "s"),
        }
        for phase in ("build", "sink"):
            for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                              ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                              ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                              ("spill_mb", "MB")):
                out[f"spark.{phase}.{key}"] = (per_op(f"spark.{phase}.{key}"), unit)
        for ph in ("fetch", "stage", "transform", "load"):
            out[f"pipeline.{ph}.self_s"] = (per_op(f"pipeline.{ph}.self_s"), "s")
        written = c["sinks.bytes_written"]
        out.update({
            "fetchers.requests": (self.requests / n, "count"),
            "fetchers.pages": (self.pages / n, "count"),
            "staging.self_s": (per_op("staging.self_s"), "s"),
            "staging.jobs": (per_op("staging.jobs"), "count"),
            "staging.tasks": (per_op("staging.tasks"), "count"),
            "sinks.self_s": (per_op("sinks.self_s"), "s"),
            "sinks.rows_written": (c["sinks.rows_written"] / n, "count"),
            "sinks.bytes_written": (written / n, "bytes"),
            "sinks.bytes_per_input_byte": (written / self.input_bytes if self.input_bytes
                                           else 0.0, "ratio"),
            "fail_ratio": (len(self.failed_ops) / len(self.op_names), "ratio"),
            "trace.op_p50_s": (statistics.median(self.lat), "s"),
        })
        return out


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return sum(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))


class RssSampler(threading.Thread):
    """Highest resident size (VmRSS) of a process, sampled every 50 ms
    until ``finish``."""

    PERIOD_S = 0.05

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = _rss_kb(pid)
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.PERIOD_S):
            self.peak_kb = max(self.peak_kb, _rss_kb(self.pid))

    def finish(self) -> None:
        self._done.set()
        self.join()
        self.peak_kb = max(self.peak_kb, _rss_kb(self.pid))


def _cpu_times() -> list[int]:
    """The VM's aggregate CPU times from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it. The JVM
    is waited for even when the stop fails (a SIGTERM can arrive in the
    middle of a py4j call and leave the gateway unusable)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("etl_pipeline_spark") is None:
        print("perfbench: the engine package etl_pipeline_spark is not in this checkout",
              file=sys.stderr)
        return 2
    nproc = _nproc()
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if env_cpus is not None and env_cpus.strip() != str(nproc):
        print(f"perfbench: refusing to run: SPARK_GRAFT_CPUS={env_cpus} but nproc={nproc}",
              file=sys.stderr)
        return 2

    run = Run(args)
    with engine_env(run):
        return _main(run, args)


@contextmanager
def engine_env(run: Run):
    """Work directory and JVM settings for one run; on exit, also on
    SIGTERM, the JVM is stopped and the work directory removed."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(run.work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        yield
    finally:
        try:
            if run.spark is not None:
                _stop_jvm(run.spark)
        finally:
            shutil.rmtree(run.work, ignore_errors=True)


def prepare_inputs(run: Run) -> None:
    """Have the star tables and oracle digests written. The generator and
    DuckDB run in their own process, so that their memory and time stay
    out of the engine's figures."""
    subprocess.run([sys.executable, os.path.join(HERE, "stardata.py"), DATA_ROOT,
                    *run.queries()], check=True)
    run.data_dir = os.path.join(DATA_ROOT, "star")


def _main(run: Run, args) -> int:
    prepare_inputs(run)
    run.setup()
    run.check_cores()
    t_check = time.perf_counter()
    run.untimed_pass()
    run.check_outputs()
    run.check_s = time.perf_counter() - t_check

    if run.trace:
        run.tracer = tracing.Tracer(run.spark)
        tracing.install(run.tracer, run.warehouse)
    run.input_bytes = 0
    if run.layers is not None:
        run.transport.requests = run.transport.pages = 0
    run.timed_loop()
    if run.layers is not None:
        run.requests, run.pages = run.transport.requests, run.transport.pages
    run.count_check_failures()

    metrics = run.per_layer() if run.trace else run.end_to_end()
    if run.trace:
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
    import stardata

    inputs = {"star": "sf0.1", "rows": stardata.ROWS}
    if run.layers is not None:
        inputs["refresh"] = {
            "sources": len(run.layers),
            "features": [len(layer.features) for layer in run.layers],
            "page_size": run.layers[0].page_size,
            "inside_aoi": [layer.inside for layer in run.layers],
        }
    label = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": run.nproc,
        "default_parallelism": run.default_parallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "passes": run.passes,
        "order": run.order,
        "ops": len(run.lat),
        "op_s": [round(x, 4) for x in run.lat],
        "tail_percentile": TAIL_PCT,
        "check_s": round(run.check_s, 3),
        "loop_s": round(run.loop_s, 3),
        "steal_share": round(run.steal_share, 4),
        "driver_rss_mb": round(run.driver_rss_mb, 2),
        "live_heap_mb": [round(x, 2) for x in run.heap_gc_mb],
        "inputs": inputs,
        "failures": run.failures,
    }
    print(json.dumps({"label": label}, ensure_ascii=False))
    result = {
        "correct": not run.failed_ops,
        "attempted": len(run.op_names),
        "failed": len(run.failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)
import pipeline_inputs  # noqa: E402
import tracing  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
