"""The engine's benchmark: one command per workload, end-to-end metrics
with tracing off, per-layer metrics from a separate traced run.

    python3 perfbench/run.py --workload pipeline_prism --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Workloads and their frozen membership
are in ``perfbench/workloads.json`` (see ``profile_membership.py`` for
the rule that chose the query items).

Load: one client in one process, a closed loop on ``local[N]`` with N at
most 4 and at most ``nproc``. Items run back to back; a pass runs every
item once. Pass 0 collects each item's output and checks it against an
independent oracle; then come the warm-up passes, then the timed passes.
Both counts are fixed, so two commits always time the same work;
``--seconds`` is recorded but does not size the run.

End-to-end metrics (``--trace 0``):
  setup_s  this process's start to a warm session: imports,
           ``engine.get_spark`` and one warm read. Input generation is
           excluded. One sample a run: a set-up takes 9-16 s on a 4-vCPU VM,
           and the repeated runs supply the spread.
  wall_s   the fastest timed pass's summed item time. The shared host
           steals CPU in bursts of a minute or more, which only ever add
           time. Over ten seeds on a shared 4-vCPU VM under heavy steal,
           queries_eager's fastest pass spread 0.21-0.22 of its median
           where the median pass spread 0.25-0.38; in a calm set both
           spread about 0.12.
  cpu_s    median over timed passes of the process tree's CPU time
           (driver, JVM and Python workers, read from /proc) during items.
The error rate (items failed or mismatched / items attempted) is printed
by name and carried by the result's ``attempted`` and ``failed``.

``--trace 1`` first repeats the untraced passes, then restarts the
session with Spark's event log on and times the same passes again with
every item and phase in its own job group and spans around every call
into the engine. It prints the per-layer metrics, each the median over
the traced timed passes.

``--scale K`` multiplies the input size by K (the PRISM pixels per day,
K a square, or the tables' scale factor) to check that the per-layer
split holds at a larger size; the benchmark's runs use K = 1.

Everything the run writes stays under ``perfbench/_work``. Every process
the run starts (the JVM, the subshell its launcher leaves behind, PySpark
workers) has ended and been waited for before the result is printed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from collections import defaultdict

import eventlog
import inputs
import oracle
import procstat
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PID = os.getpid()
DEADLINE_S = 150
# JVM temp files under WORK, and no hsperfdata file in the system temp dir
JVM_OPTS = (
    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
    f"-Dderby.system.home={os.path.join(WORK, 'tmp')} -XX:+PerfDisableSharedMem"
)
# The session JVM compiles with C1 only, into a code cache large enough for
# Spark's generated classes, on a fixed-size heap. Under the default tiered
# C2 compiler, JIT threads still burned 2-6 s of CPU per pass after ten
# passes and each JVM settled at its own speed: across five runs of
# queries_eager the median pass CPU spread by 27% and wall time by 17%.
# With C1 only, passes are flat from the second one on and runs agree
# within 3-5%. Absolute JVM-side times are higher than under C2: the
# benchmark compares commits, it does not predict deployments.
STEADY_JVM_OPTS = "-Xms2g -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"

PLUGINS = (
    "read_geotiff",
    "clip_by_shapefile",
    "write_parquet",
    "read_parquet",
    "rolling_window",
    "zscore",
    "zonal_stats_shapefile",
    "write_csv",
)

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "engine.get_spark_s": "s",
    "engine.storage_peak_mb": "MB",
    "engine.rdds_released": "count",
    "plans.spec_s": "s",
    "plans.runner_self_s": "s",
    "plans.plugin_calls": "count",
    **{f"plans.plugin.{p}_s": "s" for p in PLUGINS},
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_share": "ratio",
    "queries.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.output_mb": "MB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_gc_s": "s",
    "proc.pyworker_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.driver_py_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "proc.jit_cpu_s": "s",
    "proc.gc_cpu_s": "s",
    "host.steal_s": "s",
    "host.other_cpu_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}


def process_started_at() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / procstat.CLK_TCK)


def hermetic_env(cpus: int) -> None:
    """Keep every file Spark, its workers and the engine write under WORK,
    and let Python workers import the package from any directory."""
    for d in ("tmp", "spark-local", "scratch", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": os.path.join(WORK, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": "2g",
            "SPARK_LAUNCHER_OPTS": f"{JVM_OPTS} -Xmx128m",
        }
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tools"))


def spark_conf(event_log_dir: str | None = None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"{JVM_OPTS} {STEADY_JVM_OPTS}",
    }
    if event_log_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=15)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- workloads -------------------------------------------------------------------
class Workload:
    """Items, warm read and oracle of one workload. ``run_item`` times one
    item (``body``), releases the storage it left outside that timing, and
    on the check pass returns the problems ``verify`` finds."""

    def __init__(self, spec: dict, seed: int, tracer: Tracer, scale: int = 1):
        self.spec = spec
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.spark = None
        self.pass_no = 0

    def group(self, item: str, phase: str) -> None:
        if self.tracer.enabled:
            gid = f"{self.pass_no}:{item}|{phase}"
            self.spark.sparkContext.setJobGroup(gid, gid)

    def run_item(self, name: str, check: bool, measure) -> tuple[dict, list[str]]:
        from shared_etl_pipelines_spark.engine import StorageScope

        scope = StorageScope(self.spark)
        out: dict = {}
        m = measure(f"{self.pass_no}:{name}", lambda: self.body(name, check, out))
        self.group(name, "release")
        if self.tracer.enabled:
            m["storage_mb"] = storage_mb(self.spark)
        with self.tracer.span("engine.StorageScope.release", item=f"{self.pass_no}:{name}"):
            m["released"] = scope.release()
        return m, (self.verify(name, out) if check else [])


class QueriesWorkload(Workload):
    def prepare(self) -> None:
        sf = self.spec["sf"] * self.scale
        self.tables = inputs.cached(WORK, "tables", self.seed, inputs.make_tables, sf=sf)
        self.items = list(self.spec["items"])

    def imports(self) -> None:
        from shared_etl_pipelines_spark.queries import REGISTRY

        self.registry = REGISTRY

    def warm_read(self) -> None:
        self.spark.read.parquet(os.path.join(self.tables, "lineitem.parquet")).count()

    def open_oracle(self) -> None:
        self.duck = oracle.DuckOracle(self.tables, os.path.join(WORK, "tmp"))

    def close_oracle(self) -> None:
        self.duck.close()

    def body(self, name: str, check: bool, out: dict) -> None:
        with self.tracer.span("queries.build"):
            self.group(name, "build")
            df = self.registry[name].fn(self.spark, self.tables)
        with self.tracer.span("queries.action"):
            self.group(name, "action")
            if check:
                out["pdf"] = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()

    def verify(self, name: str, out: dict) -> list[str]:
        return self.duck.check(name, self.registry[name].sql, out["pdf"])


def traced_registry(workload: Workload):
    """A ``plans.registry.Registry`` whose plugins run inside a span and
    in their own job group."""
    from shared_etl_pipelines_spark.plans import Registry

    class Traced(Registry):
        def resolve(self, name):
            fn = super().resolve(name)

            def call(ctx, **kw):
                with workload.tracer.span(f"plans.plugin.{name}"):
                    workload.group(PipelineWorkload.item, f"plugin:{name}")
                    return fn(ctx, **kw)

            return call

    return Traced()


class PipelineWorkload(Workload):
    item = "prism_spi3_county"

    def prepare(self) -> None:
        self.inputs = inputs.cached(WORK, "prism", self.seed, inputs.make_prism, scale=self.scale)
        self.items = [self.item]
        self.doc = os.path.join(HERE, "pipelines", self.spec["pipeline"])
        self.out = os.path.join(WORK, "pipeline_out")
        self.env = {
            "basedir": self.out,
            "raster_dir": os.path.join(self.inputs, "rasters"),
            "state_shp": os.path.join(self.inputs, "tl_state.shp"),
            "county_shp": os.path.join(self.inputs, "tl_county.shp"),
        }

    def imports(self) -> None:
        from shared_etl_pipelines_spark.plans import PipelineRunner, PipelineSpec, Registry

        self.runner_cls, self.spec_cls, self.registry_cls = PipelineRunner, PipelineSpec, Registry

    def warm_read(self) -> None:
        self.spark.read.format("binaryFile").load(self.env["raster_dir"]).count()

    def open_oracle(self) -> None:
        import numpy as np

        with np.load(os.path.join(self.inputs, "truth.npz")) as z:
            self.truth = dict(z)
        shutil.rmtree(self.out, ignore_errors=True)  # checked outputs come from this run

    def close_oracle(self) -> None:
        pass

    def body(self, name: str, check: bool, out: dict) -> None:
        registry = traced_registry(self) if self.tracer.enabled else self.registry_cls()
        with self.tracer.span("plans.PipelineSpec.from_yaml"):
            spec = self.spec_cls.from_yaml(self.doc)
        runner = self.runner_cls(self.spark, env=self.env, registry=registry)
        with self.tracer.span("plans.PipelineRunner.run"):
            runner.run(spec)

    def verify(self, name: str, out: dict) -> list[str]:
        return oracle.check_prism(
            self.truth,
            os.path.join(self.out, "stage_state_daily"),
            os.path.join(self.out, "county_spi3_daily"),
            "spi3",
        )


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# -- measurement -------------------------------------------------------------------
class Sampler:
    """While tracing, samples JIT/GC thread CPU and the tree's resident
    memory every 0.2 s in a background thread."""

    def __init__(self, jvm_pid: int | None):
        self.threads = procstat.ThreadCpu(jvm_pid) if jvm_pid else None
        self.peak_rss = 0.0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> dict[str, float]:
        with self._lock:
            rss = procstat.cpu_by_role(PID)["rss_mb"]
            self.peak_rss = max(self.peak_rss, rss)
            return self.threads.sample() if self.threads else {"jit": 0.0, "gc": 0.0}

    def take_peak(self) -> float:
        with self._lock:
            peak, self.peak_rss = self.peak_rss, 0.0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def measure_item(tracer: Tracer):
    def measure(item_id: str, body) -> dict:
        c0, h0 = procstat.cpu_by_role(PID), procstat.host_cpu()
        t0 = time.perf_counter()
        with tracer.span("item", item=item_id):
            body()
        t1 = time.perf_counter()
        c1, h1 = procstat.cpu_by_role(PID), procstat.host_cpu()
        d = {k: c1[k] - c0[k] for k in ("driver_py", "jvm", "pyworker", "other", "total")}
        return {
            "wall": t1 - t0,
            "cpu": d,
            "rss_mb": max(c0["rss_mb"], c1["rss_mb"]),
            "steal": h1["steal"] - h0["steal"],
            "other_host": (h1["busy"] - h0["busy"]) - d["total"],
        }

    return measure


def run_passes(wl: Workload, first: int, n: int, failures: list[str], sampler=None) -> list[dict]:
    """Run passes ``first .. first+n-1``; pass 0 checks outputs."""
    measure = measure_item(wl.tracer)
    passes = []
    for p in range(first, first + n):
        wl.pass_no = p
        threads0 = sampler.sample() if sampler else None
        items = []
        for name in wl.items:
            try:
                m, problems = wl.run_item(name, p == 0, measure)
            except Exception as e:  # one failing item must not sink the run
                print(f"# {name} pass {p}: {type(e).__name__}: {e}", file=sys.stderr)
                failures.append(name)
                continue
            if problems:
                print(f"# {name}: MISMATCH {problems}", file=sys.stderr)
                failures.append(name)
            items.append(m)
        rec = {
            "pass": p,
            "wall": sum(m["wall"] for m in items),
            "cpu": sum(m["cpu"]["total"] for m in items),
            "items": items,
        }
        if sampler:
            threads1 = sampler.sample()
            rec["jit"] = threads1["jit"] - threads0["jit"]
            rec["gc"] = threads1["gc"] - threads0["gc"]
            rec["peak_rss"] = max([sampler.take_peak()] + [m["rss_mb"] for m in items])
        roles = " ".join(
            f"{k} {sum(m['cpu'][k] for m in items):.2f}s" for k in ("driver_py", "jvm", "pyworker")
        )
        print(
            f"# pass {p}: wall {rec['wall']:.3f}s cpu {rec['cpu']:.2f}s ({roles}) "
            f"steal {sum(m['steal'] for m in items):.2f}s",
            file=sys.stderr,
        )
        passes.append(rec)
    return passes


def make_workload(name: str, seed: int, tracer: Tracer, scale: int = 1) -> Workload:
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)[name]
    cls = {"queries": QueriesWorkload, "pipeline": PipelineWorkload}[spec["kind"]]
    return cls(spec, seed, tracer, scale)


def set_up(wl: Workload, started: float, gen_s: float, extra_conf: dict) -> tuple[float, float]:
    """Import, get_spark and warm read; returns (setup_s, get_spark_s)."""
    wl.imports()
    from shared_etl_pipelines_spark.engine import get_spark

    t0 = time.perf_counter()
    wl.spark = get_spark("perfbench", extra_conf=extra_conf)
    get_spark_s = time.perf_counter() - t0
    wl.spark.sparkContext.setLogLevel("ERROR")
    wl.warm_read()
    return time.time() - started - gen_s, get_spark_s


# -- per-layer metrics ---------------------------------------------------------------
def layer_metrics(passes: list[dict], tracer: Tracer, groups: dict, extra: dict) -> dict:
    spans_by_pass = defaultdict(list)
    for s in tracer.spans:
        if s["item"]:
            spans_by_pass[int(s["item"].split(":", 1)[0])].append(s)
    self_t = tracer.self_times()
    per_pass = []
    for rec in passes:
        p = rec["pass"]
        spans = spans_by_pass[p]
        v = defaultdict(float)
        for s in spans:
            dur = s["end"] - s["start"]
            n = s["name"]
            if n == "queries.build":
                v["queries.build_s"] += dur
            elif n == "queries.action":
                v["queries.action_s"] += dur
            elif n == "plans.PipelineSpec.from_yaml":
                v["plans.spec_s"] += dur
            elif n == "plans.PipelineRunner.run":
                v["plans.runner_self_s"] += self_t[s["id"]]
            elif n.startswith("plans.plugin."):
                v[n + "_s"] += self_t[s["id"]]
                v["plans.plugin_calls"] += 1
            elif n == "item":
                v["_item_s"] += dur
                v["_item_self_s"] += self_t[s["id"]]
        built = v["queries.build_s"] + v["queries.action_s"]
        v["queries.build_share"] = v["queries.build_s"] / built if built else 0.0
        v["trace.span_coverage"] = 1 - v["_item_self_s"] / v["_item_s"] if v["_item_s"] else 0.0
        for gid, c in groups.items():
            if not gid or not gid.startswith(f"{p}:"):
                continue
            if gid.endswith("|build"):
                v["queries.build_jobs"] += c["jobs"]
            for k in ("jobs", "stages", "tasks"):
                v[f"spark.{k}"] += c[k]
            for k in ("input", "shuffle_read", "shuffle_write", "spill", "output"):
                v[f"spark.{k}_mb"] += c[f"{k}_bytes"] / 2**20
            for k in ("executor_run_s", "executor_cpu_s", "executor_gc_s"):
                v[f"spark.{k}"] += c[k]
        for m in rec["items"]:
            v["engine.rdds_released"] += m["released"]
            v["engine.storage_peak_mb"] = max(v["engine.storage_peak_mb"], m["storage_mb"])
            v["proc.pyworker_cpu_s"] += m["cpu"]["pyworker"]
            v["proc.jvm_cpu_s"] += m["cpu"]["jvm"]
            v["proc.driver_py_cpu_s"] += m["cpu"]["driver_py"]
            v["host.steal_s"] += m["steal"]
            v["host.other_cpu_s"] += m["other_host"]
        v["proc.peak_rss_mb"] = rec["peak_rss"]
        v["proc.jit_cpu_s"] = rec["jit"]
        v["proc.gc_cpu_s"] = rec["gc"]
        per_pass.append(v)
    out = {}
    for name in PER_LAYER:
        if name in extra:
            out[name] = extra[name]
        else:
            out[name] = median([v.get(name, 0.0) for v in per_pass])
    return out


# -- main ------------------------------------------------------------------------------
def main() -> int:
    started = process_started_at()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20, help="recorded; the pass counts size the run")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=1, help="input size multiplier (default 1)")
    args = ap.parse_args()

    # Spark and its JVM inherit fd 1; keep it for the result lines only
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    deadline = DEADLINE_S * args.scale

    def alarm(*_):
        raise TimeoutError(f"benchmark exceeded {deadline}s")

    signal.signal(signal.SIGALRM, alarm)
    signal.alarm(deadline)
    # every process the run starts ends before the result is printed, on
    # every way out of it
    procstat.become_subreaper()
    try:
        lines = run(args, started)
    finally:
        signal.alarm(0)
        leftover = procstat.end_descendants()
        print(f"# ended {leftover} leftover processes", file=sys.stderr)
    os.write(real_stdout, ("\n".join(lines) + "\n").encode())
    return 0


def run(args: argparse.Namespace, started: float) -> list[str]:
    """Set up, check, warm up and time one workload; returns the lines to
    print, the result object last."""
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    hermetic_env(cpus)
    tracer = Tracer(False)
    wl = make_workload(args.workload, args.seed, tracer, args.scale)
    g0 = time.time()
    wl.prepare()
    gen_s = time.time() - g0

    setup_s, get_spark_s = set_up(wl, started, gen_s, spark_conf())
    failures: list[str] = []
    spec = wl.spec
    warm, timed = spec["warmup_passes"], spec["timed_passes"]
    try:
        wl.open_oracle()
        run_passes(wl, 0, 1, failures)
        wl.close_oracle()
        run_passes(wl, 1, warm, failures)
        untraced = run_passes(wl, 1 + warm, timed, failures)
        if args.trace:
            stop_spark(wl.spark)
            log_dir = os.path.join(WORK, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            tracer.enabled = True
            from shared_etl_pipelines_spark.engine import get_spark

            wl.spark = get_spark("perfbench-traced", extra_conf=spark_conf(log_dir))
            wl.spark.sparkContext.setLogLevel("ERROR")
            sampler = Sampler((procstat.jvm_pids(PID) or [None])[0])
            sampler.start()
            # the same cold start and warm-up as the untraced passes
            first = 1 + warm + timed
            run_passes(wl, first, 1 + warm, failures, sampler)
            traced = run_passes(wl, first + 1 + warm, timed, failures, sampler)
            sampler.stop()
    finally:
        if wl.spark is not None:
            stop_spark(wl.spark)

    attempted = (1 + warm + timed) * (2 if args.trace else 1) * len(wl.items)
    failed = len(failures)
    if args.trace:
        (log,) = glob.glob(os.path.join(log_dir, "*"))
        tracer.write(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
        extra = {
            "engine.get_spark_s": get_spark_s,
            "trace.overhead_s": min(r["wall"] for r in traced)
            - min(r["wall"] for r in untraced),
        }
        values = layer_metrics(traced, tracer, eventlog.parse_file(log), extra)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": min(r["wall"] for r in untraced),
            "cpu_s": median([r["cpu"] for r in untraced]),
        }
        units = END_TO_END

    lines = [f"{args.workload} seed={args.seed}: check pass, {warm} warm-up and {timed} timed "
             f"passes of {len(wl.items)} items on local[{cpus}]"]
    for k, v in values.items():
        lines.append(f"{k} {v:.6g} {units[k]} (n={1 if k == 'setup_s' else timed})")
    lines.append(f"error_rate {failed / attempted:.6g} ratio (failed {failed} of {attempted})")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    lines.append(json.dumps(result))
    return lines


if __name__ == "__main__":
    sys.exit(main())
