"""Run one sparkschema benchmark workload and print its metrics.

    python3 perfbench/run.py --workload typed_table --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The run generates (or reuses) its seeded
inputs, starts a fresh Spark session on ``local[N]`` (N = min(4, usable
cores)), runs closed-loop passes of the workload and checks every pass's
outputs against independent computations. The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (see README.md). Exits non-zero, printing no
result, if the program under test cannot be imported or a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark dir
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

DRIVER_MEMORY = "2g"


def _scope_class():
    """The program's CacheScope, extended to list the frames a pass
    persisted so the traced run can count intermediate results."""
    from sparkschema.operators.caching import CacheScope

    class RecordingScope(CacheScope):
        def __init__(self) -> None:
            super().__init__()
            self.frames = []

        def persist(self, df, level=None):
            self.frames.append(df)
            return super().persist(df, level)

    return RecordingScope


def _process_start() -> float:
    """Wall-clock time this process started (from /proc), so set-up time
    counts interpreter start-up and imports too."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat", encoding="ascii") as fh:
        btime = next(int(line.split()[1]) for line in fh
                     if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """Cumulative (stolen, total) CPU ticks of the host, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def _steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this host since ``since``
    (``steal`` in /proc/stat), as a percentage."""
    st, tot = _cpu_ticks()
    return 100.0 * (st - since[0]) / max(1, tot - since[1])


def _cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _builder(run_dir: str, cores: int, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("sparkschema-perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         # a fixed, pre-touched heap: G1 growing the heap during the passes
         # made peak RSS (and page-fault cost) vary from run to run
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
         .config("spark.local.dir", os.path.join(run_dir, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * cores))
         .config("spark.sql.session.timeZone", "UTC")
         # ~100 KB image rows: bound an Arrow batch to ~25 MB
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
              .config("spark.eventLog.dir", "file://" + event_dir)
              .config("spark.eventLog.compress", "false")
              .config("spark.eventLog.rolling.enabled", "false"))
    return b


def _warm_page_cache(files: list[str]) -> None:
    buf = bytearray(1 << 20)
    for f in files:
        with open(f, "rb", buffering=0) as fh:
            while fh.readinto(buf):
                pass


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM, and wait until the JVM and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    kids = spans.descendants()
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; reaping below decides
        pass
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    spans.wait_gone(kids, timeout=15)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args) -> dict:
    t_start = _process_start()
    try:
        import sparkschema  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: cannot import the program: {e}")

    t0 = time.time()
    input_dir, info = gen.ensure_inputs(CACHE, args.workload, args.seed)
    wl_cls = WORKLOADS[args.workload]
    run_dir = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    event_dir = None
    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    if args.trace:
        event_dir = os.path.join(run_dir, "events")
        os.makedirs(event_dir)
        layers.install_wrappers(tracer)
    wl = wl_cls(input_dir, info, run_dir, tracer)
    _warm_page_cache(wl.files())
    # input generation and page-cache warming are the benchmark's own work
    harness_s = time.time() - t0

    cores = _cores()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    Scope = _scope_class()
    sampler = None
    spark = None
    outputs, pass_s, pass_cpu = [], [], []
    try:
        # cold set-up: process start -> session ready, inputs registered,
        # specs compiled
        spark = _builder(run_dir, cores, event_dir).getOrCreate()
        from pyspark import SparkContext

        sampler = spans.RssSampler(SparkContext._gateway.proc.pid).start()
        spark.sparkContext.setLogLevel("ERROR")
        tracer.spark = spark
        wl.setup(spark)
        cold_setup_s = time.time() - t_start - harness_s
        _log(f"inputs+page cache {harness_s:.2f}s, cold set-up {cold_setup_s:.2f}s")

        def one_pass(pid: int) -> tuple[float, float]:
            """Run pass ``pid``; returns its wall and CPU seconds."""
            tracer.pass_id = pid
            scope = Scope()
            try:
                c = spans.tree_cpu_s()
                a = time.perf_counter()
                with tracer.span("pass"):
                    result = wl.run_pass(spark, scope)
                dt = time.perf_counter() - a
                cpu = spans.tree_cpu_s() - c
                tracer.pass_id = None
                out = wl.outputs(spark, result, scope)
                if tracer.enabled:
                    tracer.count("caching.persisted_bytes",
                                 layers.persisted_bytes(spark), pid)
                    for name, v in out.pop("layer_counts", {}).items():
                        tracer.count(name, v, pid)
                outputs.append(out)
            finally:
                tracer.pass_id = None
                scope.release()
            return dt, cpu

        ticks = _cpu_ticks()
        first_pass_s, first_pass_cpu = one_pass(0)
        _log(f"first pass {first_pass_s:.2f}s, cpu {first_pass_cpu:.2f}s "
             f"(steal {_steal_pct(ticks):.1f}%)")

        pid = 1
        for _ in range(wl.warmup_passes):
            _log("warm-up pass %.2fs, cpu %.2fs" % one_pass(pid))
            pid += 1
        ticks = _cpu_ticks()
        a = time.perf_counter()
        while len(pass_s) < wl.timed_passes or time.perf_counter() - a < args.seconds:
            dt, cpu = one_pass(pid)
            pass_s.append(dt)
            pass_cpu.append(cpu)
            pid += 1
        timed_ids = list(range(pid - len(pass_s), pid))
        _log("timed passes " + " ".join(f"{s:.2f}" for s in pass_s)
             + ", cpu " + " ".join(f"{s:.2f}" for s in pass_cpu)
             + f" (steal {_steal_pct(ticks):.1f}%)")

        # warm set-ups, after the passes: the JIT compilation the cold first
        # pass set off has died down, so it is not charged to the set-ups
        setups, setup_cpu = [], []
        ticks = _cpu_ticks()
        for _ in range(wl.setups):
            c = spans.tree_cpu_s()
            a = time.perf_counter()
            with tracer.span("setup"):
                spark = spark.newSession()
                tracer.spark = spark
                wl.setup(spark)
            setups.append(time.perf_counter() - a)
            setup_cpu.append(spans.tree_cpu_s() - c)

        _log("warm set-ups " + " ".join(f"{s:.2f}" for s in setups)
             + ", cpu " + " ".join(f"{s:.2f}" for s in setup_cpu)
             + f" (steal {_steal_pct(ticks):.1f}%)")
        peak_rss_mb = sampler.stop()

        exp = wl.expect()
        failed = 0
        for i, out in enumerate(outputs):
            problems = wl.check(out, exp)
            if problems:
                failed += 1
                _log(f"pass {i} failed its checks: {problems[:3]}")
        _log(f"checks done at {time.time() - t_start:.2f}s")

        if args.trace:
            phases = tracer.phases()
            tracer.spark = None
            _shutdown(spark)
            spark = None
            metrics = layers.extract(tracer, phases, event_dir, timed_ids,
                                     args.workload)
            metrics["setup.cold_s"] = (cold_setup_s, "s")
            metrics["trace.setup_s"] = (statistics.median(setups), "s")
            metrics["trace.first_pass_s"] = (first_pass_s, "s")
            metrics["trace.pass_s"] = (statistics.median(pass_s), "s")
            print(json.dumps({"spans": tracer.dump(),
                              "self_s": layers.self_times(tracer, timed_ids)}),
                  file=sys.stderr)
        else:
            # CPU seconds, not wall time: on a host whose hypervisor steals
            # a varying share of the vCPUs, wall time tracks the steal (see
            # README "Why CPU seconds"); the wall times go to standard error
            metrics = {
                "setup_s": (statistics.median(setup_cpu), "s"),
                "first_pass_cpu_s": (first_pass_cpu, "s"),
                "rows_per_cpu_s": (wl.rows / statistics.median(pass_cpu), "rows/cpu-s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        return {"correct": failed == 0, "attempted": len(outputs),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
    finally:
        if sampler is not None:
            sampler.stop()
        try:
            _shutdown(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
