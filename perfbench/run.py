"""Benchmark of the pitlapetl_spark engine.

    python3 perfbench/run.py --workload etl_tick --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Runs one workload (see workloads.py) in this fresh process against
``local[nproc]``, checks its outputs, prints every metric by name and
unit, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` a separate,
traced run reports the per-layer ones and writes its spans to
``.perfbench/traces/``.

``--smoke`` runs every workload once, traced, on the small base tables,
twice for ``crawl_ingest`` with one seed to compare the kept-document
digests, and exits non-zero if a run fails, a check fails or a metric
is missing.

Everything a run writes (inputs, warehouse, stores, checkpoints, Spark
local dirs, temp files) lives under ``.perfbench/run-*`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import procstat
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _DECLARED = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _DECLARED["end_to_end"]}
# self-time shares are of the timed operations' wall time; a layer idle
# on a workload reads 0 there
PER_LAYER = {m["name"]: m["unit"] for m in _DECLARED["per_layer"]}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _since_process_start() -> float:
    """Seconds since this process was created (kernel start time)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


class Meter:
    """Marks the timed phase and measures CPU and peak memory for it."""

    def __init__(self):
        self.rss = procstat.PeakRss()
        self.rss.start()
        self.cpu = None
        self.window = (0.0, 0.0)

    def start(self) -> None:
        from pyspark import SparkContext

        self.split = procstat.CpuSplit(SparkContext._gateway.proc.pid)
        self.cpu0, self.t0 = self.split.read(), time.perf_counter()

    def stop(self) -> None:
        t1 = time.perf_counter()
        cpu1 = self.split.read()
        self.window = (self.t0, t1)
        self.cpu = {k: cpu1[k] - self.cpu0[k] for k in cpu1}
        self.peak_rss = self.rss.stop()


def _heap_reader(spark):
    """() -> bytes of JVM heap in use, read through the py4j gateway."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return lambda: bean.getHeapMemoryUsage().getUsed()


def _setup(tracer, meter, scale: str):
    """Process start -> get_spark, registry.load_all, warm-up query."""
    from pitlapetl_spark import registry
    from pitlapetl_spark.session import get_spark
    from pitlapetl_spark.sources import load_table

    with tracer.span("get_spark", "session"):
        spark = get_spark("perfbench")
    tracer.sc = spark.sparkContext
    if tracer.enabled:
        meter.rss.heap = _heap_reader(spark)
    with tracer.span("load_all", "registry"):
        registry.load_all()
    with tracer.span("warmup", "bench.setup"):
        load_table(spark, os.path.join(HERE, "data", scale), "nation").count()
    return spark, _since_process_start()


def _stop_spark() -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metrics(out, meter, tracer, setup_s: float, traced: bool) -> dict[str, tuple[float, str]]:
    m = {name: (value, END_TO_END[name]) for name, value in {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(out.op_s) if out.op_s else 0.0,
        "cold_op_p50_s": statistics.median(out.cold_s) if out.cold_s else 0.0,
        "ops_per_min": 60 * len(out.op_s) / out.timed_wall if out.timed_wall else 0.0,
    }.items()}
    if not traced:
        return m
    lo, hi = meter.window
    timed = [s for s in tracer.spans if s["start"] >= lo and s["end"] <= hi]
    op_wall = sum(s["end"] - s["start"] for s in timed if s["layer"] == "bench.op") or 1.0
    selfs = tracer.self_times((lo, hi))
    hits = sum(1 for s in timed if s.get("hit") is True)
    misses = sum(1 for s in timed if s.get("hit") is False)
    cpu, wall = meter.cpu, hi - lo
    n_ops = max(1, len(out.op_s))
    values = {
        "session.get_spark_s": sum(s["end"] - s["start"] for s in tracer.spans if s["layer"] == "session"),
        "registry.load_all_s": sum(s["end"] - s["start"] for s in tracer.spans if s["layer"] == "registry"),
        "operators.frame_cache.hits": hits,
        "operators.frame_cache.misses": misses,
        "operators.frame_cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "sources.load_table_calls": sum(1 for s in timed if s["layer"] == "sources.load_table"),
        "sinks.bytes_written": sum(s.get("bytes", 0) for s in timed) / n_ops,
        "sinks.files_written": sum(s.get("files", 0) for s in timed) / n_ops,
        "spark.jobs": sum(s.get("jobs", 0) for s in timed),
        "spark.tasks": sum(s.get("tasks", 0) for s in timed),
        "spark.failed_tasks": sum(s.get("failed_tasks", 0) for s in timed),
        "proc.peak_rss_mb": meter.peak_rss / 2**20,
        "jvm.heap_used_peak_mb": meter.rss.heap_peak / 2**20,
        "proc.driver_cpu_s": cpu["driver"],
        "proc.jvm_cpu_s": cpu["jvm"],
        "proc.pyworker_cpu_pct": 100 * cpu["pyworker"] / (sum(cpu.values()) or 1.0),
        "proc.cpu_util": sum(cpu.values()) / wall / _nproc(),
        "trace.spans": len(tracer.spans),
        "trace.op_wall_s": op_wall / n_ops,
    }
    for name in PER_LAYER:
        if name.endswith(".self_pct"):
            values[name] = 100 * selfs.get(name[: -len(".self_pct")], 0.0) / op_wall
    values.update(out.layer)
    return m | {name: (float(values.get(name, 0.0)), unit) for name, unit in PER_LAYER.items()}


def run(args) -> int:
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pitlapetl_spark  # noqa: F401  the program under test
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # Spark's Python workers import the program by module path too
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("SPARK_DRIVER_MEM", None)  # the program's default heap
    os.chdir(run_dir)  # Spark's default warehouse and metastore land in the cwd
    scale = "sf0.001" if args.small else "sf0.01"
    tracer = spans.Tracer(bool(args.trace))
    try:
        meter = Meter()
        spark, setup_s = _setup(tracer, meter, scale)
        import workloads  # after setup: its imports are the benchmark's, not the program's

        if args.trace:
            spans.instrument(tracer)
        ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, scale, run_dir, args.small, meter)
        t_begin = time.perf_counter()
        out = workloads.WORKLOADS[args.workload](ctx)
        t_end = time.perf_counter()
        tracer.resolve_jobs()
        metrics = _metrics(out, meter, tracer, setup_s, bool(args.trace))
    finally:
        _stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    if args.trace:
        path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(path)
        print(f"spans\t{path}")

    checks_failed = out.checks.failed
    attempted = out.attempted + len(out.checks.results)
    failed = out.failed + len(checks_failed)
    named = {**out.named, "fail_ratio": (failed / attempted, "ratio")}
    for name, (value, unit) in {**metrics, **named}.items():
        print(f"metric\t{name}\t{value!r}\t{unit}")
    lo, hi = meter.window
    for name, wall in (("setup", setup_s), ("inputs_and_cold", lo - t_begin), ("timed", hi - lo),
                       ("checks", t_end - hi)):
        print(f"phase\t{name}\t{wall:.2f}\ts")
    print("ops\tcold\t" + " ".join(f"{x:.3f}" for x in out.cold_s))
    print("ops\ttimed\t" + " ".join(f"{x:.3f}" for x in out.op_s))
    for name, problem in out.checks.results:
        print(f"check\t{name}\t{'ok' if problem is None else 'FAILED: ' + problem}")
    for err in out.errors:
        print(f"error\t{err}")
    wanted = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": not checks_failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n][0], "unit": u} for n, u in wanted.items()},
    }))
    return 0


def smoke() -> int:
    """Every workload once, traced, on the small tables."""
    named = {"etl_tick": ("etl_tick_s", "etl_first_tick_s"),
             "query_mix": ("query_mix_qpm", "query_p50_s"),
             "crawl_ingest": ("ingest_docs_per_s", "ingest_batch_p50_s", "ingest_store_amplification")}
    problems, digests = [], []
    for workload in ("etl_tick", "query_mix", "crawl_ingest", "crawl_ingest"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", "1",
               "--seconds", "1", "--trace", "1", "--small"]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.splitlines()
        print("\n".join(line for line in lines if line.startswith(("metric", "check", "error"))))
        if proc.returncode != 0 or not lines:
            problems.append(f"{workload}: exit {proc.returncode}: {proc.stderr[-2000:]}")
            continue
        result = json.loads(lines[-1])
        got = {p[1]: p[3] for p in (line.split("\t") for line in lines) if p[0] == "metric"}
        missing = [n for n in (*END_TO_END, *PER_LAYER, *named[workload]) if n not in got]
        if missing or not result["correct"] or result["failed"]:
            problems.append(f"{workload}: correct={result['correct']} failed={result['failed']} "
                            f"missing metrics={missing}")
        digests += [line.split("\t")[2] for line in lines if line.startswith("metric\tkept_doc_ids_digest")]
    if len(set(digests)) != 1:
        problems.append(f"crawl_ingest kept-doc digests differ across runs with one seed: {digests}")
    for p in problems:
        print(f"smoke FAILED: {p}", file=sys.stderr)
    print("smoke ok" if not problems else "smoke FAILED")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=("etl_tick", "query_mix", "crawl_ingest"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload once on small inputs")
    ap.add_argument("--small", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
