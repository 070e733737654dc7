"""Spans around the program's public calls, opened from the benchmark.

A traced run wraps each layer's public functions at the names their
callers look up (module attributes), so the program's own files are
untouched. Spans are kept in memory and written out when the run ends.
Each span records its name, layer, start, end, parent and trace id (one
trace id per tick, query or micro-batch). Spans opened on the main
thread also set a Spark job group, so the jobs, tasks and failed tasks
each span launched can be read back from the status tracker.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import sys
import threading
import time

# the warehouse classics live in several operator modules; one group
WAREHOUSE_MODULES = {"analytics", "aggregates", "warehouse", "warehouse2"}


def builder_layer(fn) -> str:
    """Layer of a registry builder's plan-build span, from its module."""
    if fn.__module__.endswith("plans.jobs"):
        return "plans.jobs.plan_build"
    module = fn.__module__.rsplit(".", 1)[-1]
    return f"operators.{'warehouse' if module in WAREHOUSE_MODULES else module}.plan_build"


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, once there is one
        self.compaction_batches: set[int] = set()  # micro-batches that folded a generation
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # wall-clock anchor, to place spans built from Spark's epoch times
        self.epoch0, self.perf0 = time.time(), time.perf_counter()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids), "name": name, "layer": layer,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "start": time.perf_counter(), "end": None,
        }
        grouped = self.sc is not None and threading.current_thread() is threading.main_thread()
        if grouped:
            rec["group"] = f"perfbench-{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if grouped:
                if parent and "group" in parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def add_span(self, name: str, layer: str, epoch_start: float, seconds: float,
                 trace: str, parent: int | None) -> dict:
        """Record a span timed by Spark (epoch seconds), such as a
        streaming micro-batch reported to a query listener."""
        start = self.perf0 + (epoch_start - self.epoch0)
        rec = {"id": next(self._ids), "name": name, "layer": layer, "parent": parent,
               "trace": trace, "start": start, "end": start + seconds}
        with self._lock:
            self.spans.append(rec)
        return rec

    def wrap(self, fn, name: str, layer: str):
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def resolve_jobs(self) -> None:
        """Attach Spark job, task and failed-task counts to every span
        that set a job group and has not been resolved yet."""
        if not self.enabled or self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "group" not in rec or "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage:
                        tasks += stage.numTasks
                        failed += stage.numFailedTasks
            rec.update(jobs=len(jobs), tasks=tasks, failed_tasks=failed)

    def self_times(self, within: tuple[float, float]) -> dict[str, float]:
        """Seconds per layer of span time not covered by child spans,
        over spans that lie inside ``within``."""
        lo, hi = within
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] < lo or s["end"] > hi:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], ())):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += max(0.0, cur_hi - cur_lo)
            own = max(0.0, (s["end"] - s["start"]) - covered)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _rebind(orig, new) -> None:
    """Point every ``pitlapetl_spark`` module attribute bound to ``orig``
    at ``new``: callers that imported the function by name look it up in
    their own module."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("pitlapetl_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public calls. Call after ``registry.load_all``."""
    from checks import parquet_files
    from pitlapetl_spark import sources
    from pitlapetl_spark.operators import frame_cache
    from pitlapetl_spark.plans import runner
    from pitlapetl_spark.streaming import runtime

    load_table = sources.load_table

    def traced_load_table(spark, sf_dir, name):
        with tracer.span(f"load_table:{name}", "sources.load_table"):
            return load_table(spark, sf_dir, name)

    _rebind(load_table, traced_load_table)
    _rebind(sources.parquet_row_count, tracer.wrap(
        sources.parquet_row_count, "parquet_row_count", "sources.parquet_row_count"))

    cached_frame = frame_cache.cached_frame

    def traced_cached_frame(spark, sf_dir, name, tables, builder):
        ran = []

        def build():
            ran.append(True)
            return builder()

        with tracer.span(f"cached_frame:{name}", "operators.frame_cache") as rec:
            df = cached_frame(spark, sf_dir, name, tables, build)
        if rec is not None:
            rec["hit"] = not ran
        return df

    _rebind(cached_frame, traced_cached_frame)

    def sink(fn, name):
        def traced(df, path, *args):
            before = parquet_files(path)
            with tracer.span(name, f"sinks.{name}") as rec:
                fn(df, path, *args)
            # what this call wrote: files new or rewritten since it began
            written = [size for f, (size, mtime) in parquet_files(path).items() if before.get(f) != (size, mtime)]
            rec["bytes"], rec["files"] = sum(written), len(written)

        return traced

    runner.merge_upsert_write = sink(runner.merge_upsert_write, "merge_upsert_write")
    runner.overwrite = sink(runner.overwrite, "overwrite")

    compact = runtime._compact_partition_store

    def traced_compact(spark, root, current_batch, threshold):
        def gens():
            return {d for d in os.listdir(root) if d.startswith("batch=-")} if os.path.isdir(root) else set()

        before = gens()
        with tracer.span("compact_partition_store", "streaming.runtime.compaction"):
            compact(spark, root, current_batch, threshold)
        if gens() - before:
            tracer.compaction_batches.add(current_batch)

    runtime._compact_partition_store = traced_compact

    batch_factory = runtime._dedup_ingest_batch

    def traced_factory(*args, **kwargs):
        body = batch_factory(*args, **kwargs)

        def ingest_batch(batch_df, batch_id):
            with tracer.span("foreach_batch", "streaming.runtime.foreach_batch", trace=f"b{batch_id}"):
                body(batch_df, batch_id)

        return ingest_batch

    runtime._dedup_ingest_batch = traced_factory
