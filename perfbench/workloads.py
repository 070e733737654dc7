"""The three workloads. Each is one closed-loop client in a fresh process:
it sends the next operation only after the previous one returns.

An operation is a pipeline tick (``etl_tick``), one registered query
(``query_mix``) or one streaming micro-batch (``crawl_ingest``). Each
workload runs a cold phase first (the first operations in the process,
reported on their own), then a timed phase of at least ``seconds`` of
operations, then its output checks.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import inputs
from checks import Checks, digest, duckdb_on, parquet_bytes, parquet_rows, read_table, same_rows
from spans import Tracer, builder_layer

# traffic dimensions; README.md gives the basis of each (most are unverified)
CHANGED_SHARE = 0.05     # etl_tick and query_mix: fact rows changed per snapshot
MIX_SNAPSHOTS = 2        # query_mix: snapshots the mix cycles over
DUP_SHARE = 0.2          # crawl_ingest: re-emitted duplicates per file after the first
DOCS_PER_FILE = 500      # crawl_ingest
COMPACT_EVERY = 2        # crawl_ingest: committed batches folded per generation
WARM_FILES = 1           # crawl_ingest: files in the untimed warm-up drain
# Timed phases hold a fixed number of operations, sized from --seconds and
# the typical operation time on 4 cores, so that a run's operation count
# does not depend on how fast the machine happened to be
TICK_S, PASS_S, BATCH_S = 8, 12, 2   # etl_tick tick, query_mix pass (11 queries), crawl_ingest batch

# One query per operator module: a query type costs a run ~3-7 s (cold
# call, timed call, oracle) on 4 cores, and the benchmark's runs must fit
# its time budget, so one warehouse classic stands for all six and
# dedup_semantic_top2 for the dedup module (the MinHash banding of
# dedup_minhash_lsh also runs in crawl_ingest's dedup ingest).
QUERY_MIX = (
    # warehouse classic
    "q3_shipping_priority",
    # window, as-of and join
    "window_lag_lead_gap", "asof_join_last_order", "join_range_binned",
    # LLM batch operators
    "dedup_semantic_top2", "sim_topk_ivf_nprobe", "sim_topk_pq_adc", "text_quality_score",
    # graph queries sharing one memoized edge frame
    "graph_pagerank_copurchase", "graph_label_propagation",
    # Python workers
    "apply_in_pandas_zscore",
)
# the mix's queries that read frames memoized per snapshot, grouped by
# the memoized frame they share
MEMO_QUERIES = {
    "graph_edges": ("graph_pagerank_copurchase", "graph_label_propagation"),
    "pq_index": ("sim_topk_pq_adc",),
}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    scale: str
    run_dir: str
    small: bool  # smoke mode: fewer crawl files
    meter: object  # marks the timed phase: start() and stop()


@dataclass
class Outcome:
    op_s: list[float] = field(default_factory=list)     # timed operation latencies
    cold_s: list[float] = field(default_factory=list)   # cold-phase operation latencies
    timed_wall: float = 0.0                              # wall time of the timed phase
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    checks: Checks = field(default_factory=Checks)
    layer: dict[str, float] = field(default_factory=dict)   # per-layer metrics measured here
    named: dict[str, tuple[float, str]] = field(default_factory=dict)  # workload-named metrics

    def fail(self, what: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ etl_tick


def etl_tick(ctx: Ctx) -> Outcome:
    """Pipeline ticks over ``JOB_MANIFEST`` into an initially empty
    warehouse; tick ``i`` reads snapshot ``i``, in which
    ``CHANGED_SHARE`` of the fact rows differ from snapshot ``i-1``."""
    from pitlapetl_spark.plans.runner import JOB_MANIFEST, PipelineFailure, run_pipeline
    from pitlapetl_spark.registry import ORACLES, QUERIES

    tr, out = ctx.tracer, Outcome()
    ticks = max(1, int(ctx.seconds) // TICK_S)
    snaps = inputs.snapshot_chain(ctx.scale, os.path.join(ctx.run_dir, "inputs"), ctx.seed,
                                  1 + ticks, CHANGED_SHARE)
    warehouse = os.path.join(ctx.run_dir, "warehouse")
    fns = None
    if tr.enabled:
        fns = {s.query: tr.wrap(QUERIES[s.query], s.query, builder_layer(QUERIES[s.query]))
               for s in JOB_MANIFEST}
    job_s: dict[str, float] = {}
    attempts = failed_attempts = 0

    def tick(i: int) -> float:
        nonlocal attempts, failed_attempts
        t0 = time.perf_counter()
        with tr.span(f"tick{i}", "bench.op", trace=f"t{i}"), tr.span("run_pipeline", "plans.runner"):
            try:
                records = run_pipeline(ctx.spark, snaps[i], warehouse, query_fns=fns)
            except PipelineFailure as e:
                records = e.records
            except Exception as e:
                out.attempted += len(JOB_MANIFEST)
                out.fail(f"tick {i}", e)
                return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        bad = [r for r in records if r.status != "ok"]
        out.attempted += len(records)
        out.failed += len(bad)
        out.errors += [f"tick {i} {r.job}: {(r.error or '').strip().splitlines()[-1:]}" for r in bad]
        if i > 0:
            attempts += len(records)
            failed_attempts += len(bad)
            for r in records:
                job_s[r.job] = job_s.get(r.job, 0.0) + r.seconds
        return wall

    out.cold_s.append(tick(0))
    tr.resolve_jobs()
    ctx.meter.start()
    for i in range(1, 1 + ticks):
        out.op_s.append(tick(i))
        tr.resolve_jobs()
    ctx.meter.stop()
    out.timed_wall = sum(out.op_s)
    last = snaps[-1]

    total = out.timed_wall
    for spec in JOB_MANIFEST:
        out.layer[f"plans.jobs.{spec.name}.pct"] = 100 * job_s.get(spec.name, 0.0) / total
    out.layer["plans.runner.overhead_pct"] = 100 * (total - sum(job_s.values())) / total
    out.layer["plans.runner.attempts"] = attempts
    out.layer["plans.runner.failed_attempts"] = failed_attempts
    out.named = {"etl_tick_s": (_median(out.op_s), "s"), "etl_first_tick_s": (out.cold_s[0], "s")}

    # checks: on the snapshot the last tick read
    con = duckdb_on(last)
    ledger_dir = os.path.join(warehouse, "_run_ledger")
    newest = max((os.path.join(ledger_dir, f) for f in os.listdir(ledger_dir) if f.endswith(".parquet")),
                 key=os.path.getmtime)
    ledger = read_table(newest)
    for spec in JOB_MANIFEST:
        path = os.path.join(warehouse, spec.name)
        if spec.key_cols:
            def unique(path=path, keys=list(spec.key_cols)):
                n = int(read_table(path).duplicated(keys).sum())
                return f"{n} duplicate keys" if n else None
            out.checks.run(f"key_unique:{spec.name}", unique)
        out.checks.run(f"equals_job_query:{spec.name}",
                       lambda path=path, q=spec.query: same_rows(read_table(path), con.execute(ORACLES[q]).df()))

        def ledger_rows(path=path, job=spec.name):
            got = ledger[(ledger.job == job) & (ledger.status == "ok")]["rows"].tolist()
            want = parquet_rows(path)
            return None if got == [want] else f"ledger {got} != table rows {want}"
        out.checks.run(f"ledger_rows:{spec.name}", ledger_rows)
    con.close()
    return out


# ----------------------------------------------------------------- query_mix


def query_mix(ctx: Ctx) -> Outcome:
    """Registered queries. The cold pass runs each query once on
    snapshot 0, collecting its rows for the oracle check; each timed
    pass runs all of them again, in the same order, through the ``noop``
    sink on the next snapshot in the cycle, so memoized frames miss on a
    new snapshot and hit on one seen before."""
    from pitlapetl_spark.operators import frame_cache
    from pitlapetl_spark.registry import QUERIES, all_oracles

    tr, out = ctx.tracer, Outcome()
    oracles = all_oracles()
    snaps = inputs.snapshot_chain(ctx.scale, os.path.join(ctx.run_dir, "inputs"), ctx.seed,
                                  MIX_SNAPSHOTS, CHANGED_SHARE)
    n = 0

    def op(name: str, snap: str, collect: bool):
        nonlocal n
        fn = QUERIES[name]
        layer = builder_layer(fn)
        n += 1
        t0 = time.perf_counter()
        with tr.span(name, "bench.op", trace=f"q{n}"):
            with tr.span("plan_build", layer):
                df = fn(ctx.spark, snap)
            with tr.span("execute", layer.replace(".plan_build", ".execute")):
                if collect:
                    rows = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    rows = None
        return time.perf_counter() - t0, rows

    # Every pass runs the queries in one fixed order; the seed changes the
    # data only. A query's latency depends on which queries ran before
    # it: with a seeded order, the timed pass's run-to-run spread was two
    # to three times that of the fixed-order cold pass.
    cold_rows = {}
    for name in QUERY_MIX:
        out.attempted += 1
        try:
            wall, cold_rows[name] = op(name, snaps[0], collect=True)
        except Exception as e:
            out.fail(f"cold {name}", e)
            continue
        out.cold_s.append(wall)
        tr.resolve_jobs()

    passes = max(1, int(ctx.seconds) // PASS_S)
    ctx.meter.start()
    for p in range(1, 1 + passes):
        snap = snaps[p % MIX_SNAPSHOTS]
        for name in QUERY_MIX:
            out.attempted += 1
            try:
                out.op_s.append(op(name, snap, collect=False)[0])
            except Exception as e:
                out.fail(name, e)
            tr.resolve_jobs()
        out.layer["operators.frame_cache.entries"] = len(frame_cache._CACHE)
        if tr.enabled:
            # the mix persists no blocks but the memo's checkpoints
            infos = ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            out.layer["operators.frame_cache.block_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    ctx.meter.stop()
    out.timed_wall = sum(out.op_s)
    out.named = {
        "query_mix_qpm": (60 * len(out.op_s) / out.timed_wall, "queries/min"),
        "query_p50_s": (_median(out.op_s), "s"),
    }

    cons = {snap: duckdb_on(snap) for snap in snaps}
    answers = {}

    def oracle(snap: str, name: str):
        if (snap, name) not in answers:
            answers[snap, name] = cons[snap].execute(oracles[name]).df()
        return answers[snap, name]

    for name in QUERY_MIX:
        if name not in cold_rows:
            out.checks.add(f"oracle:{name}", "query failed")
            continue
        out.checks.run(f"oracle:{name}", lambda: same_rows(cold_rows[name], oracle(snaps[0], name)))

    # The timed passes ran on snapshots the cold pass had not seen; their
    # rows went to the noop sink. Re-run the memo readers on the last
    # timed snapshot, where the memo the timed pass filled serves them,
    # and check them there; and check that their answers moved from the
    # snapshot before it, so a memo serving a stale frame would fail.
    last, before = snaps[passes % MIX_SNAPSHOTS], snaps[(passes - 1) % MIX_SNAPSHOTS]
    for group, names in MEMO_QUERIES.items():
        for name in names:
            out.checks.run(f"memo_oracle:{name}", lambda: same_rows(
                QUERIES[name](ctx.spark, last).toPandas(), oracle(last, name)))

        def moved(names=names):
            if any(same_rows(oracle(last, n), oracle(before, n)) for n in names):
                return None
            return "answers equal on both snapshots: a stale memoized frame would go unnoticed"
        out.checks.run(f"memo_inputs_moved:{group}", moved)
    for con in cons.values():
        con.close()
    return out


# -------------------------------------------------------------- crawl_ingest


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.progress = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def crawl_ingest(ctx: Ctx) -> Outcome:
    """``run_dedup_ingest_sink`` drains a landed backlog one file per
    micro-batch. An untimed warm-up drain of the backlog's first
    ``WARM_FILES`` files into a separate store comes first: the first
    drain in a process runs about twice as long."""
    from pitlapetl_spark.streaming.runtime import read_documents_stream, run_dedup_ingest_sink

    tr, out = ctx.tracer, Outcome()
    n_files, per_file = (4, 50) if ctx.small else (max(5, int(ctx.seconds) // BATCH_S), DOCS_PER_FILE)
    timed_in = os.path.join(ctx.run_dir, "incoming")
    landed = inputs.crawl_backlog(ctx.scale, timed_in, ctx.seed, n_files, per_file, DUP_SHARE)
    warm_in = os.path.join(ctx.run_dir, "warm_incoming")
    os.makedirs(warm_in)
    for f in sorted(os.listdir(timed_in))[:WARM_FILES]:
        shutil.copy2(os.path.join(timed_in, f), warm_in)  # keeps the mtime order
    listener = None
    if tr.enabled:
        listener = _listener()
        ctx.spark.streams.addListener(listener)

    drains = []

    def drain(tag: str, incoming: str, files: int):
        root = os.path.join(ctx.run_dir, tag)
        store, corpus = os.path.join(root, "store"), os.path.join(root, "corpus")
        out.attempted += files
        t0 = time.perf_counter()
        q = error = None
        with tr.span(f"drain:{tag}", "bench.op", trace=tag) as span:
            try:
                q = run_dedup_ingest_sink(read_documents_stream(ctx.spark, incoming, 1), store, corpus,
                                          os.path.join(root, "checkpoint"), compact_every=COMPACT_EVERY)
                q.awaitTermination()
            except Exception as e:
                error = e
        wall = time.perf_counter() - t0
        progress = [p for p in (q.recentProgress if q else []) if p["numInputRows"] > 0]
        missing = max(0, files - len(progress))
        out.failed += missing
        if error is not None or missing:
            out.errors.append(f"{tag} drain: {missing} of {files} micro-batches missing: {error!r:.300}")
        if span is not None and q is not None:
            span["group"] = str(q.runId)  # Spark runs a stream's jobs in a group named by its run id
            drains.append((q, span))
        return wall, progress, store, corpus

    _, warm_progress, _, warm_corpus = drain("warm", warm_in, WARM_FILES)
    out.cold_s = [p["batchDuration"] / 1000 for p in warm_progress]
    tr.resolve_jobs()
    tr.compaction_batches.clear()
    ctx.meter.start()
    wall, progress, store, corpus = drain("timed", timed_in, n_files)
    ctx.meter.stop()
    for q, span in drains:
        _batch_spans(tr, listener, q, span)
    out.op_s = [p["batchDuration"] / 1000 for p in progress]
    out.timed_wall = wall

    kept = set(read_table(corpus)["doc_id"].tolist()) if os.path.isdir(corpus) else set()
    store_b, bands_b, corpus_b = (parquet_bytes(p)[0] for p in (store, f"{store}_bands", corpus))
    store_parts = sum(1 for d in os.listdir(store) if d.startswith("batch=")) if os.path.isdir(store) else 0
    docs_per_s = landed["docs"] / wall
    out.layer.update({
        "streaming.runtime.docs_per_s": docs_per_s,
        "streaming.runtime.kept_ratio": len(kept) / landed["docs"],
        "streaming.runtime.store_rows": parquet_rows(store) if os.path.isdir(store) else 0,
        "streaming.runtime.store_bytes": store_b + bands_b,
        "streaming.runtime.store_partitions": store_parts,
        "streaming.runtime.store_amplification": (store_b + bands_b + corpus_b) / landed["bytes"],
    })
    durations: dict[str, float] = {}
    for p in progress:
        for k, v in p["durationMs"].items():
            durations[k] = durations.get(k, 0) + v
    trigger = durations.get("triggerExecution", 0) or 1
    for key, name in (("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit"), ("latestOffset", "latest_offset")):
        out.layer[f"streaming.runtime.{name}_pct"] = 100 * durations.get(key, 0) / trigger
    compacting = tr.compaction_batches
    comp = [p["batchDuration"] for p in progress if p["batchId"] in compacting]
    plain = [p["batchDuration"] for p in progress if p["batchId"] not in compacting]
    out.layer["streaming.runtime.compaction_batches"] = len(comp)
    out.layer["streaming.runtime.compaction_vs_plain"] = _median(comp) / _median(plain) if comp and plain else 0.0
    out.named = {
        "ingest_docs_per_s": (docs_per_s, "docs/s"),
        "ingest_batch_p50_s": (_median(out.op_s), "s"),
        "ingest_store_amplification": (out.layer["streaming.runtime.store_amplification"], "bytes/byte"),
    }

    exact = landed["exact_dups"]
    out.checks.add("no_exact_duplicate_kept",
                   f"{len(kept & exact)} exact duplicates kept" if kept & exact else None)
    warm_kept = set(read_table(warm_corpus)["doc_id"].tolist()) if os.path.isdir(warm_corpus) else set()
    first = {i for ids in landed["file_ids"][:WARM_FILES] for i in ids}
    out.checks.add("warmup_matches_timed_prefix",
                   None if warm_kept == kept & first else
                   f"warm-up kept {digest(warm_kept)}, timed drain kept {digest(kept & first)}")
    out.checks.run("store_mirrors_corpus", lambda: None if set(read_table(store)["doc_id"]) == kept
                   else "store and corpus doc_ids differ")
    out.named["kept_doc_ids_digest"] = (digest(kept), "sha256/16")
    return out


def _batch_spans(tr: Tracer, listener, q, drain_span) -> None:
    """Micro-batch spans from the listener's progress events, each the
    parent of the Python batch body that ran inside it."""
    def mine():
        return [p for p in listener.progress if str(p.runId) == q.runId]

    deadline = time.time() + 10
    while len(mine()) < len(q.recentProgress) and time.time() < deadline:
        time.sleep(0.05)
    batches = []
    for p in mine():
        start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        batches.append(tr.add_span(f"batch{p.batchId}", "streaming.runtime.batch", start,
                                   p.batchDuration / 1000, f"b{p.batchId}", drain_span["id"]))
    for s in tr.spans:
        if s["layer"] == "streaming.runtime.foreach_batch" and s["parent"] is None:
            mid = (s["start"] + s["end"]) / 2
            for b in batches:
                if b["start"] - 0.01 <= mid <= b["end"] + 0.01:
                    s["parent"] = b["id"]
                    break


WORKLOADS = {"etl_tick": etl_tick, "query_mix": query_mix, "crawl_ingest": crawl_ingest}
