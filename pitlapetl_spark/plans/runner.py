"""The Airflow replacement's execution half: run the reference's seven
pipelines as idempotent Spark jobs against durable sinks, with a run
ledger and bounded retry — the primitive an EXTERNAL scheduler (cron,
systemd timers, any orchestrator) invokes per tick. Scheduling itself
stays external by design (SURVEY.md §7.1, BASELINE.json "Replace
Airflow orchestration with Spark jobs").

What Airflow provided and what replaces it here:

- **DAG schedule** -> the external tick. Every job is idempotent
  (keyed MERGE or staged overwrite), so overlapping or replayed ticks
  converge instead of corrupting — the same property the reference
  leans on (SURVEY.md §2.12 "freshness by re-running").
- **Parallel DAG runs** -> one driver thread per job: the scheduler
  ran independent DAGs side by side, and so does a tick. Each job
  writes its own table under its own writer lease, so the jobs share
  no sink state; Spark's FIFO scheduler runs a job that fills the
  cluster first, so the sweep is never slower than a serial loop,
  and on small inputs the jobs overlap. ``RunRecord.seconds`` is each
  attempt's own wall time, so the values overlap and their sum is not
  the tick's wall time.
- **Task isolation** -> per-job try/except with bounded retry: one
  failing pipeline neither blocks nor poisons the others; the runner
  raises AFTER the sweep so the scheduler sees a nonzero exit while
  healthy sinks stay fresh.
- **Metadata DB** -> an append-only parquet run ledger (job, attempt,
  status, rows, wall seconds, error), one file per tick written by
  pyarrow after every job has finished — queryable with the same
  engine, no extra service, and no Spark job on the tick's tail.

Sink modes mirror the reference's load styles (SURVEY.md §2.2):
keyed pipelines MERGE on their document key (K1/K2,
racedag.py:68-73); standings pipelines are staged truncate-and-reload
(K3, driverstandings.py:82-85 — improved to survive mid-write
failure). At 100 TB the keyed jobs would switch to
``merge_upsert_partition_scoped`` with a real partition column; the
manifest records the key so that swap is one line per job.
"""

from __future__ import annotations

import os
import time
import traceback
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ..registry import QUERIES, load_all
from ..sinks import merge_upsert_write, overwrite
from ..sources import parquet_row_count


@dataclass(frozen=True)
class JobSpec:
    """One schedulable pipeline: which registered query, how it
    persists, and the reference DAG + cadence it replaces."""

    name: str
    query: str
    sink_mode: str  # "merge" (keyed) | "overwrite" (truncate-reload)
    key_cols: tuple[str, ...] = ()
    reference: str = ""  # reference DAG + its Airflow schedule


# the reference's seven DAGs (SURVEY.md §0/§3), cadence notes included
# so the external scheduler's crontab can be written from this table
JOB_MANIFEST: tuple[JobSpec, ...] = (
    JobSpec("race_results", "job_race_results", "merge", ("key",),
            "racedag.py (@weekly)"),
    JobSpec("qualifying_results", "job_qualifying_results", "merge", ("driverId",),
            "qualifyingdag.py (@weekly)"),
    JobSpec("practice_laps", "job_practice_laps", "merge", ("driver",),
            "practicedag.py (@weekly)"),
    JobSpec("schedule", "job_schedule", "merge", ("key",),
            "scheduledag.py (@daily)"),
    JobSpec("top_speeds", "flagship_top_value_per_user", "merge", ("c_custkey",),
            "topspeed.py (@weekly)"),
    JobSpec("driver_standings", "job_driver_standings", "overwrite", (),
            "driverstandings.py (@daily, truncate-and-reload)"),
    JobSpec("constructor_standings", "job_constructor_standings", "overwrite", (),
            "constructorstandings.py (@daily, truncate-and-reload)"),
)


@dataclass(frozen=True)
class RunRecord:
    job: str
    attempt: int
    status: str  # "ok" | "failed"
    rows: int
    seconds: float
    error: str | None


class PipelineFailure(RuntimeError):
    """A tick completed its sweep but >=1 job exhausted its retries.
    Carries the full attempt ``records`` (healthy jobs included) so
    callers — the CLI in particular — can report what DID run instead
    of losing the sweep's outcome to the raise (ADVICE r4)."""

    def __init__(self, msg: str, records: list[RunRecord]):
        super().__init__(msg)
        self.records = records


def _persist(spec: JobSpec, df: DataFrame, out_dir: str) -> int:
    path = f"{out_dir}/{spec.name}"
    if spec.sink_mode == "merge":
        merge_upsert_write(df, path, list(spec.key_cols))
    elif spec.sink_mode == "overwrite":
        overwrite(df, path)
    else:
        raise ValueError(f"unknown sink_mode {spec.sink_mode!r}")
    # ledger metric = TABLE rows after the persist (consistent across
    # sink modes), read from parquet footer metadata — no Spark job
    return parquet_row_count(path)


RUN_LEDGER_SCHEMA = pa.schema([
    ("job", pa.string()), ("attempt", pa.int32()), ("status", pa.string()),
    ("rows", pa.int64()), ("seconds", pa.float64()), ("error", pa.string()),
])
BACKFILL_LEDGER_SCHEMA = pa.schema([
    ("job", pa.string()), ("day", pa.string()), ("status", pa.string()),
    ("rows", pa.int64()), ("seconds", pa.float64()), ("error", pa.string()),
])


def _append_ledger(ledger_dir: str, schema: pa.Schema, records: list) -> None:
    """Append one sweep's records to the ledger as a single parquet
    file. The file is written under a ``.``-prefixed name and renamed
    into place: Spark and pyarrow skip hidden files, so a crash never
    leaves a half-written file that a ledger read would see."""
    os.makedirs(ledger_dir, exist_ok=True)
    name = f"part-{time.time_ns()}-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(ledger_dir, f".{name}")
    pq.write_table(pa.Table.from_pylist([asdict(r) for r in records], schema=schema), tmp)
    os.rename(tmp, os.path.join(ledger_dir, name))


def _run_job(
    spark: SparkSession,
    spec: JobSpec,
    fns: dict[str, Callable],
    sf_dir: str,
    out_dir: str,
    max_attempts: int,
) -> list[RunRecord]:
    """One job's bounded retry loop; its attempts in order."""
    records: list[RunRecord] = []
    for attempt in range(1, max_attempts + 1):
        t0 = time.perf_counter()
        try:
            n = _persist(spec, fns[spec.query](spark, sf_dir), out_dir)
        except Exception:
            records.append(
                RunRecord(
                    spec.name, attempt, "failed", 0,
                    time.perf_counter() - t0,
                    traceback.format_exc(limit=-5),  # innermost frames: the error site
                )
            )
            continue
        records.append(
            RunRecord(spec.name, attempt, "ok", n, time.perf_counter() - t0, None)
        )
        break
    return records


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    jobs: tuple[JobSpec, ...] = JOB_MANIFEST,
    max_attempts: int = 2,
    query_fns: dict[str, Callable] | None = None,
    write_ledger: bool = True,
) -> list[RunRecord]:
    """One scheduler tick: run every job concurrently, one driver
    thread per job, persist each through its idempotent sink, append
    the attempts to the run ledger once every job has finished, and
    raise AFTER the sweep if any job exhausted its retries. Records
    come back in manifest order, each job's attempts in order. Worker
    threads inherit the caller's Spark local properties (job group,
    scheduler pool, description), so ``sc.cancelJobGroup`` still
    cancels a tick. ``query_fns`` lets tests inject flaky jobs without
    touching the registry."""
    if max_attempts < 1:
        # range(1, 1) would run ZERO jobs yet exit 0 — a misconfigured
        # scheduler tick must fail loudly, not record a clean no-op
        raise ValueError(f"max_attempts must be >= 1, got {max_attempts}")
    names = [spec.name for spec in jobs]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        # two concurrent jobs on one table would race for its writer
        # lease and fail nondeterministically
        raise ValueError(f"duplicate JobSpec names: {dupes}")
    load_all()
    fns = query_fns if query_fns is not None else QUERIES
    with ThreadPoolExecutor(max_workers=max(1, len(jobs))) as pool:
        # wrapped per job: each wrapper holds its own copy of the
        # caller's local properties, so no two threads share one
        futures = [
            pool.submit(inheritable_thread_target(spark)(_run_job),
                        spark, spec, fns, sf_dir, out_dir, max_attempts)
            for spec in jobs
        ]
    records = [r for f in futures for r in f.result()]
    if write_ledger:
        _append_ledger(f"{out_dir}/_run_ledger", RUN_LEDGER_SCHEMA, records)
    dead = sorted(
        {r.job for r in records if r.status == "failed"}
        - {r.job for r in records if r.status == "ok"}
    )
    if dead:
        raise PipelineFailure(
            f"jobs failed after {max_attempts} attempt(s): {dead} "
            f"(other sinks are fresh; see {out_dir}/_run_ledger)",
            records,
        )
    return records


# --------------------------------------------------- backfill runner
# Airflow's other half-feature the manifest runner didn't cover:
# CATCHUP. A scheduled daily job that was down for a window needs its
# missed logical dates re-run — one isolated, idempotent unit per
# day, skipping days already materialized (Airflow's catchup=True
# semantics) unless forced. Each day writes through the staged swap
# into its own day=YYYY-MM-DD directory, so a mid-window failure
# leaves every other day fresh and a re-run converges; the ledger
# records per-day attempts with a "skipped" status for idempotent
# no-ops, which is what lets an operator read "the backfill did
# nothing because nothing was missing" off the ledger instead of
# guessing. At 100 TB each day-unit is an independent Spark job over
# one partition's worth of input — the natural parallelism axis an
# external scheduler fans out.


@dataclass(frozen=True)
class BackfillRecord:
    job: str
    day: str
    status: str  # "ok" | "skipped" | "failed"
    rows: int
    seconds: float
    error: str | None


def run_backfill(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    job: str,
    days: list[str],
    build_day: Callable[[SparkSession, str, str], DataFrame],
    force: bool = False,
    write_ledger: bool = True,
) -> list[BackfillRecord]:
    """Re-run ``build_day(spark, sf_dir, day)`` for every logical day
    in ``days``, materializing each into ``out_dir/job/day=<day>`` via
    the crash-safe staged swap. Days whose partition already exists
    are SKIPPED (catchup semantics) unless ``force``; failures are
    isolated per day and raised after the sweep (same contract as
    run_pipeline)."""
    from ..sinks import staged_swap

    records: list[BackfillRecord] = []
    for day in days:
        path = f"{out_dir}/{job}/day={day}"
        t0 = time.perf_counter()
        if not force and os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            records.append(
                BackfillRecord(job, day, "skipped", parquet_row_count(path),
                               time.perf_counter() - t0, None)
            )
            continue
        try:
            staged_swap(build_day(spark, sf_dir, day), path)
            records.append(
                BackfillRecord(job, day, "ok", parquet_row_count(path),
                               time.perf_counter() - t0, None)
            )
        except Exception:
            records.append(
                BackfillRecord(job, day, "failed", 0,
                               time.perf_counter() - t0,
                               traceback.format_exc(limit=-5))
            )
    if write_ledger:
        _append_ledger(f"{out_dir}/_backfill_ledger", BACKFILL_LEDGER_SCHEMA, records)
    dead = sorted(r.day for r in records if r.status == "failed")
    if dead:
        # carry the full sweep records per PipelineFailure's contract
        # (callers report what DID run — review catch: an empty list
        # here lost the 29 healthy days of a 30-day sweep)
        raise PipelineFailure(
            f"backfill days failed: {dead} (other days are fresh; "
            f"see {out_dir}/_backfill_ledger)",
            records,
        )
    return records


def daily_order_rollup(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    """The canonical backfillable day-unit: one logical day's order
    rollup (count + DECIMAL revenue per priority). The day filter is a
    pushable equality predicate — each backfill unit scans only its
    day at any scale."""
    from pyspark.sql import functions as F

    from ..sources import load_table

    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") == F.lit(day).cast("date"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
