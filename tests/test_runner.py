"""The Airflow-replacement runner (plans/runner.py): idempotent
convergence across ticks, task isolation with bounded retry, and the
run ledger as the metadata record."""

from __future__ import annotations

import threading

import pytest

from pitlapetl_spark.plans.runner import (
    JOB_MANIFEST,
    JobSpec,
    PipelineFailure,
    run_pipeline,
)
from pitlapetl_spark.registry import QUERIES, load_all
from tests.conftest import SF_SMOKE

load_all()


def _tables(spark, out_dir):
    return {
        spec.name: sorted(
            tuple(r) for r in spark.read.parquet(f"{out_dir}/{spec.name}").collect()
        )
        for spec in JOB_MANIFEST
    }


def test_two_ticks_converge_and_ledger_records_all(spark, tmp_path):
    """Running the whole pipeline twice (the overlapping-tick /
    replayed-tick case Airflow guards with its scheduler lock) must
    converge to identical table states, and the ledger must carry one
    ok row per job per tick."""
    out = str(tmp_path / "warehouse")
    r1 = run_pipeline(spark, SF_SMOKE, out)
    state1 = _tables(spark, out)
    r2 = run_pipeline(spark, SF_SMOKE, out)
    assert _tables(spark, out) == state1
    assert [r.status for r in r1 + r2] == ["ok"] * (2 * len(JOB_MANIFEST))
    ledger = spark.read.parquet(f"{out}/_run_ledger")
    assert ledger.filter("status = 'ok'").count() == 2 * len(JOB_MANIFEST)
    assert {r.job for r in ledger.collect()} == {s.name for s in JOB_MANIFEST}


def test_flaky_job_retries_and_other_jobs_unaffected(spark, tmp_path):
    """A job that fails once must retry and succeed within the same
    tick; a job that always fails must not block the others — its
    error surfaces AFTER the sweep, with every healthy sink fresh."""
    out = str(tmp_path / "warehouse")
    calls = {"n": 0}

    def flaky(spark_, sf_dir):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return QUERIES["job_schedule"](spark_, sf_dir)

    def dead(spark_, sf_dir):
        raise RuntimeError("permanent")

    fns = dict(QUERIES)
    fns["job_schedule"] = flaky
    fns["job_driver_standings"] = dead

    with pytest.raises(PipelineFailure, match="driver_standings") as failure:
        run_pipeline(spark, SF_SMOKE, out, query_fns=fns)
    # records come back in manifest order, each job's attempts in order,
    # however the concurrent jobs happened to finish
    retried = {"schedule", "driver_standings"}
    assert [(r.job, r.attempt) for r in failure.value.records] == [
        (spec.name, a)
        for spec in JOB_MANIFEST
        for a in ((1, 2) if spec.name in retried else (1,))
    ]

    ledger = {
        (r.job, r.attempt): r.status
        for r in spark.read.parquet(f"{out}/_run_ledger").collect()
    }
    assert ledger[("schedule", 1)] == "failed"
    assert ledger[("schedule", 2)] == "ok"
    assert ledger[("driver_standings", 1)] == "failed"
    assert ledger[("driver_standings", 2)] == "failed"
    # healthy sinks written despite the dead job
    assert spark.read.parquet(f"{out}/race_results").count() > 0
    assert spark.read.parquet(f"{out}/schedule").count() > 0
    # the dead job's sink was never created
    import os

    assert not os.path.exists(f"{out}/driver_standings")


def test_zero_max_attempts_fails_loudly(spark, tmp_path):
    """max_attempts < 1 would run zero jobs yet exit clean — the
    runner must reject it instead of recording a successful no-op."""
    with pytest.raises(ValueError, match="max_attempts"):
        run_pipeline(spark, SF_SMOKE, str(tmp_path / "wh"), max_attempts=0)


def test_duplicate_job_names_rejected_before_any_job_runs(spark, tmp_path):
    """Two concurrent jobs writing one table would race for its writer
    lease; the runner must refuse the manifest before anything runs."""
    out = tmp_path / "wh"
    ran = []

    def fn(spark_, sf_dir):
        ran.append(True)
        return spark_.range(1)

    jobs = (JobSpec("t", "q", "overwrite"), JobSpec("t", "q", "overwrite"))
    with pytest.raises(ValueError, match="duplicate JobSpec names"):
        run_pipeline(spark, SF_SMOKE, str(out), jobs=jobs, query_fns={"q": fn})
    assert not ran
    assert not out.exists()


def test_jobs_run_concurrently(spark, tmp_path):
    """Two jobs that each wait for the other before returning their
    frame can only both succeed if the tick runs them side by side; a
    serial sweep breaks the barrier and the tick fails."""
    barrier = threading.Barrier(2, timeout=60)

    def meet(spark_, sf_dir):
        barrier.wait()
        return spark_.range(3)

    jobs = (JobSpec("left", "left_q", "overwrite"),
            JobSpec("right", "right_q", "overwrite"))
    records = run_pipeline(spark, SF_SMOKE, str(tmp_path / "wh"), jobs=jobs,
                           max_attempts=1, query_fns={"left_q": meet, "right_q": meet})
    assert [(r.job, r.status, r.rows) for r in records] == [
        ("left", "ok", 3), ("right", "ok", 3)]


def test_worker_threads_keep_callers_job_group(spark, tmp_path):
    """A job group the caller set must reach the jobs the worker
    threads launch, or ``sc.cancelJobGroup`` could not cancel a tick."""
    sc = spark.sparkContext
    group = "runner-tick-group"
    sc.setJobGroup(group, "one tick")
    try:
        run_pipeline(spark, SF_SMOKE, str(tmp_path / "wh"),
                     jobs=(JobSpec("t", "q", "overwrite"),),
                     query_fns={"q": lambda spark_, sf_dir: spark_.range(5)})
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert sc.statusTracker().getJobIdsForGroup(group)


def test_ledger_schema_and_hidden_partial_file(spark, tmp_path):
    """The pyarrow-written ledger keeps the Spark-facing schema, and a
    leftover hidden partial file from a crashed write is skipped."""
    out = str(tmp_path / "wh")
    jobs = (JobSpec("t", "q", "overwrite"),)
    fns = {"q": lambda spark_, sf_dir: spark_.range(2)}
    run_pipeline(spark, SF_SMOKE, out, jobs=jobs, query_fns=fns)
    ledger_dir = f"{out}/_run_ledger"
    with open(f"{ledger_dir}/.part-0-crashed.parquet", "wb") as fh:
        fh.write(b"PAR1 half-written")
    run_pipeline(spark, SF_SMOKE, out, jobs=jobs, query_fns=fns)
    ledger = spark.read.parquet(ledger_dir)
    assert ledger.schema.simpleString() == (
        "struct<job:string,attempt:int,status:string,rows:bigint,"
        "seconds:double,error:string>"
    )
    assert [tuple(r) for r in ledger.select("job", "attempt", "status", "rows").collect()] == [
        ("t", 1, "ok", 2)] * 2


def test_backfill_catchup_skips_existing_days(spark, tmp_path):
    """First backfill materializes every day; a second run over the
    same window is all 'skipped' no-ops (Airflow catchup semantics)
    with identical partition contents; force=True re-runs."""
    from pitlapetl_spark.plans.runner import daily_order_rollup, run_backfill

    out = str(tmp_path / "wh")
    days = ["1995-01-01", "1995-01-02", "1995-01-03"]
    first = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days, daily_order_rollup
    )
    assert [r.status for r in first] == ["ok"] * 3
    before = {
        d: sorted(
            map(tuple, spark.read.parquet(f"{out}/daily_rollup/day={d}").collect())
        )
        for d in days
    }
    second = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days, daily_order_rollup
    )
    assert [r.status for r in second] == ["skipped"] * 3
    for d in days:
        after = sorted(
            map(tuple, spark.read.parquet(f"{out}/daily_rollup/day={d}").collect())
        )
        assert after == before[d]
    forced = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days[:1], daily_order_rollup,
        force=True,
    )
    assert [r.status for r in forced] == ["ok"]
    # ledger carries all three sweeps
    ledger = spark.read.parquet(f"{out}/_backfill_ledger")
    assert ledger.count() == 7


def test_backfill_failure_isolated_per_day(spark, tmp_path):
    """A day-unit that raises must not poison the other days: healthy
    days are fresh on disk, the sweep raises AFTER completing, and a
    rerun heals only the hole."""
    import pytest as _pytest

    from pitlapetl_spark.plans.runner import (
        PipelineFailure,
        daily_order_rollup,
        run_backfill,
    )

    out = str(tmp_path / "wh")
    days = ["1995-01-01", "1995-01-02", "1995-01-03"]

    def flaky(spark_, sf_dir_, day):
        if day == "1995-01-02":
            raise RuntimeError("boom")
        return daily_order_rollup(spark_, sf_dir_, day)

    with _pytest.raises(PipelineFailure, match="1995-01-02"):
        run_backfill(spark, SF_SMOKE, out, "daily_rollup", days, flaky)
    import os

    assert os.path.isdir(f"{out}/daily_rollup/day=1995-01-01")
    assert os.path.isdir(f"{out}/daily_rollup/day=1995-01-03")
    assert not os.path.isdir(f"{out}/daily_rollup/day=1995-01-02")
    # the healing rerun: only the hole runs, the rest skip
    healed = run_backfill(
        spark, SF_SMOKE, out, "daily_rollup", days, daily_order_rollup
    )
    assert {r.day: r.status for r in healed} == {
        "1995-01-01": "skipped",
        "1995-01-02": "ok",
        "1995-01-03": "skipped",
    }
