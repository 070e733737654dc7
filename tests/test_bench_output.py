"""The bench driver line must survive the external driver's 2000-char
stdout tail capture: BENCH_r07.json came back ``"parsed": null`` when
the single headline JSON line outgrew the window (VERDICT r7 "What's
wrong" #1), and PERF_r12.json mislabeled 4 queries
"dropped_from_bench" when the cheapest-first trim dropped entries
that had merely gotten FASTER (VERDICT r12 "What's wrong" #2). These
tests pin the fix: the printed line always fits the budget, totals
reconcile under trimming, names the previous driver round parsed are
protected from the trim, the omitted remainder is declared by count +
residual seconds + an auditable name digest, and the full per-query
map is preserved verbatim in BENCH_FULL.json."""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402
from bench import _DRIVER_LINE_BUDGET, _driver_line  # noqa: E402


def _result(n_queries: int) -> dict:
    timings = {
        f"family_operator_variant_{i:03d}": round(0.04 + i * 0.037, 3)
        for i in range(n_queries)
    }
    return {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "timing": "min_of_3",
        "queries": timings,
        "sf": 0.1,
    }


def test_small_map_passes_through_untrimmed():
    res = _result(10)
    line = _driver_line(res)
    assert len(line) <= _DRIVER_LINE_BUDGET
    assert json.loads(line) == res  # verbatim — no trim fields added


def test_oversize_map_trims_cheapest_and_reconciles_totals():
    res = _result(120)  # way past the budget
    line = _driver_line(res)
    assert len(line) <= _DRIVER_LINE_BUDGET
    d = json.loads(line)
    # totals reconcile exactly: kept (2-decimal compacted) +
    # declared-residual == headline total
    assert d["value"] == res["value"]
    recon = sum(d["queries"].values()) + d["omitted_sec"]
    assert abs(d["value"] - recon) < 1e-6
    assert d["queries_omitted"] == 120 - len(d["queries"])
    assert d["full_map"] == "BENCH_FULL.json"
    # the EXPENSIVE entries survive (regression triage reads these);
    # with no protected names, everything trimmed is cheaper than
    # everything kept (2-decimal compaction tolerance)
    kept_min = min(d["queries"].values())
    omitted = set(res["queries"]) - set(d["queries"])
    assert all(res["queries"][n] <= kept_min + 0.005 for n in omitted)
    # the omitted names are auditable: their md5 is declared and
    # recomputable from the full map (committed as BENCH_FULL.json)
    digest = hashlib.md5(",".join(sorted(omitted)).encode()).hexdigest()[:8]
    assert d["omitted_md5"] == digest


def test_prev_round_names_are_protected_from_the_trim(monkeypatch):
    """A query the previous driver round parsed must stay in the map
    even when it becomes one of the cheapest — the exact failure that
    produced PERF_r12's 4 'dropped_from_bench' artifacts."""
    res = _result(120)
    cheapest = sorted(res["queries"], key=res["queries"].get)[:3]
    monkeypatch.setattr(
        bench, "_prev_driver_names", lambda repo=None: set(cheapest)
    )
    d = json.loads(_driver_line(res))
    for name in cheapest:
        assert name in d["queries"], name


def test_prev_driver_names_reads_the_latest_committed_round(tmp_path):
    """The protected set comes from the highest-numbered
    BENCH_r<N>.json with a parsed query map: a later round whose
    bench line did not parse is skipped, the c8 scaling run and other
    non-round files must not match, and r12 outranks r3 numerically
    (not as a string)."""

    def bench_file(name: str, parsed) -> None:
        (tmp_path / name).write_text(json.dumps({"parsed": parsed}))

    bench_file("BENCH_r3.json", {"queries": {"q_r3": 1.0}})
    bench_file("BENCH_r12.json", {"queries": {"q_a": 1.0, "q_b": 2.0}})
    bench_file("BENCH_r13.json", None)
    bench_file("BENCH_r12_c8.json", {"queries": {"q_c8": 1.0}})
    assert bench._prev_driver_names(repo=str(tmp_path)) == {"q_a", "q_b"}


def test_budget_is_inside_the_driver_capture_window():
    # the driver stores the last 2000 chars and the JSON line is the
    # final thing printed; leave headroom for the trailing newline
    assert _DRIVER_LINE_BUDGET <= 1975
