"""Control-normalized bench gate (VERDICT r9 #3) — structural pins.

The gate's host-factor estimate only works if (a) bench.py and
bench_gate.py agree on which queries are controls, (b) every control
is actually timed in every bench run (HEADLINE membership), and
(c) the normalization math does what the docstring claims. Unit-level
checks here; the end-to-end evidence is the BENCH.json re-record
notes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")
sys.path.insert(0, "/root/repo/tools")

import bench
import bench_gate


def test_controls_lists_in_sync_and_in_headline():
    assert bench.CONTROLS == bench_gate.CONTROLS
    assert len(bench.CONTROLS) >= 2
    for c in bench.CONTROLS:
        assert c in bench.HEADLINE, f"control {c} not timed by bench.py"


def _run(queries, sigma=None):
    doc = {"queries": dict(queries)}
    if sigma:
        doc["sigma"] = dict(sigma)
    return doc


def test_host_factor_is_median_control_ratio():
    base = _run({"q1_pricing_summary": 1.0, "text_stats": 1.0, "join_inner_fk_agg": 1.0})
    cand = _run({"q1_pricing_summary": 1.2, "text_stats": 1.3, "join_inner_fk_agg": 1.1})
    clamped, raw = bench_gate.host_factor(cand, base)
    assert raw == 1.2 and clamped == 1.2


def test_host_factor_clamped_and_degrades_without_controls():
    base = _run({"q1_pricing_summary": 1.0, "text_stats": 1.0})
    cand = _run({"q1_pricing_summary": 3.0, "text_stats": 3.0})
    clamped, raw = bench_gate.host_factor(cand, base)
    assert raw == 3.0 and clamped == bench_gate.FACTOR_CLAMP[1]
    # one control is not enough to estimate the host
    clamped, raw = bench_gate.host_factor(
        _run({"q1_pricing_summary": 3.0}), base
    )
    assert (clamped, raw) == (1.0, None)


def test_uniform_host_slowdown_does_not_flag():
    """Everything 1.4x slower including the controls → host state, not
    a regression — the r8/r9 noise-flag pattern the gate must absorb."""
    names = bench_gate.CONTROLS + ["heavy_query"]
    base = _run({n: 1.0 for n in names}, sigma={n: 0.02 for n in names})
    cand = _run({n: 1.4 for n in names})
    out = bench_gate.evaluate(cand, base)
    assert out["host_factor"] == 1.4
    assert out["regressions"] == []


def test_genuine_regression_still_flags_on_slow_host():
    """A query that moved AGAINST the controls (2.5x while the host is
    only 1.2x slow) must still flag after normalization."""
    base = _run(
        {**{c: 1.0 for c in bench_gate.CONTROLS}, "heavy_query": 1.0},
        sigma={"heavy_query": 0.02},
    )
    cand = _run({**{c: 1.2 for c in bench_gate.CONTROLS}, "heavy_query": 2.5})
    out = bench_gate.evaluate(cand, base)
    flagged = {r["query"] for r in out["regressions"]}
    assert flagged == {"heavy_query"}
    (r,) = out["regressions"]
    assert abs(r["sec_normalized"] - 2.5 / 1.2) < 1e-3  # rounded to 3 dp


def test_control_regression_flags_via_leave_one_out():
    """A real regression in ONE control must not be normalized away
    by itself — it is judged against its peer controls."""
    base = _run({c: 1.0 for c in bench_gate.CONTROLS}, sigma={c: 0.02 for c in bench_gate.CONTROLS})
    cand = _run({**{c: 1.0 for c in bench_gate.CONTROLS}, "q1_pricing_summary": 2.5})
    out = bench_gate.evaluate(cand, base)
    assert {r["query"] for r in out["regressions"]} == {"q1_pricing_summary"}


def test_no_controls_flag_restores_legacy_behavior():
    names = bench_gate.CONTROLS + ["heavy_query"]
    base = _run({n: 1.0 for n in names}, sigma={n: 0.02 for n in names})
    cand = _run({n: 1.4 for n in names})
    out = bench_gate.evaluate(cand, base, use_controls=False)
    assert out["host_factor"] == 1.0
    assert len(out["regressions"]) == len(names)


def test_summary_line_fits_driver_tail_capture():
    """VERDICT r10 #3: the driver keeps only the LAST ~2000 chars of
    bench stdout and json-parses them, so the FINAL printed line (the
    compact summary) must stay comfortably under that bound for the
    full headline set — worst-case query names, 4-digit timings, all
    controls appended. Headline growth that would overflow the tail
    fails here, not in the round artifact."""
    import json

    longest = sorted(bench.HEADLINE, key=len, reverse=True)[:10]
    worst = {name: 9999.999 for name in longest}
    for c in bench.CONTROLS:
        worst.setdefault(c, 9999.999)
    summary = {
        "metric": "headline_queries_wall_sec",
        "value": 99999.999,
        "unit": "sec",
        "queries": worst,
        "sf": 0.1,
        "n_queries": len(bench.HEADLINE),
        "queries_note": "worst-10 + controls; full per-query map in "
                        "BENCH_FULL.json (also printed above)",
    }
    line = json.dumps(summary)
    assert len(line) < 1900, (
        f"bench summary line can reach {len(line)} chars — the driver "
        "tail capture (2000) would truncate it"
    )


def test_full_map_name_keeps_canonical_file_for_full_default_runs():
    default = str(os.cpu_count() or 4)
    assert bench.full_map_name({}) == "BENCH_FULL.json"
    assert bench.full_map_name({"SPARK_GRAFT_CPUS": default}) == "BENCH_FULL.json"
    other = "1" if default != "1" else "2"
    assert bench.full_map_name({"SPARK_GRAFT_CPUS": other}) == (
        f"BENCH_FULL_c{other}.json"
    )
    assert bench.full_map_name({"SPARK_GRAFT_BENCH_ONLY": "text_stats"}) == (
        "BENCH_FULL_subset.json"
    )
    assert bench.full_map_name(
        {"SPARK_GRAFT_CPUS": other, "SPARK_GRAFT_BENCH_ONLY": "text_stats"}
    ) == f"BENCH_FULL_c{other}_subset.json"
