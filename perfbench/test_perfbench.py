"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _staging(tmp_path, name: str, seed: int) -> dict[str, str]:
    root = str(tmp_path / name)
    datagen.write_tables(datagen.vc_staging_tables(seed, 0.002), root, as_dirs=True)
    return _digest(root)


def _testdata(tmp_path, name: str, seed: int) -> dict[str, str]:
    root = str(tmp_path / name)
    datagen.write_tables(datagen.testdata_tables(seed, 0.001), root, as_dirs=False)
    return _digest(root)


def test_same_seed_gives_byte_identical_staging(tmp_path):
    a, b = _staging(tmp_path, "a", 7), _staging(tmp_path, "b", 7)
    assert set(a) == {f"{t}/part-00000.parquet" for t in datagen.VC_FULL_ROWS}
    assert a == b


def test_other_seed_changes_staging(tmp_path):
    a, b = _staging(tmp_path, "a", 7), _staging(tmp_path, "b", 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_same_seed_gives_byte_identical_testdata(tmp_path):
    a, b = _testdata(tmp_path, "a", 3), _testdata(tmp_path, "b", 3)
    assert a == b
    c = _testdata(tmp_path, "c", 4)
    # region and nation are the fixed spine; every other table changes
    assert {k for k in a if a[k] != c[k]} == {
        f"{t}.parquet" for t in ("customer", "supplier", "part", "orders", "lineitem",
                                 "events", "documents", "embeddings")
    }


def test_staging_matches_engine_schemas():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(HERE))
    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark import schemas

    from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
        pipeline,
    )

    tables = datagen.vc_staging_tables(1, 0.002)
    assert set(tables) == set(pipeline.STAGING_INPUTS)
    for name, table in tables.items():
        assert table.schema.names == [f.name for f in schemas.STAGING[name].fields], name
    assert W.PLANS_TABLES == pipeline.WAREHOUSE_ORDER


def test_cut_before_keeps_only_earlier_rows():
    tables = datagen.vc_staging_tables(5, 0.002)
    day = datagen.VC_YEAR[1] - 30
    cut = datagen.cut_before(tables, day)
    for name, table in cut.items():
        if name in ("people", "relationships"):
            assert table.num_rows == tables[name].num_rows
            continue
        days = [ts.timestamp() // 86_400 for ts in table["created_at"].to_pylist()]
        assert days and max(days) < day
        assert table.num_rows < tables[name].num_rows


def test_facts_are_never_created_before_their_company():
    tables = datagen.vc_staging_tables(9, 0.002)
    created = dict(zip(tables["company"]["object_id"].to_pylist(),
                       tables["company"]["created_at"].to_pylist()))
    inv = tables["investments"]
    for obj, ts in zip(inv["funded_object_id"].to_pylist(), inv["created_at"].to_pylist()):
        if obj in created:
            assert ts.date() >= created[obj].date()


# --- span self-time arithmetic ---------------------------------------------

def test_covered_merges_overlaps_and_clips_to_parent():
    assert T.covered((0.0, 10.0), []) == 0.0
    assert T.covered((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == pytest.approx(6.0)
    assert T.covered((0.0, 10.0), [(-5.0, -1.0), (11.0, 12.0)]) == 0.0
    assert T.covered((0.0, 10.0), [(-1.0, 20.0)]) == pytest.approx(10.0)


def test_self_time_is_parent_minus_covered_children():
    spans = [
        T.Span(1, "root", None, 0.0, 10.0),
        T.Span(2, "child", 1, 1.0, 3.0),
        T.Span(3, "child", 1, 2.0, 5.0),
        T.Span(4, "grandchild", 3, 2.5, 4.5),
        T.Span(5, "child", 1, 8.0, 10.0),
    ]
    st = T.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 6.0)   # children cover [1,5] and [8,10]
    assert st[3] == pytest.approx(3.0 - 2.0)    # grandchild covers 2 of 3
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(2.0)
    assert st[5] == pytest.approx(2.0)


def test_tracer_nests_spans_and_records_nothing_when_disabled():
    tr = T.Tracer(True)
    with tr.span("a"):
        with tr.span("b", table="dim_date"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["b"].parent == by_name["a"].id
    assert by_name["a"].parent is None
    assert by_name["b"].attrs == {"table": "dim_date"}
    off = T.Tracer(False)
    with off.span("a") as s:
        assert s is None
    assert off.spans == []


def test_layer_stats_use_self_time_and_per_day_means():
    spans = [
        T.Span(1, "plans.table", None, 0.0, 4.0, {"table": "dim_company", "phase": "daily"}),
        T.Span(2, "sources.replace_atomic", 1, 1.0, 3.0),
        T.Span(3, "plans.table", None, 5.0, 6.0, {"table": "dim_date", "phase": "full"}),
    ]
    stats = W.new_stats()
    stats["exec.s"], stats["exec.task_s"] = 2.0, 4.0
    stats["_exec.median_task_s"], stats["_exec.max_task_s"] = 1.0, 3.0
    stats["_sources.daily_rows_written"], stats["_sources.net_new_rows"] = 200.0, 50.0
    W.finish_layer_stats(stats, spans, days=2)
    assert stats["plans.self_s"] == pytest.approx(2.0 + 1.0)
    assert stats["plans.dim_company.daily_s"] == pytest.approx(2.0)
    assert stats["sources.replace_atomic_s"] == pytest.approx(2.0)
    assert stats["sources.useful_write_frac"] == pytest.approx(0.25)
    assert stats["exec.task_skew"] == pytest.approx(3.0)
    assert stats["exec.core_util"] == pytest.approx(4.0 / (2.0 * W.CORES))


# --- warehouse invariants ---------------------------------------------------

def _write_warehouse(root: str, drop_investment: bool = False) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = {
        "dim_company": {"sk_company_id": [1, 2, 3], "nk_company_id": ["c:1", "c:2", "c:3"]},
        "dim_funds": {"sk_fund_id": [1], "nk_fund_id": ["f:1"]},
        "dim_people": {"sk_people_id": [1, 2], "nk_people_id": ["p:1", "p:2"]},
        "dim_date": {"date_id": [20131230, 20131231]},
        "fct_investments": {"dd_investment_id": ["i:1", "i:2"], "sk_company_id": [1, 3],
                            "sk_fund_id": [1, 1]},
        "fct_ipos": {"dd_ipo_id": ["ipo:1"], "sk_company_id": [2]},
        "fct_acquisition": {"dd_acquisition_id": ["a:1"], "sk_acquiring_company_id": [1],
                            "sk_acquired_company_id": [2]},
        "bridge_company_people": {"sk_company_id": [1, 3], "sk_people_id": [1, 2],
                                  "title": ["CEO", "CTO"]},
    }
    if drop_investment:  # the day's upsert kept only the new row
        tables["fct_investments"] = {k: v[1:] for k, v in tables["fct_investments"].items()}
    for name, cols in tables.items():
        os.makedirs(os.path.join(root, name))
        pq.write_table(pa.table(cols), os.path.join(root, name, "part-0.parquet"))


def _vc_check(tmp_path, drop_investment: bool) -> W.Context:
    import datetime as dt

    import pyarrow as pa

    day = 16_070  # 2013-12-31, the replayed day
    at = [dt.datetime(2013, 12, 1), dt.datetime(2013, 12, 2), dt.datetime(2013, 12, 31)]
    wl = W.VcDailyElt()
    wl.first_day = day
    wl.tables = {
        "company": pa.table({"object_id": ["c:1", "c:2", "c:3"], "created_at": at}),
        "funds": pa.table({"object_id": ["f:1"], "created_at": at[:1]}),
    }
    wl.reference, wl.last_warehouse = str(tmp_path / "ref"), str(tmp_path / "timed")
    _write_warehouse(wl.reference)
    _write_warehouse(wl.last_warehouse, drop_investment)
    ctx = W.Context(None, str(tmp_path), 1, None)
    wl.check(ctx)
    return ctx


def test_warehouse_invariants_pass_on_a_consistent_warehouse(tmp_path):
    ctx = _vc_check(tmp_path, drop_investment=False)
    assert (ctx.attempted, ctx.failed) == (4, 0), ctx.failures


def test_fact_rows_lost_in_the_merge_fail_the_full_load_invariant(tmp_path):
    ctx = _vc_check(tmp_path, drop_investment=True)
    assert ctx.attempted == 4
    assert ctx.failures == ["fct_investments: natural keys differ from a full load"]


# --- metric names match BENCHMARK.json ---------------------------------------

def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metric_names_match_benchmark_json():
    import run

    spec = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert run.END_TO_END == spec


def test_per_layer_metric_names_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert W.PER_LAYER == spec


def test_workload_names_match_benchmark_json():
    assert sorted(w["name"] for w in _benchmark_json()["workloads"]) == sorted(W.WORKLOADS)


def test_registry_mix_covers_every_operator_family():
    pytest.importorskip("pyspark")
    sys.path.insert(0, os.path.dirname(HERE))
    import __spark_entry__ as entry

    def family(name: str) -> str:
        return entry._REGISTRY[name][0].__module__.rsplit(".", 1)[-1]

    assert len(set(W.MIX_CALLS)) == len(W.MIX_CALLS)
    assert {family(n) for n in W.LLM_CALLS} == set(W.FAMILIES)
    assert {family(n) for n in W.MULTIMODAL_CALLS} == {"multimodal"}
