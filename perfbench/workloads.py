"""The benchmark's workloads: what one pass calls, and how a pass is
checked and traced.

A pass is a closed loop with one client: each call starts only after
the previous one returned. Workloads drive the engine only through its
public functions — ``__spark_entry__.queries()`` / ``oracle_sql()`` and
``plans.pipeline`` / ``plans.orchestrate``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import random
import shutil
import time
from collections import defaultdict

import datagen
import tracing as T

CORES = 4

# --------------------------------------------------------------------------
# registry_mix: OLAP, LLM-curation and multimodal registry calls
# --------------------------------------------------------------------------

# scale of the generated TESTDATA.md lookalike (0.01 ≈ 60k lineitem)
MIX_SF = 0.01

# read-only OLAP shapes: Catalyst, codegen and shuffle, no eager jobs;
# q1, text_stats and join_inner_fk_agg are the host-drift controls
OLAP_CALLS = [
    "q1_pricing_summary", "q18_large_volume_customer", "join_inner_fk_agg", "text_stats",
]
# LLM-curation operators, one per operator family; several run eager
# jobs while they construct their plan
LLM_CALLS = [
    "dedup_minhash_grouped", "link_golden_records", "graph_label_propagation",
    "embedding_semdedup_prune", "text_lm_perplexity", "sample_dsir_select",
    "sketch_countmin_topk",
]
# multimodal decode: the only calls that run Python on executors
MULTIMODAL_CALLS = ["multimodal_jpeg_roundtrip", "multimodal_audio_adpcm"]
MIX_CALLS = OLAP_CALLS + LLM_CALLS + MULTIMODAL_CALLS

# registry module → operator family reported under ``operators.<family>``
FAMILIES = ("dedup", "linkage", "graph", "embeddings", "textops", "sampling", "sketches")

# --------------------------------------------------------------------------
# vc_daily_elt: staging → Kimball star, full load then daily merges
# --------------------------------------------------------------------------

# fraction of the Crunchbase-2013 row counts (datagen.VC_FULL_ROWS)
VC_SCALE = 0.05
# days replayed after the full load; the window is the tail of the year
VC_DAYS = 1

PLANS_TABLES = (
    "dim_date", "dim_company", "dim_funds", "dim_people",
    "fct_investments", "fct_ipos", "fct_acquisition", "bridge_company_people",
)

# --------------------------------------------------------------------------
# per-layer metric names (``--trace 1``), the same on every workload
# --------------------------------------------------------------------------

PER_LAYER: dict[str, str] = {
    "session.build_s": "s",
    "registry.construct_s": "s",
    "registry.driver_cpu_s": "s",
    "registry.eager_jobs": "count",
    "registry.eager_task_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_skew": "ratio",
    "exec.core_util": "ratio",
    **{f"operators.{f}.{m}": u for f in FAMILIES
       for m, u in (("s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"))},
    "multimodal.python_cpu_s": "s",
    "multimodal.jvm_cpu_s": "s",
    "memory.peak_rss_mb": "MB",
    "memory.jvm_heap_peak_mb": "MB",
    "plans.full_load_s": "s",
    "plans.daily_s": "s",
    **{f"plans.{t}.daily_s": "s" for t in PLANS_TABLES},
    "plans.self_s": "s",
    "sources.write_s": "s",
    "sources.upsert_s": "s",
    "sources.replace_atomic_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written_mb": "MB",
    "sources.rows_written": "count",
    "sources.useful_write_frac": "ratio",
    "host.probe_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_frac": "ratio",
}


class Context:
    """Per-run state shared by the passes of one workload."""

    def __init__(self, spark, run_dir: str, seed: int, tree: T.ProcessTree):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tree = tree
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.output_roots = [os.path.join(run_dir, "out"), os.path.join(run_dir, "tmp")]

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


def _add_exec(stats: dict, exec_s: float, run: T.JobStats) -> None:
    stats["exec.s"] += exec_s
    for k in ("jobs", "stages", "tasks", "task_s", "gc_s", "input_mb",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        stats[f"exec.{k}"] += getattr(run, k)
    stats["_exec.max_task_s"] += run.max_task_s
    stats["_exec.median_task_s"] += run.median_task_s


def _describe(exc: Exception) -> str:
    first = str(exc).strip().splitlines()[:1]
    return f"{type(exc).__name__}: {first[0][:200]}" if first else type(exc).__name__


def _set_group(spark, group: str | None) -> None:
    if group is None:
        spark.sparkContext._jsc.clearJobGroup()
    else:
        spark.sparkContext.setJobGroup(group, group)


def _normalize(rows: list[dict], cols: list[str]) -> list[tuple]:
    """Order-insensitive value form of a result, as the oracle check
    compares them: floats by repr, NaN spelled out, the rest by str."""
    out = []
    for r in rows:
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(v)
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


class RegistryMix:
    name = "registry_mix"

    def prepare(self, ctx: Context) -> None:
        import __spark_entry__ as entry

        self.data_dir = os.path.join(ctx.run_dir, "in", "testdata")
        datagen.write_tables(datagen.testdata_tables(ctx.seed, MIX_SF), self.data_dir, as_dirs=False)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        # an LLM call is reported under its registry module's family;
        # text_stats lives in the textops module but is an OLAP control
        self.family = {
            n: entry._REGISTRY[n][0].__module__.rsplit(".", 1)[-1] if n in LLM_CALLS
            else "multimodal" if n in MULTIMODAL_CALLS else "olap"
            for n in MIX_CALLS
        }

    def _oracle_rows(self, name: str) -> tuple[list[str], list[dict]]:
        if not hasattr(self, "_duck"):
            import duckdb

            from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.schemas import (
                TESTDATA_TABLES,
            )

            self._duck = duckdb.connect()
            for t in TESTDATA_TABLES:
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')"
                )
        res = self._duck.execute(self.oracles[name])
        cols = [d[0] for d in res.description]
        return cols, [dict(zip(cols, r)) for r in res.fetchall()]

    def _check(self, ctx: Context, name: str, df) -> None:
        cols = sorted(df.columns)
        rows = [r.asDict() for r in df.collect()]
        if name not in self.oracles:
            ctx.fail(f"{name}: no DuckDB twin")
            return
        ocols, orows = self._oracle_rows(name)
        if sorted(ocols) != cols:
            ctx.fail(f"{name}: columns {cols} != twin {sorted(ocols)}")
        elif _normalize(rows, cols) != _normalize(orows, cols):
            ctx.fail(f"{name}: values differ from the DuckDB twin ({len(rows)} vs {len(orows)} rows)")

    def warm_up(self, ctx: Context) -> None:
        """One untimed pass that checks every call against its DuckDB
        twin and bootstraps any persisted index."""
        self.run_pass(ctx, 0, T.Tracer(False), new_stats(), check=True)

    def check(self, ctx: Context) -> None:
        """Outputs were checked during the warm-up."""

    def run_pass(self, ctx: Context, pass_no: int, tracer: T.Tracer, stats: dict, check: bool = False) -> None:
        spark = ctx.spark
        order = list(MIX_CALLS)
        random.Random(ctx.seed * 1_000_003 + pass_no).shuffle(order)
        traced = tracer.enabled
        for name in order:
            ctx.attempted += 1
            group = f"pb{pass_no}:{name}"
            try:
                with tracer.span("call", query=name):
                    if traced:
                        _set_group(spark, group + ":construct")
                        cpu0 = time.process_time()
                        py0, jvm0 = ctx.tree.python_worker_cpu_s(), ctx.tree.jvm_cpu_s()
                    t0 = time.perf_counter()
                    with tracer.span("registry.construct"):
                        df = self.queries[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    if traced:
                        cpu1 = time.process_time()
                        with tracer.span("catalyst"):
                            phases = T.catalyst_phases_ms(df)
                        _set_group(spark, group + ":exec")
                    t2 = time.perf_counter()
                    with tracer.span("exec"):
                        if check:
                            self._check(ctx, name, df)
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    t3 = time.perf_counter()
                    if traced:
                        py1, jvm1 = ctx.tree.python_worker_cpu_s(), ctx.tree.jvm_cpu_s()
                        _set_group(spark, None)
                        self._account(spark, stats, name, group, t1 - t0, cpu1 - cpu0,
                                      t3 - t2, phases, py1 - py0, jvm1 - jvm0)
            except Exception as exc:  # a failed call is counted, the pass goes on
                ctx.fail(f"{name}: {_describe(exc)}")
            finally:
                if traced:
                    _set_group(spark, None)

    def _account(self, spark, stats, name, group, construct_s, driver_cpu_s, exec_s,
                 phases, py_cpu_s, jvm_cpu_s) -> None:
        eager = T.job_group_stats(spark, group + ":construct")
        run = T.job_group_stats(spark, group + ":exec")
        stats["registry.construct_s"] += construct_s
        stats["registry.driver_cpu_s"] += driver_cpu_s
        stats["registry.eager_jobs"] += eager.jobs
        stats["registry.eager_task_s"] += eager.task_s
        for phase, ms in phases.items():
            stats[f"catalyst.{phase}_ms"] += ms
        _add_exec(stats, exec_s, run)
        fam = self.family[name]
        if fam in FAMILIES:
            stats[f"operators.{fam}.s"] += construct_s + exec_s
            stats[f"operators.{fam}.jobs"] += eager.jobs + run.jobs
            stats[f"operators.{fam}.shuffle_write_mb"] += eager.shuffle_write_mb + run.shuffle_write_mb
        elif fam == "multimodal":
            stats["multimodal.python_cpu_s"] += py_cpu_s
            stats["multimodal.jvm_cpu_s"] += jvm_cpu_s


# --------------------------------------------------------------------------
# vc_daily_elt
# --------------------------------------------------------------------------

def _ds(epoch_day: int) -> str:
    return (dt.date(1970, 1, 1) + dt.timedelta(days=int(epoch_day))).isoformat()


class VcDailyElt:
    name = "vc_daily_elt"

    def prepare(self, ctx: Context) -> None:
        self.tables = datagen.vc_staging_tables(ctx.seed, VC_SCALE)
        # replay window: the last VC_DAYS created_at days of the zone;
        # ds = D replays the rows created on D - 1
        self.first_day = datagen.VC_YEAR[1] - VC_DAYS + 1
        self.full_zone = os.path.join(ctx.run_dir, "in", "staging_full")
        self.pre_zone = os.path.join(ctx.run_dir, "in", "staging_pre")
        datagen.write_tables(self.tables, self.full_zone, as_dirs=True)
        datagen.write_tables(datagen.cut_before(self.tables, self.first_day), self.pre_zone, as_dirs=True)

    def _backfill(self, ctx: Context, wh: str, ledger_name: str) -> None:
        from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
            orchestrate as O,
        )

        ledger = O.RunLedger(os.path.join(ctx.run_dir, "out", ledger_name))
        O.run_backfill(
            ctx.spark, self.full_zone, wh,
            _ds(self.first_day + 1), _ds(self.first_day + VC_DAYS), ledger,
        )

    def warm_up(self, ctx: Context) -> None:
        """Untimed: the reference for the check, one plain full load over
        the whole zone; then the window replayed onto a throwaway copy of
        it, which runs every merge path once before the timed passes."""
        from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
            pipeline as P,
        )

        self.reference = os.path.join(ctx.run_dir, "out", "warehouse_reference")
        throwaway = os.path.join(ctx.run_dir, "out", "warehouse_0")
        ctx.attempted += 1
        try:
            P.run_warehouse_pipeline(ctx.spark, self.full_zone, self.reference)
            shutil.copytree(self.reference, throwaway)
            self._backfill(ctx, throwaway, "ledger_0.jsonl")
        except Exception as exc:
            ctx.fail(f"warm-up: {_describe(exc)}")
            raise

    def run_pass(self, ctx: Context, pass_no: int, tracer: T.Tracer, stats: dict) -> None:
        """A fresh warehouse: full load from the zone as it stood before
        the window, then the window's days replayed from the full zone.
        Earlier passes' warehouses stay until the run directory goes."""
        from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
            pipeline as P,
        )

        wh = self.last_warehouse = os.path.join(ctx.run_dir, "out", f"warehouse_{pass_no}")
        probe = _TableProbe(tracer, stats, wh) if tracer.enabled else contextlib.nullcontext()
        group = f"pb{pass_no}:vc"
        if tracer.enabled:
            _set_group(ctx.spark, group)
        t_pass = time.perf_counter()
        with probe:
            for step in ("full", "daily"):
                ctx.attempted += 1
                if tracer.enabled:
                    probe.phase = step
                    rows0 = probe.warehouse_rows()
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"plans.{step}"):
                        if step == "full":
                            P.run_warehouse_pipeline(ctx.spark, self.pre_zone, wh)
                        else:
                            self._backfill(ctx, wh, f"ledger_{pass_no}.jsonl")
                except Exception as exc:
                    ctx.fail(f"{step}: {_describe(exc)}")
                    break
                if step == "full":
                    stats["plans.full_load_s"] += time.perf_counter() - t0
                else:
                    stats["plans.daily_s"] += (time.perf_counter() - t0) / VC_DAYS
                    if tracer.enabled:
                        stats["_sources.net_new_rows"] += probe.warehouse_rows() - rows0
        if tracer.enabled:
            _set_group(ctx.spark, None)
            _add_exec(stats, time.perf_counter() - t_pass, T.job_group_stats(ctx.spark, group))

    # --- correctness: four warehouse invariants ---------------------------

    def check(self, ctx: Context) -> None:
        """Four invariants on the last timed pass's warehouse; an
        invariant that cannot be evaluated counts as failed."""
        attempted = ctx.attempted
        try:
            self._invariants(ctx)
        except Exception as exc:
            ctx.attempted = attempted + 4
            ctx.fail(f"warehouse check: {_describe(exc)}")

    def _invariants(self, ctx: Context) -> None:
        # the warehouse is a few MB of local parquet: read it with pyarrow
        # rather than spend ~40 Spark jobs on counts and anti-joins
        import collections

        import pyarrow.parquet as pq

        def col(root: str, table: str, name: str) -> list:
            return pq.read_table(f"{root}/{table}", columns=[name])[name].to_pylist()

        wh = self.last_warehouse
        dims = {"dim_company": ("sk_company_id", "nk_company_id"),
                "dim_funds": ("sk_fund_id", "nk_fund_id"),
                "dim_people": ("sk_people_id", "nk_people_id"),
                "dim_date": ("date_id", "date_id")}

        # 1. surrogate keys are unique in each dim
        ctx.attempted += 1
        for dim, (sk, _nk) in dims.items():
            keys = col(wh, dim, sk)
            if len(keys) != len(set(keys)):
                ctx.fail(f"{dim}: {len(keys) - len(set(keys))} duplicate {sk}")
                break

        # 2. keys continue across days: the full load keys the rows made
        #    before the window 1..n, each replayed day continues densely
        ctx.attempted += 1
        for dim, src in (("dim_company", "company"), ("dim_funds", "funds")):
            sk, nk = dims[dim]
            keys = dict(zip(col(wh, dim, nk), col(wh, dim, sk)))
            top, ok = 0, True
            for batch in self._created_batches(src):
                got = sorted(keys.get(k, -1) for k in batch)
                ok = ok and got == list(range(top + 1, top + 1 + len(batch)))
                top += len(batch)
            if not ok or len(keys) != top:
                ctx.fail(f"{dim}: surrogate keys do not continue across days")
                break

        # 3. no fact row has a dangling dim key
        ctx.attempted += 1
        fks = [("fct_investments", "sk_company_id", "dim_company"),
               ("fct_investments", "sk_fund_id", "dim_funds"),
               ("fct_ipos", "sk_company_id", "dim_company"),
               ("fct_acquisition", "sk_acquiring_company_id", "dim_company"),
               ("fct_acquisition", "sk_acquired_company_id", "dim_company"),
               ("bridge_company_people", "sk_company_id", "dim_company"),
               ("bridge_company_people", "sk_people_id", "dim_people")]
        for fact, fk, dim in fks:
            dangling = set(col(wh, fact, fk)) - set(col(wh, dim, dims[dim][0]))
            if dangling:
                ctx.fail(f"{fact}.{fk}: {len(dangling)} keys with no {dim} row")
                break

        # 4. natural-key multisets equal one full load over the same rows
        ctx.attempted += 1
        nks = {**{d: nk for d, (_sk, nk) in dims.items()},
               "fct_investments": "dd_investment_id", "fct_ipos": "dd_ipo_id",
               "fct_acquisition": "dd_acquisition_id",
               "bridge_company_people": "title"}  # bridge keys are rebuilt: compare size only
        for table, nk in nks.items():
            a, b = col(wh, table, nk), col(self.reference, table, nk)
            same = len(a) == len(b) if table == "bridge_company_people" else (
                collections.Counter(a) == collections.Counter(b))
            if not same:
                ctx.fail(f"{table}: natural keys differ from a full load")
                break

    def _created_batches(self, table: str) -> list[list[str]]:
        """Object ids of ``table`` made before the window, then per
        replayed day (the batches the warehouse keys in order)."""
        ids = self.tables[table]["object_id"].to_pylist()
        days = [ts.timestamp() // 86_400 for ts in self.tables[table]["created_at"].to_pylist()]
        batches = [[i for i, d in zip(ids, days) if d < self.first_day]]
        for k in range(VC_DAYS):
            batches.append([i for i, d in zip(ids, days) if d == self.first_day + k])
        return batches


class _TableProbe:
    """Traced-pass wrappers around ``plans.pipeline.run_warehouse_table``
    and the ``sources.io`` writers; restored on exit."""

    def __init__(self, tracer: T.Tracer, stats: dict, warehouse: str):
        self.tracer, self.stats, self.warehouse = tracer, stats, warehouse
        self.phase = "full"
        self._saved: list[tuple[object, str, object]] = []

    def warehouse_rows(self) -> int:
        snap = T.snapshot([self.warehouse])
        return T.parquet_rows([p for p in snap if "__swap" not in p])

    def _patch(self, module, attr: str, wrapper) -> None:
        orig = getattr(module, attr)
        self._saved.append((module, attr, orig))
        setattr(module, attr, wrapper(orig))

    def __enter__(self):
        from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.plans import (
            pipeline as P,
        )
        from elt_pipeline_for_venture_capital_business_with_airflow_pyspark_spark.sources import (
            io as SIO,
        )

        def table(orig):
            def run(spark, name, *a, **k):
                with self.tracer.span("plans.table", table=name, phase=self.phase):
                    return orig(spark, name, *a, **k)
            return run

        def source(kind):
            def wrap(orig):
                def call(*a, **k):
                    before = T.snapshot([self.warehouse])
                    with self.tracer.span(f"sources.{kind}"):
                        result = orig(*a, **k)
                    new = T.written(before, T.snapshot([self.warehouse]))
                    self.stats["sources.files_written"] += len(new)
                    self.stats["sources.bytes_written_mb"] += sum(
                        os.path.getsize(p) for p in new if os.path.exists(p)) / (1024 * 1024)
                    self.stats["sources.rows_written"] += T.parquet_rows(new)
                    if self.phase == "daily":
                        self.stats["_sources.daily_rows_written"] += T.parquet_rows(new)
                    return result
                return call
            return wrap

        self._patch(P, "run_warehouse_table", table)
        self._patch(SIO, "write_parquet", source("write"))
        self._patch(SIO, "upsert_parquet", source("upsert"))
        self._patch(SIO, "replace_parquet_atomic", source("replace_atomic"))
        return self

    def __exit__(self, *exc):
        for module, attr, orig in reversed(self._saved):
            setattr(module, attr, orig)
        self._saved.clear()
        return False


def finish_layer_stats(stats: dict, spans: list[T.Span], days: int = VC_DAYS) -> None:
    """Derive the span-based per-layer numbers of one traced pass."""
    self_t = T.self_times(spans)
    for s in spans:
        if s.name == "plans.table":
            stats["plans.self_s"] += self_t[s.id]
            if s.attrs.get("phase") == "daily":
                stats[f"plans.{s.attrs['table']}.daily_s"] += s.duration / days
        elif s.name == "sources.write":
            stats["sources.write_s"] += s.duration
        elif s.name == "sources.upsert":
            stats["sources.upsert_s"] += s.duration
        elif s.name == "sources.replace_atomic":
            stats["sources.replace_atomic_s"] += s.duration
    written = stats.pop("_sources.daily_rows_written", 0.0)
    net_new = stats.pop("_sources.net_new_rows", 0.0)
    stats["sources.useful_write_frac"] = net_new / written if written else 0.0
    median, worst = stats.pop("_exec.median_task_s", 0.0), stats.pop("_exec.max_task_s", 0.0)
    stats["exec.task_skew"] = worst / median if median else 0.0
    stats["exec.core_util"] = stats["exec.task_s"] / (stats["exec.s"] * CORES) if stats["exec.s"] else 0.0


def new_stats() -> dict:
    return defaultdict(float)


WORKLOADS = {"vc_daily_elt": VcDailyElt, "registry_mix": RegistryMix}
