"""The benchmark's three workloads. Each is one client in a closed
loop: the next operation starts when the previous one has finished.

- ``warm_headline``: the 16 headline queries at sf0.01 in one warm
  session, timed in seed-shuffled rounds through the noop sink.
  Execution does most of the work; most of these queries fire no
  eager job inside ``fn()``.
- ``cold_catalog``: a stratified set of catalog queries (every
  ``plans`` module represented), each run once at sf0.01 in a session
  that has run nothing yet: the cost the catalog's correctness pass
  pays every time. Driver-side plan building and the eager jobs fired
  inside ``fn()`` dominate.
- ``reference_dag``: the paper's clean -> select -> train pipeline
  over raw flights generated from the seed; the only workload with
  writes and MLlib fits.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import os
import pkgutil
import random
import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from measure import dir_bytes
from spans import PlanningListener, Tracer

# bench.py's HEADLINE list: one representative per execution shape.
HEADLINE = (
    "flagship_delay_summary_by_carrier", "tpch_q1_style", "join_inner_agg",
    "sum_by_year", "top_k", "window_top_order", "chi_square_sql", "asof_join",
    "events_tumbling_window", "events_session_window", "events_multi_rollup",
    "text_stats", "dedup_exact", "dedup_minhash_lsh", "ann_bruteforce_topk",
    "multimodal_asset_stats",
)

# Share of each stratum's queries in the cold set. The set and its
# order are the same for every seed, which makes the data: seed-drawn
# samples of this size spread 20-70% in wall time from seed to seed,
# and a seeded order moves the cold start-up cost from query to query,
# both far wider than any bound a regression check could use.
COLD_FRACTION = 0.03

SCALE = 0.01                 # sf of the generated catalog tables
CHECK_THREADS = 4            # output checks run after timing, so they may overlap
DAG_ROWS = 20_000            # raw flights per reference_dag input
DAG_TEST_YEAR = 2022
DAG_FAMILIES = ("logistic_regression", "decision_tree", "naive_bayes")
DAG_METRICS = ("area_ROC", "accuracy", "tpr", "fpr", "precision", "f1_score")
# The execution name Spark gives the noop sink's write (a V2 write in
# overwrite mode) when it reports it to query execution listeners.
SINK_EXECUTION = "overwrite"


@dataclass
class Ctx:
    """State of one run, created by run.py and passed to a workload."""

    seed: int
    seconds: float
    data_dir: str
    out_dir: str
    tracer: Tracer
    spark: object = None
    planning: PlanningListener | None = None           # traced runs only
    latencies: list[float] = field(default_factory=list)
    pass_walls: list[float] = field(default_factory=list)
    failures: list[tuple[str, str]] = field(default_factory=list)
    attempted: int = 0
    frames: dict = field(default_factory=dict)         # query -> its first timed DataFrame
    counters: dict[str, float] = field(default_factory=dict)
    last_dag: dict | None = None                       # newest reference_dag pass
    expected_rows: int = 0                             # ml_table rows the DAG must write

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    def fail(self, op: str, reason: str) -> None:
        self.failures.append((op, reason.splitlines()[0][:300] if reason else "error"))


# -- catalog ----------------------------------------------------------------


def catalog_strata() -> dict[str, list[str]]:
    """Cold-set strata: one per ``plans`` module, with a module's
    structured-stream drains (``*_stream*``) a stratum of their own,
    since they run on a separate execution path."""
    strata: dict[str, list[str]] = {}
    for module, queries in catalog_modules().items():
        for name in queries:
            key = f"{module}:stream" if "_stream" in name else module
            strata.setdefault(key, []).append(name)
    return strata


def catalog_modules() -> dict[str, dict]:
    """``plans`` module name -> its ``QUERIES`` registry, found by
    scanning the package rather than from a hand list."""
    from big_data_analysis_of_airline_data_set_spark import plans

    out = {}
    for info in pkgutil.iter_modules(plans.__path__):
        queries = getattr(importlib.import_module(f"{plans.__name__}.{info.name}"),
                          "QUERIES", None)
        if queries:
            out[info.name] = queries
    return out


def stratified_sample(strata: dict[str, list[str]],
                      fraction: float = COLD_FRACTION) -> list[str]:
    """Stratified pick: from every stratum the ``max(1, round(fraction
    * n))`` names of lowest SHA-1 rank, all of them in name order."""
    picked = []
    for stratum in sorted(strata):
        names = sorted(strata[stratum], key=lambda n: hashlib.sha1(n.encode()).hexdigest())
        picked += names[: max(1, round(fraction * len(names)))]
    return sorted(picked)


def _stream_progress():
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs

    return {k: id(v) for k, v in jobs.LAST_PROGRESS.items()}


def _drained(before: dict) -> int:
    """Micro-batches of the streams drained since ``before``."""
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs

    return sum(len(v) for k, v in jobs.LAST_PROGRESS.items() if before.get(k) != id(v))


def run_query(ctx: Ctx, spec, op: str) -> float | None:
    """``fn()`` then the noop-sink write; the seconds between, or None
    when either raised (the failure is recorded)."""
    tr, spark = ctx.tracer, ctx.spark
    ctx.attempted += 1
    progress = _stream_progress() if tr.enabled else None
    t0 = time.perf_counter()
    try:
        with tr.span(op, "bench", query=spec.name):
            with tr.span("fn", "plans") as sp, tr.job_group(spark, op, "fn"):
                df = spec.fn(spark, ctx.data_dir)
            if tr.enabled:
                batches = _drained(progress)
                if batches:
                    sp.layer = "streaming"
                    ctx.add("streaming.batches", batches)
            with tr.span("sink", "exec"), tr.job_group(spark, op, "sink"):
                df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
        ctx.fail(op, f"{type(exc).__name__}: {exc}")
        return None
    dt = time.perf_counter() - t0
    ctx.frames.setdefault(spec.name, df)
    if tr.enabled:
        with tr.span("catalyst", "trace"):
            # the sink's write is the operation's last SQL execution
            sinks = [s for name, s in ctx.planning.drain() if name == SINK_EXECUTION]
            ctx.add("catalyst.plan_s", sinks[-1] if sinks else 0.0)
    return dt


def check_catalog(ctx: Ctx) -> None:
    """Every timed query's result, the DataFrame its timed ``fn()`` call
    returned, against its DuckDB oracle, once per run, with the
    repository's oracle harness. Spark collects the results and DuckDB
    runs the oracles on ``CHECK_THREADS`` threads."""
    from tests.oracle_harness import assert_frames_match, run_oracle

    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    specs = all_queries()
    names = sorted(ctx.frames)
    with ThreadPoolExecutor(max_workers=CHECK_THREADS) as pool:
        oracles = {n: pool.submit(run_oracle, specs[n].oracle, ctx.data_dir)
                   for n in names if specs[n].oracle is not None}
        results = {n: pool.submit(ctx.frames[n].toPandas) for n in names}
        for name in names:
            if name not in oracles:
                ctx.fail(name, "no oracle")
                continue
            try:
                assert_frames_match(results[name].result(), oracles[name].result(), name)
            except AssertionError as exc:
                ctx.fail(name, str(exc))
            except Exception as exc:  # noqa: BLE001 - a failed check is counted, not fatal
                ctx.fail(name, f"check raised {type(exc).__name__}: {exc}")


def prepare_catalog(ctx: Ctx) -> None:
    gen.write_tables(gen.testdata_tables(ctx.seed, SCALE), ctx.data_dir)


# -- warm_headline ----------------------------------------------------------


def headline_warmup(ctx: Ctx) -> None:
    """One untimed round, so JIT, file listings and the events landing
    copy are paid before timing."""
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    specs = all_queries()
    for name in HEADLINE:
        specs[name].fn(ctx.spark, ctx.data_dir).write.format("noop").mode("overwrite").save()


def headline_timed(ctx: Ctx) -> None:
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    specs = all_queries()
    rng = random.Random(ctx.seed)
    start = time.perf_counter()
    n = 0
    # at least three rounds, so wall_s is a median even on a slow host
    while n < 3 or time.perf_counter() - start < ctx.seconds:
        order = rng.sample(HEADLINE, len(HEADLINE))
        t0 = time.perf_counter()
        with ctx.tracer.span(f"round{n}", "bench"):
            for name in order:
                dt = run_query(ctx, specs[name], f"r{n}:{name}")
                if dt is not None:
                    ctx.latencies.append(dt)
        ctx.pass_walls.append(time.perf_counter() - t0)
        n += 1


# -- cold_catalog -----------------------------------------------------------


def cold_set() -> list[str]:
    return stratified_sample(catalog_strata())


def cold_timed(ctx: Ctx) -> None:
    from big_data_analysis_of_airline_data_set_spark.plans import all_queries

    specs = all_queries()
    names = cold_set()
    t0 = time.perf_counter()
    with ctx.tracer.span("pass0", "bench"):
        for name in names:
            dt = run_query(ctx, specs[name], name)
            if dt is not None:
                ctx.latencies.append(dt)
    ctx.pass_walls.append(time.perf_counter() - t0)


# -- reference_dag ----------------------------------------------------------


def prepare_dag(ctx: Ctx) -> None:
    flights = gen.flights_raw(ctx.seed, DAG_ROWS)
    os.makedirs(ctx.data_dir, exist_ok=True)
    pq.write_table(flights.table, os.path.join(ctx.data_dir, "flights_raw.parquet"))
    ctx.expected_rows = flights.clean_rows


def _read_selected(report_dir: str) -> dict[str, list[str]]:
    import pandas as pd

    sel = pd.read_csv(next(iter(glob.glob(os.path.join(report_dir, "selected", "*.csv")))))
    return {m: sorted(g.feature) for m, g in sel.groupby("method")}


def dag_pass(ctx: Ctx, n: int) -> dict:
    """One clean -> select -> train pass into its own output directory;
    returns what the output check needs."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.ml.pipeline import infer_feature_columns
    from big_data_analysis_of_airline_data_set_spark.ml.train_job import run_training_job
    from big_data_analysis_of_airline_data_set_spark.operators.cleaning import (
        clean_and_engineer,
        visualization_dataset,
    )
    from big_data_analysis_of_airline_data_set_spark.sources.readers import read_parquet_table
    from big_data_analysis_of_airline_data_set_spark.sources.schemas import FLIGHTS_RAW_SCHEMA
    from big_data_analysis_of_airline_data_set_spark.sources.writers import (
        write_parquet,
        write_report_csv,
    )
    from big_data_analysis_of_airline_data_set_spark.stats.feature_selection_job import (
        feature_selection_job,
    )

    tr, spark = ctx.tracer, ctx.spark
    out = os.path.join(ctx.out_dir, f"dag-{n}")
    ml_path, reports = os.path.join(out, "ml_table"), os.path.join(out, "reports")
    result: dict = {"out": out, "ml_path": ml_path}
    op = f"p{n}"

    def job(name: str):
        ctx.attempted += 1
        return tr.span(f"{op}:{name}", "bench")

    times = {}
    t0 = time.perf_counter()
    with job("clean_job"):
        with tr.span("read", "sources"):
            flights = read_parquet_table(
                spark, os.path.join(ctx.data_dir, "flights_raw.parquet"), FLIGHTS_RAW_SCHEMA)
        with tr.span("write_parquet", "sources"), tr.job_group(spark, op, "write"):
            write_parquet(visualization_dataset(flights), os.path.join(out, "visualization"))
            write_parquet(clean_and_engineer(flights), ml_path, partition_by=["Year"])
    t1 = time.perf_counter()
    times["clean_job"] = t1 - t0

    with job("select_job"):
        with tr.span("read", "sources"):
            df = spark.read.parquet(ml_path).withColumn(
                "label", F.col("Delay_Status").cast("double"))
        cats, nums = infer_feature_columns(df, exclude=("Year", "Delay_Status", "label"))
        with tr.span("feature_selection_job", "stats"), tr.job_group(spark, op, "select"):
            artifacts = feature_selection_job(
                spark, df, categorical_cols=cats, numeric_cols=nums, label_col="label")
        with tr.span("write_report_csv", "sources"), tr.job_group(spark, op, "write"):
            for name, table in artifacts.items():
                write_report_csv(table, os.path.join(reports, name))
    t2 = time.perf_counter()
    times["select_job"] = t2 - t1

    with job("train_job"):
        selected = _read_selected(reports)
        with tr.span("read", "sources"):
            df = (spark.read.parquet(ml_path).withColumnRenamed("Delay_Status", "label")
                  .withColumn("label", F.col("label").cast("double")))
        cats, nums = infer_feature_columns(df)
        sel_cats = [c for c in selected.get("univariate_categorical", []) if c in cats]
        sel_nums = [c for c in selected.get("univariate_continuous", []) if c in nums]
        result["selected"] = (sel_cats, sel_nums)
        result["metrics"] = {}
        for family in DAG_FAMILIES:
            with tr.span(f"fit:{family}", "ml", family=family), \
                    tr.job_group(spark, op, f"fit:{family}"):
                metrics = run_training_job(
                    spark, df, categorical_cols=sel_cats, numeric_cols=sel_nums,
                    family=family, year_col="Year", test_year=DAG_TEST_YEAR, grid="quick")
            with tr.span("write_report_csv", "sources"), tr.job_group(spark, op, "write"):
                write_report_csv(metrics, os.path.join(out, "metrics", family))
            result["metrics"][family] = {r["parameter"]: r["value"] for r in metrics.collect()}
    times["train_job"] = time.perf_counter() - t2
    result["times"] = times
    return result


def dag_timed(ctx: Ctx) -> None:
    start = time.perf_counter()
    n = 0
    input_bytes = os.path.getsize(os.path.join(ctx.data_dir, "flights_raw.parquet"))
    while n == 0 or time.perf_counter() - start < ctx.seconds:
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span(f"pass{n}", "bench"):
                res = dag_pass(ctx, n)
        except Exception as exc:  # noqa: BLE001
            ctx.fail(f"p{n}", f"{type(exc).__name__}: {exc}")
            break
        ctx.pass_walls.append(time.perf_counter() - t0)
        ctx.latencies += list(res["times"].values())
        written, files = dir_bytes(res["out"])
        ctx.add("sources.bytes_written", written)
        ctx.add("sources.files_written", files)
        ctx.add("sources.input_bytes", input_bytes)
        if ctx.last_dag is not None:
            shutil.rmtree(ctx.last_dag["out"], ignore_errors=True)
        ctx.last_dag = res
        n += 1


def check_dag(ctx: Ctx) -> None:
    res = ctx.last_dag
    if res is None:
        return
    rows = ctx.spark.read.parquet(res["ml_path"]).count()
    want = ctx.expected_rows
    if rows != want:
        ctx.fail("ml_table", f"{rows} rows != {want} generated minus cancelled and null AirTime")
    sel_cats, sel_nums = res["selected"]
    if not sel_cats or not sel_nums:
        ctx.fail("selected", f"empty selection: categorical={sel_cats} continuous={sel_nums}")
    for family, values in res["metrics"].items():
        for m in DAG_METRICS:
            v = values.get(m)
            if v is None or not 0.0 <= float(v) <= 1.0:
                ctx.fail(f"metrics:{family}", f"{m}={v!r} not in [0, 1]")


@dataclass(frozen=True)
class Workload:
    prepare: Callable[[Ctx], None]         # make the inputs (untimed)
    warmup: Callable[[Ctx], None] | None   # counted in setup_s
    timed: Callable[[Ctx], None]
    check: Callable[[Ctx], None]           # output checks (untimed)


# why each workload exists: see the module docstring
WORKLOADS = {
    "warm_headline": Workload(prepare_catalog, headline_warmup, headline_timed, check_catalog),
    "cold_catalog": Workload(prepare_catalog, None, cold_timed, check_catalog),
    "reference_dag": Workload(prepare_dag, None, dag_timed, check_dag),
}
