"""Self-tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_flights_generator_is_deterministic_per_seed():
    a, b = gen.flights_raw(3, 2000), gen.flights_raw(3, 2000)
    assert a.table.equals(b.table)
    assert (a.cancelled, a.null_airtime) == (b.cancelled, b.null_airtime)
    assert not a.table.equals(gen.flights_raw(4, 2000).table)


def test_flights_generator_counts_the_rows_cleaning_drops():
    f = gen.flights_raw(5, 5000)
    cancelled = f.table.column("Cancelled").to_pylist()
    airtime = f.table.column("AirTime").to_pylist()
    assert sum(cancelled) == f.cancelled
    assert sum(1 for c, a in zip(cancelled, airtime) if not c and a is None) == f.null_airtime
    assert 0 < f.cancelled and 0 < f.null_airtime
    assert f.clean_rows == 5000 - f.cancelled - f.null_airtime


def test_flights_generator_matches_the_raw_schema():
    from big_data_analysis_of_airline_data_set_spark.sources.schemas import FLIGHTS_RAW_SCHEMA

    assert gen.flights_raw(1, 10).table.column_names == FLIGHTS_RAW_SCHEMA.names


def test_catalog_tables_are_deterministic_per_seed():
    from big_data_analysis_of_airline_data_set_spark.sources.schemas import TESTDATA_TABLES

    a, b, c = (gen.testdata_tables(s, 0.001) for s in (9, 9, 10))
    assert set(a) == set(TESTDATA_TABLES)
    assert all(a[t].equals(b[t]) for t in TESTDATA_TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


STRATA = {
    "alpha": ["a1", "a2", "a3", "a4"],
    "beta": ["b1"],
    "beta:stream": ["b_stream"],
    "gamma": [f"g{i}" for i in range(40)],
}


def test_stratified_sample_covers_every_stratum_and_is_stable():
    s1 = workloads.stratified_sample(STRATA, fraction=0.1)
    assert s1 == workloads.stratified_sample(dict(reversed(STRATA.items())), fraction=0.1)
    for names in STRATA.values():
        assert set(names) & set(s1)
    assert len(set(s1)) == len(s1) == 1 + 1 + 1 + 4


def test_stratified_sample_covers_every_plans_module():
    strata = workloads.catalog_strata()
    picked = set(workloads.stratified_sample(strata))
    modules = {key.split(":")[0] for key in strata}
    assert modules == set(workloads.catalog_modules())
    assert all(set(names) & picked for names in strata.values())


def test_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    assert measure.percentile(values, 90) == 90.0
    with pytest.raises(ValueError):
        measure.percentile(values[:99], 90)
    with pytest.raises(ValueError):
        measure.percentile(values[:19], 50)
    assert measure.highest_percentile(values[:40]) == (75, 30.0)
    assert measure.highest_percentile(values[:30]) is None


def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    for name in list(run.END_TO_END) + list(run.PER_LAYER):
        assert measure.METRIC_NAME.fullmatch(name), name
        assert len(name) <= 64


def test_benchmark_json_lists_exactly_the_printed_metrics():
    spec = _benchmark_json()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"]:
        assert m["unit"] == run.END_TO_END[m["name"]]
    for m in spec["per_layer"]:
        assert m["unit"] == run.PER_LAYER[m["name"]]
    listed = [w["name"] for w in spec["workloads"]]
    assert set(listed) <= set(workloads.WORKLOADS)
    for w in spec["workloads"]:
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200


def test_self_times_subtract_children():
    from spans import Tracer

    tr = Tracer(True, "t")
    with tr.span("root", "bench") as root:
        with tr.span("a", "plans"):
            pass
    root.start, root.end = 0.0, 10.0
    tr.spans[1].start, tr.spans[1].end = 1.0, 4.0
    assert tr.self_times(root) == {"bench": 7.0, "plans": 3.0}


def test_sum_check_needs_an_overhead_above_the_untraced_spread():
    import report

    trace = {"passes": 1, "traced_wall_s": 50.0, "self_s": {"plans": 40.0, "bench": 9.0}}
    assert report.sum_check(trace, None)["verdict"] == "undetermined"
    assert report.sum_check(trace, (49.0, 2.0))["verdict"] == "undetermined"
    assert report.sum_check(trace, (52.0, 2.0))["verdict"] == "undetermined"
    assert report.sum_check(trace, (35.0, 2.0))["verdict"] == "yes"
    assert report.sum_check(trace, (45.0, 2.0))["verdict"] == "NO"
