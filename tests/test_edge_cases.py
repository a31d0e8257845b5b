"""Edge semantics: as-of tie/boundary behavior, empty-input Arrow
stages, deterministic dedup keeper."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.dedup.exact import drop_exact_duplicates
from big_data_analysis_of_airline_data_set_spark.multimodal import (
    documents_to_assets,
)
from big_data_analysis_of_airline_data_set_spark.multimodal.assets import asset_stats
from big_data_analysis_of_airline_data_set_spark.operators.asof import as_of_join


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 12, minute, 0)


def test_asof_tie_and_before_first_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, _ts(10), 100),  # exact tie with right at :10 → matches it
            (1, _ts(5), 101),   # before any right row → dropped
            (2, _ts(30), 102),  # matches latest right <= :30 (the :20 one)
        ],
        "user_id long, ts timestamp, event_id long",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 900), (2, _ts(20), 901), (2, _ts(25), 902)],
        "user_id long, ts timestamp, event_id long",
    )
    out = as_of_join(
        left, right, on="user_id", left_cols=["event_id"], right_cols=["event_id"]
    )
    got = {(r.user_id, r.event_id, r.r_event_id) for r in out.collect()}
    assert got == {(1, 100, 900), (2, 102, 902)}


def test_asset_stats_on_empty_input(spark):
    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = asset_stats(documents_to_assets(docs))
    assert out.count() == 0
    assert out.columns == ["asset_id", "modality", "n_bytes", "digest"]


def test_drop_exact_duplicates_keeps_min_id(spark):
    df = spark.createDataFrame(
        [
            (3, "same  text"),
            (1, "SAME TEXT"),   # same after normalization (case+ws)
            (2, "different"),
        ],
        "doc_id long, text string",
    )
    kept = drop_exact_duplicates(df, "text")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 2]  # deterministic min-id keeper


@pytest.mark.parametrize(
    "var, bad",
    [
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_BENCH_REPEATS", "3x"),
        ("SPARK_GRAFT_STEAL_RERUN_PCT", "high"),
    ],
)
def test_malformed_env_var_names_itself(var, bad, monkeypatch):
    """A bad numeric env var fails before any work, with a message that
    names the variable and the value (not a bare int()/float() error)."""
    import bench
    from big_data_analysis_of_airline_data_set_spark.session import _default_parallelism

    monkeypatch.setenv(var, bad)
    run = _default_parallelism if var == "SPARK_GRAFT_CPUS" else bench.main
    with pytest.raises(ValueError, match=f"{var}='{bad}'"):
        run()
