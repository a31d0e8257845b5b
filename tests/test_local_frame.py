"""``sources.readers.local_frame``: driver-built tables as LocalRelations.

Every result table the package builds from Python rows goes through
``local_frame``; these tests pin its contract against the classic
``spark.createDataFrame(rows, schema)`` path it replaced.
"""

from __future__ import annotations

import ast
import datetime
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

import big_data_analysis_of_airline_data_set_spark as pkg
from big_data_analysis_of_airline_data_set_spark.sources.readers import local_frame

# one case per schema shape the call sites use
_CASES = {
    "string": ([("a",), ("",), ("é",)], "feature string"),
    "int_bigint": ([(0, 2**40), (-3, -(2**62))], "stage_idx int, n_rows bigint"),
    "long_double": ([(1, 0.1), (2, float("nan")), (3, -1e300)], "id long, v double"),
    "boolean": ([(True,), (False,)], "within_band boolean"),
    "array_int": ([([1, 2, None],), ([],)], "arr: array<int>"),
    "array_bigint": ([([2**40, -1],)], "arr: array<bigint>"),
    "struct_schema": (
        [("fp", 7)],
        StructType([StructField("fingerprint", StringType()), StructField("n", LongType())]),
    ),
    "all_none": (
        [(None, None, None, None, None)],
        "s string, i int, b bigint, d double, t boolean",
    ),
    "row_objects": (None, "ship_year long, n_rows long, sum_price double"),
    "empty": ([], "user_id long, ts timestamp, event_id long, value double"),
}


def _rows(spark, case):
    rows, schema = _CASES[case]
    if rows is None:  # Rows straight from a collect(), as the sink round-trips pass
        rows = spark.sql("SELECT 1995L, 10L, 2.5D UNION ALL SELECT 1996L, 0L, NULL").collect()
    return rows, schema


def _same(a, b):
    # NaN != NaN, so compare the repr of each row
    return [repr(r) for r in a] == [repr(r) for r in b]


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_classic_path(spark, case):
    rows, schema = _rows(spark, case)
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _same(got.collect(), want.collect())


def test_local_frame_collect_runs_no_job(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = local_frame(spark, [("a", 1.0)], "feature string, corr double")
    sc.setJobGroup("local_frame_collect", "collect on a LocalRelation")
    try:
        assert df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup("local_frame_collect") == []


def test_empty_local_frame_writes_readable_parquet(spark, tmp_path):
    schema = StructType([StructField("fingerprint", StringType())])
    out = str(tmp_path / "store")
    local_frame(spark, [], schema).write.mode("overwrite").parquet(out)
    assert any(f.endswith(".parquet") for f in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.schema == schema
    assert back.count() == 0


@pytest.fixture
def non_utc_process_zone():
    """The process-local zone 5 h behind UTC, while the session zone
    stays UTC — the two zones the classic and Arrow paths read from."""
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "EST5"
    time.tzset()
    try:
        yield
    finally:
        if saved is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = saved
        time.tzset()


def test_timestamps_read_like_classic_path(spark, non_utc_process_zone):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    naive = datetime.datetime(2021, 3, 4, 5, 6, 7, 89)
    aware = datetime.datetime(2021, 3, 4, 5, 6, 7, tzinfo=datetime.timezone.utc)
    rows, schema = [(naive,), (aware,), (None,)], "ts timestamp"
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    micros = F.unix_micros("ts").alias("us")
    assert got.select(micros).collect() == want.select(micros).collect()
    assert got.collect() == want.collect()
    assert got.collect()[0].ts == naive


def test_nested_timestamp_values_raise(spark):
    ts = datetime.datetime(2021, 3, 4)
    with pytest.raises(ValueError, match="nested timestamp"):
        local_frame(spark, [([ts],)], "arr: array<timestamp>")
    assert local_frame(spark, [], "arr: array<timestamp>").collect() == []


def test_only_local_frame_calls_create_dataframe():
    """Guard: driver-side frames enter Spark through ``local_frame``
    alone; any other ``.createDataFrame(`` call in the package brings
    back the Python-worker path."""
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, root)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and rel != os.path.join("sources", "readers.py")
                ):
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders
