"""Streaming depth: landing job, stateful applyInPandasWithState,
sliding/session windows as real streams."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming import sliding_counts, session_counts
from big_data_analysis_of_airline_data_set_spark.streaming.landing import (
    land_events_batch,
    land_events_stream,
)
from big_data_analysis_of_airline_data_set_spark.streaming.stateful import (
    running_user_totals_stream,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    with tempfile.TemporaryDirectory(prefix="events-x-") as d:
        read_testdata_table(spark, sf_dir, "events").repartition(2).write.mode(
            "overwrite"
        ).parquet(d)
        yield d


def test_landing_batch_partitions_by_date(spark, sf_dir, tmp_path):
    out = str(tmp_path)
    landed = land_events_batch(spark, sf_dir, out)
    parts = [p for p in os.listdir(out) if p.startswith("event_date=")]
    assert len(parts) >= 2
    assert landed.count() == read_testdata_table(spark, sf_dir, "events").count()
    assert dict(landed.dtypes)["ts"] == "timestamp"


def test_landing_stream_equals_batch(spark, events_dir, tmp_path):
    out = str(tmp_path)
    land_events_stream(spark, events_dir, out)
    landed = spark.read.parquet(out)
    src = spark.read.parquet(events_dir)
    assert landed.count() == src.count()
    assert set(landed.select("event_date").distinct().toPandas()["event_date"]) == set(
        src.select(F.to_date("ts").alias("d")).distinct().toPandas()["d"]
    )


def test_stateful_user_totals_match_batch(spark, events_dir):
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in running_user_totals_stream(spark, events_dir, query_name="ut_test").collect()
    }
    batch = spark.read.parquet(events_dir)
    want = {
        r.user_id: (r.n, round(r.s, 2))
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0], uid
        assert abs(got[uid][1] - want[uid][1]) < 0.05, uid


@pytest.mark.parametrize("transform", [sliding_counts, session_counts])
def test_sliding_and_session_windows_stream(spark, events_dir, transform, tmp_path):
    """The batch-symmetric transforms run as REAL streams too."""
    batch_expected = {tuple(r) for r in transform(spark.read.parquet(events_dir)).collect()}
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        events_stream_reader,
    )

    name = f"sym_{transform.__name__}"
    stream = events_stream_reader(spark, events_dir).withWatermark("ts", "1 hour")
    result = transform(stream)
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(name).collect()}
    assert got == batch_expected


def test_kmv_sketch_stream_incremental_equals_batch(spark, sf_dir):
    """File-granular micro-batches (maxFilesPerTrigger=1) force the
    sketch state to be maintained ACROSS batches; the drained result
    must still equal the batch-computed sketch exactly."""
    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.sketches.kmv import kmv_sketch
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        run_kmv_sketch_stream_available_now,
    )

    landed = _landed_events_dir(spark, sf_dir)
    streamed = run_kmv_sketch_stream_available_now(
        spark,
        landed,
        k=16,
        query_name="kmv_stream_incr_test",
        max_files_per_trigger=1,  # several micro-batches
        stream_shuffle_partitions=4,
    )
    ev = read_testdata_table(spark, sf_dir, "events")
    batch = kmv_sketch(
        ev.select("event_type", "user_id"),
        group_col="event_type",
        value_col="user_id",
        k=16,
    )
    s = {(r.group, r.j): r.min_h for r in streamed.collect()}
    b = {(r.group, r.j): r.min_h for r in batch.collect()}
    assert s == b


def test_enriched_segment_counts_unknown_bucket(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from big_data_analysis_of_airline_data_set_spark.streaming.windows import (
        enriched_segment_counts,
    )

    t = dt.datetime(2024, 1, 1, 10, 15)
    ev = spark.createDataFrame(
        [(1, t, 100, "view", 2.0, "{}"), (2, t, 999, "view", 3.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    dim = spark.createDataFrame([(100, "RETAIL")], "dim_key long, segment string")
    out = {r.segment: (r.n_events, r.sum_value)
           for r in enriched_segment_counts(ev, dim).collect()}
    assert out["RETAIL"] == (1, 2.0)
    assert out["UNKNOWN"] == (1, 3.0)   # user 999 has no dim row


def test_upsert_latest_state_merge_associative(spark):
    import datetime as dt

    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        upsert_latest_state,
    )

    t = dt.datetime(2024, 1, 1, 8, 0)
    schema = "user_id long, ts timestamp, event_id long, value double"
    b1 = spark.createDataFrame(
        [(1, t, 10, 1.0), (2, t, 11, 2.0)], schema
    )
    b2 = spark.createDataFrame(
        [(1, t + dt.timedelta(minutes=5), 12, 9.0),   # newer → wins
         (2, t - dt.timedelta(minutes=5), 9, 8.0)],   # older → loses
        schema,
    )
    merged = upsert_latest_state(upsert_latest_state(None, b1), b2)
    direct = upsert_latest_state(None, b1.unionByName(b2))
    as_rows = lambda df: sorted(map(tuple, df.collect()))
    assert as_rows(merged) == as_rows(direct)
    got = {r.user_id: (r.event_id, r.value) for r in merged.collect()}
    assert got[1] == (12, 9.0)
    assert got[2] == (11, 2.0)


def test_upsert_result_survives_state_dir_eviction(
    spark, events_dir, tmp_path, monkeypatch
):
    """The state base dir (state generations + stream checkpoint) is
    call-scoped: it is gone when the drain returns. The returned state
    is an eager localCheckpoint, so its first action still counts every
    user instead of hitting a file-not-found on the removed dir."""
    from big_data_analysis_of_airline_data_set_spark.streaming import jobs as sj

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = sj.run_upsert_sink_stream_available_now(
        spark, events_dir, query_name="evict_check", max_files_per_trigger=None
    )
    assert not [p for p in os.listdir(tmp_path) if p.startswith("upsert-")]
    n_users = spark.read.parquet(events_dir).select("user_id").distinct().count()
    assert out.count() == n_users


def test_hdr_stream_incremental_batches_equal_batch_sketch(spark, sf_dir):
    """Drain the HDR quantile sketch one file per micro-batch: the
    incrementally maintained (group, code) count state must still
    equal the batch-computed sketch cell for cell — the additive-merge
    membership card of the rank sketch."""
    from big_data_analysis_of_airline_data_set_spark.plans.events_queries import (
        _landed_events_dir,
    )
    from big_data_analysis_of_airline_data_set_spark.sketches.quantile import (
        hdr_bucket_counts,
    )
    from big_data_analysis_of_airline_data_set_spark.sources.readers import (
        read_testdata_table,
    )
    from big_data_analysis_of_airline_data_set_spark.streaming.jobs import (
        run_hdr_sketch_stream_available_now,
    )

    landed = _landed_events_dir(spark, sf_dir)
    streamed = run_hdr_sketch_stream_available_now(
        spark,
        landed,
        query_name="hdr_stream_incr_test",
        max_files_per_trigger=1,  # several micro-batches
        stream_shuffle_partitions=4,
    )
    ev = read_testdata_table(spark, sf_dir, "events")
    batch = hdr_bucket_counts(
        ev.select("event_type", "value"),
        group_col="event_type",
        value_col="value",
    )
    s = {(r.group, r.code): r.cnt for r in streamed.collect()}
    b = {(r.group, r.code): r.cnt for r in batch.collect()}
    assert s == b and len(s) > 0
