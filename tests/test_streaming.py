"""Structured Streaming slice: batch/stream symmetry, watermarked
dedup, availableNow drain semantics."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming import (
    run_dedup_stream_available_now,
    run_tumbling_stream_available_now,
    tumbling_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """events parquet copied into a dir the file stream source can list
    (the testdata single .parquet file works directly as a dir? no —
    readStream.parquet wants a directory), split into two files so
    maxFilesPerTrigger exercises multi-batch progress."""
    with tempfile.TemporaryDirectory(prefix="events-stream-") as d:
        ev = read_testdata_table(spark, sf_dir, "events")
        # write back as nanos-free parquet (ts already normalized to timestamp)
        ev.repartition(2).write.mode("overwrite").parquet(d)
        yield d


@pytest.fixture(scope="module")
def stream_events_reader_schema():
    return None


def test_stream_tumbling_matches_batch(spark, events_dir, tmp_path):
    from pyspark.sql.types import (
        StructType, StructField, LongType, TimestampType, StringType, DoubleType,
    )

    # batch reference over the same files
    batch = spark.read.parquet(events_dir)
    expected = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_counts(batch).collect()
    }

    # streaming run over the same dir (ts already a proper timestamp here)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(events_dir)
    ).withWatermark("ts", "30 minutes")
    result = tumbling_counts(stream)
    q = (
        result.writeStream.format("memory")
        .queryName("sym_check")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("sym_check").collect()
    }
    assert got == expected


def test_stream_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark removes an injected duplicate."""
    d = str(tmp_path)
    ev = read_testdata_table(spark, sf_dir, "events").limit(100)
    dup = ev.limit(5)  # duplicate first 5 event_ids
    ev.union(dup).repartition(1).write.mode("overwrite").parquet(d)

    out = run_dedup_stream_available_now(
        spark, d, query_name="dedup_check"
    )
    n_distinct = ev.select("event_id").distinct().count()
    assert out.count() == n_distinct
    assert out.select("event_id").distinct().count() == n_distinct


def test_stream_runner_on_testdata_events(spark, sf_dir, events_dir):
    """End-to-end runner over parquet dir; complete-mode totals equal
    the raw event count."""
    out = run_tumbling_stream_available_now(spark, events_dir, query_name="e2e_check")
    total = out.agg(F.sum("n_events")).collect()[0][0]
    raw = spark.read.parquet(events_dir).count()
    assert total == raw


def test_stream_static_enrichment_matches_batch(spark, events_dir, sf_dir):
    """Stream-static broadcast join + aggregation must equal the same
    transform run in batch over the same files (DataFrame symmetry),
    and must produce multiple segments (the join actually enriched)."""
    from big_data_analysis_of_airline_data_set_spark.streaming.enrich import (
        enriched_segment_counts,
        run_enriched_stream_available_now,
    )

    dim = read_testdata_table(spark, sf_dir, "customer")
    batch = spark.read.parquet(events_dir)
    expected = {
        r.c_mktsegment: (r.n_events, r.sum_value)
        for r in enriched_segment_counts(batch, dim).collect()
    }
    got_df = run_enriched_stream_available_now(
        spark, events_dir, dim, query_name="enriched_counts_t"
    )
    got = {r.c_mktsegment: (r.n_events, r.sum_value) for r in got_df.collect()}
    assert got == expected
    assert len(got) >= 2
