"""Stream-stream and stream-static joins: the watermarked streaming
interval join must reproduce the batch interval join, and a static
dimension join works inside a stream."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from big_data_analysis_of_airline_data_set_spark.plans.events_queries import q_interval_join
from big_data_analysis_of_airline_data_set_spark.sources.readers import read_testdata_table
from big_data_analysis_of_airline_data_set_spark.streaming.jobs import events_stream_reader


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    with tempfile.TemporaryDirectory(prefix="events-j-") as d:
        read_testdata_table(spark, sf_dir, "events").repartition(2).write.mode(
            "overwrite"
        ).parquet(d)
        yield d


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir, tmp_path):
    expected = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in q_interval_join(spark, sf_dir).collect()
    }

    stream = events_stream_reader(spark, events_dir)
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "30 minutes")
    )
    c = (
        events_stream_reader(spark, events_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("user_id", "purchase_id", "click_id")

    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.purchase_id, r.click_id) for r in spark.table("ss_join").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_stream_static_dimension_join(spark, events_dir, tmp_path):
    """Static dim (user tier) joined into a stream — no watermark needed
    on the static side."""
    users = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("tier"),
    )
    stream = events_stream_reader(spark, events_dir)
    enriched = stream.join(F.broadcast(users), "user_id").groupBy("tier").count()
    q = (
        enriched.writeStream.format("memory")
        .queryName("st_join")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.tier: r["count"] for r in spark.table("st_join").collect()}
    batch = spark.read.parquet(events_dir).join(users, "user_id").groupBy("tier").count()
    want = {r.tier: r["count"] for r in batch.collect()}
    assert got == want
