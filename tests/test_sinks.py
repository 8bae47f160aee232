"""Sink adapters (K1/K2 parity). No broker exists in the sandbox, so the
console and foreachBatch paths execute for real; the Kafka builders are
validated structurally (they construct without a broker — failure happens
only at connect time, which is the production path)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from spark_kafka_realm_time_data_pipeline_spark.sources.files import stream_table
from spark_kafka_realm_time_data_pipeline_spark.streaming.sinks import (
    console_sink,
    foreach_batch_sink,
)

from conftest import SF_DIR


def _events_rows(spark) -> int:
    """Expected row count from a batch read of the same table — not a
    hardcoded corpus-snapshot literal, so a regenerated corpus can't fail
    these tests spuriously."""
    return spark.read.parquet(f"{SF_DIR}/events.parquet").count()


def test_console_sink_runs(spark, tmp_path, monkeypatch):
    """K2: the reference's console sink (sparkpyrediskafkastreamtoconsole.py:154)
    over a bounded replay — must process all rows and terminate.  (The
    printed table goes to the JVM's stdout, echoed asynchronously — assert
    on query progress, which is the sink's own accounting.)"""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # sink's checkpoint dir
    ev = stream_table(spark, SF_DIR, "events").select("event_id", "event_type")
    q = console_sink(ev, num_rows=5)
    q.awaitTermination(120)
    progress = list(q.recentProgress)
    q.stop()
    assert progress, "no micro-batch ran"
    assert any("Console" in p["sink"]["description"] for p in progress)
    assert sum(p["numInputRows"] for p in progress) == _events_rows(spark)


def test_foreach_batch_sink_collects(spark, tmp_path, monkeypatch):
    """foreachBatch: arbitrary batch sink — counts per micro-batch land in
    the driver-side accumulator list."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # sink's checkpoint dir
    seen = []
    ev = stream_table(spark, SF_DIR, "events").select("event_id")

    def collect(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = foreach_batch_sink(ev, collect)
    q.awaitTermination(120)
    q.stop()
    assert sum(n for _b, n in seen) == _events_rows(spark)


def test_kafka_builders_construct():
    """Source configs are importable and well-formed. Note kafka_stream
    itself fails fast in this sandbox (AnalysisException: data source kafka
    not found — the spark-sql-kafka package isn't deployed here); broker
    connection is lazy but data-source resolution is not."""
    from spark_kafka_realm_time_data_pipeline_spark.sources.kafka import (
        REDIS_SERVER,
        STEDI_EVENTS,
        KafkaSourceConfig,
    )

    assert REDIS_SERVER.topic == "redis-server"
    assert STEDI_EVENTS.topic == "stedi-events"
    assert KafkaSourceConfig(topic="t").starting_offsets == "earliest"


def test_run_foreach_batch_reads_back_and_cleans_up(spark, tmp_path, monkeypatch):
    """The bounded foreachBatch replay returns what the hook wrote, stamps
    the ingest count, and removes both its scratch dir and its checkpoint —
    also when the hook raises, whose error must still surface."""
    import os

    from spark_kafka_realm_time_data_pipeline_spark.streaming import runner

    scratch, ckpts = tmp_path / "scratch", tmp_path / "ckpt"
    scratch.mkdir()
    ckpts.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(scratch))
    monkeypatch.setattr(runner, "_REPLAY_CKPT_ROOT", str(ckpts))
    ev = stream_table(spark, SF_DIR, "events").select("event_id")

    def write(batch_df, out_dir):
        batch_df.write.mode("append").parquet(out_dir)

    out = runner.run_foreach_batch(ev, spark, write)
    expected = spark.read.parquet(f"{SF_DIR}/events.parquet").select("event_id")
    assert sorted(out.collect()) == sorted(expected.collect())
    assert out.stream_input_rows == _events_rows(spark)
    assert os.listdir(scratch) == [] and os.listdir(ckpts) == []

    def failing(batch_df, out_dir):
        write(batch_df, out_dir)
        raise RuntimeError("hook failed on purpose")

    with pytest.raises(Exception, match="hook failed on purpose"):
        runner.run_foreach_batch(ev, spark, failing)
    assert os.listdir(scratch) == [] and os.listdir(ckpts) == []
