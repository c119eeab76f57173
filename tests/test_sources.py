"""Sources: format round trips, event-timestamp normalization, schema
evolution, the Python data source and the parallelism spread."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.fixture()
def tmpbase():
    d = tempfile.mkdtemp(prefix="layers_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_json_and_orc_round_trip(spark, sf_dir, tmpbase):
    """Source-format breadth: JSON-lines and ORC round-trip with schema
    preserved (CSV is exercised by the bronze layer, parquet everywhere)."""
    events = load_table(spark, sf_dir, "events").limit(200)
    jp, op = os.path.join(tmpbase, "events_json"), os.path.join(tmpbase, "events_orc")
    events.write.mode("overwrite").json(jp)
    events.write.mode("overwrite").orc(op)
    back_j = spark.read.schema(events.schema).json(jp)
    back_o = spark.read.orc(op)
    assert back_j.count() == back_o.count() == 200
    assert back_o.schema == events.schema
    # values survive the round trip
    a = sorted(r["event_id"] for r in events.collect())
    assert sorted(r["event_id"] for r in back_j.collect()) == a
    assert sorted(r["event_id"] for r in back_o.collect()) == a


def test_event_ts_normalized_across_representations(spark, sf_dir):
    """events.ts has shipped as epoch-nanos BIGINT (nanosAsLong) and as
    TIMESTAMP_NTZ (micros without isAdjustedToUTC) across testdata
    generations; the loader must coerce every representation to plain
    TIMESTAMP — withWatermark/unix_micros hard-reject NTZ — and all three
    must decode to the same instants under the UTC session zone."""
    from urban_traffic_data_lake_project_spark.sources.tables import normalize_event_ts

    assert dict(load_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"

    micros = [1704067200_000_000, 1704070800_500_000]  # 2024-01-01 00:00/01:00 UTC
    as_bigint = spark.createDataFrame(
        [(m * 1000,) for m in micros], "ts bigint"
    )
    as_ntz = spark.createDataFrame([(m,) for m in micros], "ts bigint").select(
        F.timestamp_micros(F.col("ts")).cast("timestamp_ntz").alias("ts")
    )
    as_ts = spark.createDataFrame([(m,) for m in micros], "ts bigint").select(
        F.timestamp_micros(F.col("ts")).alias("ts")
    )
    outs = []
    for df in (as_bigint, as_ntz, as_ts):
        norm = normalize_event_ts(df, "ts")
        assert dict(norm.dtypes)["ts"] == "timestamp"
        outs.append(sorted(r["ts"] for r in norm.collect()))
    assert outs[0] == outs[1] == outs[2]


def test_events_stream_ts_is_watermarkable(spark, sf_dir):
    """The streaming reader applies the same normalization — a watermark
    on ts must analyze regardless of the on-disk representation."""
    from urban_traffic_data_lake_project_spark.streaming.windows import read_events_stream

    stream = read_events_stream(spark, sf_dir)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    stream.withWatermark("ts", "1 hour")  # raises AnalysisException on NTZ


def test_parquet_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema evolution on the lake path: files written before a column
    existed still read alongside new files (mergeSchema), old rows
    surfacing NULL for the added column — the append-only evolution rule
    a medallion silver layer needs."""
    from pyspark.sql import functions as F

    from urban_traffic_data_lake_project_spark.sources import load_table

    path = str(tmp_path / "evolving")
    v1 = load_table(spark, sf_dir, "region")
    v1.write.mode("append").parquet(path)
    v2 = v1.withColumn("ingest_tag", F.lit("batch2"))
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "ingest_tag" in merged.columns
    n = v1.count()
    assert merged.count() == 2 * n
    assert merged.filter(F.col("ingest_tag").isNull()).count() == n
    assert merged.filter(F.col("ingest_tag") == "batch2").count() == n


def test_python_datasource_partition_parallel(spark):
    """The custom source's partitions() ranges must tile [0, rows) exactly
    once — verified by distinct-count and id coverage — and respect the
    requested partition count in the scan."""
    from urban_traffic_data_lake_project_spark.sources.pyds import (
        SyntheticTrafficDataSource,
    )

    spark.dataSource.register(SyntheticTrafficDataSource)
    df = (
        spark.read.format("synthetic_traffic")
        .option("rows", 101)
        .option("partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    ids = sorted(r["reading_id"] for r in df.collect())
    assert ids == list(range(101))


def test_python_datasource_stream_equals_batch(spark):
    """The streaming form of the custom source, replayed with
    AvailableNow in microbatches, must equal the batch read — batch
    boundaries only partition the same deterministic id->row mapping."""
    import time

    from urban_traffic_data_lake_project_spark.sources.pyds import (
        SyntheticTrafficDataSource,
    )

    spark.dataSource.register(SyntheticTrafficDataSource)
    stream = (
        spark.readStream.format("synthetic_traffic")
        .option("rows", 500)
        .option("batch_rows", 120)
        .load()
    )
    # a Simple stream reader prefetches one batch per trigger, so
    # AvailableNow would stop after the first prefetch — drive a
    # continuous trigger and stop once the source is exhausted
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream_test")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("pyds_stream_test").count() >= 500:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = spark.table("pyds_stream_test")
    batch = spark.read.format("synthetic_traffic").option("rows", 500).load()
    g = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert g == b and len(g) == 500


def test_spread_to_parallelism_is_noop_on_presplit_input(spark):
    """An input already at (or above) the cluster's default parallelism
    must pass through UNTOUCHED — no RoundRobinPartitioning Exchange in
    the physical plan. At 100 TB every scan has plenty of splits, so the
    convoy-avoidance shuffle must never fire there (r11 verdict item 3);
    an under-partitioned input still gets spread."""
    from urban_traffic_data_lake_project_spark.sources import spread_to_parallelism

    target = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000).repartition(target + 4)
    out = spread_to_parallelism(wide)
    assert out is wide  # identity: no new plan node, no RoundRobin Exchange

    narrow = spark.range(0, 100).coalesce(1)
    spread = spread_to_parallelism(narrow)
    assert spread.rdd.getNumPartitions() == target
