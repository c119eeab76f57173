"""Exactly-once streaming sink on raw parquet: the MERGE-style versioned
upsert, its time travel, change capture and retention."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.sources import load_table
from urban_traffic_data_lake_project_spark.streaming.sinks import (
    current_version,
    foreach_batch_upsert,
    list_versions,
    read_versioned,
    version_diff,
)
from urban_traffic_data_lake_project_spark.streaming.windows import (
    read_table_stream,
)


def test_upsert_sink_keeps_latest_per_key_and_survives_retry(spark, tmp_path):
    table = str(tmp_path / "gold")
    sink = foreach_batch_upsert(table, keys=["k"], order_col="ver")

    b0 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 10, "c")], "k int, ver int, val string"
    )
    b1 = spark.createDataFrame(
        [(2, 20, "b2"), (4, 20, "d")], "k int, ver int, val string"
    )
    sink(b0, 0)
    assert current_version(table) == 0
    sink(b1, 1)
    got = {r.k: (r.ver, r.val) for r in read_versioned(spark, table).collect()}
    assert got == {1: (10, "a"), 2: (20, "b2"), 3: (10, "c"), 4: (20, "d")}

    # retried epoch: rebuilds a new version from the same inputs -> the
    # visible table content is unchanged (no double-apply)
    sink(b1, 1)
    got2 = {r.k: (r.ver, r.val) for r in read_versioned(spark, table).collect()}
    assert got2 == got
    # old versions remain readable (time travel without a log)
    v0 = spark.read.parquet(os.path.join(table, "v=0"))
    assert {r.k for r in v0.collect()} == {1, 2, 3}


def test_upsert_sink_through_real_stream(spark, sf_dir, tmp_path):
    """Drive the upsert sink from an actual Structured Streaming query:
    the resulting table holds each user's LATEST event."""
    table = str(tmp_path / "users")
    stream = read_table_stream(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_upsert(table, keys=["user_id"], order_col="ts")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = read_versioned(spark, table)
    batch = load_table(spark, sf_dir, "events")
    expected = (
        batch.groupBy("user_id").agg(F.max("ts").alias("ts")).count()
    )
    assert got.count() == expected == batch.select("user_id").distinct().count()
    # spot-check one user: the kept row is the max-ts event
    u = got.first()
    mx = batch.filter(F.col("user_id") == u.user_id).agg(F.max("ts")).first()[0]
    assert u.ts == mx


def test_checkpoint_recovery_processes_only_new_files(spark, sf_dir, tmp_path):
    """Exactly-once across RESTARTS: a second AvailableNow run sharing the
    first run's checkpoint must process only files that arrived in
    between — nothing is reprocessed, nothing is lost."""
    events = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "incoming")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(
                foreach_batch_upsert(out, keys=["event_id"], order_col="ts")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = read_versioned(spark, out).count()
    assert n_first == first.count()

    # new file arrives; a fresh query resumes from the same checkpoint
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()
    total = read_versioned(spark, out)
    assert total.count() == events.count()
    # the second epoch contains ONLY the new file's rows (no reprocessing)
    assert list_versions(out) == [0, 1]
    b1 = version_diff(spark, out, 0, 1, ["event_id"])
    assert {r.change_type for r in b1.collect()} == {"insert"}
    assert b1.count() == second.count()
    assert b1.filter(F.col("event_id") % 2 == 0).count() == 0


def test_observe_metrics_on_batch_query(spark, sf_dir):
    """df.observe(): named metrics ride the query itself (one pass — no
    second scan for row counts / sums), the operational-telemetry surface
    a production pipeline wires into listeners."""
    from pyspark.sql import Observation

    from urban_traffic_data_lake_project_spark.sources import load_table

    obs = Observation("ingest_metrics")
    li = load_table(spark, sf_dir, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("total_qty"),
        F.max("l_shipdate").alias("max_ship"),
    )
    result = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    per_flag = {r.l_returnflag: r.n for r in result.collect()}
    got = obs.get
    assert got["n_rows"] == sum(per_flag.values())
    direct = load_table(spark, sf_dir, "lineitem").agg(
        F.sum("l_quantity").alias("s"), F.max("l_shipdate").alias("m")
    ).first()
    assert abs(got["total_qty"] - direct.s) < 1e-6
    assert got["max_ship"] == direct.m


def test_time_travel_reads_historical_versions(spark):
    """After three upsert epochs, every prior version stays readable and
    reflects exactly the state as of that epoch; uncommitted orphan
    directories (crashed writer) are invisible to list/read."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from urban_traffic_data_lake_project_spark.streaming.sinks import (
        foreach_batch_upsert,
        list_versions,
        read_version,
    )

    d = tempfile.mkdtemp(prefix="tt_test_")
    sink = foreach_batch_upsert(d, ["k"], "o")
    sink(spark.createDataFrame([("a", 1, 10)], "k string, o int, x int"), 0)
    sink(spark.createDataFrame([("a", 2, 20), ("b", 1, 5)], "k string, o int, x int"), 1)
    sink(spark.createDataFrame([("b", 2, 7)], "k string, o int, x int"), 2)

    assert list_versions(d) == [0, 1, 2]
    v0 = {(r["k"], r["x"]) for r in read_version(spark, d, 0).collect()}
    v1 = {(r["k"], r["x"]) for r in read_version(spark, d, 1).collect()}
    v2 = {(r["k"], r["x"]) for r in read_version(spark, d, 2).collect()}
    assert v0 == {("a", 10)}
    assert v1 == {("a", 20), ("b", 5)}
    assert v2 == {("a", 20), ("b", 7)}

    # orphan beyond the pointer must be ignored
    os.makedirs(os.path.join(d, "v=9"), exist_ok=True)
    assert list_versions(d) == [0, 1, 2]
    try:
        read_version(spark, d, 9)
        raise AssertionError("expected ValueError for uncommitted version")
    except ValueError:
        pass


def test_version_diff_classifies_insert_update_delete(spark):
    """CDC classification across synthetic versions, including the delete
    path the append-only upsert query can't produce."""
    import json
    import os
    import tempfile

    from urban_traffic_data_lake_project_spark.streaming.sinks import version_diff

    d = tempfile.mkdtemp(prefix="cdc_test_")
    v0 = spark.createDataFrame(
        [("a", 1, None), ("b", 2, "x"), ("c", 3, "y")], "k string, x int, s string"
    )
    v1 = spark.createDataFrame(
        [("a", 1, None), ("b", 9, "x"), ("d", 4, None)], "k string, x int, s string"
    )
    v0.write.parquet(os.path.join(d, "v=0"))
    v1.write.parquet(os.path.join(d, "v=1"))
    with open(os.path.join(d, "_VERSION"), "w") as f:
        json.dump({"version": 1, "batch_id": 1}, f)

    got = {
        r["k"]: r["change_type"]
        for r in version_diff(spark, d, 0, 1, ["k"]).collect()
    }
    # a unchanged (null-safe compare) -> absent; b updated; c deleted; d inserted
    assert got == {"b": "update", "c": "delete", "d": "insert"}


def test_vacuum_keeps_newest_versions(spark):
    import tempfile

    from urban_traffic_data_lake_project_spark.streaming.sinks import (
        foreach_batch_upsert,
        list_versions,
        read_version,
        vacuum_versions,
    )

    d = tempfile.mkdtemp(prefix="vacuum_test_")
    sink = foreach_batch_upsert(d, ["k"], "o")
    for i in range(4):
        sink(spark.createDataFrame([("a", i, i)], "k string, o int, x int"), i)
    assert list_versions(d) == [0, 1, 2, 3]
    removed = vacuum_versions(d, keep_last=2)
    assert removed == [0, 1]
    assert list_versions(d) == [2, 3]
    assert read_version(spark, d, 3).collect()[0]["x"] == 3
    try:
        read_version(spark, d, 0)
        raise AssertionError("vacuumed version must not be readable")
    except ValueError:
        pass
