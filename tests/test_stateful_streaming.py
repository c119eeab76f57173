"""Custom stateful operators (applyInPandasWithState): running state
accumulates across micro-batches and the final emission matches the batch
aggregate; the bounded replay buffer evicts its oldest events across
micro-batches."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
import time

from urban_traffic_data_lake_project_spark.streaming import stateful as st


def test_running_user_stats_accumulates_across_batches(spark):
    d = tempfile.mkdtemp(prefix="stateful_")
    base = dt.datetime(2024, 1, 1, 12, 0)
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = [
        [(1, base, 1, 10.0), (2, base, 2, 5.0)],
        [(3, base + dt.timedelta(minutes=1), 1, 7.0)],
    ]
    for i, rows in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(f"{d}/src")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(spark.read.parquet(f"{d}/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
    )
    q = (
        st.running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("stateful_sink").toPandas()

    # last emission per user == batch-side totals
    final = out.sort_values(["user_id", "n_events"]).groupby("user_id").last()
    assert final.loc[1, "n_events"] == 2 and abs(final.loc[1, "sum_value"] - 17.0) < 1e-9
    assert final.loc[2, "n_events"] == 1 and abs(final.loc[2, "sum_value"] - 5.0) < 1e-9
    assert final.loc[1, "last_ts"] == base + dt.timedelta(minutes=1)
    # user 1 was updated in both micro-batches -> two emissions
    assert (out["user_id"] == 1).sum() == 2
    shutil.rmtree(d, ignore_errors=True)


def test_bounded_recent_stats_evicts_across_batches(spark):
    """The replay buffer keeps only the newest `keep` events per user even
    when they arrive across micro-batches (old ones evict), and recency
    ties on ts break by event_id."""
    d = tempfile.mkdtemp(prefix="recent_")
    base = dt.datetime(2024, 1, 1, 12, 0)
    schema = "event_id long, ts timestamp, user_id long, value double"
    batches = [
        [(i, base + dt.timedelta(minutes=i), 1, float(i)) for i in range(4)],
        # newer events push out 0 and 1; event 10 ties event 11 on ts
        [(10, base + dt.timedelta(minutes=9), 1, 100.0),
         (11, base + dt.timedelta(minutes=9), 1, 200.0)],
    ]
    for i, rows in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(mode).parquet(f"{d}/src")
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(spark.read.parquet(f"{d}/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
    )
    q = (
        st.bounded_recent_stats(stream, keep=3)
        .writeStream.format("memory")
        .queryName("recent_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("recent_sink").toPandas().sort_values("last_ts")
    shutil.rmtree(d, ignore_errors=True)

    final = out.iloc[-1]
    # buffer after batch 2 = events (11, 10, 3) -> values 200, 100, 3
    assert final["n_recent"] == 3
    assert abs(final["avg_recent_value"] - (200.0 + 100.0 + 3.0) / 3) < 1e-9
    assert final["last_ts"] == base + dt.timedelta(minutes=9)
    assert final["span_us"] == 6 * 60 * 1_000_000  # minute 9 - minute 3
