"""Write strategies for the 100 TB posture.

- ``write_bucketed``: hash-bucketed, per-bucket-sorted tables on the join
  key. Two tables bucketed the same way join with NO shuffle and NO sort —
  the single biggest cost to remove from a recurring big-big join at
  scale. (Verified by plan assertion in tests/test_bucketing.py: the
  SortMergeJoin has no Exchange beneath it.)

Bucketed writes go through ``saveAsTable`` (bucket metadata lives in the
catalog); plain ``.parquet(path)`` cannot record bucketing.

``fmt`` parameterizes the on-disk format: "parquet" here; "delta" on a
cluster whose classpath carries the Delta jars (not in this container —
see SCALING.md §Storage layout for the documented exclusion).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.format(fmt).saveAsTable(table)
