"""Parquet sinks (SURVEY §3.3: per-survey loads unioned then written
once, partitioned by areasymbol).

The reference materializes into a file geodatabase; here the analog is
hive-partitioned parquet so downstream scans partition-prune on the
survey-area key (Catalyst turns ``WHERE areasymbol = 'IA001'`` into a
directory prune, no data read). Sort within partitions by the join key
so row-group min/max stats make mukey range scans cheap. Read back
with ``spark.read.parquet(path)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write hive-partitioned parquet; optionally sort within
    partitions for row-group pruning on ``sort_by``."""
    if sort_by:
        df = df.sortWithinPartitions(*partition_by, *sort_by)
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)
