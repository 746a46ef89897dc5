"""Bucketed staging tables — shuffle-free co-located joins.

The KG pipeline joins the same keys repeatedly: candidates hash-join
encoded features twice (ent1, ent2), the match graph joins clusters,
incremental ingest anti-joins new triples against staged ones. On one
run those are ordinary shuffle joins; across MANY runs over the same
staged data (the 10^12-turn steady state: ingest batch -> join against
the standing KG), re-shuffling the big side every run is the dominant
avoidable cost.

`write_bucketed` persists a DataFrame bucketed+sorted by the join key
(Spark bucketing: hash(key) pre-partitioned into N files per
partition). Two tables bucketed the same way join with ZERO Exchange
on either side (SortMergeJoin reads the co-located buckets directly) —
asserted on the executed plan in tests/test_bucketed.py. On a real
cluster the same tables are Iceberg with a bucket partition transform
(`bucket(N, entity)`); the sandbox uses the session catalog's managed
parquet tables (saveAsTable — bucket metadata needs a catalog, plain
`.parquet()` paths can't carry it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(sort_col or bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def bucketed_join_ready(spark: SparkSession, t1: str, t2: str, on: str) -> DataFrame:
    """Join two identically-bucketed tables on the bucket key — the
    co-located join (no Exchange on either side)."""
    return spark.table(t1).join(spark.table(t2), on)
