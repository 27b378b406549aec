"""Output sinks — the write-side surface.

The reference's sink is R text files, one per reduce bucket, keys
ascending, committed atomically via temp+rename (`/root/reference/
src/worker.rs:107-114,144-154`).  Spark's output committer provides
the atomicity, and ``operators.mapreduce.run_wordcount_job`` writes the
reference layout itself (``word_count_bucketed`` + a ``bucket``
partitioned write).  These helpers provide the scale-out layouts:

* ``write_partitioned``    — hive-style ``col=value`` directories:
                             partition PRUNING for every downstream
                             reader that filters on the key
* ``write_bucketed_table`` — bucketBy + sortBy into the warehouse:
                             downstream equi-joins/aggs on the bucket
                             key skip their shuffle entirely — the
                             100 TB answer to "this join dominates
                             every run"

Partitioning guidance at scale: partition by LOW-cardinality columns
(date, region — each value ≥ one file), bucket by HIGH-cardinality
join keys (user_id, orderkey — fixed file count, hash-spread).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, output_dir: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Hive-layout write; readers filtering on partition_cols scan only
    matching directories (partition pruning)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(
        output_dir
    )


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Two tables bucketed the same way join WITHOUT any exchange — at
    100 TB that converts every recurring join on the key from a full
    shuffle into a local zip of corresponding buckets.
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_name)


def read_table(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
