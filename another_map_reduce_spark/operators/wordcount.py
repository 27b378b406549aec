"""Word count — the reference's one shipped job, Spark-first.

Reference pipeline (`/root/reference/src/worker.rs:23-38` +
`verify.py`): read files → tokenize on ``[^A-Za-z]`` (case-sensitive)
→ emit ``(word, "1")`` → hash-shuffle into R buckets → sorted
group-by-key → count → write ``"{word} {count}"`` per bucket, keys
ascending within each bucket.

Spark expression: tokenize/explode (narrow) → ``groupBy(word).count()``.
Catalyst plans this as partial HashAggregate → shuffle on word →
final HashAggregate: the map-side combine is a strict upgrade over the
reference, which shuffles *every* ``(word, 1)`` pair uncombined
(`src/worker.rs:95-115` has no combiner) — at 100 TB the combine is the
difference between shuffling ~distinct-words and shuffling ~all-tokens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from another_map_reduce_spark.functions.text import tokenize


def count_words(
    df: DataFrame, text_col: str = "text", lowercase: bool = False
) -> DataFrame:
    """The count stage every word count shares: tokenize ``text_col`` →
    ``groupBy(word)`` → ``count(*) AS cnt``, unordered.  Works on batch
    and streaming frames alike."""
    return (
        df.select(tokenize(F.col(text_col), lowercase=lowercase).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def word_count(
    df: DataFrame, text_col: str = "text", lowercase: bool = False
) -> DataFrame:
    """``(word, cnt)`` occurrence counts under exact reference semantics.

    Total order by word — the stronger contract adopted over the
    reference's per-bucket order (SURVEY.md §2a #11); the sort runs
    after the aggregation so it orders ~distinct-words rows, not tokens.
    """
    return count_words(df, text_col, lowercase).orderBy("word")


def word_count_bucketed(
    df: DataFrame, num_buckets: int, text_col: str = "text"
) -> DataFrame:
    """Word count with the reference's physical output layout.

    Reproduces ``reduce_result_{r}``: R hash partitions, keys ascending
    within each (`src/worker.rs:100-102` bucket assignment,
    `src/worker.rs:118` BTreeMap order).  ``bucket`` =
    ``pmod(hash(word), R)`` — Spark's Murmur3 vs the reference's SipHash
    is not observable in results, only in which bucket a key lands.

    ``.write.partitionBy("bucket")`` on this frame yields one directory
    per bucket ≙ one ``reduce_result_{r}`` file per reduce task.
    """
    counted = count_words(df, text_col).withColumn(
        "bucket", F.pmod(F.hash(F.col("word")), F.lit(num_buckets))
    )
    # Sort by (bucket, word): a partitionBy("bucket") write requires rows
    # ordered by the partition column and would otherwise insert its own
    # non-stable sort on bucket alone, destroying word order in the files.
    return counted.repartition(num_buckets, "bucket").sortWithinPartitions(
        "bucket", "word"
    )
