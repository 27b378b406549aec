"""Streaming word count — the reference job under readStream.

The reference is strictly batch (SURVEY.md §1 last row); this is the
[extension] that reruns its exact pipeline (tokenize → shuffle →
count, `/root/reference/src/worker.rs:23-38`) on an unbounded text
source.  The transformation chain is IDENTICAL to the batch operator —
same tokenizer Column — which is the point of Structured Streaming:
one declarative plan, two execution modes (micro-batch incrementalized
by the engine instead of Catalyst-once).

In production the source would be Kafka (``format("kafka")``); tests
use the file source, which has the same semantics (exactly-once per
file, append-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from another_map_reduce_spark.functions.text import tokenize
from another_map_reduce_spark.streaming.lifecycle import (
    process_all_available,
    start_stateful,
)


def streaming_word_count(
    spark: SparkSession, input_dir: str, lowercase: bool = False
) -> DataFrame:
    """Unbounded ``(word, cnt)`` counts over a growing text directory.

    Complete-output aggregation: counts are global-so-far, exactly the
    reference's semantics if its input directory kept growing.
    """
    lines = spark.readStream.text(input_dir)
    return (
        lines.select(tokenize(F.col("value"), lowercase=lowercase).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def run_to_memory(stream_df: DataFrame, table_name: str, mode: str = "complete"):
    """Drain all available input into an in-memory sink (test harness).

    The query starts at the default stateful width
    (``lifecycle.start_stateful``) and drains under the fail-loud
    watchdog.  Returns the StreamingQuery, processed-all and stopped;
    it is stopped on failure too.
    """
    q = start_stateful(
        stream_df.sparkSession,
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode),
    )
    try:
        process_all_available(q)
    finally:
        q.stop()
    return q
