"""Streaming word count — the reference job under readStream.

The reference is strictly batch (SURVEY.md §1 last row); this is the
[extension] that reruns its exact pipeline (tokenize → shuffle →
count, `/root/reference/src/worker.rs:23-38`) on an unbounded text
source.  The transformation chain is IDENTICAL to the batch operator —
the same ``operators.wordcount.count_words`` stage — which is the point
of Structured Streaming: one declarative plan, two execution modes
(micro-batch incrementalized by the engine instead of Catalyst-once).

In production the source would be Kafka (``format("kafka")``); tests
use the file source, which has the same semantics (exactly-once per
file, append-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from another_map_reduce_spark.operators.wordcount import count_words
from another_map_reduce_spark.streaming.lifecycle import drain


def streaming_word_count(
    spark: SparkSession, input_dir: str, lowercase: bool = False
) -> DataFrame:
    """Unbounded ``(word, cnt)`` counts over a growing text directory.

    Complete-output aggregation: counts are global-so-far, exactly the
    reference's semantics if its input directory kept growing.
    """
    return count_words(spark.readStream.text(input_dir), "value", lowercase)


def run_to_memory(stream_df: DataFrame, table_name: str, mode: str = "complete"):
    """Drain all available input into the in-memory sink ``table_name``.

    This is the drain perfbench's ``stream_wordcount`` times, and the
    tests' harness.  ``lifecycle.drain`` runs it: default stateful
    width, bounded wait.  Returns the stopped StreamingQuery, whose
    ``recentProgress`` holds the micro-batch metrics.
    """
    return drain(
        stream_df.sparkSession,
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(mode),
    )
