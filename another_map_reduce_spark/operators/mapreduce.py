"""Generic MapReduce API — the reference's real surface, made pluggable.

The reference hardcodes ``fn map(String) -> Vec<(String,String)>`` and
``fn reduce(String, Vec<String>) -> (String,String)`` into the worker
binary (`/root/reference/src/worker.rs:23-38`; `README.md:32-33` frames
them as the user-supplied pair).  Here the same contract is one
function over DataFrames, ``map_reduce``, with the three phases of the
MapReduce paper (Dean & Ghemawat, OSDI 2004):

1. **map** — ``map_fn`` sees one input record and emits any number of
   ``(key, value)`` pairs (``flatMap``).
2. **combine** (optional) — ``combine_fn`` merges two values of the same
   key; it must be associative and commutative.  Given one, the pairs
   are merged on the map side by ``reduceByKey``, so the shuffle
   carries about one value per (map task, key) instead of every pair
   (the paper's §4.3 combiner function).  The reference has no
   combiner: src/worker.rs:95-115 writes every pair.
3. **reduce** — ``reduce_fn(key, values)`` after a hash shuffle into
   ``num_buckets`` partitions.  Without a combiner ``values`` is every
   value of the key (groupByKey ≙ the BTreeMap at src/worker.rs:118);
   with one it is a one-element list holding the merged value, so
   ``reduce_fn`` finishes the fold (sum and count → mean, say) and may
   return another type than the merged one.

The result is a typed ``(key, value)`` DataFrame so downstream
relational operators compose with it.  Vectorised map logic needs no
wrapper: ``mapInPandas`` followed by ``groupBy(...).agg(...)`` is the
Arrow path (``pandas_wordcount`` in ``plans/reference_parity.py``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

from another_map_reduce_spark.session import shuffle_width

MapFn = Callable[[Row], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, list[Any]], tuple[Any, Any]]
CombineFn = Callable[[Any, Any], Any]


def map_reduce(
    df: DataFrame,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    num_buckets: int | None = None,
    key_type: str = "string",
    value_type: str = "string",
    combine_fn: CombineFn | None = None,
) -> DataFrame:
    """MapReduce: flatMap → [combine] → hash shuffle → reduce.

    Semantics per the reference (src/worker.rs:87-154): ``map_fn`` sees
    one input record and emits any number of (key, value) pairs; after a
    hash shuffle on key into ``num_buckets`` partitions (≙ the
    reference's ``-n``, src/main.rs:21-24; default the session's
    shuffle width), ``reduce_fn`` sees each key once.  Value arrival
    order within a key is not guaranteed (the reference doesn't
    guarantee it either — map-task read order is scheduler-dependent).

    Without ``combine_fn`` every value list is materialised: use that
    only when the reduction needs all values at once (medians, top-k,
    posting lists).  With it, ``reduce_fn`` gets ``[merged]``.
    """
    r = num_buckets if num_buckets is not None else shuffle_width(df.sparkSession)
    pairs = df.rdd.flatMap(map_fn)
    if combine_fn is None:
        reduced = (
            pairs.groupByKey(numPartitions=r)  # ≙ BTreeMap gather, src/worker.rs:118
            .map(lambda kv: reduce_fn(kv[0], list(kv[1])))
        )
    else:
        reduced = pairs.reduceByKey(combine_fn, numPartitions=r).map(
            lambda kv: reduce_fn(kv[0], [kv[1]])
        )
    return df.sparkSession.createDataFrame(
        reduced, schema=f"key {key_type}, value {value_type}"
    )


def run_wordcount_job(
    spark: SparkSession,
    input_glob: str,
    num_buckets: int,
    output_dir: str | None = None,
) -> DataFrame:
    """End-to-end parity with the reference binary's one job.

    Reads ``*.txt`` like the coordinator (src/coordinator.rs:216-224),
    counts words with reference tokenizer semantics, and (optionally)
    writes one directory per hash bucket with keys ascending within
    each — the ``reduce_result_{r}`` layout (src/worker.rs:144-154).
    """
    from another_map_reduce_spark.operators.wordcount import word_count_bucketed
    from another_map_reduce_spark.sources.text import read_text_corpus

    corpus = read_text_corpus(spark, input_glob, whole_files=True)
    result = word_count_bucketed(corpus, num_buckets)
    if output_dir is not None:
        # Atomic task commit (temp + rename, src/worker.rs:107-114) is
        # Spark's FileOutputCommitter — nothing to reimplement.
        result.write.mode("overwrite").partitionBy("bucket").csv(
            output_dir, sep=" "
        )
    return result
