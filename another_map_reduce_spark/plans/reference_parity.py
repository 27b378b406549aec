"""Reference-parity queries: the jobs the reference itself can run.

The reference ships exactly one job — case-sensitive word count over
text (`/root/reference/src/worker.rs:23-38`, oracle `verify.py`).  Both
entries here compute it over ``documents.text`` with identical
semantics; ``mr_wordcount`` does so through the generic ``map_reduce``
API (the reference's real surface, SURVEY.md §2b last row) to prove the
pluggable path agrees with the declarative one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from another_map_reduce_spark.queries import register
from another_map_reduce_spark.sources.tables import load_table

# Shared DuckDB tokenizer fragment — same regex class and empty-token
# elision as src/worker.rs:26-30 / verify.py:12-13.
_TOKENS_SQL = """
    SELECT unnest(string_split_regex(
             regexp_replace(text, '[^A-Za-z]', ' ', 'g'), '\\s+')) AS word
    FROM documents
"""

_WORDCOUNT_SQL = f"""
SELECT word, count(*) AS cnt
FROM ({_TOKENS_SQL})
WHERE word <> ''
GROUP BY word
ORDER BY word
"""


@register("wordcount", oracle=_WORDCOUNT_SQL)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference job on the documents corpus.

    Exercises reference operators #1,#2,#3,#5,#8,#9,#11 (SURVEY.md §2a).
    """
    from another_map_reduce_spark.operators.wordcount import word_count

    return word_count(load_table(spark, sf_dir, "documents"), "text")


@register("mr_wordcount", oracle=_WORDCOUNT_SQL)
def mr_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via the generic map_reduce API (combiner path).

    Same user-function pair as src/worker.rs:23-38, expressed as Python
    callables over the pluggable surface the reference hardcodes.
    """
    import re

    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.mapreduce import map_reduce_associative

    sep = re.compile(r"[^A-Za-z]")

    def map_fn(row):  # ≙ fn map(), src/worker.rs:23-34
        return [(w, 1) for w in sep.sub(" ", row.text).split()]

    # merge `+` over the mapped 1s ≡ the reference reduce's len(values)
    # (src/worker.rs:36-38) — but with map-side combine.
    docs = load_table(spark, sf_dir, "documents").select("text")
    out = map_reduce_associative(
        docs, map_fn, lambda a, b: a + b, value_type="long"
    )
    return out.select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    ).orderBy("word")


@register("pandas_wordcount", oracle=_WORDCOUNT_SQL)
def pandas_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via the Arrow-vectorized map_reduce_pandas path —
    the third execution path of the generic API, proving all three
    agree with the reference semantics (and the same oracle).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.mapreduce import map_reduce_pandas

    def map_batch(batch: pd.DataFrame) -> pd.DataFrame:
        words = (
            batch["text"]
            .str.replace(r"[^A-Za-z]", " ", regex=True)
            .str.split()
            .explode()
            .dropna()
        )
        return pd.DataFrame({"key": words, "partial": 1})

    def combine_batch(pairs: pd.DataFrame) -> pd.DataFrame:
        # map-side combine: one partial per (batch, word)
        return pairs.groupby("key", as_index=False)["partial"].sum()

    docs = load_table(spark, sf_dir, "documents").select("text")
    # word count is algebraic → pandas map + batch combine, then a
    # plain codegen'd groupBy/sum merge (no per-key pandas reduce,
    # which measured 6.4 s for 31 keys at sf0.1).
    out = map_reduce_pandas(
        docs,
        map_batch,
        None,
        map_schema="key string, partial long",
        out_schema="key string, value long",
        combine_batch_fn=combine_batch,
        finish_aggs=[F.sum("partial").alias("value")],
    )
    return out.select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    ).orderBy("word")


@register("udtf_wordcount", oracle=_WORDCOUNT_SQL)
def udtf_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via a native Python UDTF — the FOURTH execution path
    of the reference's map function (after declarative, RDD
    flatMap, and Arrow-batched pandas), and the most literal: the
    reference's ``fn map(String) -> Vec<(String, String)>``
    (src/worker.rs:23-34) IS a user-defined table function — one input
    row in, many (word) rows out — which PySpark 4 exposes directly as
    ``@udtf`` + LATERAL join.

    Row-at-a-time Python like the RDD path (the scale path remains the
    declarative twin); registered to prove the UDTF API surface against
    the same oracle as every other wordcount.
    """
    import re

    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class SplitWords:
        def eval(self, text: str):  # noqa: D401 — UDTF contract method
            for w in re.sub(r"[^A-Za-z]", " ", text or "").split():
                yield (w,)

    spark.udtf.register("amrs_split_words", SplitWords)
    docs = load_table(spark, sf_dir, "documents").select("text")
    docs.createOrReplaceTempView("_amrs_udtf_docs")
    return (
        spark.sql(
            "SELECT word FROM _amrs_udtf_docs, LATERAL amrs_split_words(text)"
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word")
    )


@register("pysource_wordcount", oracle=_WORDCOUNT_SQL)
def pysource_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference job fed through a CUSTOM CONNECTOR: the corpus is
    materialised as a directory of text files (the reference's actual
    input layout, `coordinator.rs:216-224`) and re-ingested via the
    'reftext' Python DataSource (sources/pydatasource.py) — Spark 4's
    official connector extension API, with the reference's
    1-file-1-task partitioning — then word-counted.  Tokens are
    newline-separated across row boundaries, so the word multiset is
    invariant under the text round-trip and the result must hash-match
    the SAME oracle as `wordcount` computed on the original table.

    Same deterministic pid-free overwrite-in-place target as
    sink_roundtrip_partitioned (one copy per sf_dir across runs, lazy
    read outlives the function; serial-harness contract).
    """
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.operators.wordcount import word_count
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    docs = load_table(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"amrs_reftext_{tag}"
    )
    docs.select("text").write.mode("overwrite").text(path)
    register_reftext(spark)
    corpus = spark.read.format("reftext").load(os.path.join(path, "part-*"))
    return word_count(corpus, "text")


@register("pysource_stream_wordcount", oracle=_WORDCOUNT_SQL)
def pysource_stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference job as a STREAM over the custom connector: the
    corpus is materialised as a directory of text files and tailed via
    the reftext Python DataSource's streaming half
    (sources/pydatasource.py `_RefTextStreamReader`) — the reference's
    enumerate-the-file-grid scheduling (`coordinator.rs:216-224`)
    driven as micro-batches, offset = files seen.  A complete-mode
    streaming aggregation under ``Trigger.AvailableNow`` drains the
    directory and must hash-match the SAME oracle as every other
    wordcount — proving the full custom-connector streaming path
    (offset tracking → partition planning → executor read → stateful
    agg), not just the batch face.

    Pid-free overwrite-in-place target: repeated runs keep one copy
    per sf_dir (serial-harness contract, as zorder_layout_skipping).
    """
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from another_map_reduce_spark.functions.text import tokenize
    from another_map_reduce_spark.plans.relational import (
        _DRAIN_WIDTH,
        _fresh_sink_name,
    )
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )
    from another_map_reduce_spark.streaming.lifecycle import start_stateful

    docs = load_table(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"amrs_reftext_stream_{tag}"
    )
    docs.select("text").write.mode("overwrite").text(path)
    register_reftext(spark)
    stream = spark.readStream.format("reftext").load(
        os.path.join(path, "part-*")
    )
    counts = (
        stream.select(tokenize(F.col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    qname = _fresh_sink_name("pysource_stream_wordcount")
    q = start_stateful(
        spark,
        counts.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True),
        width=_DRAIN_WIDTH,
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("word")


@register(
    "pysource_stream_sink_roundtrip",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(user_id) AS BIGINT) AS sum_uid
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def pysource_stream_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The custom connector's STREAMING SINK, closed end to end: the
    events table streams (file source, Trigger.AvailableNow) into
    ``writeStream.format("reftext")`` — the Python DataSource's
    streaming writer, two-phase temp+rename per micro-batch with
    replay-idempotent ``part-<batch>-<pid>`` names — then the sink
    directory is read BACK through the connector's batch reader,
    parsed, and aggregated; the result must hash-match the oracle
    computed on the original parquet.  Exact-integer columns only
    (event_type, user_id) so the text round-trip cannot lose
    precision.  Output dir + checkpoint are wiped per run for a
    deterministic full drain (pid-free path, serial-harness
    contract).
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from another_map_reduce_spark.plans.relational import (
        _DRAIN_WIDTH,
        _events_readstream,
    )
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )
    from another_map_reduce_spark.streaming.lifecycle import start_stateful

    register_reftext(spark)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"amrs_reftext_sink_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    os.makedirs(out, exist_ok=True)

    stream = _events_readstream(spark, sf_dir).select(
        "event_type", "user_id"
    )
    q = start_stateful(
        spark,
        stream.writeStream.format("reftext")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
        width=_DRAIN_WIDTH,
    )
    q.awaitTermination()

    back = spark.read.format("reftext").load(os.path.join(out, "part-*"))
    lines = back.select(
        F.explode(F.split("text", "\n")).alias("line")
    ).where(F.col("line") != "")
    parsed = lines.select(
        F.split("line", " ").getItem(0).alias("event_type"),
        F.split("line", " ").getItem(1).cast("long").alias("user_id"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("user_id").cast("long").alias("sum_uid"),
        )
        .orderBy("event_type")
    )


# Registry-order repair: if THIS module was the user's first import, the
# circular import through queries._load() saw it partially initialized
# and ordered the registry without its entries (they append afterwards).
# Re-running the idempotent reorder at module completion makes the
# driver-window ordering independent of which module is imported first.
from another_map_reduce_spark.queries import _reorder as _amrs_reorder  # noqa: E402

_amrs_reorder()
