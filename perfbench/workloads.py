"""The four workloads: one complete job each, its oracle check, and a traced
variant that forces each layer's cumulative prefix with its own action.

Every call into the program goes through a public function of
``another_map_reduce_spark``; the spans wrap those calls from outside.
"""

from __future__ import annotations

import os
import statistics
from pathlib import Path

from perfbench import gen
from perfbench.trace import median, self_counter

NUM_BUCKETS = 8


class WrongOutput(Exception):
    """The job finished but its result differs from the oracle."""


def _noop(df) -> None:
    """Force every column of ``df`` without collecting or writing it."""
    df.write.format("noop").mode("overwrite").save()


def _inverted_index_fns():
    """Map and reduce callables for ``map_reduce``.  Nested, so cloudpickle
    ships them by value: Python workers cannot import the benchmark."""
    import re

    token = re.compile(r"[A-Za-z]+")

    def map_fn(row):
        doc = int(os.path.basename(row.path)[1:6])
        return [(w, doc) for w in set(token.findall(row.text))]

    def reduce_fn(word, docs):
        return word, ",".join(map(str, sorted(docs)))

    return map_fn, reduce_fn


class Workload:
    name = ""
    job_span = ""  # the traced span that runs the complete job
    # untimed iterations before timing starts: the first job of a session
    # pays for JIT and code generation, and later ones keep speeding up
    warmup = 2

    def __init__(self, data: Path):
        self.data = data
        self.input_bytes = sum(f.stat().st_size for f in data.iterdir())
        self.oracle = self.make_oracle()

    def make_oracle(self):
        raise NotImplementedError

    def run(self, spark, it_dir: Path):
        """The complete job, from input on disk to a collected or written
        result; returns what ``check`` needs."""
        raise NotImplementedError

    def check(self, output) -> None:
        raise NotImplementedError

    def traced(self, spark, tracer, it_dir: Path):
        """The job's layers as cumulative-prefix spans; the last span is
        the complete job and its output is returned for ``check``."""
        raise NotImplementedError

    def release(self, spark, output) -> None:
        """Drop per-iteration state the session still holds."""

    def derive(self, m: dict[str, float], spans: list) -> None:
        """Fill per-layer ratios in ``m`` from the counters already there."""


class WordcountText(Workload):
    """``run_wordcount_job``: scan, JVM tokenizer, combined shuffle, bucketed write."""

    name = "wordcount_text"
    job_span = "sinks.write"

    def make_oracle(self):
        return gen.word_count_oracle(self.data)

    def _glob(self) -> str:
        return str(self.data / "*.txt")

    def run(self, spark, it_dir):
        from another_map_reduce_spark.operators.mapreduce import run_wordcount_job

        out = it_dir / "out"
        run_wordcount_job(spark, self._glob(), NUM_BUCKETS, str(out))
        return out

    def check(self, out: Path) -> None:
        seen: dict[str, int] = {}
        for part in sorted(out.glob("bucket=*/part-*")):
            words = []
            for line in part.read_text().splitlines():
                word, cnt = line.split(" ")
                if word in seen:
                    raise WrongOutput(f"{word!r} appears in two places")
                seen[word] = int(cnt)
                words.append(word.encode())
            if words != sorted(words):
                raise WrongOutput(f"{part} is not sorted by word")
        if seen != self.oracle:
            diff = set(seen.items()) ^ set(self.oracle.items())
            raise WrongOutput(f"{len(diff)} (word, count) rows differ, e.g. {sorted(diff)[:3]}")

    def traced(self, spark, tracer, it_dir):
        from pyspark.sql import functions as F

        from another_map_reduce_spark.functions.text import tokenize
        from another_map_reduce_spark.operators.mapreduce import run_wordcount_job
        from another_map_reduce_spark.operators.wordcount import word_count_bucketed
        from another_map_reduce_spark.sources.text import read_text_corpus

        with tracer.span("sources.scan"):
            corpus = read_text_corpus(spark, self._glob(), whole_files=True)
            _noop(corpus)
        with tracer.span("functions.tokenize", prefix="sources.scan") as c:
            c["functions.tokens"] = corpus.select(tokenize(F.col("text")).alias("w")).count()
        with tracer.span("wordcount.agg", prefix="functions.tokenize"):
            _noop(word_count_bucketed(corpus, NUM_BUCKETS))
        out = it_dir / "out"
        with tracer.span("sinks.write", prefix="wordcount.agg"):
            run_wordcount_job(spark, self._glob(), NUM_BUCKETS, str(out))
        parts = list(out.glob("bucket=*/part-*"))
        tracer.annotate(**{
            "sinks.files": len(parts),
            "sinks.bytes_written": sum(p.stat().st_size for p in parts),
            "wordcount.distinct_words": sum(p.read_bytes().count(b"\n") for p in parts),
        })
        return out

    def derive(self, m, spans):
        # The aggregation span writes two shuffles: the map-side-combined
        # partial counts and the (bucket, word) repartition of the final
        # counts, one record per distinct word.  The ratio is taken over
        # the first, the one the combine shrinks.
        records = median(self_counter(spans, "wordcount.agg", "spark.shuffle_write_records"))
        combined = records - m["wordcount.distinct_words"]
        if combined > 0:
            m["wordcount.combine_ratio"] = m["functions.tokens"] / combined


class MapreducePython(Workload):
    """``map_reduce`` with Python callables: an inverted index, word ->
    ascending ids of the files containing it, shuffled uncombined."""

    name = "mapreduce_python"
    job_span = "mapreduce.reduce"
    warmup = 4

    def make_oracle(self):
        return gen.inverted_index_oracle(self.data)

    def _job(self, corpus):
        from another_map_reduce_spark.operators.mapreduce import map_reduce

        map_fn, reduce_fn = _inverted_index_fns()
        return map_reduce(corpus, map_fn, reduce_fn, num_buckets=NUM_BUCKETS).collect()

    def _corpus(self, spark):
        from another_map_reduce_spark.sources.text import read_text_corpus

        return read_text_corpus(spark, str(self.data / "*.txt"), whole_files=True)

    def run(self, spark, it_dir):
        return self._job(self._corpus(spark))

    def check(self, rows) -> None:
        got = {r[0]: r[1] for r in rows}
        if len(got) != len(rows):
            raise WrongOutput("a word is reduced twice")
        if got != self.oracle:
            diff = set(got.items()) ^ set(self.oracle.items())
            raise WrongOutput(f"{len(diff)} postings differ, e.g. {sorted(diff)[:2]}")

    def traced(self, spark, tracer, it_dir):
        corpus = self._corpus(spark)
        with tracer.span("sources.scan"):
            _noop(corpus)
        map_fn, _ = _inverted_index_fns()
        with tracer.span("mapreduce.map", prefix="sources.scan") as c:
            c["mapreduce.pairs"] = corpus.rdd.flatMap(map_fn).count()
        with tracer.span("mapreduce.reduce", prefix="mapreduce.map"):
            rows = self._job(corpus)
        return rows


class DedupClusters(Workload):
    """``minhash_lsh_pairs`` -> ``connected_components`` -> ``cluster_stats``."""

    name = "dedup_clusters"
    job_span = "graph.cc"

    def make_oracle(self):
        return gen.clusters_oracle(self.data)

    def _job(self, docs):
        from another_map_reduce_spark.operators.dedup import minhash_lsh_pairs
        from another_map_reduce_spark.operators.graph import cluster_stats, connected_components

        pairs = minhash_lsh_pairs(docs, threshold=gen.DEDUP_THRESHOLD).select("d1", "d2")
        return cluster_stats(connected_components(pairs, "d1", "d2")).collect()

    def run(self, spark, it_dir):
        return self._job(spark.read.parquet(str(self.data)))

    def check(self, rows) -> None:
        got = {}
        for r in rows:
            if r.n_docs != len(r.members):
                raise WrongOutput(f"cluster {r.component}: n_docs {r.n_docs} != members")
            got[r.component] = tuple(r.members)
        if got != self.oracle:
            diff = set(got.items()) ^ set(self.oracle.items())
            raise WrongOutput(f"{len(diff)} clusters differ, e.g. {sorted(diff)[:2]}")

    def traced(self, spark, tracer, it_dir):
        from pyspark.sql import functions as F

        from another_map_reduce_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_signature,
            shingle_docs,
        )

        docs = spark.read.parquet(str(self.data))
        with tracer.span("sources.scan"):
            _noop(docs)
        with tracer.span("dedup.shingle", prefix="sources.scan"):
            _noop(shingle_docs(docs, "text", "doc_id", gen.SHINGLE_N))
        with tracer.span("dedup.signature", prefix="dedup.shingle"):
            sig = shingle_docs(docs, "text", "doc_id", gen.SHINGLE_N)
            _noop(sig.withColumn("mh", minhash_signature(F.col("shingles"))))
        with tracer.span("dedup.candidates", prefix="dedup.signature") as c:
            # threshold 0 keeps every LSH candidate with its exact Jaccard
            cand = minhash_lsh_pairs(docs, threshold=0.0).collect()
            c["dedup.candidates"] = len(cand)
            c["dedup.pairs"] = sum(r.jac >= gen.DEDUP_THRESHOLD for r in cand)
        with tracer.span("graph.cc", prefix="dedup.candidates") as c:
            rows = self._job(docs)
            c["graph.components"] = len(rows)
        return rows

    def derive(self, m, spans):
        if m["dedup.candidates"]:
            m["dedup.candidate_precision"] = m["dedup.pairs"] / m["dedup.candidates"]
        m["graph.jobs"] = median(self_counter(spans, "graph.cc", "spark.jobs"))


class _FilesPerTrigger:
    """Session stand-in whose ``readStream`` caps files per micro-batch, so
    ``streaming_word_count`` drains the backlog in a fixed batch count."""

    def __init__(self, spark, files: int):
        self._spark, self._files = spark, files

    @property
    def readStream(self):  # noqa: N802 - mirrors SparkSession
        return self._spark.readStream.option("maxFilesPerTrigger", self._files)


def stream_progress(progress: list) -> dict[str, float]:
    """Per-micro-batch medians and final state size from ``recentProgress``."""
    batches = [p for p in progress if p.numInputRows > 0]

    def med(*keys: str) -> float:
        return statistics.median(
            sum(p.durationMs.get(k, 0) for k in keys) / 1000 for p in batches
        )

    state = batches[-1].stateOperators[0]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_s": med("triggerExecution"),
        "streaming.plan_s": med("queryPlanning"),
        "streaming.commit_s": med("walCommit", "commitOffsets"),
        "streaming.state_rows": state.numRowsTotal,
        "streaming.state_bytes": state.memoryUsedBytes,
    }


class StreamWordcount(Workload):
    """``streaming_word_count`` draining a pre-written backlog, complete mode."""

    name = "stream_wordcount"
    job_span = "streaming.drain"
    batches = 2

    def __init__(self, data: Path):
        super().__init__(data)
        self.files_per_trigger = gen.TEXT_WORKLOADS[self.name]["files"] // self.batches
        self.runs = 0

    def make_oracle(self):
        return gen.word_count_oracle(self.data)

    def run(self, spark, it_dir):
        from another_map_reduce_spark.streaming.wordcount import (
            run_to_memory,
            streaming_word_count,
        )

        self.runs += 1
        table = f"perfbench_wc_{self.runs}"
        spark.conf.set("spark.sql.streaming.checkpointLocation", str(it_dir / "checkpoint"))
        stream = streaming_word_count(_FilesPerTrigger(spark, self.files_per_trigger), str(self.data))
        query = run_to_memory(stream, table)
        rows = spark.table(table).collect()
        return {"table": table, "rows": rows, "query": query}

    def check(self, output) -> None:
        got = {r.word: r.cnt for r in output["rows"]}
        if got != self.oracle:
            diff = set(got.items()) ^ set(self.oracle.items())
            raise WrongOutput(f"{len(diff)} (word, count) rows differ, e.g. {sorted(diff)[:3]}")
        batches = stream_progress(output["query"].recentProgress)["streaming.batches"]
        if batches != self.batches:
            raise WrongOutput(f"drained in {batches} micro-batches, expected {self.batches}")

    def traced(self, spark, tracer, it_dir):
        from pyspark.sql import functions as F

        from another_map_reduce_spark.functions.text import tokenize

        lines = spark.read.text(str(self.data))
        with tracer.span("sources.scan"):
            _noop(lines)
        with tracer.span("functions.tokenize", prefix="sources.scan") as c:
            c["functions.tokens"] = lines.select(tokenize(F.col("value")).alias("w")).count()
        with tracer.span("streaming.drain", prefix="functions.tokenize") as c:
            output = self.run(spark, it_dir)
            # micro-batch jobs run on the query's thread, grouped by run id
            c["groups"].append(str(output["query"].runId))
        tracer.annotate(**stream_progress(output["query"].recentProgress))
        return output

    def release(self, spark, output) -> None:
        spark.catalog.dropTempView(output["table"])


WORKLOADS = {w.name: w for w in (WordcountText, MapreducePython, DedupClusters, StreamWordcount)}
