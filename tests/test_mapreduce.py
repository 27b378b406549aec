"""Generic map_reduce API tests (SURVEY §2b last row, M2)."""

from __future__ import annotations

import operator

import pytest

from another_map_reduce_spark.operators.mapreduce import map_reduce


@pytest.fixture(scope="module")
def kv_df(spark):
    rows = [("a", 1), ("b", 2), ("a", 3), ("c", 4), ("b", 5), ("a", 6)]
    return spark.createDataFrame(rows, "k string, v int")


def test_faithful_groupby_reduce(spark, kv_df):
    """reduce_fn sees ALL values for a key at once (BTreeMap semantics)."""

    def map_fn(row):
        return [(row.k, row.v)]

    def reduce_fn(key, values):
        return (key, sum(sorted(values)))

    out = map_reduce(kv_df, map_fn, reduce_fn, value_type="long")
    got = {r.key: r.value for r in out.collect()}
    assert got == {"a": 10, "b": 7, "c": 4}


def test_flatmap_multiplicity(spark, kv_df):
    """map_fn may emit 0..n pairs per record (src/worker.rs:23 contract)."""

    def map_fn(row):
        return [(row.k, 1)] * row.v  # emit v copies

    out = map_reduce(kv_df, map_fn, lambda k, vs: (k, len(vs)), value_type="long")
    got = {r.key: r.value for r in out.collect()}
    assert got == {"a": 10, "b": 7, "c": 4}


def test_associative_equals_faithful(spark, kv_df):
    """A combiner changes where values merge, not the result: a sum, and
    a mean whose combiner adds (sum, count) pairs and whose reduce
    divides, so the output type differs from the merged one."""

    def map_fn(row):
        return [(row.k, row.v)]

    fast = map_reduce(
        kv_df, map_fn, lambda k, vs: (k, sum(vs)), value_type="long",
        combine_fn=operator.add,
    )
    slow = map_reduce(kv_df, map_fn, lambda k, vs: (k, sum(vs)), value_type="long")
    assert {tuple(r) for r in fast.collect()} == {tuple(r) for r in slow.collect()}

    mean = map_reduce(
        kv_df, lambda r: [(r.k, (r.v, 1))], lambda k, vs: (k, vs[0][0] / vs[0][1]),
        value_type="double",
        combine_fn=lambda a, b: (a[0] + b[0], a[1] + b[1]),
    )
    faithful = map_reduce(
        kv_df, map_fn, lambda k, vs: (k, sum(vs) / len(vs)), value_type="double"
    )
    got = {r.key: r.value for r in mean.collect()}
    assert got == pytest.approx({"a": 10 / 3, "b": 3.5, "c": 4.0})
    assert got == pytest.approx({r.key: r.value for r in faithful.collect()})


def test_num_buckets_controls_partitions(spark, kv_df):
    out = map_reduce(
        kv_df, lambda r: [(r.k, r.v)], lambda k, vs: (k, vs[0]), num_buckets=2,
        value_type="long", combine_fn=operator.add,
    )
    assert out.rdd.getNumPartitions() == 2


def test_wordcount_job_end_to_end(spark, tmp_path):
    """Full parity with the reference binary: .txt glob in, bucketed files out
    (src/coordinator.rs:216-224 + src/worker.rs:144-154)."""
    from another_map_reduce_spark.operators.mapreduce import run_wordcount_job

    (tmp_path / "one.txt").write_text("apple banana apple")
    (tmp_path / "two.txt").write_text("banana cherry! APPLE")
    outdir = tmp_path / "out"
    res = run_wordcount_job(
        spark, str(tmp_path / "*.txt"), num_buckets=2, output_dir=str(outdir)
    )
    got = {r.word: r.cnt for r in res.collect()}
    assert got == {"apple": 2, "banana": 2, "cherry": 1, "APPLE": 1}
    # one directory per bucket, like reduce_result_{r}
    buckets = {p.name for p in outdir.iterdir() if p.name.startswith("bucket=")}
    assert buckets <= {"bucket=0", "bucket=1"} and buckets
    # "{word} {count}" lines, keys ascending within each bucket file
    files = sorted(outdir.glob("bucket=*/part*.csv"))
    assert files
    written = {}
    for f in files:
        lines = [ln.split(" ") for ln in f.read_text().splitlines()]
        words = [w for w, _ in lines]
        assert words == sorted(words)
        written.update((w, int(c)) for w, c in lines)
    assert written == got
