from __future__ import annotations

from another_map_reduce_spark.sources.tables import TABLES, load_table, register_views
from another_map_reduce_spark.sources.text import read_text_corpus
from another_map_reduce_spark.streaming.lifecycle import drain


def test_all_tables_load(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name


def test_register_views_sql_roundtrip(spark, sf_dir):
    register_views(spark, sf_dir)
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0].n
    assert n > 0


def test_whole_file_reading(spark, tmp_path):
    (tmp_path / "a.txt").write_text("line one\nline two")
    (tmp_path / "b.txt").write_text("solo")
    whole = read_text_corpus(spark, str(tmp_path / "*.txt"), whole_files=True)
    assert whole.count() == 2  # one row per file, like the reference map task
    lines = read_text_corpus(spark, str(tmp_path / "*.txt"), whole_files=False)
    assert lines.count() == 3


def test_compressed_text_and_csv_roundtrip(spark, tmp_path):
    """gzip'd text/CSV read transparently (codec from the extension) and
    produce the same rows as the uncompressed file.

    Scale note asserted implicitly: .gz is NOT splittable — one file =
    one task — so large corpora should be many medium gz files (or zstd
    parquet); the read path itself is identical.
    """
    import gzip

    (tmp_path / "plain.txt").write_text("alpha beta\ngamma")
    with gzip.open(tmp_path / "zipped.txt.gz", "wt") as f:
        f.write("alpha beta\ngamma")
    plain = {r.value for r in spark.read.text(str(tmp_path / "plain.txt")).collect()}
    zipped = {
        r.value for r in spark.read.text(str(tmp_path / "zipped.txt.gz")).collect()
    }
    assert plain == zipped == {"alpha beta", "gamma"}

    with gzip.open(tmp_path / "t.csv.gz", "wt") as f:
        f.write("k,v\n1,x\n2,y\n")
    rows = (
        spark.read.option("header", True)
        .csv(str(tmp_path / "t.csv.gz"))
        .collect()
    )
    assert {(r.k, r.v) for r in rows} == {("1", "x"), ("2", "y")}


def test_reftext_datasource_one_file_one_partition(spark, tmp_path):
    """The custom Python DataSource reads whole files with the
    reference's 1-file-1-task partitioning (coordinator.rs:216-224)."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    d = tmp_path / "files"
    d.mkdir()
    (d / "a.txt").write_text("Hello world\nsecond line")
    (d / "b.txt").write_text("Bonjour")
    (d / "c.txt").write_text("")
    register_reftext(spark)
    df = spark.read.format("reftext").load(str(d / "*.txt"))
    assert df.rdd.getNumPartitions() == 3
    rows = {r.path.rsplit("/", 1)[-1]: r.text for r in df.collect()}
    assert rows == {
        "a.txt": "Hello world\nsecond line",
        "b.txt": "Bonjour",
        "c.txt": "",
    }


def test_reftext_requires_path(spark):
    import pytest as _pytest

    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    register_reftext(spark)
    with _pytest.raises(Exception, match="path"):
        spark.read.format("reftext").load().collect()


def test_reftext_empty_glob_reads_empty(spark, tmp_path):
    """Zero matched files must be an empty frame, not an executor
    crash (PySpark hands read() a None partition for an empty
    partitions() list)."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    d = tmp_path / "nothing_here"
    d.mkdir()
    register_reftext(spark)
    assert spark.read.format("reftext").load(str(d / "*.txt")).count() == 0


def test_reftext_writer_roundtrip_atomic(spark, tmp_path):
    """The writer half of the Python DataSource: space-joined lines,
    one file per partition, two-phase commit — after save() the target
    holds only part-*.txt (no _temporary residue) and a read-back
    reproduces the rows exactly."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    register_reftext(spark)
    out = tmp_path / "sinkout"
    df = spark.createDataFrame(
        [("apple", 3), ("banana", 2), ("cherry", 1)], "word string, n long"
    ).repartition(2)
    df.write.format("reftext").mode("append").save(str(out))

    names = sorted(p.name for p in out.iterdir())
    assert names == [n for n in names if n.startswith("part-")], names
    assert not (out / "_temporary").exists()
    lines = []
    for p in sorted(out.glob("part-*.txt")):
        lines += p.read_text().splitlines()
    assert sorted(lines) == ["apple 3", "banana 2", "cherry 1"]
    # the connector's own reader closes the loop
    back = spark.read.format("reftext").load(str(out / "*.txt"))
    assert back.count() == len([p for p in out.glob("part-*.txt")])


def test_reftext_writer_overwrite_clears_stale_parts(spark, tmp_path):
    """mode('overwrite') after a WIDER previous write must not mix the
    two jobs: a 4-partition write followed by a 2-partition overwrite
    reads back only the second job's rows (the stale part-00002/3 files
    are removed at commit time, not left to pollute the read)."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    register_reftext(spark)
    out = tmp_path / "sinkout"
    wide = spark.createDataFrame(
        [(w, 1) for w in "aa bb cc dd".split()], "word string, n long"
    ).repartition(4)
    wide.write.format("reftext").mode("overwrite").save(str(out))
    assert len(list(out.glob("part-*.txt"))) == 4

    narrow = spark.createDataFrame(
        [("xx", 9), ("yy", 8)], "word string, n long"
    ).repartition(2)
    narrow.write.format("reftext").mode("overwrite").save(str(out))
    lines = []
    for p in out.glob("part-*.txt"):
        lines += p.read_text().splitlines()
    assert sorted(lines) == ["xx 9", "yy 8"]
    assert not (out / "_temporary").exists()


def test_reftext_writer_append_accumulates(spark, tmp_path):
    """mode('append') twice must accumulate both jobs' rows — final
    names are job-unique so the second write can't clobber the first's
    part files."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    register_reftext(spark)
    out = tmp_path / "sinkout"
    one = spark.createDataFrame([("aa", 1)], "word string, n long")
    two = spark.createDataFrame([("bb", 2)], "word string, n long")
    one.write.format("reftext").mode("append").save(str(out))
    two.write.format("reftext").mode("append").save(str(out))
    lines = []
    for p in out.glob("part-*.txt"):
        lines += p.read_text().splitlines()
    assert sorted(lines) == ["aa 1", "bb 2"]
    assert not (out / "_temporary").exists()


def test_reftext_stream_reader_incremental_offsets(spark, tmp_path):
    """The streaming half of the reftext connector tracks offsets:
    drain #1 ingests the initial files; a file added AFTER the first
    drain is picked up by drain #2 on the SAME checkpoint without
    re-reading the old ones (append-mode row count proves exactly-once
    per file)."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    register_reftext(spark)
    d = tmp_path / "grid"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    (d / "b.txt").write_text("beta")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def consume():
        drain(
            spark,
            spark.readStream.format("reftext")
            .load(str(d / "*.txt"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )

    consume()
    first = {
        (r.path.rsplit("/", 1)[-1], r.text)
        for r in spark.read.parquet(out).collect()
    }
    assert first == {("a.txt", "alpha"), ("b.txt", "beta")}

    (d / "c.txt").write_text("gamma")
    consume()
    rows = [
        (r.path.rsplit("/", 1)[-1], r.text)
        for r in spark.read.parquet(out).collect()
    ]
    # exactly-once per file: a/b are NOT re-ingested by drain #2
    assert sorted(rows) == [
        ("a.txt", "alpha"),
        ("b.txt", "beta"),
        ("c.txt", "gamma"),
    ]


def test_reftext_stream_writer_batched_atomic(spark, tmp_path):
    """The streaming writer publishes one part-<batch>-<pid>.txt per
    (micro-batch, partition) via temp+rename, leaves no _temporary
    residue, and two sequential drains on one checkpoint append batch
    files instead of clobbering (batch ids advance)."""
    from another_map_reduce_spark.sources.pydatasource import (
        register_reftext,
    )

    register_reftext(spark)
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text("one two")
    out = tmp_path / "out"
    out.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def consume():
        drain(
            spark,
            spark.readStream.format("reftext")
            .load(str(src / "*.txt"))
            .writeStream.format("reftext")
            .option("path", str(out))
            .option("checkpointLocation", ckpt),
        )

    consume()
    first = sorted(p.name for p in out.glob("part-*.txt"))
    assert first and all(n.startswith("part-") for n in first)
    assert not (out / "_temporary").exists()

    (src / "b.txt").write_text("three")
    consume()
    names = sorted(p.name for p in out.glob("part-*.txt"))
    assert set(first) <= set(names) and len(names) > len(first)
    text = " ".join(
        p.read_text() for p in sorted(out.glob("part-*.txt"))
    )
    for token in ("one two", "three"):
        assert token in text


def test_reftext_stream_ignore_missing_files(spark, tmp_path):
    """A file listed in the offset but deleted before its task reads it
    fails the batch by default (exactly-once: silently losing a listed
    file is data loss); with ignoreMissingFiles=true the batch skips it
    and ingests the rest."""
    from another_map_reduce_spark.sources.pydatasource import (
        _FilePartition,
        _RefTextStreamReader,
    )

    d = tmp_path / "grid"
    d.mkdir()
    (d / "a.txt").write_text("alpha")
    gone = _FilePartition(str(d / "ghost.txt"))  # listed then deleted

    strict = _RefTextStreamReader({"path": str(d / "*.txt")})
    try:
        list(strict.read(gone))
        raise AssertionError("strict reader must raise on a missing file")
    except FileNotFoundError:
        pass

    lax = _RefTextStreamReader(
        {"path": str(d / "*.txt"), "ignoreMissingFiles": "true"}
    )
    assert list(lax.read(gone)) == []
    assert list(lax.read(_FilePartition(str(d / "a.txt")))) == [
        (str(d / "a.txt"), "alpha")
    ]
