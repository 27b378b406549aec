"""Message-bus connector (sources/buslog.py) — the offset-log
contracts a broker-backed source would be trusted for: positional
offsets, replay-from-committed-offset across restarts, exactly-once
producer batch replay, metadata-only latest-offset listing."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from another_map_reduce_spark.sources.buslog import (
    _BusLogStreamReader,
    _stable_hash,
    end_offsets,
    list_segments,
    produce,
    register_buslog,
)
from another_map_reduce_spark.streaming.lifecycle import drain


def _mk_topic(tmp_path, n_per=5):
    root = str(tmp_path / "bus")
    for p in range(3):
        produce(
            root,
            "t",
            p,
            [(1_000_000 * (i + 1), f"k{p}", f"v{p}-{i}") for i in range(n_per)],
        )
    return root


def test_produce_assigns_consecutive_positional_offsets(tmp_path):
    root = _mk_topic(tmp_path)
    # second segment continues the offset sequence
    produce(root, "t", 0, [(9_000_000, "k0", "late")])
    segs = list_segments(root, "t")[0]
    assert [(b, c) for b, c, _ in segs] == [(0, 5), (5, 1)]
    assert end_offsets(root, "t") == {0: 6, 1: 5, 2: 5}


def test_batch_read_sees_every_record_once(spark, tmp_path):
    root = _mk_topic(tmp_path)
    register_buslog(spark)
    df = (
        spark.read.format("buslog")
        .option("path", root)
        .option("topic", "t")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 15
    # offsets are dense per partition and rows carry their payloads
    by_p = {}
    for r in rows:
        by_p.setdefault(r.partition, []).append(r.offset)
    assert all(sorted(v) == list(range(5)) for v in by_p.values())


def test_stream_resumes_from_committed_offsets(spark, tmp_path):
    """Two-phase consumption with a checkpoint: records produced
    between runs arrive in the second run EXACTLY once."""
    root = _mk_topic(tmp_path)
    register_buslog(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def consume():
        drain(
            spark,
            spark.readStream.format("buslog")
            .option("path", root)
            .option("topic", "t")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt),
        )

    consume()
    n1 = spark.read.parquet(out).count()
    assert n1 == 15
    produce(root, "t", 1, [(7_000_000, "k1", "new-a"), (7_100_000, "k1", "new-b")])
    consume()
    got = spark.read.parquet(out)
    assert got.count() == 17  # only the 2 new records arrived
    news = {r.value for r in got.where(F.col("offset") >= 5).collect()}
    assert news == {"new-a", "new-b"}


def test_starting_offsets_latest_skips_history(tmp_path):
    root = _mk_topic(tmp_path)
    r = _BusLogStreamReader(
        {"path": root, "topic": "t", "startingOffsets": "latest"}
    )
    assert r.initialOffset() == {"0": 5, "1": 5, "2": 5}
    assert r.partitions(r.initialOffset(), r.latestOffset()) == []


def test_latest_offset_is_metadata_only(tmp_path, monkeypatch):
    """latestOffset must not open a single segment file."""
    root = _mk_topic(tmp_path)
    r = _BusLogStreamReader({"path": root, "topic": "t"})
    import builtins

    real_open = builtins.open

    def _guard(path, *a, **k):
        if str(path).endswith(".jsonl"):
            raise AssertionError(f"latestOffset opened a segment: {path}")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", _guard)
    assert r.latestOffset() == {"0": 5, "1": 5, "2": 5}


def test_producer_sink_batch_replay_is_idempotent(spark, tmp_path):
    """Exactly-once producer: a replayed micro-batch (same batch id)
    first removes its own committed segments, so reruns cannot
    duplicate records."""
    from another_map_reduce_spark.sources.buslog import _BusLogStreamWriter

    root = str(tmp_path / "bus2")
    w = _BusLogStreamWriter(
        {"path": root, "topic": "t", "numPartitions": "2"}
    )

    class Row:
        def __init__(self, ts, key, value):
            self.ts, self.key, self.value = ts, key, value

    rows = [Row(i * 1000, f"k{i % 4}", f"v{i}") for i in range(20)]
    msg = w.write(iter(rows))
    w.commit([msg], batchId=7)
    first = end_offsets(root, "t")
    assert sum(first.values()) == 20

    # crash-replay: the SAME batch rewrites and recommits
    msg2 = w.write(iter(rows))
    w.commit([msg2], batchId=7)
    assert end_offsets(root, "t") == first  # no duplication
    # a LATER batch appends after the replayed one
    msg3 = w.write(iter(rows[:4]))
    w.commit([msg3], batchId=8)
    assert sum(end_offsets(root, "t").values()) == 24

    # every record readable exactly once, keys routed stably
    seen = []
    for p, segs in list_segments(root, "t").items():
        for _b, _c, path in segs:
            for line in open(path, encoding="utf-8"):
                rec = json.loads(line)
                assert _stable_hash(rec["key"]) % 2 == p
                seen.append(rec["value"])
    assert len(seen) == 24


def test_produce_is_two_phase(tmp_path):
    """No visible partial segments: the only non-hidden files are
    complete renamed segments."""
    root = _mk_topic(tmp_path)
    for p, segs in list_segments(root, "t").items():
        pdir = os.path.dirname(segs[0][2])
        names = os.listdir(pdir)
        assert all(n.startswith("segment-") for n in names), names


def test_retention_truncate_before_and_log_start(spark, tmp_path):
    """Retention deletes only whole prefix segments, survivors keep
    their positional offsets, log-start advances, and BOTH readers —
    batch and a stream resuming from a now-truncated committed
    offset — clamp forward instead of failing."""
    from another_map_reduce_spark.sources.buslog import (
        log_start_offsets,
        truncate_before,
    )

    root = str(tmp_path / "bus")
    for seg in range(3):  # partition 0: offsets 0..14 in 3 segments
        produce(
            root, "t", 0,
            [(1_000 * (seg * 5 + i), "k", f"v{seg * 5 + i}") for i in range(5)],
        )
    register_buslog(spark)
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def consume():
        drain(
            spark,
            spark.readStream.format("buslog")
            .option("path", root)
            .option("topic", "t")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt),
        )

    consume()
    assert spark.read.parquet(out).count() == 15

    # cutoff mid-segment-2 (offset 8): only segment 1 (0-4) deletable
    moved = truncate_before(root, "t", {0: 8})
    assert moved == {0: 5}
    assert log_start_offsets(root, "t") == {0: 5}
    assert [(b, c) for b, c, _ in list_segments(root, "t")[0]] == [
        (5, 5), (10, 5)
    ]
    # batch read starts at the log-start, offsets preserved
    batch = (
        spark.read.format("buslog")
        .option("path", root)
        .option("topic", "t")
        .load()
        .collect()
    )
    assert sorted(r.offset for r in batch) == list(range(5, 15))

    # fresh consumer (no checkpoint) starts at log-start
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ck2")
    drain(
        spark,
        spark.readStream.format("buslog")
        .option("path", root)
        .option("topic", "t")
        .load()
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2),
    )
    assert spark.read.parquet(out2).count() == 10

    # the ORIGINAL consumer already committed offset 15; retention past
    # its position must clamp (not crash, not re-read)
    truncate_before(root, "t", {0: 100})  # cutoff beyond the log end
    assert log_start_offsets(root, "t") == {0: 15}
    produce(root, "t", 0, [(99_000, "k", "after-retention")])
    consume()
    got = spark.read.parquet(out)
    assert got.count() == 16
    assert {r.value for r in got.where(F.col("offset") == 15).collect()} == {
        "after-retention"
    }


def test_producer_id_namespaces_replay_cleanup(tmp_path):
    """ADVICE r12: batch ids restart at 0 per checkpoint, so two
    producers writing one topic would cross-delete each other's
    batch-N segments during replay cleanup.  With producerId set,
    replay cleanup only matches this producer's segments."""
    from another_map_reduce_spark.sources.buslog import (
        _BusLogStreamWriter,
    )

    root = str(tmp_path / "bus3")

    class Row:
        def __init__(self, ts, key, value):
            self.ts, self.key, self.value = ts, key, value

    wa = _BusLogStreamWriter(
        {"path": root, "topic": "t", "numPartitions": "2",
         "producerId": "aa11"}
    )
    wb = _BusLogStreamWriter(
        {"path": root, "topic": "t", "numPartitions": "2",
         "producerId": "bb22"}
    )
    rows_a = [Row(i, f"k{i % 4}", f"a{i}") for i in range(8)]
    rows_b = [Row(i, f"k{i % 4}", f"b{i}") for i in range(6)]
    wa.commit([wa.write(iter(rows_a))], batchId=0)
    # producer B commits ITS batch 0 — must not delete A's batch 0
    wb.commit([wb.write(iter(rows_b))], batchId=0)
    assert sum(end_offsets(root, "t").values()) == 14
    # B replays its batch 0: A's records still intact, B not doubled
    wb.commit([wb.write(iter(rows_b))], batchId=0)
    values = []
    for _p, segs in list_segments(root, "t").items():
        for _b, _c, path in segs:
            values += [json.loads(l)["value"] for l in open(path)]
    assert sorted(values) == sorted(
        [f"a{i}" for i in range(8)] + [f"b{i}" for i in range(6)]
    )
    # non-hex producer ids are rejected (they name files)
    with pytest.raises(ValueError):
        _BusLogStreamWriter(
            {"path": root, "topic": "t", "producerId": "../evil"}
        )


def test_max_offsets_cap_distribution_math(tmp_path):
    """The proportional split: cap records total per trigger,
    distributed by backlog share, remainder round-robin in partition
    order, each partition clamped at its true end — deterministic and
    sums to exactly min(cap, backlog)."""
    root = str(tmp_path / "bus4")
    for p, n in ((0, 30), (1, 10), (2, 60)):
        produce(root, "t", p, [(i, f"k{i}", "x") for i in range(n)])
    r = _BusLogStreamReader(
        {"path": root, "topic": "t", "maxOffsetsPerTrigger": "50"}
    )
    assert r.initialOffset() == {}
    first = r.latestOffset()
    taken = {int(p): e for p, e in first.items()}
    # proportional: 30/100*50=15, 10/100*50=5, 60/100*50=30 — no
    # remainder in this fixture
    assert taken == {0: 15, 1: 5, 2: 30}
    second = r.latestOffset()
    assert {int(p): e for p, e in second.items()} == {0: 30, 1: 10, 2: 60}
    # third trigger: drained, promised ends stop moving
    assert r.latestOffset() == second


def test_consumer_lag_helper(tmp_path):
    from another_map_reduce_spark.sources.buslog import consumer_lag

    root = str(tmp_path / "bus5")
    for p, n in ((0, 7), (1, 3)):
        produce(root, "t", p, [(i, "k", "x") for i in range(n)])
    assert consumer_lag(root, "t", {}) == {0: 7, 1: 3}
    assert consumer_lag(root, "t", {0: 5}) == {0: 2, 1: 3}
    assert consumer_lag(root, "t", {0: 7, 1: 3}) == {0: 0, 1: 0}
    # committed beyond the end floors at 0 (never negative)
    assert consumer_lag(root, "t", {0: 99, 1: 3}) == {0: 0, 1: 0}


def test_capped_live_drain_bounded_batches_and_lag(spark, tmp_path):
    """The backlog-drain contract end to end: a consumer with
    maxOffsetsPerTrigger running on a processingTime trigger absorbs
    a backlog produced AFTER it started in >=3 bounded micro-batches
    (none exceeding the cap), committed offsets monotone, no loss or
    duplication, and the lag column reports the planning-time backlog
    going to zero."""
    import time

    register_buslog(spark)
    root = str(tmp_path / "bus6")
    for p in range(2):
        produce(root, "t", p, [(i, f"k{i}", "seed") for i in range(5)])
    ckpt = str(tmp_path / "ck6")
    df = (
        spark.readStream.format("buslog")
        .option("path", root)
        .option("topic", "t")
        .option("maxOffsetsPerTrigger", "40")
        .option("includeLag", "true")
        .load()
    )
    q = (
        df.groupBy("partition")
        .agg(
            F.count("offset").alias("n"),
            F.max("lag").alias("lag_max"),
            F.min("lag").alias("lag_min"),
        )
        .writeStream.format("memory")
        .queryName("drain6")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def consumed():
        return sum(pr["numInputRows"] for pr in q.recentProgress)

    deadline = time.time() + 60
    while time.time() < deadline and consumed() < 10:
        time.sleep(0.2)
    assert consumed() == 10, "seed tranche not absorbed"
    # the backlog: 120 records per partition, 240 total -> 6 capped
    # batches of exactly 40
    for p in range(2):
        for seg in range(3):
            produce(
                root, "t", p,
                [(i, f"k{i}", f"b{seg}") for i in range(40)],
            )
    deadline = time.time() + 90
    while time.time() < deadline and consumed() < 250:
        time.sleep(0.2)
    time.sleep(1.0)
    q.stop()
    batches = [
        pr["numInputRows"] for pr in q.recentProgress
        if pr["numInputRows"] > 0
    ]
    assert sum(batches) == 250, batches  # no loss, no duplication
    capped = batches[1:]
    assert len(capped) >= 3, batches
    assert all(b <= 40 for b in capped), batches
    rows = {
        r.partition: r for r in spark.table("drain6").collect()
    }
    assert {p: rows[p].n for p in rows} == {0: 125, 1: 125}
    # lag trajectory: after the first capped batch each partition had
    # 120 - 20 = 100 left; the final batch saw 0
    assert {p: rows[p].lag_max for p in rows} == {0: 100, 1: 100}
    assert {p: rows[p].lag_min for p in rows} == {0: 0, 1: 0}
