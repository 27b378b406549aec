"""Structured Streaming tests: file sources → memory sinks, with the
streaming result checked against the batch result of the same plan."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from another_map_reduce_spark.operators.wordcount import word_count
from another_map_reduce_spark.sources.tables import load_table
from another_map_reduce_spark.streaming.lifecycle import drain
from another_map_reduce_spark.streaming.wordcount import (
    run_to_memory,
    streaming_word_count,
)
from another_map_reduce_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"


def test_streaming_wordcount_matches_batch(spark, tmp_path):
    """Streaming counts equal batch counts.  Two queries started from two
    threads while the session's batch width is 32 each run at one state
    store per core, and the session still reads 32 afterwards."""
    import threading

    d = tmp_path / "texts"
    d.mkdir()
    (d / "a.txt").write_text("spark streams words, words stream")
    (d / "b.txt").write_text("and MORE words!")

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    queries, errors = {}, []

    def drain(name):
        try:
            stream = streaming_word_count(spark, str(d))
            assert stream.isStreaming
            queries[name] = run_to_memory(stream, name, mode="complete")
        except BaseException as e:  # surfaced in the main thread
            errors.append(e)

    spark.conf.set(key, "32")
    try:
        threads = [
            threading.Thread(target=drain, args=(name,))
            for name in ("wc_stream", "wc_stream_2")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert spark.conf.get(key) == "32"
    finally:
        spark.conf.set(key, prev)
    if errors:
        raise errors[0]

    batch = word_count(
        spark.read.text(str(d)).select(F.col("value").alias("text"))
    )
    expected = {r.word: r.cnt for r in batch.collect()}
    for name, q in queries.items():
        progress = [p for p in q.recentProgress if p.stateOperators]
        assert (
            progress[-1].stateOperators[0].numShufflePartitions
            == spark.sparkContext.defaultParallelism
        )
        got = {
            r.word: r.cnt
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }
        assert got == expected


def test_streaming_incremental_update(spark, tmp_path):
    """New files arriving are folded into the running counts."""
    d = tmp_path / "grow"
    d.mkdir()
    (d / "one.txt").write_text("alpha beta")
    stream = streaming_word_count(spark, str(d))
    q = (
        stream.writeStream.format("memory")
        .queryName("wc_grow")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {
            r.word: r.cnt for r in spark.sql("SELECT * FROM wc_grow").collect()
        }
        assert first == {"alpha": 1, "beta": 1}
        (d / "two.txt").write_text("alpha gamma")
        q.processAllAvailable()
        second = {
            r.word: r.cnt for r in spark.sql("SELECT * FROM wc_grow").collect()
        }
        assert second == {"alpha": 2, "beta": 1, "gamma": 1}
    finally:
        q.stop()


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """events table laid out as a streaming-source directory."""
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def _read_events_stream(spark, d):
    # schema must be declared for a file stream; derive it from a batch read
    from another_map_reduce_spark.sources.tables import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(d).schema
    return normalize_events_ts(spark.readStream.schema(raw_schema).parquet(d))


def _rounded(rows):
    out = []
    for r in rows:
        out.append(
            tuple(
                round(v, 6) if isinstance(v, float) else v for v in tuple(r)
            )
        )
    return sorted(out)


def test_tumbling_stream_matches_batch(spark, sf_dir, events_stream_dir):
    # complete mode: append would withhold windows the watermark hasn't
    # closed yet, which for a finite source is the trailing ones.
    stream = tumbling_agg(_read_events_stream(spark, events_stream_dir))
    run_to_memory(stream, "tumble_stream", mode="complete")
    got = spark.sql("SELECT * FROM tumble_stream")
    batch = tumbling_agg(load_table(spark, sf_dir, "events"))
    assert _rounded(got.collect()) == _rounded(batch.collect())


def test_sliding_stream_matches_batch(spark, sf_dir, events_stream_dir):
    stream = sliding_agg(_read_events_stream(spark, events_stream_dir))
    run_to_memory(stream, "slide_stream", mode="complete")
    got = spark.sql("SELECT * FROM slide_stream")
    batch = sliding_agg(load_table(spark, sf_dir, "events"))
    assert _rounded(got.collect()) == _rounded(batch.collect())


def test_session_stream_matches_batch(spark, sf_dir, events_stream_dir):
    stream = session_agg(_read_events_stream(spark, events_stream_dir))
    run_to_memory(stream, "sess_stream", mode="complete")
    got = spark.sql("SELECT * FROM sess_stream")
    batch = session_agg(load_table(spark, sf_dir, "events"))
    assert _rounded(got.collect()) == _rounded(batch.collect())


def test_watermark_drops_late_data(spark, tmp_path):
    """An event older than watermark horizon behind the stream max must
    be dropped from the (append-mode) aggregation."""
    import pandas as pd

    d = tmp_path / "late"
    d.mkdir()
    on_time = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10:00", "2024-01-01 06:00:00"]
            ),
            "event_type": ["view", "view"],
            "value": [1.0, 1.0],
        }
    )
    on_time.to_parquet(d / "batch1.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(d)).schema
    src = (
        spark.readStream.schema(schema)
        .parquet(str(d))
        # pandas µs parquet arrives as TIMESTAMP_NTZ; watermarks need TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    stream = tumbling_agg(src, window="1 hour", watermark="1 hour")
    q = (
        stream.writeStream.format("memory")
        .queryName("late_stream")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # late arrival: 00:30 is > 1h behind the 06:00 max → dropped
        late = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-01 00:30:00"]),
                "event_type": ["view"],
                "value": [99.0],
            }
        )
        late.to_parquet(d / "batch2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        # close remaining windows so everything emittable is emitted
        flush = pd.DataFrame(
            {
                "ts": pd.to_datetime(["2024-01-01 12:00:00"]),
                "event_type": ["view"],
                "value": [1.0],
            }
        )
        flush.to_parquet(d / "batch3.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM late_stream WHERE win_start = '2024-01-01 00:00:00'"
        ).collect()
        # the 00:00 window must contain ONLY the on-time event
        assert len(rows) == 1 and rows[0].n == 1 and rows[0].total == 1.0
    finally:
        q.stop()


def test_stateful_sessionize(spark, tmp_path):
    import pandas as pd

    from another_map_reduce_spark.streaming.stateful import sessionize

    d = tmp_path / "stateful"
    d.mkdir()
    pd.DataFrame({"user_id": [1, 1, 2], "value": [1.0, 2.0, 5.0]}).to_parquet(
        d / "b1.parquet"
    )
    schema = spark.read.parquet(str(d)).schema
    stream = sessionize(spark.readStream.schema(schema).parquet(str(d)))
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_state")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM sess_state").collect()
        }
        assert got == {1: (2, 3.0), 2: (1, 5.0)}
        # second batch folds into existing state
        pd.DataFrame({"user_id": [1], "value": [10.0]}).to_parquet(
            d / "b2.parquet"
        )
        q.processAllAvailable()
        got2 = {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql(
                "SELECT user_id, max(n_events) AS n_events,"
                " max(total_value) AS total_value FROM sess_state GROUP BY user_id"
            ).collect()
        }
        assert got2[1] == (3, 13.0)
    finally:
        q.stop()


def test_stream_stream_range_join(spark, sf_dir, events_stream_dir):
    """Stream-stream join result must equal the batch range join."""
    from another_map_reduce_spark.streaming.joins import (
        purchases_with_recent_view,
    )

    src = _read_events_stream(spark, events_stream_dir)
    purchases = src.where(F.col("event_type") == "purchase")
    views = src.where(F.col("event_type") == "view")
    stream = purchases_with_recent_view(purchases, views)
    run_to_memory(stream, "ss_join", mode="append")
    got = {
        (r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    bp = ev.where(F.col("event_type") == "purchase").alias("p")
    bv = ev.where(F.col("event_type") == "view").alias("v")
    cond = (
        (F.col("p.user_id") == F.col("v.user_id"))
        & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v.ts") < F.col("p.ts"))
    )
    expected = {
        (r.pid, r.vid)
        for r in bp.join(bv, cond)
        .select(F.col("p.event_id").alias("pid"), F.col("v.event_id").alias("vid"))
        .collect()
    }
    assert got == expected


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    import pandas as pd

    from another_map_reduce_spark.streaming.joins import dedup_stream

    d = tmp_path / "dedup_stream"
    d.mkdir()
    pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:05:00",
                 "2024-01-01 00:10:00"]
            ),
            "k": ["a", "a", "b"],
        }
    ).to_parquet(d / "b1.parquet", coerce_timestamps="us")
    schema = spark.read.parquet(str(d)).schema
    src = (
        spark.readStream.schema(schema)
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        dedup_stream(src, ["k"])
        .writeStream.format("memory")
        .queryName("dedup_s")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT k FROM dedup_s").collect()
        assert sorted(r.k for r in rows) == ["a", "b"]  # dup 'a' dropped
        # a later duplicate within the watermark is also dropped
        pd.DataFrame(
            {"ts": pd.to_datetime(["2024-01-01 00:20:00"]), "k": ["b"]}
        ).to_parquet(d / "b2.parquet", coerce_timestamps="us")
        q.processAllAvailable()
        rows = spark.sql("SELECT k FROM dedup_s").collect()
        assert sorted(r.k for r in rows) == ["a", "b"]
    finally:
        q.stop()


def _assert_funnel_stream_matches_batch(
    spark,
    sf_dir,
    tmp_path,
    funnel_fn,
    qname,
    n_files=1,
    provider=None,
):
    """Shared scaffold for the streaming-funnel ≡ batch assertions:
    feed the events table (event-time order, split over ``n_files``
    source files) through ``funnel_fn``, drain to a memory sink, take
    each user's deepest stage, and compare cumulative stage counts
    with the batch funnel_conversion query."""
    from another_map_reduce_spark.queries import QUERIES

    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts")
        .orderBy("ts")
        .toPandas()
    )
    d = tmp_path / f"{qname}_src"
    d.mkdir()
    step = max(1, -(-len(ev) // n_files))
    for i in range(n_files):
        ev.iloc[i * step : (i + 1) * step].to_parquet(d / f"b{i}.parquet")
    schema = spark.read.parquet(str(d)).schema
    before = spark.conf.get(_PROVIDER_KEY, None)
    drain(
        spark,
        funnel_fn(spark.readStream.schema(schema).parquet(str(d)))
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update"),
        provider=provider,
    )
    assert spark.conf.get(_PROVIDER_KEY, None) == before
    final = {
        r.user_id: r.stage_idx
        for r in spark.sql(
            "SELECT user_id, max(stage_idx) AS stage_idx"
            f" FROM {qname} GROUP BY user_id"
        ).collect()
    }
    n_by_stage = {s: 0 for s in (1, 2, 3)}
    for stage in final.values():
        # deepest stage reached implies all shallower stages
        for s in range(1, stage + 1):
            n_by_stage[s] += 1
    batch = {
        r.stage_idx: r.n_users
        for r in QUERIES["funnel_conversion"](spark, sf_dir).collect()
    }
    assert batch == n_by_stage


def test_streaming_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Stateful funnel over the event stream (fed in event-time order,
    split across two source files) reaches the same per-stage user
    counts as the batch funnel_conversion query."""
    from another_map_reduce_spark.streaming.stateful import funnel_stages

    _assert_funnel_stream_matches_batch(
        spark, sf_dir, tmp_path, funnel_stages, "funnel_state", n_files=2
    )


def test_stateful_restart_from_checkpoint(spark, tmp_path):
    """Stop a stateful query mid-stream and restart it from its
    checkpoint: per-key state (the funnel stage machine) carries over —
    a click arriving AFTER the restart still chains onto the view seen
    BEFORE it — and so does the stateful width the first start fixed."""
    import pandas as pd

    from another_map_reduce_spark.streaming.lifecycle import start_stateful
    from another_map_reduce_spark.streaming.stateful import funnel_stages

    src = tmp_path / "funnel_ckpt_src"
    src.mkdir()
    ckpt = str(tmp_path / "funnel_ckpt")
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write_batch(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "event_type": [r[1] for r in rows],
                "ts": [t0 + pd.Timedelta(seconds=r[2]) for r in rows],
            }
        ).to_parquet(src / name)

    write_batch("b1.parquet", [(1, "view", 0), (2, "view", 1)])
    schema = spark.read.parquet(str(src)).schema

    seen: list = []

    def start(width=None):
        # memory sink can't recover from a checkpoint; foreachBatch can.
        return start_stateful(
            spark,
            funnel_stages(spark.readStream.schema(schema).parquet(str(src)))
            .writeStream.foreachBatch(
                lambda df, _epoch: seen.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt),
            width=width,
        )

    q = start(width=2)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart: new events must fold into state recovered from checkpoint,
    # at the width the checkpoint fixed, not the (wider) default
    write_batch("b2.parquet", [(1, "click", 10), (2, "purchase", 11)])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    progress = [p for p in q.recentProgress if p.stateOperators]
    assert progress[-1].stateOperators[0].numShufflePartitions == 2
    got: dict[int, int] = {}
    for r in seen:
        got[r.user_id] = max(got.get(r.user_id, 0), r.stage_idx)
    # user 1: view(before restart) + later click → stage 2.
    # user 2: purchase without a click never advances past view.
    assert got == {1: 2, 2: 1}


def test_append_watermark_boundary(spark, tmp_path):
    """Pin Spark's append-mode eviction comparator: a window whose end
    lands EXACTLY on the final watermark IS emitted (``window.end <=
    watermark``), and the still-open window is withheld.

    stream_events_hourly_append's oracle encodes this ``<=``; the
    parquet test data never produces a boundary-exact window, so this
    synthetic stream (max ts on :30:00 sharp → watermark on the hour)
    is the only thing pinning the comparator.
    """
    src = tmp_path / "bnd"
    rows = [
        ("2024-01-01 00:15:00",),  # [00:00,01:00) end < wm  -> emitted
        ("2024-01-01 01:15:00",),  # [01:00,02:00) end == wm -> emitted
        ("2024-01-01 02:30:00",),  # [02:00,03:00) end > wm  -> withheld
    ]
    (
        spark.createDataFrame(rows, "ts string")
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .write.parquet(str(src))
    )
    schema = spark.read.parquet(str(src)).schema
    windowed = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName("wm_boundary")
        .outputMode("append"),
    )
    ends = sorted(
        r.e.strftime("%H:%M")
        for r in spark.table("wm_boundary")
        .select(F.col("w.end").alias("e"))
        .collect()
    )
    assert ends == ["01:00", "02:00"]


def test_append_query_is_batch_minus_open_windows(spark, sf_dir):
    """The driver-visible append row equals the batch aggregation with
    windows at-or-before the final watermark — nothing more, nothing
    less, and every emitted row value-identical to its batch twin."""
    from another_map_reduce_spark.plans.relational import (
        events_hourly,
        stream_events_hourly_append,
    )

    batch = {
        (r.hour, r.event_type): (r.n, r.avg_value)
        for r in events_hourly(spark, sf_dir).collect()
    }
    streamed = {
        (r.hour, r.event_type): (r.n, r.avg_value)
        for r in stream_events_hourly_append(spark, sf_dir).collect()
    }
    assert streamed  # watermark must not swallow everything
    assert set(streamed) < set(batch)  # strictly fewer: open windows held
    for k, v in streamed.items():
        assert batch[k] == v
    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w")
    ).collect()[0].w
    for hour, _etype in set(batch) - set(streamed):
        assert not (hour + __import__("datetime").timedelta(hours=1) <= wm)


def test_transform_with_state_funnel_matches_batch(spark, sf_dir, tmp_path):
    """Spark 4's transformWithStateInPandas (RocksDB state store) runs
    the same funnel machine as applyInPandasWithState and reaches the
    batch funnel_conversion counts — three implementations, one fixed
    point.

    Unskipped in r7: the container still has no google.protobuf, but
    the vendored minimal runtime (vendor/protoshim — own proto3 wire
    codec driving pyspark's shipped generated module) is activated by
    funnel_stages_v2 via ensure_protobuf, so the state-server protocol
    runs end-to-end against the real JVM side."""
    from another_map_reduce_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        funnel_stages_v2,
    )

    _assert_funnel_stream_matches_batch(
        spark,
        sf_dir,
        tmp_path,
        funnel_stages_v2,
        "tws_funnel",
        provider=ROCKSDB_PROVIDER,
    )


def test_transform_with_state_event_time_timers(spark, tmp_path):
    """The TIMER half of transformWithStateInPandas: registerTimer /
    listTimers / deleteTimer on input and handleExpiredTimer when the
    watermark passes — a session-close detector over a 3-file relay.

    Batch 1 registers per-user timers at last_event + 30 min; batch 2
    advances the watermark only via an unrelated user; batch 3's
    watermark (t0+80 min) passes the batch-1 timers (~t0+35 min) and
    exactly those three sessions close, at exactly last_event + gap.
    The late user's timer (t0+150 min) must NOT fire."""
    import pandas as pd

    from another_map_reduce_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        session_close_v2,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    files = [
        pd.DataFrame(
            {
                "user_id": [1, 1, 2, 3],
                "ts": [t0, t0 + 2 * m, t0 + 3 * m, t0 + 5 * m],
            }
        ),
        pd.DataFrame({"user_id": [99], "ts": [t0 + 90 * m]}),
        pd.DataFrame({"user_id": [99], "ts": [t0 + 120 * m]}),
    ]
    d = tmp_path / "timer_src"
    d.mkdir()
    for i, pdf in enumerate(files):
        # micro-precision: nanos would read back as BIGINT under the
        # session's nanosAsLong conf (see load_table)
        pdf.to_parquet(
            d / f"b{i}.parquet",
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    schema = spark.read.parquet(str(d)).schema
    before = spark.conf.get(_PROVIDER_KEY, None)
    drain(
        spark,
        session_close_v2(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d)),
            gap_minutes=30,
            watermark="10 minutes",
        )
        .writeStream.format("memory")
        .queryName("tws_timers")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt")),
        provider=ROCKSDB_PROVIDER,
    )
    assert spark.conf.get(_PROVIDER_KEY, None) == before
    got = {
        (r.user_id, r.session_end)
        for r in spark.sql("SELECT * FROM tws_timers").collect()
    }
    gap = 30 * 60_000
    ms = lambda t: int(t.value // 1_000_000)  # noqa: E731
    want = {
        (1, ms(t0 + 2 * m) + gap),
        (2, ms(t0 + 3 * m) + gap),
        (3, ms(t0 + 5 * m) + gap),
    }
    assert got == want


def test_transform_with_state_list_and_map_state(spark, tmp_path):
    """The remaining two state-variable kinds of the
    transformWithStateInPandas API — ListState (append/get) and
    MapState (containsKey/getValue/updateValue/iterator) — run
    end-to-end through the state server: per-user event log in list
    state, per-type counts in map state, emitted totals must equal a
    pandas groupby."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from another_map_reduce_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        ensure_protobuf,
    )

    class TypeStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._log = handle.getListState("event_log", "et string")
            self._counts = handle.getMapState(
                "type_counts", "et string", "n long"
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for et in pdf["event_type"]:
                    self._log.appendValue((et,))
                    prev = (
                        self._counts.getValue((et,))[0]
                        if self._counts.containsKey((et,))
                        else 0
                    )
                    self._counts.updateValue((et,), (prev + 1,))
            n_events = sum(1 for _ in self._log.get())
            n_types = sum(1 for _ in self._counts.iterator())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "n_types": [n_types],
                }
            )

        def close(self) -> None:
            pass

    ensure_protobuf(spark)
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2, 3],
            "event_type": ["view", "click", "view", "view", "view", "buy"],
        }
    )
    d = tmp_path / "lm_src"
    d.mkdir()
    pdf.to_parquet(d / "b0.parquet")
    schema = spark.read.parquet(str(d)).schema
    before = spark.conf.get(_PROVIDER_KEY, None)
    drain(
        spark,
        spark.readStream.schema(schema)
        .parquet(str(d))
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeStatsProcessor(),
            outputStructType="user_id BIGINT, n_events BIGINT, n_types BIGINT",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.format("memory")
        .queryName("tws_listmap")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "lm_ckpt")),
        provider=ROCKSDB_PROVIDER,
    )
    assert spark.conf.get(_PROVIDER_KEY, None) == before
    got = {
        r.user_id: (r.n_events, r.n_types)
        for r in spark.sql("SELECT * FROM tws_listmap").collect()
    }
    want = {
        u: (len(g), g["event_type"].nunique())
        for u, g in pdf.groupby("user_id")
    }
    assert got == want


def test_stream_drain_restores_shuffle_width(spark, sf_dir):
    """A registry stream row's stateful width must not leak into the
    session: start_stateful restores spark.sql.shuffle.partitions as
    soon as the query has started, so it reads the same after the
    drain."""
    from another_map_reduce_spark.queries import QUERIES

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    QUERIES["stream_events_hourly"](spark, sf_dir).collect()
    assert spark.conf.get(key) == before


def test_drain_times_out_and_stops_query(spark, tmp_path, monkeypatch):
    """A finite stream that does not finish within the drain bound
    raises TimeoutError, and its query is stopped, not left running.
    The stop is bounded as well: a batch that ignores the stop's
    interrupt (here a sleeping foreachBatch callback) costs the caller
    the stop bound, not the rest of the batch."""
    import time

    from another_map_reduce_spark.streaming import lifecycle

    d = tmp_path / "slow_src"
    d.mkdir()
    (d / "a.txt").write_text("one line")
    monkeypatch.setattr(lifecycle, "DRAIN_TIMEOUT_S", 1.0)
    key = "spark.sql.streaming.stopTimeout"
    before = spark.conf.get(key)
    spark.conf.set(key, "1000")
    t0 = time.monotonic()
    try:
        with pytest.raises(TimeoutError):
            drain(
                spark,
                spark.readStream.text(str(d))
                .writeStream.foreachBatch(lambda _df, _id: time.sleep(8))
                .queryName("slow_drain")
                .option("checkpointLocation", str(tmp_path / "ckpt")),
            )
    finally:
        spark.conf.set(key, before)
    assert time.monotonic() - t0 < 6.0
    # Stopped at once; the manager still lists it until the sleeping
    # batch thread returns.
    lingering = [q for q in spark.streams.active if q.name == "slow_drain"]
    assert not any(q.isActive for q in lingering)


def test_foreachbatch_upsert_runs_multiple_batches(spark, sf_dir):
    """The foreachBatch merge row must actually exercise INCREMENTAL
    maintenance: maxFilesPerTrigger=1 over the 4-file relay must
    produce ≥2 committed micro-batches (else the demo silently
    degenerates to one big batch), and the final state must hold
    exactly one row per user."""
    import glob
    import hashlib
    import os
    import tempfile

    from another_map_reduce_spark.plans.streaming_state import (
        stream_foreachbatch_upsert,
    )

    out = {r.event_type: r.n_users for r in
           stream_foreachbatch_upsert(spark, sf_dir).collect()}
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"amrs_febatch_{tag}")
    commits = glob.glob(os.path.join(root, "ckpt", "commits", "*"))
    n_batches = len([c for c in commits if not c.endswith(".tmp")])
    assert n_batches >= 2, f"only {n_batches} micro-batches committed"

    state = spark.read.parquet(os.path.join(root, "state"))
    assert state.count() == state.select("user_id").distinct().count()
    assert sum(out.values()) == state.count()


def test_late_filter_uses_previous_batch_watermark(spark, tmp_path):
    """Pins the two-watermark batch contract stream_late_data_
    accounting's oracle models: late input is filtered with the
    PREVIOUS batch's watermark while eviction uses the current one —
    so a late row whose window closed under the current-but-not-
    previous watermark is ACCEPTED and emitted with its window."""
    import json
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    h = pd.Timedelta(hours=1)
    files = [
        # b0: window [00,01) with 2 rows; max ts 00:10
        pd.DataFrame({"ts": [t0, t0 + pd.Timedelta(minutes=10)]}),
        # b1: advances wm to 09:30 (> [00,01) end) via ts 10:00
        pd.DataFrame({"ts": [t0 + 10 * h]}),
        # b2: a late row for [00,01).  The CURRENT wm (09:30, from
        # b1's max) has closed that window, but the FILTER wm is the
        # PREVIOUS batch's value — max(b0) − 30min = Dec 31 23:40 —
        # under which [00,01) is still open, so the row must be
        # accepted and merged.
        pd.DataFrame({"ts": [t0 + pd.Timedelta(minutes=20)]}),
        # b3: pushes the final watermark far ahead so [00,01) flushes
        pd.DataFrame({"ts": [t0 + 30 * h]}),
    ]
    d = tmp_path / "latefilter"
    d.mkdir()
    for i, pdf in enumerate(files):
        p = d / f"b{i}.parquet"
        pdf.to_parquet(p, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    schema = spark.read.parquet(str(d)).schema
    q = drain(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("late_filter_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt")),
    )
    rows = {
        r.w.start.isoformat(): r.n
        for r in spark.table("late_filter_probe").collect()
    }
    # b2's late row was filtered with the PREVIOUS wm (23:40 Dec 31,
    # window still open) and merged: [00,01) emits n=3, not n=2.
    # Eviction of [00,01) happened at the END of the b2 batch (current
    # wm 09:30), i.e. WITH the late row already merged.
    assert rows["2024-01-01T00:00:00"] == 3
    dropped = 0
    for p in q.recentProgress:
        obj = json.loads(p.json) if hasattr(p, "json") else p
        for op in obj.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    assert dropped == 0  # nothing was ever late to the FILTER wm


def test_outer_join_null_emission_boundary(spark, tmp_path):
    """Pin the stream-stream LEFT OUTER join's two measured semantics
    (stream_join_outer_nulls' oracle encodes both): the query
    watermark is the MIN over the FILTERED sides' (max ts − delay),
    and unmatched left state null-emits with p.ts ≤ it ('<=').

    Fixture: watermark sides peak at 12:00 (view) / 12:00 (purchase)
    with a 2 h delay → joint watermark 10:00.  Unmatched purchases at
    09:59 (below → null-emitted), 10:00 (boundary → null-emitted
    under '<='), 10:01 (above → withheld).  The 12:00 purchase matches the
    11:30 view and emits regardless.
    """
    import datetime as dt

    src = tmp_path / "outer_bnd"
    T = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, user, when, typ):
        return (eid, when, user, typ, 0.0, "{}")

    rows = [
        # watermark carriers: BOTH filtered sides must peak at 12:00
        # (each side's watermark is computed post-filter)
        ev(6, 8, T, "view"),
        # one real match (user 9: view 11:30 < purchase 12:00)
        ev(1, 9, T - dt.timedelta(minutes=30), "view"),
        ev(2, 9, T, "purchase"),
        # unmatched purchases around the 10:00 joint watermark
        ev(3, 1, dt.datetime(2024, 1, 1, 9, 59, 0), "purchase"),
        ev(4, 2, dt.datetime(2024, 1, 1, 10, 0, 0), "purchase"),
        ev(5, 3, dt.datetime(2024, 1, 1, 10, 1, 0), "purchase"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(src / "events.parquet"))

    from another_map_reduce_spark.plans.streaming_state import (
        stream_join_outer_nulls,
    )

    got = {
        r.event_id: r.n_views
        for r in stream_join_outer_nulls(spark, str(src)).collect()
    }
    assert got == {2: 1, 3: 0, 4: 0}


def test_session_windows_merge_across_batches(spark, tmp_path):
    """The session store's MERGE path: batch 1 leaves two open
    sessions 30+ min apart; batch 2 delivers bridging events that
    chain them into ONE session; batch 3 moves the watermark past the
    gap horizon so the merged session emits.  A store that keyed
    sessions immutably by (user, start) without rewrite would emit
    two or three fragments instead."""
    import pandas as pd

    d = tmp_path / "sess_merge"
    d.mkdir()

    def write(name, times):
        pd.DataFrame(
            {
                "ts": pd.to_datetime(times),
                "user_id": [1] * len(times),
                "value": [1.0] * len(times),
            }
        ).to_parquet(d / name, coerce_timestamps="us")

    write("b1.parquet", ["2024-01-01 10:00:00", "2024-01-01 11:00:00"])
    schema = spark.read.parquet(str(d)).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    stream = session_agg(src, gap="30 minutes", watermark="2 hours")
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_merge")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        q.processAllAvailable()
        # bridge: 10:25 chains to 10:00 (gap 25m) and 10:50 chains to
        # both 10:25 (25m) and 11:00 (10m) -> one merged session
        write("b2.parquet", ["2024-01-01 10:25:00", "2024-01-01 10:50:00"])
        q.processAllAvailable()
        # flush: watermark to 12:30, past 11:00 + 30m gap horizon
        write("b3.parquet", ["2024-01-01 14:30:00"])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT sess_start, sess_end, n_events FROM sess_merge"
        ).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.sess_start.strftime("%H:%M") == "10:00"
        # session_window end = last event + gap
        assert r.sess_end.strftime("%H:%M") == "11:30"
        assert r.n_events == 4
    finally:
        q.stop()


def _run_session_close_relay(spark, tmp_path, files, name):
    """Drive session_close_v2 (gap 30 min, watermark 10 min) over a
    forced-order file relay; returns {(user_id, minutes-from-t0)}."""
    import pandas as pd

    from another_map_reduce_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        session_close_v2,
    )

    d = tmp_path / f"{name}_src"
    d.mkdir()
    for i, pdf in enumerate(files):
        p = d / f"b{i}.parquet"
        pdf.to_parquet(
            p, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        import os

        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    schema = spark.read.parquet(str(d)).schema
    before = spark.conf.get(_PROVIDER_KEY, None)
    drain(
        spark,
        session_close_v2(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d)),
            gap_minutes=30,
            watermark="10 minutes",
        )
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"{name}_ckpt")),
        provider=ROCKSDB_PROVIDER,
    )
    assert spark.conf.get(_PROVIDER_KEY, None) == before
    t0_ms = int(pd.Timestamp("2024-01-01 00:00:00").value // 1_000_000)
    return {
        (r.user_id, (r.session_end - t0_ms) / 60_000.0)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_tws_timer_final_flush_batch(spark, tmp_path):
    """availableNow runs one final no-data flush batch whose watermark
    covers the LAST file — the stream_session_close_tws oracle's
    third firing opportunity.  User 1's timer (t0+30) only becomes
    due after the last data file (watermark t0+31) — it must still
    fire."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    got = _run_session_close_relay(
        spark,
        tmp_path,
        [
            pd.DataFrame({"user_id": [1], "ts": [t0]}),
            pd.DataFrame({"user_id": [99], "ts": [t0 + 41 * m]}),
        ],
        "tws_flush",
    )
    assert got == {(1, 30.0)}


def test_tws_timer_inclusive_comparator(spark, tmp_path):
    """Timers fire when expiry <= eviction watermark (INCLUSIVE) — the
    comparator the stream_session_close_tws oracle replays.  The
    final flush watermark is EXACTLY user 1's expiry (t0+30): strict
    < would never fire it."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    got = _run_session_close_relay(
        spark,
        tmp_path,
        [
            pd.DataFrame({"user_id": [1], "ts": [t0]}),
            pd.DataFrame({"user_id": [99], "ts": [t0 + 40 * m]}),
        ],
        "tws_cmp",
    )
    assert got == {(1, 30.0)}


def test_tws_input_processed_before_timers(spark, tmp_path):
    """Within a batch, input rows are folded FIRST (sliding the one
    pending timer), THEN due timers fire — so a user whose batch-3
    input arrives while their old timer (t0+30) is already past the
    watermark (t0+35) does NOT close the old session; only the slid
    timer (t0+80) fires, in the final flush (watermark t0+90)."""
    import pandas as pd

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)
    got = _run_session_close_relay(
        spark,
        tmp_path,
        [
            pd.DataFrame({"user_id": [1], "ts": [t0]}),
            pd.DataFrame({"user_id": [99], "ts": [t0 + 45 * m]}),
            pd.DataFrame(
                {"user_id": [1, 99], "ts": [t0 + 50 * m, t0 + 100 * m]}
            ),
        ],
        "tws_order",
    )
    assert got == {(1, 80.0)}


def test_tws_initial_state_bootstrap(spark, tmp_path):
    """The initialState half of transformWithStateInPandas — the one
    API face the funnel/timer/list/map tests don't touch: a batch
    GroupedData seeds per-key state BEFORE the first micro-batch
    (handleInitialState), so day-N+1 of a migrated pipeline starts
    from day-N's balances instead of zero.

    Per-user running totals: users 1/2 bootstrap with balances 100/50,
    the stream delivers increments for users 1 (+7, +3) and 3 (+5);
    emitted totals must be {1: 110, 2: none-emitted-unless-input,
    3: 5} — and user 1's total proves initial state was folded in."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from another_map_reduce_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        ensure_protobuf,
        ensure_state_worker_env,
    )

    ensure_protobuf(spark)
    ensure_state_worker_env(spark)

    class RunningTotal(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._tot = handle.getValueState("tot", "t long")

        def handleInitialState(self, key, initialState, timerValues) -> None:
            self._tot.update((int(initialState["balance"].iloc[0]),))

        def handleInputRows(self, key, rows, timerValues):
            tot = self._tot.get()[0] if self._tot.exists() else 0
            for pdf in rows:
                tot += int(pdf["amount"].sum())
            self._tot.update((tot,))
            yield pd.DataFrame({"user_id": [key[0]], "total": [tot]})

        def close(self) -> None:
            pass

    src = tmp_path / "init_src"
    src.mkdir()
    pd.DataFrame({"user_id": [1, 1, 3], "amount": [7, 3, 5]}).to_parquet(
        src / "b0.parquet"
    )
    schema = spark.read.parquet(str(src)).schema
    init = (
        spark.createDataFrame(
            [(1, 100), (2, 50)], "user_id long, balance long"
        ).groupBy("user_id")
    )
    before = spark.conf.get(_PROVIDER_KEY, None)
    drain(
        spark,
        spark.readStream.schema(schema)
        .parquet(str(src))
        .groupBy("user_id")
        .transformWithStateInPandas(
            RunningTotal(),
            outputStructType="user_id BIGINT, total BIGINT",
            outputMode="Update",
            timeMode="None",
            initialState=init,
        )
        .writeStream.format("memory")
        .queryName("tws_init")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "init_ckpt")),
        provider=ROCKSDB_PROVIDER,
    )
    assert spark.conf.get(_PROVIDER_KEY, None) == before
    got = {
        r.user_id: r.total
        for r in spark.sql("SELECT * FROM tws_init").collect()
    }
    # user 1: 100 (bootstrap) + 7 + 3; user 3: no bootstrap, 0 + 5.
    # user 2 has initial state but no input: update mode emits only
    # keys that produced rows — absence is itself pinned here.
    assert got == {1: 110, 3: 5}


def test_full_outer_join_eviction_boundaries(spark, tmp_path):
    """Pin the full-outer stream-stream join's TWO close boundaries
    (the oracle of stream_join_full_outer states them): with joint
    watermark wm = min(max p.ts, max v.ts) − 2h, an unmatched purchase
    emits iff p.ts <= wm (INCLUSIVE) and an unmatched view iff
    v.ts + 1h < wm (STRICT) — probe rows sit exactly ON each boundary.
    """
    import datetime as dt

    from another_map_reduce_spark.plans.streaming_state import (
        _events_readstream,
        _fresh_sink_name,
    )
    from another_map_reduce_spark.streaming.joins import (
        purchases_with_view_full,
    )

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    rows = [
        # anchors: max ts = 12:00 on BOTH sides → wm = 10:00
        (1000, ts(240), 1, "view", 0.0, "{}"),
        (1001, ts(240), 99, "purchase", 1.0, "{}"),
        # unmatched views (users with no purchases):
        (2, ts(29), 2, "view", 0.0, "{}"),    # v+1h <  wm → emits
        (3, ts(60), 3, "view", 0.0, "{}"),    # v+1h == wm → withheld
        (4, ts(90), 4, "view", 0.0, "{}"),    # v+1h >  wm → withheld
        # unmatched purchases (users with no views):
        (12, ts(119), 12, "purchase", 1.0, "{}"),  # p <  wm → emits
        (13, ts(120), 13, "purchase", 1.0, "{}"),  # p == wm → emits
        (14, ts(121), 14, "purchase", 1.0, "{}"),  # p >  wm → withheld
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    raw = _events_readstream(spark, str(tmp_path))
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = raw.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    qn = _fresh_sink_name("t_full_outer_probe")
    drain(
        spark,
        purchases_with_view_full(purchases, views)
        .writeStream.format("memory")
        .queryName(qn)
        .outputMode("append"),
    )
    out = spark.table(qn).collect()
    assert sorted(
        r.purchase_id for r in out if r.view_id is None
    ) == [12, 13]
    assert sorted(
        r.view_id for r in out if r.purchase_id is None
    ) == [2]
    assert not [
        r for r in out
        if r.purchase_id is not None and r.view_id is not None
    ]


def test_checkpoint_restart_reads_only_new_files(spark, tmp_path):
    """The stream_checkpoint_restart lifecycle at fixture scale, with
    the one assertion the oracle hash can't state directly: run 2's
    total input rows equal |slice B| exactly — the recovered source
    offset log skipped every already-processed file."""
    import datetime as dt
    import json
    import os

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)

    def ev(eid, hours, typ, val):
        return (eid, t0 + dt.timedelta(hours=hours), 1, typ, val)

    # slice A: hours 0..10; slice B: hours 12..20; the split window
    # (hour 10) closes only in run 2 (wm1 = 10:00 - 30min < its end).
    slice_a = [ev(i, h, "view", 1.0) for i, h in enumerate([0, 0, 1, 5, 10])]
    slice_b = [
        ev(100 + i, h, "view", 1.0) for i, h in enumerate([12, 12, 13, 20])
    ]
    schema_str = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(slice_a, schema_str).write.mode("append").parquet(
        src
    )
    schema = spark.read.parquet(src).schema

    def run():
        raw = spark.readStream.schema(schema).parquet(src).withWatermark(
            "ts", "30 minutes"
        )
        windowed = (
            raw.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .select(F.col("w.start").alias("hour"), "event_type", "n")
        )
        q = drain(
            spark,
            windowed.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
        )
        return sum(
            json.loads(p.json).get("numInputRows", 0)
            for p in q.recentProgress
        )

    n1 = run()
    spark.createDataFrame(slice_b, schema_str).write.mode("append").parquet(
        src
    )
    n2 = run()
    assert n1 == len(slice_a)
    assert n2 == len(slice_b), (
        f"restart reprocessed input: run2 read {n2} rows, |B|={len(slice_b)}"
    )
    got = {
        (r.hour.hour, r.n)
        for r in spark.read.parquet(sink).collect()
    }
    # final watermark = 20:00 - 30min -> closed windows: 0,1,5,10,12,13
    assert got == {(0, 2), (1, 1), (5, 1), (10, 1), (12, 2), (13, 1)}
    # crucially hour 10 was emitted ONCE with its full count even
    # though it was open state at the restart boundary
    assert not os.path.exists(os.path.join(sink, "_SUCCESS"))


def test_stream_ohlc_minby_state_merges_across_microbatches(spark, tmp_path):
    """The ordered-pick aggregates (min_by/max_by) must merge streaming
    state correctly ACROSS micro-batches: batch 2 delivers an earlier
    tick than batch 1's open and a later tick than its close — the
    final bar must adopt both.  maxFilesPerTrigger=1 forces the
    two-file source into separate micro-batches."""
    src = tmp_path / "ohlc_src"
    src.mkdir()
    cols = "ts string, event_id long, value double"
    batch1 = [
        ("2024-01-01 00:20:00", 2, 50.0),   # open candidate (batch 1)
        ("2024-01-01 00:40:00", 3, 70.0),   # close candidate (batch 1)
        ("2024-01-01 03:00:00", 9, 1.0),    # watermark driver
    ]
    batch2 = [
        ("2024-01-01 00:10:00", 1, 20.0),   # EARLIER -> true open
        ("2024-01-01 00:50:00", 4, 30.0),   # LATER   -> true close
        ("2024-01-01 06:00:00", 10, 1.0),   # advance wm past the bar
    ]
    for i, rows in enumerate((batch1, batch2)):
        (
            spark.createDataFrame(rows, cols)
            .select(
                F.col("ts").cast("timestamp").alias("ts"),
                "event_id",
                "value",
            )
            .coalesce(1)
            .write.parquet(str(src / f"b{i}"))
        )
    schema = spark.read.parquet(str(src / "b0")).schema
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    windowed = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
        )
    )
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName("ohlc_merge")
        .outputMode("append"),
    )
    bars = {
        r.s.strftime("%H:%M"): (r.n, r.open, r.high, r.low, r.close)
        for r in spark.table("ohlc_merge")
        .select(F.col("w.start").alias("s"), "n", "open", "high", "low", "close")
        .collect()
    }
    # the 00:00 bar saw 2 ticks in each batch; open/close must come
    # from batch 2's edge ticks, high from batch 1, low from batch 2
    assert bars["00:00"] == (4, 20.0, 70.0, 20.0, 30.0)


def test_rate_soak_state_stays_flat(spark):
    """Steady-state soak (r11): ~150 micro-batches of the
    deterministic rate source through a watermarked windowed
    aggregation under a real processingTime cadence — state rows must
    PLATEAU once watermark eviction kicks in (open windows x keys, a
    constant) and the tail must never exceed the early plateau.  This
    test FAILS if state grows monotonically — the week-two-OOM
    failure mode the availableNow drains can't observe."""
    from another_map_reduce_spark.plans.streaming_state import (
        _run_rate_soak,
    )

    _, samples = _run_rate_soak(spark, min_batches=150, timeout_s=420)
    # warm-up ends once eviction is active (watermark = 30 s = 3
    # batches behind; give it 10)
    post = [(b, n) for b, n in samples if b >= 10]
    assert len(post) >= 60, f"too few sampled batches: {len(post)}"
    split = max(b for b, _ in post) // 2
    early = [n for b, n in post if b <= split]
    tail = [n for b, n in post if b > split]
    plateau = max(early)
    assert max(tail) <= plateau, (
        f"state grew past the early plateau: {max(tail)} > {plateau} "
        f"(samples {samples[-10:]})"
    )
    # absolute bound: open windows (window + watermark + 1 batch in
    # flight = ~5) x 4 keys, generously doubled
    assert plateau <= 40, f"state plateau {plateau} rows is not bounded"
