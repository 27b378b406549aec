"""Custom-stateful-streaming driver row — [extension].

``stream_events_hourly`` / ``_append`` prove the BUILT-IN streaming
aggregation path; this module proves the escape hatch the reference's
pluggable map/reduce would need in a streaming world: a user-defined
per-key state machine via ``applyInPandasWithState``
(streaming/stateful.py), run end-to-end on the driver-visible path and
hash-compared against the SAME DuckDB oracle as its batch twin
``funnel_conversion`` — the strongest check available for an operator
whose semantics SQL can't express incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Import order: relational must be loaded first so its oracle string is
# registered; reusing the identical SQL object is anti-drift by
# construction (the two rows can't diverge silently).
import another_map_reduce_spark.plans.relational as _relational  # noqa: F401
from another_map_reduce_spark.plans.relational import (
    _DRAIN_WIDTH,
    _events_readstream,
    _fresh_sink_name,
)
from another_map_reduce_spark.queries import ORACLES, register
from another_map_reduce_spark.sources.tables import load_table
from another_map_reduce_spark.streaming.lifecycle import drain, start_stateful
from another_map_reduce_spark.streaming.stateful import funnel_stages


@register("stream_funnel_stateful", oracle=ORACLES["funnel_conversion"])
def stream_funnel_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """funnel_conversion executed as a custom stateful STREAM.

    File source over the events parquet → ``applyInPandasWithState``
    per-user stage machine (update mode: one row per user per
    micro-batch) → memory sink, drained with ``Trigger.AvailableNow``.
    The final stage per user is ``MAX(stage_idx)`` over the sink —
    stages are monotone non-decreasing, so the last emission dominates —
    then stage counts are cumulative: a user at stage s passed every
    stage ≤ s.  All-integer state and counts: nothing floats, nothing
    is order-sensitive cross-engine.

    Ordering contract: within a micro-batch the state machine folds a
    global event-time sort per key (stateful.py); across micro-batches
    it relies on event-time-ordered arrival.  Under AvailableNow on a
    single parquet source the whole table is one micro-batch, so the
    fixed point equals the batch query on any input; multi-batch
    deployments keep the guarantee via the watermark discipline
    documented in streaming/stateful.py.
    """
    raw = _events_readstream(spark, sf_dir).select(
        "user_id", "event_type", "ts"
    )
    qname = _fresh_sink_name("stream_funnel")
    drain(
        spark,
        funnel_stages(raw)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update"),
        width=_DRAIN_WIDTH,
    )
    per_user = (
        spark.table(qname)
        .groupBy("user_id")
        .agg(F.max("stage_idx").alias("stage"))
    )
    counts = per_user.agg(
        *[
            F.count(F.when(F.col("stage") >= s, F.lit(1))).alias(f"n{s}")
            for s in (1, 2, 3)
        ]
    )

    def stage_row(idx: int, name: str) -> DataFrame:
        return counts.select(
            F.lit(idx).alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.col(f"n{idx}").alias("n_users"),
        )

    return (
        stage_row(1, "view")
        .unionByName(stage_row(2, "view>click"))
        .unionByName(stage_row(3, "view>click>purchase"))
        .orderBy("stage_idx")
    )


@register(
    "stream_join_purchase_view",
    oracle="""
SELECT p.event_id, COUNT(*) AS n_views
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts >= p.ts - INTERVAL 1 HOUR
 AND v.ts <  p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
ORDER BY p.event_id
""",
)
def stream_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join on the driver-visible path: purchases
    matched to same-user views in the preceding hour
    (streaming/joins.py), both sides watermarked so view-state is
    evicted past watermark + 1h.

    The batch face is range_views_before_purchase (LEFT join — keeps
    zero-view purchases); stream-stream outer joins must withhold
    unmatched rows until the watermark closes them, so the streaming
    row proves the INNER contract and the oracle applies the same
    inner semantics.  Under AvailableNow on a single parquet source
    the whole table is one micro-batch: the initial watermark is 0, so
    nothing is late-dropped and every qualifying pair is emitted in
    that batch (inner-join matches emit immediately; the watermark
    only bounds state).  The drained pair table reduces to exact
    per-purchase view counts — all integers.
    """
    from another_map_reduce_spark.streaming.joins import (
        purchases_with_recent_view,
    )

    raw = _events_readstream(spark, sf_dir)
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = raw.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    qname = _fresh_sink_name("stream_join_pv")
    # the join holds FOUR state stores per partition, so drain width
    # matters most here of all the streaming rows.  r13 interleaved
    # A/B at sf0.1 (5 reps each, warm medians): width 2 = 3.9 s
    # (spread 3.7-4.0), width 4 = 4.8 s, width 8 = 6.9 s, width 16 =
    # ~13 s — per-partition store constants dominate this finite
    # drain's tiny state (~60k buffered rows), so the narrowest width
    # wins and is STABLE (the r12 "regression" was width-8 store
    # constants amplified by host noise).  At scale the same knob is
    # sized to state volume per partition, not downward.
    drain(
        spark,
        purchases_with_recent_view(purchases, views)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=2,
    )
    return (
        spark.table(qname)
        .groupBy(F.col("purchase_id").alias("event_id"))
        .agg(F.count("*").alias("n_views"))
        .orderBy("event_id")
    )


@register(
    "stream_dedup_counts",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on the driver-visible path:
    ``dropDuplicatesWithinWatermark`` on event_id (streaming/joins.py —
    the exactly-once-ingestion primitive; the streaming face of
    operators/dedup.dedup_exact) drained with AvailableNow, then
    per-type counts of the emitted stream.

    Every emitted row is the FIRST arrival of its key and every key
    within the watermark horizon is emitted exactly once, so the
    drained count per type equals the batch COUNT(DISTINCT event_id)
    regardless of how many duplicates the source holds (the synthetic
    events table is duplicate-free, making pass-through the expected
    case — the suppression side is pinned by
    tests/test_streaming.py's two-batch duplicate test).  The dedup
    key is (event_id, event_type), not event_id alone: the oracle
    counts DISTINCT event_id WITHIN each type group, so an id that
    ever arrived under two types must be emitted once per type for
    the equivalence to hold unconditionally — keying on event_id
    alone would keep only the first arrival's type (r4 advisory).
    State is bounded: key fingerprints older than the watermark are
    evicted.
    """
    from another_map_reduce_spark.streaming.joins import dedup_stream

    raw = _events_readstream(spark, sf_dir).select(
        "event_id", "event_type", "ts"
    )
    qname = _fresh_sink_name("stream_dedup")
    drain(
        spark,
        dedup_stream(raw, ["event_id", "event_type"])
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
        .orderBy("event_type")
    )


@register(
    "stream_static_join_segments",
    oracle="""
SELECT c.c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY mktsegment
""",
)
def stream_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the third join class Structured Streaming
    supports (beyond batch joins and stream-stream joins): the event
    STREAM enriched against the static customer dimension, then
    per-segment counts over the drained result.

    Stream-static joins are stateless on the stream side — each
    micro-batch hash-joins against the (re-readable) static relation,
    so there is no watermark, no state store, and the static side can
    be broadcast; this is the standard shape for dimension enrichment
    in ingestion pipelines (the CDC-maintained snapshot from
    operators/cdc.py is exactly what the static side would be in
    production).  Inner join semantics: events whose user_id has no
    customer row are dropped on both engines.  All-integer outputs.
    """
    static_cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    raw = _events_readstream(spark, sf_dir).select("user_id", "event_id")
    joined = raw.join(
        static_cust, raw["user_id"] == static_cust["c_custkey"], "inner"
    )
    qname = _fresh_sink_name("stream_static")
    drain(
        spark,
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("mktsegment")
    )


@register(
    "stream_sliding_counts",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events),
a AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS win_start, event_type
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE
             AS win_start,
         event_type
  FROM events
)
SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM a
GROUP BY win_start, event_type
HAVING win_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
ORDER BY win_start, event_type
""",
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING windows on the incremental streaming path: 1-hour
    windows sliding every 30 minutes (each event lands in exactly two
    windows), APPEND mode + 30-minute watermark, drained with
    ``Trigger.AvailableNow`` — the overlapping-window complement to
    ``stream_events_hourly_append``'s tumbling row.

    Sliding state is the interesting part at scale: the store holds
    window/slide = 2 concurrent window rows per key instead of one,
    and append-mode eviction closes them in slide-sized steps — same
    ``<=`` end-comparator as the tumbling row (pinned by the
    boundary-exact synthetic test there).  The oracle materializes
    Spark's window-assignment rule directly: an event at t belongs to
    the slide-aligned windows starting at bucket30(t) and
    bucket30(t) − 30 min, both engines aligning buckets on :00/:30
    (epoch-aligned in Spark, origin-2000 time_bucket in DuckDB — both
    origins sit on a whole hour), then applies the same
    end ≤ max(ts) − 30 min cutoff.
    """
    raw = _events_readstream(spark, sf_dir)
    windowed = (
        raw.withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    qname = _fresh_sink_name("stream_sliding")
    drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
        .orderBy("win_start", "event_type")
    )


@register(
    "stream_foreachbatch_upsert",
    oracle="""
WITH latest AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM latest WHERE rn = 1
GROUP BY event_type
ORDER BY event_type
""",
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch INCREMENTAL MERGE — the most-used production
    streaming sink idiom, absent from the built-in-sink rows: the
    events table is re-laid as 4 files, streamed one file per
    micro-batch (``maxFilesPerTrigger=1`` under AvailableNow), and
    each batch MERGEs into a parquet state table holding the latest
    event per user.  The merge is union + max-version window (state
    carries the (ts, event_id) version columns), NOT change-wins —
    max is associative/commutative, so the final state is independent
    of batch order and boundaries, which is exactly the property a
    file-source stream (nondeterministic file ordering) demands and
    the thing naive per-batch overwrite gets wrong.  Final state is
    aggregated per event type and hash-matched against the one-shot
    latest-per-user oracle: 4 incremental merges ≡ one batch query.

    localCheckpoint materializes each merge before the overwrite so
    the plan never reads the directory it is replacing.  Pid-free
    per-sf working root, wiped per run (serial-harness contract).
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), f"amrs_febatch_{tag}")
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        cur = (
            s.read.parquet(state)
            if os.path.exists(state)
            else batch_df.limit(0)
        )
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        merged = (
            cur.unionByName(batch_df)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(state)

    drain(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt),
        width=_DRAIN_WIDTH,
    )

    dec = F.col("value").cast("decimal(38,6)")
    return (
        spark.read.parquet(state)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(dec).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def _write_relay(
    root: str, src: str, tagged: DataFrame, n_slices: int, label: str
) -> None:
    """Write relay micro-batch files ``src/b{i}.parquet`` THROUGH Spark
    (no driver-side toPandas of a corpus-scale column), in ONE job and
    ONE corpus scan: ``tagged`` carries a ``_rb`` slice-id column (a
    CASE expression — not a union of filters, which would rescan the
    source once per slice), repartition on the tag puts each slice
    wholly in one task (one part file per ``_rb=i`` directory — the
    relay contract is one file per micro-batch), and the part files
    are renamed into place with spaced mtimes to force the file-stream
    arrival order (local-FS demo rig; production reads real arrival
    order).
    """
    import os
    import shutil

    stage = os.path.join(root, "stage")
    (
        tagged.repartition(n_slices, "_rb")
        .write.partitionBy("_rb")
        .parquet(stage)
    )
    for i in range(n_slices):
        d = os.path.join(stage, f"_rb={i}")
        parts = (
            [
                f for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith("_")
            ]
            if os.path.isdir(d)
            else []
        )
        if len(parts) != 1:
            raise RuntimeError(
                f"{label} relay batch {i}: expected one part file, "
                f"got {parts} (an empty slice means the events fixture "
                f"does not straddle the relay cutoffs)"
            )
        p = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(d, parts[0]), p)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))  # force file order
    shutil.rmtree(stage, ignore_errors=True)


# Deterministic late-data relay constants, shared with the oracle.
_LATE_C1 = "2024-01-12"
_LATE_C2 = "2024-01-22"
_LATE_MOD = 7  # every 7th early event arrives one relay-batch late

_LATE_SQL = f"""
WITH b0 AS (
  SELECT ts FROM events
  WHERE ts < TIMESTAMP '{_LATE_C1}' AND event_id % {_LATE_MOD} <> 0
), b1 AS (
  SELECT ts FROM events
  WHERE ts >= TIMESTAMP '{_LATE_C1}' AND ts < TIMESTAMP '{_LATE_C2}'
), b2 AS (
  SELECT ts FROM events
  WHERE ts >= TIMESTAMP '{_LATE_C2}'
     OR (ts < TIMESTAMP '{_LATE_C1}' AND event_id % {_LATE_MOD} = 0)
), wm0 AS (
  -- the LATE-DATA FILTER watermark for the b2 batch: Spark filters
  -- late input with the PREVIOUS batch's watermark (max of b0 − 30m,
  -- the value in force while b1 ran) and evicts with the current one
  -- — one window straddles the two on this fixture, so the lag is
  -- observable, not a modeling nicety
  SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM b0
), wmf AS (
  SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events
), dropped AS (
  SELECT COUNT(DISTINCT DATE_TRUNC('hour', ts)) AS d,
         COUNT(*) AS lost
  FROM b2
  WHERE DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm0)
), accepted AS (
  SELECT ts FROM b0
  UNION ALL
  SELECT ts FROM b1
  UNION ALL
  SELECT ts FROM b2
  WHERE DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR > (SELECT w FROM wm0)
), emitted AS (
  SELECT DATE_TRUNC('hour', ts) AS h, COUNT(*) AS n FROM accepted
  GROUP BY 1
  HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(n) AS BIGINT) AS total_events,
       CAST((SELECT d FROM dropped) AS BIGINT) AS windows_dropped_late,
       CAST((SELECT lost FROM dropped) AS BIGINT) AS events_lost_late,
       -- batch count derived from slice non-emptiness, matching the
       -- Spark side's numInputRows>0 counting (a fixture that doesn't
       -- straddle both cutoffs fails the Spark side's explicit assert
       -- rather than silently hash-mismatching here)
       CAST((SELECT (CASE WHEN EXISTS (SELECT 1 FROM b0) THEN 1 ELSE 0 END)
                  + (CASE WHEN EXISTS (SELECT 1 FROM b1) THEN 1 ELSE 0 END)
                  + (CASE WHEN EXISTS (SELECT 1 FROM b2) THEN 1 ELSE 0 END))
            AS BIGINT) AS n_data_batches
FROM emitted
"""


@register("stream_late_data_accounting", oracle=_LATE_SQL)
def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data OBSERVABILITY — the accounting side of the watermark
    contract the other streaming rows only enforce: a 3-file relay
    re-delivers every 7th early event two micro-batches late, and the
    query reports what the watermark actually dropped beside the
    emitted-window totals — the numbers an ingest SLO dashboard
    watches.

    Three behaviors MEASURED here (each surprised the naive model; the
    hash pins them all):

    * Eviction happens at batch END, so data arriving ONE batch after
      its window's peers still merges into live state and is emitted
      with full counts — only data arriving after the eviction batch
      is dropped.  Hence the two-batch delay in this relay.
    * The late-data filter uses the PREVIOUS batch's watermark while
      eviction uses the current one (Spark's two-watermark batch
      contract): b2's drops compare window ends against max(b0) −
      30 min, not max(b0∪b1) − 30 min, and one fixture window
      straddles the two — it is accepted, merged into its still-live
      state, and emitted with its late row.
    * ``numRowsDroppedByWatermark`` counts post-shuffle PARTIAL rows
      at the state operator — one per closed (window) per batch — not
      raw input rows.  The report exposes it as
      ``windows_dropped_late`` and derives ``events_lost_late`` from
      the relay's own b2 slice against the same filter watermark.

    The oracle replays the micro-batch schedule in SQL — per-batch
    filter/eviction watermarks, the ``<=`` window-end comparator (the
    one stream_events_hourly_append pinned boundary-exact), survivors
    into emitted windows — so the hash match proves the drop rule AND
    that the progress-metric accounting agrees with the semantic
    replay.
    File order is forced (sequential writes + spaced mtimes); the
    relay materializes the fixture driver-side (a demo-rig
    constraint, not an operator one — production reads real arrival
    order).
    """
    import os
    import tempfile
    import hashlib
    import json
    import shutil

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    c1 = F.lit(_LATE_C1).cast("timestamp")
    c2 = F.lit(_LATE_C2).cast("timestamp")
    late = F.col("event_id") % _LATE_MOD == 0
    # the late slice arrives TWO batches after its peers: state for its
    # windows is evicted at the end of the b1 batch, so b2's late rows
    # hit closed windows and are dropped (a one-batch delay would merge
    # into still-live state — eviction happens at batch END, measured)
    splits = [
        ev.where((F.col("ts") < c1) & ~late),
        ev.where((F.col("ts") >= c1) & (F.col("ts") < c2)),
        ev.where(
            (F.col("ts") >= c2) | ((F.col("ts") < c1) & late)
        ),
    ]
    from another_map_reduce_spark.artifacts import (
        register_pid_layout,
        sweep_stale_pid_siblings,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    sweep_stale_pid_siblings(f"amrs_late_{tag}")
    root = register_pid_layout(os.path.join(
        tempfile.gettempdir(), f"amrs_late_{tag}_{os.getpid()}"
    ))
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)
    _write_relay(
        root,
        src,
        ev.select(
            "ts",
            F.when((F.col("ts") < c1) & ~late, 0)
            .when((F.col("ts") >= c1) & (F.col("ts") < c2), 1)
            .otherwise(2)
            .alias("_rb"),
        ),
        3,
        "late-data",
    )
    # The watermark schedule (and the oracle's replay of it) assumes
    # every relay batch is non-empty — i.e. the fixture's timestamps
    # straddle both cutoffs.  Fail loudly on a degenerate fixture
    # instead of hash-mismatching for a non-semantic reason; sizes
    # come from the written files' parquet FOOTERS (metadata reads,
    # no extra corpus scan).
    import pyarrow.parquet as _pq

    sizes = {
        f"b{i}": _pq.ParquetFile(
            os.path.join(src, f"b{i}.parquet")
        ).metadata.num_rows
        for i in range(3)
    }
    if not all(v > 0 for v in sizes.values()):
        raise ValueError(
            f"late-data relay fixture must straddle the {_LATE_C1} and "
            f"{_LATE_C2} cutoffs; slice sizes were {sizes}"
        )

    schema = spark.read.parquet(src).schema
    windowed = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # _write_relay writes the slices through Spark, whose parquet
        # timestamps are TIMESTAMP(MILLIS/MICROS, adjusted-to-UTC);
        # the session timezone is pinned UTC (session.py), so this
        # cast is value-preserving either way
        .select(F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    qname = _fresh_sink_name("stream_late_accounting")
    q = drain(
        spark,
        windowed.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(root, "ckpt")),
        width=_DRAIN_WIDTH,
    )
    dropped_windows = 0
    data_batches = 0
    for p in q.recentProgress:
        obj = json.loads(p.json) if hasattr(p, "json") else p
        if obj.get("numInputRows", 0) > 0:
            data_batches += 1
        for op in obj.get("stateOperators", []):
            dropped_windows += op.get("numRowsDroppedByWatermark", 0)

    # lost INPUT rows: the b2 slice against the LATE-DATA FILTER
    # watermark in force for that batch — Spark filters late input
    # with the PREVIOUS batch's watermark (max ts of b0 − delay) and
    # evicts with the current one, so this is wm after b0, not b1
    wm0 = splits[0].agg(
        (F.max("ts") - F.expr("INTERVAL 30 MINUTES")).alias("w")
    )
    lost = (
        splits[2]
        .crossJoin(F.broadcast(wm0))
        .where(
            F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")
            <= F.col("w")
        )
        .count()
    )
    return spark.table(qname).agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("n").cast("long").alias("total_events"),
        F.lit(dropped_windows).cast("long").alias("windows_dropped_late"),
        F.lit(lost).cast("long").alias("events_lost_late"),
        F.lit(data_batches).cast("long").alias("n_data_batches"),
    )


@register(
    "stream_join_outer_nulls",
    oracle="""
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'view')
  ) - INTERVAL 2 HOUR AS w
),
pv AS (
  SELECT p.event_id, p.ts, COUNT(v.event_id) AS n_views
  FROM events p
  LEFT JOIN events v
    ON v.user_id = p.user_id
   AND v.event_type = 'view'
   AND v.ts >= p.ts - INTERVAL 1 HOUR
   AND v.ts <  p.ts
  WHERE p.event_type = 'purchase'
  GROUP BY p.event_id, p.ts
)
SELECT event_id, CAST(n_views AS BIGINT) AS n_views
FROM pv
WHERE n_views > 0 OR ts <= (SELECT w FROM wm)
ORDER BY event_id
""",
)
def stream_join_outer_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the semantics the inner row
    (stream_join_purchase_view) explicitly defers: an unmatched
    purchase cannot emit on arrival (a matching view may still come),
    so the join BUFFERS it and emits the null-padded row only once
    the watermark proves no match can arrive (for v.ts < p.ts that is
    watermark ≥ p.ts).

    Under AvailableNow the data is one micro-batch: matched pairs
    emit there; null emission then follows from TWO measured
    semantics (both found empirically at sf0.01 before the oracle
    was written, not assumed): (1) each side's watermark is computed
    on the FILTERED stream — max PURCHASE ts and max VIEW ts, not
    the raw table's max — and the query's watermark is their MIN;
    (2) unmatched left state closes with p.ts AT or below that
    joint watermark (min side-max − 2 h; the `<=` boundary is pinned
    by a synthetic test, the repo's eviction-comparator precedent).  Later unmatched
    purchases are deliberately withheld at query end (emitting them
    would be a wrong answer, not a missing one).  The oracle states
    the contract directly: every matched purchase with its view
    count, plus zero-view rows only inside the closed horizon.
    [extension].
    """
    from another_map_reduce_spark.streaming.joins import (
        purchases_with_view_outer,
    )

    raw = _events_readstream(spark, sf_dir)
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = raw.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    qname = _fresh_sink_name("stream_join_outer")
    drain(
        spark,
        purchases_with_view_outer(purchases, views)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .groupBy(F.col("purchase_id").alias("event_id"))
        .agg(F.count("view_id").cast("long").alias("n_views"))
        .orderBy("event_id")
    )


@register(
    "stream_checkpoint_restart",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
SELECT DATE_TRUNC('hour', ts) AS hour,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
HAVING DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
ORDER BY hour, event_type
""",
)
def stream_checkpoint_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECKPOINT RECOVERY — the streaming property none of the other
    rows exercise: a stateful query is STOPPED mid-corpus and a brand-
    new query object resumes from the same checkpoint, and the final
    answer is exactly-once anyway.  This is the property a production
    pipeline actually relies on (every deploy/crash is a restart); a
    row proving source offsets, window state, the watermark, AND the
    file sink's commit log all survive recovery is worth more than any
    single-run row.

    Lifecycle: the events table is split at a day boundary into slice
    A (earlier) and slice B; run 1 streams A through an append-mode
    hourly aggregation (30-min watermark) into a PARQUET FILE SINK
    with a checkpoint, drains under AvailableNow, and terminates.
    Slice B's files are then added to the source directory and a
    separately-built identical query starts against the SAME
    checkpoint + sink: the restored source offset log makes it read
    ONLY the new files, the restored state store carries the windows
    left open at shutdown (the boundary window spanning the split gets
    rows from BOTH runs — any replay or loss flips its count), and the
    restored watermark admits all of B (maxA − 30 min < the split
    cut, so nothing is spuriously late-dropped).  The final read goes
    through the sink's _spark_metadata commit log, so only atomically
    committed files count.

    The oracle is the plain whole-table aggregate under the append
    twin's close predicate (window end <= global max(ts) − 30 min,
    the `<=` comparator pinned by stream_events_hourly_append's
    boundary test): the hash match IS the exactly-once proof — a
    window emitted twice (sink replay), a window emitted by both runs
    (state loss), or a reprocessed slice (offset loss) all flip it.
    tests/test_streaming.py::test_checkpoint_restart_reads_only_new_files
    additionally pins run 2's input row count to |B| exactly.
    [extension] — the reference re-runs jobs from scratch.
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from another_map_reduce_spark.artifacts import (
        sweep_stale_pid_siblings,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cut = ev.agg(
        F.date_trunc(
            "day", F.max("ts") - F.expr("INTERVAL 5 DAYS")
        ).alias("c")
    ).collect()[0][0]
    # pid-keyed fixed layout, reset at entry: each rerun gets the
    # FRESH two-run lifecycle the row exists to prove, at most one
    # layout per live process survives, and dead siblings are swept
    # (the residue contract of the dpp/bucketed/relay layouts).
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    prefix = f"amrs_ckpt_restart_{tag}"
    sweep_stale_pid_siblings(prefix)
    from another_map_reduce_spark.artifacts import register_pid_layout

    root = register_pid_layout(os.path.join(
        tempfile.gettempdir(), f"{prefix}_{os.getpid()}"
    ))
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    sink = os.path.join(root, "sink")
    ckpt = os.path.join(root, "ckpt")
    lit_cut = F.lit(cut).cast("timestamp")
    ev.where(F.col("ts") < lit_cut).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def _run() -> None:
        raw = spark.readStream.schema(schema).parquet(src).withWatermark(
            "ts", "30 minutes"
        )
        windowed = (
            raw.groupBy(
                F.window("ts", "1 hour").alias("w"), F.col("event_type")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("value").cast("decimal(38,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("hour"), "event_type", "n", "sum_value"
            )
        )
        drain(
            spark,
            windowed.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append"),
            width=_DRAIN_WIDTH,
        )

    _run()  # run 1: slice A only
    ev.where(F.col("ts") >= lit_cut).write.mode("append").parquet(src)
    _run()  # run 2: a NEW query recovers from the checkpoint

    return (
        spark.read.parquet(sink)
        .orderBy("hour", "event_type")
        .select("hour", "event_type", "n", "sum_value")
    )


@register(
    "stream_join_full_outer",
    oracle="""
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'view')
  ) - INTERVAL 2 HOUR AS w
),
pv AS (
  SELECT p.event_id, p.ts, COUNT(v.event_id) AS n
  FROM events p
  LEFT JOIN events v
    ON v.user_id = p.user_id
   AND v.event_type = 'view'
   AND v.ts >= p.ts - INTERVAL 1 HOUR
   AND v.ts <  p.ts
  WHERE p.event_type = 'purchase'
  GROUP BY p.event_id, p.ts
),
vp AS (
  SELECT v.event_id, v.ts, COUNT(p.event_id) AS n
  FROM events v
  LEFT JOIN events p
    ON p.user_id = v.user_id
   AND p.event_type = 'purchase'
   AND v.ts >= p.ts - INTERVAL 1 HOUR
   AND v.ts <  p.ts
  WHERE v.event_type = 'view'
  GROUP BY v.event_id, v.ts
)
SELECT * FROM (
  SELECT 'purchase' AS kind, event_id, CAST(n AS BIGINT) AS n_matched
  FROM pv WHERE n > 0 OR ts <= (SELECT w FROM wm)
  UNION ALL
  SELECT 'view' AS kind, event_id, CAST(n AS BIGINT) AS n_matched
  FROM vp WHERE n > 0 OR ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
)
ORDER BY kind, event_id
""",
)
def stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — the last join species (inner
    `stream_join_purchase_view`, left `stream_join_outer_nulls`, now
    both sides' unmatched rows): every purchase with its prior-hour
    view count AND every view with its next-hour purchase count,
    null-padded rows emitted only when the watermark proves no match
    can arrive.

    The two sides close at DIFFERENT boundaries, both pinned by a
    synthetic boundary probe before the oracle was written
    (tests/test_streaming.py::test_full_outer_join_eviction_boundaries):
    an unmatched purchase emits at p.ts <= wm (a later view would be
    late-filtered), an unmatched view at v.ts + 1h < wm STRICTLY (a
    purchase at exactly wm is still admissible) — the `<=` / `<`
    asymmetry is forced by the join condition's half-open window
    (v.ts < p.ts <= v.ts + 1h), not a Spark quirk.  The oracle states
    both horizons directly over the batch table.  [extension] — at
    100 TB this is the standard two-sided event-matching shape
    (impressions↔conversions), state linear in the open window per
    side, one shuffle per side on user_id.
    """
    from another_map_reduce_spark.streaming.joins import (
        purchases_with_view_full,
    )

    raw = _events_readstream(spark, sf_dir)
    purchases = raw.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = raw.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    qname = _fresh_sink_name("stream_join_full")
    drain(
        spark,
        purchases_with_view_full(purchases, views)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    out = spark.table(qname)
    p_side = (
        out.where(F.col("purchase_id").isNotNull())
        .groupBy(F.col("purchase_id").alias("event_id"))
        .agg(F.count("view_id").cast("long").alias("n_matched"))
        .select(F.lit("purchase").alias("kind"), "event_id", "n_matched")
    )
    v_side = (
        out.where(F.col("view_id").isNotNull())
        .groupBy(F.col("view_id").alias("event_id"))
        .agg(F.count("purchase_id").cast("long").alias("n_matched"))
        .select(F.lit("view").alias("kind"), "event_id", "n_matched")
    )
    return p_side.unionByName(v_side).orderBy("kind", "event_id")


@register(
    "stream_session_windows",
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_no
  FROM flagged
), sess AS (
  SELECT user_id, MIN(ts) AS sess_start, MAX(ts) AS sess_last,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM numbered
  GROUP BY user_id, sess_no
)
SELECT user_id, sess_start, sess_last, n_events
FROM sess
WHERE sess_last + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
ORDER BY user_id, sess_start
""",
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows on the incremental streaming path — the third
    and last window species (tumbling ``stream_events_hourly_append``,
    sliding ``stream_sliding_counts``, now gap-merged sessions), via
    ``streaming/windows.py::session_agg`` (``F.session_window``,
    30-minute gap) in APPEND mode with a 30-minute watermark, drained
    with ``Trigger.AvailableNow``.

    Session state is the hardest of the three at scale: windows are
    per-key DYNAMIC (no slide-aligned bucketing to shard by), and a
    new event can MERGE two open sessions, so the store keys sessions
    by (user, start) and the commit path rewrites merged spans — still
    one shuffle on the grouping key, state linear in OPEN sessions
    only.  A closed session is emitted once the watermark passes its
    gap horizon: end = last event + gap, emitted iff end ≤ max(ts) −
    30 min — the same ``<=`` comparator the tumbling row pins with a
    boundary-exact test.  The oracle is the PROVEN gaps-and-islands
    SQL of batch twin ``session_windows_batch`` (new session iff gap
    ≥ 30 min) plus that eviction cutoff; ``sess_last = end − gap``
    maps Spark's window span back to observed event time.  [extension].
    """
    from another_map_reduce_spark.streaming.windows import session_agg

    raw = _events_readstream(spark, sf_dir)
    sessions = session_agg(
        raw, gap="30 minutes", watermark="30 minutes", ts_col="ts"
    )
    qname = _fresh_sink_name("stream_sessions")
    drain(
        spark,
        sessions.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append"),
        width=_DRAIN_WIDTH,
    )
    return (
        spark.table(qname)
        .select(
            "user_id",
            "sess_start",
            (F.col("sess_end") - F.expr("INTERVAL 30 minutes")).alias(
                "sess_last"
            ),
            "n_events",
        )
        .orderBy("user_id", "sess_start")
    )


# transformWithStateInPandas session-close constants, shared with the
# oracle.  Gap 6 h, watermark delay 30 min, relay cutoffs = the
# late-data relay's (interior to the events fixture's one-month span).
_TWS_C1 = "2024-01-12"
_TWS_C2 = "2024-01-22"
_TWS_GAP_MS = 6 * 3600 * 1000
_TWS_DELAY_MS = 30 * 60 * 1000

# The oracle replays the micro-batch schedule exactly, using the TWS
# event-time timer semantics pinned empirically (tests/test_streaming.py
# boundary tests): per batch, input rows are processed FIRST (each
# user's one pending timer slides to last_ts + gap), THEN timers with
# expiry <= the batch's eviction watermark fire (inclusive comparator);
# the eviction watermark in force during batch k is max(ts through
# batch k-1) - delay; and AvailableNow runs one final no-data flush
# batch whose watermark covers the last file.  With a ts-monotone
# 3-way relay there are exactly three firing opportunities (batch 2,
# batch 3, flush), so per-user state reduces to the per-slice maxima
# m0/m1/m2 and the three global watermarks w1/w2/wf.  Timer values are
# milliseconds (both engines double-truncate ns→µs→ms identically).
_TWS_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         epoch_ms(MAX(CASE WHEN ts < TIMESTAMP '{_TWS_C1}' THEN ts END)) AS m0,
         epoch_ms(MAX(CASE WHEN ts >= TIMESTAMP '{_TWS_C1}'
                           AND ts < TIMESTAMP '{_TWS_C2}' THEN ts END)) AS m1,
         epoch_ms(MAX(CASE WHEN ts >= TIMESTAMP '{_TWS_C2}' THEN ts END)) AS m2
  FROM events GROUP BY user_id
), wm AS (
  SELECT epoch_ms(MAX(CASE WHEN ts < TIMESTAMP '{_TWS_C1}' THEN ts END))
             - {_TWS_DELAY_MS} AS w1,
         epoch_ms(MAX(CASE WHEN ts < TIMESTAMP '{_TWS_C2}' THEN ts END))
             - {_TWS_DELAY_MS} AS w2,
         epoch_ms(MAX(ts)) - {_TWS_DELAY_MS} AS wf
  FROM events
), s2 AS (
  -- batch 2: b1 input slides (m1 > m0 by slice monotonicity), then
  -- the timer fires iff last2 + gap <= w1; NULL-safe via COALESCE
  SELECT user_id, m2, w2, wf,
         COALESCE(m1, m0) AS last2,
         COALESCE(COALESCE(m1, m0) + {_TWS_GAP_MS} <= w1, FALSE) AS fire2
  FROM per_user, wm
), s3 AS (
  -- batch 3: fire2 cleared the state; b2 input re-opens or slides
  SELECT user_id, wf, last2, fire2,
         COALESCE(m2, CASE WHEN fire2 THEN NULL ELSE last2 END) AS last3,
         COALESCE(
           COALESCE(m2, CASE WHEN fire2 THEN NULL ELSE last2 END)
               + {_TWS_GAP_MS} <= w2, FALSE) AS fire3
  FROM s2
), emits AS (
  SELECT user_id, last2 + {_TWS_GAP_MS} AS session_end FROM s3 WHERE fire2
  UNION ALL
  SELECT user_id, last3 + {_TWS_GAP_MS} FROM s3 WHERE fire3
  UNION ALL
  -- final AvailableNow flush batch: watermark covers the last file
  SELECT user_id, last3 + {_TWS_GAP_MS} FROM s3
  WHERE NOT fire3 AND last3 + {_TWS_GAP_MS} <= wf
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_end AS BIGINT) AS session_end
FROM emits ORDER BY user_id, session_end
"""


@register("stream_session_close_tws", oracle=_TWS_SQL)
def stream_session_close_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-close detection via transformWithStateInPandas EVENT-TIME
    TIMERS — Spark 4's flagship stateful API on the driver-visible
    path (the funnel row covers the classic applyInPandasWithState;
    this covers the successor's named-state + timer protocol,
    including registerTimer/listTimers/deleteTimer and the
    handleExpiredTimer dispatch, through vendor/protoshim where the
    real protobuf runtime is absent).

    A ts-monotone 3-file relay drives the events table through the
    per-user state machine in streaming/stateful_v2.SessionCloseProcessor:
    value state holds the user's last event time, one pending timer
    slides to last + 6 h each batch, and when the watermark passes the
    timer the session close (user_id, session_end = last + gap) is
    emitted and the state cleared.  Runs on the RocksDB state store
    provider (required by the API; also the production answer to state
    scale — off-heap, changelog-checkpointed).

    The oracle replays the exact micro-batch schedule in SQL (see
    _TWS_SQL); the hash match pins the input-before-timers order, the
    inclusive fire comparator, the final AvailableNow flush batch, and
    the ms flooring of both timers and watermarks.  [extension]
    """
    import hashlib
    import os
    import shutil
    import tempfile

    from another_map_reduce_spark.streaming.stateful_v2 import (
        ROCKSDB_PROVIDER,
        session_close_v2,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    c1 = F.lit(_TWS_C1).cast("timestamp")
    c2 = F.lit(_TWS_C2).cast("timestamp")
    from another_map_reduce_spark.artifacts import sweep_stale_pid_siblings

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    sweep_stale_pid_siblings(f"amrs_twsclose_{tag}")
    from another_map_reduce_spark.artifacts import register_pid_layout

    root = register_pid_layout(os.path.join(
        tempfile.gettempdir(), f"amrs_twsclose_{tag}_{os.getpid()}"
    ))
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)
    _write_relay(
        root,
        src,
        ev.select(
            "user_id",
            "ts",
            F.when(F.col("ts") < c1, 0)
            .when(F.col("ts") < c2, 1)
            .otherwise(2)
            .alias("_rb"),
        ),
        3,
        "session-close",
    )
    # The watermark replay assumes every relay batch is non-empty;
    # fail loudly on a degenerate fixture.  Row counts come from the
    # just-written files' parquet FOOTERS — metadata reads, no extra
    # corpus scan.
    import pyarrow.parquet as _pq

    sizes = {
        f"b{i}": _pq.ParquetFile(os.path.join(src, f"b{i}.parquet")).metadata.num_rows
        for i in range(3)
    }
    if not all(v > 0 for v in sizes.values()):
        raise ValueError(
            f"session-close relay fixture must straddle the {_TWS_C1} "
            f"and {_TWS_C2} cutoffs; slice sizes were {sizes}"
        )

    schema = spark.read.parquet(src).schema
    qname = _fresh_sink_name("stream_tws_close")
    # Width 8 (r14 — VERDICT r13 #3, reversing the r12 narrowing to
    # 4): unlike the JVM-stateful drains, TWS runs a PYTHON state
    # machine serially over each partition's keys every batch, so
    # the drain is Python-compute-bound, not store-constant-bound —
    # width parallelises it.  Interleaved A/B at sf0.1 (fresh JVM,
    # medians-of-3, 3 rounds + 2 from the 3-row matrix): width 4 =
    # [46.3, 28.1, 23.0, 17.3, 18.5], width 8 = [10.2, 18.9, 10.2,
    # 15.5, 10.2], width 16 = [17.9, 15.0, 8.3] — width 4 is the
    # worst in every paired round; 8 ≈ 16 with fewer RocksDB opens.
    # At scale the knob sizes to keys-per-partition × per-key
    # Python cost, not downward.
    stream = session_close_v2(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        gap_minutes=_TWS_GAP_MS // 60_000,
        watermark=f"{_TWS_DELAY_MS // 60_000} minutes",
    )
    drain(
        spark,
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(root, "ckpt")),
        width=8,
        provider=ROCKSDB_PROVIDER,
    )
    return (
        spark.table(qname)
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session_end").cast("long").alias("session_end"),
        )
        .orderBy("user_id", "session_end")
    )


# Registry-order repair: if THIS module was the user's first import, the
# circular import through queries._load() saw it partially initialized
# and ordered the registry without its entries (they append afterwards).
# Re-running the idempotent reorder at module completion makes the
# driver-window ordering independent of which module is imported first.
from another_map_reduce_spark.queries import _reorder as _amrs_reorder  # noqa: E402

_amrs_reorder()


# ---------------------------------------------------------------------------
# Steady-state soak: unbounded rate source, flat state under eviction
# ---------------------------------------------------------------------------

_SOAK_START_S = 1_704_067_200  # 2024-01-01T00:00:00Z
_SOAK_ROWS_PER_BATCH = 40
_SOAK_ADVANCE_S = 10  # event time per micro-batch == one window
_SOAK_WINDOWS = 12  # deterministic prefix the query returns
_SOAK_SQL = f"""
WITH vals AS (
  SELECT unnest(generate_series(
    0, {_SOAK_ROWS_PER_BATCH * _SOAK_WINDOWS} - 1)) AS v
)
SELECT CAST({_SOAK_START_S}
            + (v // {_SOAK_ROWS_PER_BATCH}) * {_SOAK_ADVANCE_S}
       AS BIGINT) AS win_start_s,
       CAST(v % 4 AS BIGINT) AS key,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(v) AS BIGINT) AS sum_v
FROM vals
GROUP BY win_start_s, key
ORDER BY win_start_s, key
"""


def _run_rate_soak(
    spark: SparkSession, min_batches: int, timeout_s: float = 180.0
):
    """Drive the deterministic rate-micro-batch windowed aggregation
    for at least ``min_batches`` micro-batches under a real
    processing-time trigger (NOT AvailableNow — this is the
    steady-state cadence every other streaming row's finite drain
    skips), then stop.  Returns (memory-sink view name, sorted
    (batchId, state numRowsTotal) samples collected while polling)."""
    import time

    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _SOAK_ROWS_PER_BATCH)
        .option("numPartitions", 2)
        .option("startTimestamp", _SOAK_START_S * 1000)
        .option("advanceMillisPerBatch", _SOAK_ADVANCE_S * 1000)
        .load()
    )
    agg = (
        src.withWatermark("timestamp", "30 seconds")
        .groupBy(
            F.window("timestamp", f"{_SOAK_ADVANCE_S} seconds"),
            (F.col("value") % 4).alias("key"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_v"),
        )
    )
    qname = _fresh_sink_name("stream_rate_soak")
    # state samples are collected DURING the poll loop (recentProgress
    # retains only the last ~100 updates — a multi-hundred-batch soak
    # would lose its early plateau, exactly the half the flatness
    # assertion compares against)
    samples: dict[int, int] = {}
    q = start_stateful(
        spark,
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(processingTime="0 seconds"),
        width=4,
    )
    try:
        deadline = time.monotonic() + timeout_s
        while True:
            lp = q.lastProgress
            if lp and lp.get("stateOperators"):
                samples[lp["batchId"]] = lp["stateOperators"][0]["numRowsTotal"]
            if lp and lp["batchId"] >= min_batches:
                break
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"rate soak did not reach batch {min_batches} "
                    f"in {timeout_s}s (at "
                    f"{lp['batchId'] if lp else None})"
                )
            time.sleep(0.05)
    finally:
        q.stop()
    return qname, sorted(samples.items())


@register("stream_rate_soak_windows", oracle=_SOAK_SQL)
def stream_rate_soak_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEADY-STATE STREAMING SOAK — the cadence gap every other
    stream_* row shares: they drain finite file relays under
    ``Trigger.AvailableNow``, so state-store behavior under a
    LONG-RUNNING micro-batch schedule (hundreds of batches, watermark
    continuously advancing, eviction keeping state FLAT) is never
    observed.  This row runs Spark's deterministic ``rate-micro-batch``
    source (batch b = rows [b·R, (b+1)·R) all stamped start + b·Δ —
    the determinism is the whole reason this is oracle-checkable)
    through a watermarked tumbling-window aggregation under a real
    ``processingTime`` trigger until the deterministic prefix's
    windows have all closed, then returns those CLOSED windows.

    The oracle replays the source contract in SQL (generate_series →
    batch → window arithmetic), so the hash proves emitted windows
    carry exactly the rows the source contract says they must —
    independent of how many extra batches ran before stop().

    The SOAK assertion itself — state rows FLAT across hundreds of
    batches once eviction kicks in (open windows × keys, a constant),
    memory not monotone — lives in tests/test_streaming.py's
    test_rate_soak_state_stays_flat, which fails if
    ``numRowsTotal`` grows monotonically.  At 100 TB this is the
    property that separates a pipeline that runs for a year from one
    that OOMs in week two; ``sf_dir`` is unused — the source is the
    engine's own generator.  [extension].
    """
    del sf_dir  # the rate source IS the input — no table involved
    # window w closes once watermark (= max event − 30 s) passes its
    # end: batch b's max event is start + 10b, so w needs b ≥ w + 4;
    # +2 margin over the returned prefix
    qname, _ = _run_rate_soak(spark, min_batches=_SOAK_WINDOWS + 6)
    cut = _SOAK_START_S + _SOAK_WINDOWS * _SOAK_ADVANCE_S
    return (
        spark.table(qname)
        .select(
            F.col("window.start").cast("long").alias("win_start_s"),
            F.col("key").cast("long").alias("key"),
            F.col("n").cast("long").alias("n"),
            F.col("sum_v").cast("long").alias("sum_v"),
        )
        .where(F.col("win_start_s") < cut)
        .orderBy("win_start_s", "key")
    )
