"""Arbitrary stateful streaming via transformWithStateInPandas —
Spark 4's successor to applyInPandasWithState (stateful.py keeps the
classic API; both express the reference's "pluggable per-key logic"
need in a streaming world).

What the new API adds over the old one: named state variables managed
per-key by the handle (value/list/map state instead of one opaque
tuple), event-time and processing-time timers with a dedicated
callback, initial-state bootstrap, and TTL — and it REQUIRES the
RocksDB state store provider, which is also the production answer to
JVM-heap state pressure at scale (state lives off-heap/on-disk with
changelog checkpointing).

The demo operator is the SAME per-user funnel stage machine as
stateful.py's ``funnel_stages``; tests assert the two APIs and the
batch ``funnel_conversion`` query agree — three implementations, one
fixed point.

Environment dependency, CLOSED in round 7: the new API's Python↔JVM
state server speaks PROTOBUF (``pyspark/sql/streaming/proto/
StateMessage_pb2``) and this container has no ``google.protobuf``
runtime — but pyspark ships the GENERATED module, and the proto3 wire
format is a public, stable spec, so the gap is only the runtime that
executes generated code.  ``vendor/protoshim`` is a minimal vendored
runtime (own wire codec, descriptor-blob parser, dynamic message
classes — varint + length-delimited fields only, exactly the state
protocol's footprint); ``ensure_protobuf`` activates it on the driver
and ships it to Python workers when the real library is absent, and
is a no-op where protobuf exists.  The parity test now RUNS here.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import sys
import tempfile
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def ensure_protobuf(spark: SparkSession | None = None) -> str:
    """Make ``google.protobuf`` importable — driver AND Python workers.

    Returns "system" when the real runtime exists (shim untouched) or
    "shim" after activating ``vendor/protoshim``: driver-side via
    sys.path, EXECUTOR-worker-side via an addPyFile zip rooted at
    ``google/`` (workers do not inherit the driver's sys.path).

    The addPyFile zip does NOT reach the JVM-spawned driver-side TWS
    state worker — that process's sys.path comes from the PYTHONPATH
    the JVM inherited (see session._export_protoshim_pythonpath, which
    get_spark applies before JVM launch).  A session built directly
    via SparkSession.builder in a no-protobuf environment therefore
    needs PYTHONPATH to include the shim before the JVM starts; warn
    when that is missing rather than failing later in the state server.
    """
    try:
        import google.protobuf  # noqa: F401

        return "system"
    except ImportError:
        pass
    shim_dir = pathlib.Path(__file__).resolve().parent.parent / "vendor" / "protoshim"
    if str(shim_dir) not in sys.path:
        sys.path.insert(0, str(shim_dir))
    import google.protobuf  # noqa: F401

    if spark is not None:
        sc = spark.sparkContext
        if not getattr(sc, "_amrs_protoshim_added", False):
            tmp = tempfile.NamedTemporaryFile(
                dir=tempfile.gettempdir(), suffix=".zip", delete=False
            )
            try:
                with zipfile.ZipFile(tmp, "w") as z:
                    for p in sorted(shim_dir.rglob("*.py")):
                        z.write(p, str(p.relative_to(shim_dir)))
                tmp.close()
                digest = hashlib.sha256(
                    pathlib.Path(tmp.name).read_bytes()
                ).hexdigest()[:16]
                zip_path = (
                    pathlib.Path(tempfile.gettempdir())
                    / f"amrs_protoshim_{digest}.zip"
                )
                os.replace(tmp.name, zip_path)
            except BaseException:
                pathlib.Path(tmp.name).unlink(missing_ok=True)
                raise
            sc.addPyFile(str(zip_path))
            sc._amrs_protoshim_added = True
        if str(shim_dir) not in os.environ.get("PYTHONPATH", ""):
            import warnings

            warnings.warn(
                "protoshim active but PYTHONPATH lacks it: the "
                "JVM-spawned driver-side TWS state worker will not "
                "find google.protobuf.  Build the session via "
                "session.get_spark (which exports PYTHONPATH before "
                "JVM launch) for transformWithStateInPandas.",
                RuntimeWarning,
                stacklevel=2,
            )
    return "shim"


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
    StatefulProcessorHandle,
)

# One transition function, one schema, one sentinel — shared with the
# classic-API twin so the two implementations cannot drift.
from another_map_reduce_spark.streaming.stateful import (
    FUNNEL_OUT_SCHEMA,
    _UNSET,
    fold_funnel,
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def ensure_state_worker_env(spark: SparkSession) -> None:
    """Make the JVM-spawned TWS workers able to import this package
    (and ``google.protobuf`` when only the shim provides it) on a
    session whose JVM launched WITHOUT our PYTHONPATH export — i.e.
    the driver's vanilla session.

    Mechanism (verified empirically on Spark 4.1): the Python worker's
    PYTHONPATH is merged by the JVM's PythonWorkerFactory from three
    sources — Spark's own python dirs, the JVM process env, and the
    ``envVars`` carried INSIDE the serialized Python function, which
    pyspark populates from the live ``sc.environment`` dict.  The last
    one is mutable at runtime, AFTER JVM launch, and reaches both the
    executor workers and the driver-side
    ``transform_with_state_driver_worker`` that StreamingPythonRunner
    spawns.  So injecting here — before the query plan captures the
    function — removes the "must build the session via get_spark"
    restriction the module docstring describes.

    Idempotent; appends rather than replaces any caller-set value.
    """
    pkg_parent = str(pathlib.Path(__file__).resolve().parent.parent.parent)
    shim_dir = pathlib.Path(__file__).resolve().parent.parent / "vendor" / "protoshim"
    wanted = [pkg_parent]
    # Ship the shim unless a REAL protobuf runtime will resolve on the
    # worker.  Merely importing google.protobuf on the driver is NOT
    # that test: after ensure_protobuf the driver imports the shim via
    # its own sys.path, which workers don't inherit — and without the
    # shim on the worker's PYTHONPATH, google.protobuf resolves to a
    # NAMESPACE package assembled from the spark-core JAR's bundled
    # google/protobuf/*.proto resources ("unknown location" ImportError).
    try:
        import google.protobuf as _gp

        real_runtime = bool(_gp.__file__) and not str(
            pathlib.Path(_gp.__file__).resolve()
        ).startswith(str(shim_dir))
    except ImportError:
        real_runtime = False
    if not real_runtime:
        wanted.append(str(shim_dir))
    env = spark.sparkContext.environment
    current = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    for p in wanted:
        if p not in current:
            current.append(p)
    env["PYTHONPATH"] = os.pathsep.join(current)


class FunnelProcessor(StatefulProcessor):
    """Per-user funnel stage machine on named value state.

    Delegates every transition to ``stateful.fold_funnel`` — the one
    shared implementation of the rules (first view, then first later
    click, then first later purchase; strict ``>`` on event time;
    concat-then-sort per (key, batch)) — so this API twin cannot
    drift from the classic one.
    """

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState(
            "funnel", "tv long, tc long, tp long"
        )

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        tv, tc, tp = (
            self._state.get() if self._state.exists() else (_UNSET,) * 3
        )
        tv, tc, tp = fold_funnel(tv, tc, tp, rows)
        self._state.update((tv, tc, tp))
        stage = (
            3 if tp != _UNSET else 2 if tc != _UNSET else 1 if tv != _UNSET else 0
        )
        yield pd.DataFrame({"user_id": [key[0]], "stage_idx": [stage]})

    def close(self) -> None:
        pass


SESSION_CLOSE_SCHEMA = "user_id BIGINT, session_end BIGINT"


class SessionCloseProcessor(StatefulProcessor):
    """Event-time TIMER demo: emit (user, session_end) when a user's
    event stream goes quiet for ``gap_ms`` of EVENT time.

    Exercises the half of the transformWithStateInPandas protocol the
    funnel twin does not: ``registerTimer`` / ``listTimers`` /
    ``deleteTimer`` on input, and the ``handleExpiredTimer`` callback
    when the watermark passes a timer — i.e. the TimerStateCallCommand,
    ListTimers/ExpiryTimerRequest iteration, and timer-expiry dispatch
    wire paths (all through vendor/protoshim in this container).

    Per key: value state holds the last event time; each batch slides
    the one pending timer to ``last_ts + gap_ms`` (delete-then-
    register), and when event time moves past it the expiry callback
    emits the session end and clears the state.
    """

    def __init__(self, gap_ms: int):
        self._gap_ms = gap_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._last = handle.getValueState("last_ts", "ts long")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        mx = None
        for pdf in rows:
            ts = pd.to_datetime(pdf["ts"]).astype("int64") // 1_000_000
            m = int(ts.max())
            mx = m if mx is None else max(mx, m)
        if mx is None:
            return
        prev = self._last.get()[0] if self._last.exists() else None
        if prev is None or mx > prev:
            for t in list(self._handle.listTimers()):
                self._handle.deleteTimer(t)
            self._last.update((mx,))
            self._handle.registerTimer(mx + self._gap_ms)
        return
        yield  # pragma: no cover — makes this a generator

    def handleExpiredTimer(
        self, key, timerValues, expiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        self._last.clear()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_end": [expiredTimerInfo.getExpiryTimeInMs()],
            }
        )

    def close(self) -> None:
        pass


def session_close_v2(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "10 minutes"
) -> DataFrame:
    """Session-close stream via event-time timers (see
    SessionCloseProcessor).  Requires the RocksDB provider, like every
    transformWithStateInPandas query."""
    from pyspark.sql import functions as F

    ensure_protobuf(events.sparkSession)
    ensure_state_worker_env(events.sparkSession)
    return (
        # watermarks accept TIMESTAMP only — normalize NTZ inputs
        events.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionCloseProcessor(gap_minutes * 60_000),
            outputStructType=SESSION_CLOSE_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def funnel_stages_v2(events: DataFrame) -> DataFrame:
    """``funnel_stages`` through transformWithStateInPandas.

    Caller must start the stream with the RocksDB state store provider
    (``lifecycle.drain(..., provider=ROCKSDB_PROVIDER)``) — the new API
    refuses the default HDFS-backed provider.
    """
    ensure_protobuf(events.sparkSession)
    ensure_state_worker_env(events.sparkSession)
    return (
        events.select("user_id", "event_type", "ts")
        .groupBy("user_id")
        .transformWithStateInPandas(
            FunnelProcessor(),
            outputStructType=FUNNEL_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
