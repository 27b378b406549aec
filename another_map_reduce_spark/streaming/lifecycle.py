"""Starting, draining and barriering streaming queries.

Every streaming caller in this package goes through three steps:

* **start** — ``start_stateful`` fixes the per-query engine policy in
  one locked start window: the stateful shuffle width and, when asked,
  the state-store provider.  For a batch job
  ``spark.sql.shuffle.partitions`` is only an upper bound that AQE
  coalesces down from.  A stateful streaming query gets no such
  coalescing: the width is the number of state stores it opens and
  commits in every micro-batch, Spark fixes it when the query starts,
  and it is written into the checkpoint.  So the session's batch
  width (32 by default, ``session.py``) is the wrong constant to
  inherit.
* **drain** — ``drain`` runs a finite stream to its end: trigger
  ``availableNow``, start, wait at most ``DRAIN_TIMEOUT_S``, stop.
* **barrier** — ``process_all_available`` waits, under the same bound,
  until a still-running query has committed everything produced so
  far.  Only a stream that keeps running between phases needs it.

A finite stream is never waited on without a bound: a wedged source
raises ``TimeoutError`` and its query is stopped.  The stop is bounded
too, by the session's ``spark.sql.streaming.stopTimeout``
(``session.STREAM_STOP_TIMEOUT_MS``).
"""

from __future__ import annotations

import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from another_map_reduce_spark.session import shuffle_width

# The slowest registry drain, stream_session_close_tws at sf1, took
# 232 s; 600 s leaves headroom for a host that runs 20% slow.
DRAIN_TIMEOUT_S = 600.0

_WIDTH_KEY = "spark.sql.shuffle.partitions"
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_START_LOCK = threading.Lock()


def start_stateful(
    spark: SparkSession,
    writer: DataStreamWriter,
    width: int | None = None,
    provider: str | None = None,
) -> StreamingQuery:
    """``writer.start()`` with the stateful shuffle width fixed to
    ``width`` and, if given, the state-store provider class fixed to
    ``provider``, for that query only.  The default width is one state
    store per core, never wider than the session's batch width; the
    default provider is the session's.

    ``spark`` must be the session the streamed DataFrame belongs to.
    Spark clones the session conf inside ``start()``, so the confs are
    set on the session, the query is started, and the old values are
    restored before this returns: the query keeps them for its whole
    life while the session reads its own again.  A module lock
    serialises these start windows, so concurrent starts from several
    threads each get their own confs.  A batch job planned on the same
    session by another thread during that window can still see
    ``width``; its result does not depend on it.

    Both are written into the checkpoint on the first start.  A
    restart from an existing checkpoint keeps the checkpoint's values
    whatever is passed here.

    Why width matters: every stateful operator instantiates one state
    store per shuffle partition per micro-batch (a stream-stream join
    holds four), so at a batch width of 32 that fixed cost dominates a
    finite drain.  Measured at sf0.1 going 32 → 8: the stream-stream
    join drops 11.4 s → 2.7 s and windowed-aggregate drains run ~2×
    faster.  Results are partition-count independent.  At scale the
    width is sized to state volume per partition; the point is that
    the stateful width is a deliberate choice, not an inherited batch
    constant.  Registry rows pass the widths they were measured at.
    """
    if width is None:
        width = min(shuffle_width(spark), spark.sparkContext.defaultParallelism)
    confs = {_WIDTH_KEY: str(width)}
    if provider is not None:
        confs[_PROVIDER_KEY] = provider
    with _START_LOCK:
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    width: int | None = None,
    provider: str | None = None,
) -> StreamingQuery:
    """Run a finite stream to its end and return the stopped query.

    The writer gets ``trigger(availableNow=True)`` and is started
    through ``start_stateful`` (``width`` and ``provider`` as there).
    The wait is bounded by ``DRAIN_TIMEOUT_S``: past it the query is
    stopped and ``TimeoutError`` raised.  The query is stopped on
    every path, so none outlives the call; its ``recentProgress``
    stays readable.

    The stop is bounded by the session's
    ``spark.sql.streaming.stopTimeout``: a batch still running past it
    raises ``TimeoutError`` (the query is inactive by then, but the
    batch's own thread may still be finishing).  ``get_spark`` sets the
    bound; a session not built by ``get_spark`` keeps Spark's default
    of 0, an unbounded stop.
    """
    q = start_stateful(
        spark, writer.trigger(availableNow=True), width=width, provider=provider
    )
    try:
        finished = q.awaitTermination(DRAIN_TIMEOUT_S)
    finally:
        _stop(q)
    if not finished:
        raise TimeoutError(
            f"streaming drain did not finish within {DRAIN_TIMEOUT_S}s "
            "(query stopped)"
        )
    return q


def _stop(q: StreamingQuery) -> None:
    """``q.stop()``, with a stop that overran the session's stop bound
    raised as ``TimeoutError``."""
    try:
        q.stop()
    except Py4JJavaError as e:
        name = e.java_exception.getClass().getName()
        if name != "java.util.concurrent.TimeoutException":
            raise
        raise TimeoutError(
            "streaming query did not stop within spark.sql.streaming.stopTimeout"
        ) from e


def process_all_available(q: StreamingQuery) -> None:
    """``q.processAllAvailable()`` under a fail-loud watchdog.

    Bare ``processAllAvailable`` blocks forever if the source or query
    wedges without failing.  A daemon watchdog stops the query and
    raises ``TimeoutError`` after ``DRAIN_TIMEOUT_S``.  Unlike polling
    ``recentProgress`` (a bounded ring), it cannot miss a batch.
    """
    timeout_s = DRAIN_TIMEOUT_S
    done = threading.Event()
    fired = threading.Event()

    def _watch() -> None:
        if not done.wait(timeout_s):
            fired.set()
            try:
                q.stop()  # unblocks processAllAvailable
            except Exception:
                pass

    threading.Thread(target=_watch, daemon=True).start()
    try:
        q.processAllAvailable()
    finally:
        done.set()
    if fired.is_set():
        raise TimeoutError(
            f"streaming drain did not go idle within {timeout_s}s "
            "(watchdog stopped the query)"
        )
