"""Starting and draining streaming queries.

Two steps every streaming caller in this package shares:

* ``start_stateful`` fixes a query's stateful shuffle width at start.
  For a batch job ``spark.sql.shuffle.partitions`` is only an upper
  bound that AQE coalesces down from.  A stateful streaming query gets
  no such coalescing: the width is the number of state stores it opens
  and commits in every micro-batch, Spark fixes it when the query
  starts, and it is written into the checkpoint.  So the session's
  batch width (32 by default, ``session.py``) is the wrong constant to
  inherit.
* ``process_all_available`` drains a query under a fail-loud watchdog.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from another_map_reduce_spark.session import shuffle_width

_WIDTH_KEY = "spark.sql.shuffle.partitions"
_WIDTH_LOCK = threading.Lock()


def start_stateful(
    spark: SparkSession, writer: DataStreamWriter, width: int | None = None
) -> StreamingQuery:
    """``writer.start()`` with the stateful shuffle width fixed to
    ``width`` for that query only.  The default is one state store per
    core, never wider than the session's batch width.

    ``spark`` must be the session the streamed DataFrame belongs to.
    Spark clones the session conf inside ``start()``, so the width is
    set on the session, the query is started, and the old value is
    restored before this returns: the query keeps ``width`` for its
    whole life while the session reads its own width again.  A module
    lock serialises these start windows, so concurrent starts from
    several threads each get their own width.  A batch job planned on
    the same session by another thread during that window can still
    see ``width``; its result does not depend on it.

    The width is fixed into the checkpoint on the first start.  A
    restart from an existing checkpoint keeps the checkpoint's width
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
    with _WIDTH_LOCK:
        prev = spark.conf.get(_WIDTH_KEY)
        spark.conf.set(_WIDTH_KEY, str(width))
        try:
            return writer.start()
        finally:
            spark.conf.set(_WIDTH_KEY, prev)


def process_all_available(q: StreamingQuery, timeout_s: float = 300.0) -> None:
    """``q.processAllAvailable()`` under a fail-loud watchdog.

    Bare ``processAllAvailable`` blocks forever if the source or query
    wedges without failing.  A daemon watchdog stops the query and
    raises ``TimeoutError`` after ``timeout_s``.  Unlike polling
    ``recentProgress`` (a bounded ring), it cannot miss a batch.
    """
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
