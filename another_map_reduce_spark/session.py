"""SparkSession factory.

The reference's only execution knobs are the worker count (processes
started by hand) and ``-n num_buckets`` (`/root/reference/src/main.rs:21-24`),
which fixes the number of reduce partitions.  Spark's equivalent knobs are
set here once, tuned for scale-out:

* AQE on — runtime re-planning (partition coalescing, skew-join splitting)
  replaces the reference's static task list (`src/coordinator.rs:216-230`).
* Arrow on — every Python-side operator in this package moves data in
  Arrow batches, never row-at-a-time.
* ``spark.sql.shuffle.partitions`` ≙ the reference's ``num_buckets``.
  For batch jobs, with AQE enabled, this is an upper bound that AQE
  coalesces down from, so a large value is safe on a big cluster and
  cheap locally.  That holds for batch only: a stateful streaming query
  opens one state store per shuffle partition in every micro-batch and
  is never coalesced, so streaming queries start through
  ``streaming.lifecycle.start_stateful``, which fixes their own width.
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

# How long ``StreamingQuery.stop()`` waits for a micro-batch that ignores
# the stop's interrupt (driver-side Python, e.g. a ``foreachBatch``
# callback) before it raises; Spark's default, 0, waits forever.  Spark
# reads it from the session that started the query, at stop time, so it
# is a session conf, not a per-query one.  It must outlast any healthy
# micro-batch, which takes no longer than its whole drain: the slowest
# registry drain, stream_session_close_tws at sf1, took 232 s.
STREAM_STOP_TIMEOUT_MS = 300_000


def get_spark(
    app_name: str = "another-map-reduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``shuffle_partitions`` plays the role of the reference's
    ``-n num_buckets`` (`/root/reference/src/main.rs:21-24`): the number of
    reduce-side partitions.  Unlike the reference, AQE may coalesce a
    batch job below it at runtime when partitions are small.  Stateful
    streaming queries do not inherit it: they start through
    ``start_stateful`` (``streaming/lifecycle.py``), which fixes their
    width at start.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    _export_protoshim_pythonpath()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic cross-engine comparisons (DuckDB oracle) need a
        # fixed session timezone for timestamp arithmetic.
        .config("spark.sql.session.timeZone", "UTC")
        # ≙ reference num_buckets; upper bound under AQE.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Runtime re-planning: coalesce small shuffle partitions, split
        # skewed ones, demote/promote join strategies.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # All Python-side operators are Arrow-batched (pandas UDFs,
        # applyInPandas/mapInPandas, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Small dims (region/nation/supplier at any SF) should broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split sizing: at 100 TB this bounds per-task input so map
        # tasks stay memory-safe; locally it's irrelevant but harmless.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The synthetic events table stores TIMESTAMP(NANOS) parquet,
        # which vanilla Spark rejects; read as long and convert in the
        # loader (sources/tables.py) — DuckDB likewise truncates to µs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.streaming.stopTimeout", str(STREAM_STOP_TIMEOUT_MS))
        # Quieter local runs.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_worker_imports(spark)
    return spark


def shuffle_width(spark: SparkSession, default: int = 200) -> int:
    """Current ``spark.sql.shuffle.partitions`` as an int, or ``default``.

    Some deployments leave the conf unset or set it to a non-numeric
    value (e.g. "auto" under externally-managed AQE); a bare
    ``int(spark.conf.get(...))`` throws there.  Callers sizing a
    repartition width should degrade to a sane constant instead.
    """
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return default


def _export_protoshim_pythonpath() -> None:
    """Expose the vendored protobuf shim to JVM-SPAWNED python workers.

    transformWithStateInPandas launches a driver-side state worker via
    StreamingPythonRunner, which builds the worker's sys.path from the
    JVM's PYTHONPATH — NOT from addPyFile includes (the same gap that
    forces by-value pickling for the streaming DataSource runner).  So
    when ``google.protobuf`` is missing, the shim directory must be on
    PYTHONPATH *before* the JVM child process launches; exporting here
    (called ahead of ``builder.getOrCreate``) covers every worker the
    JVM spawns.  No-op when the real protobuf runtime exists.
    """
    try:
        import google.protobuf  # noqa: F401

        return
    except ImportError:
        pass
    shim = str(pathlib.Path(__file__).resolve().parent / "vendor" / "protoshim")
    current = os.environ.get("PYTHONPATH", "")
    if shim not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            shim + (os.pathsep + current if current else "")
        )


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    Workers do NOT inherit the driver's ``sys.path`` — a session whose
    driver imported us from a non-installed location (e.g. the test
    driver running in another cwd) can plan Python-closure stages whose
    pickled functions reference this package by module and then fail
    with ModuleNotFoundError on the worker.  A zip on the Spark file
    server fixes that for every execution path (mapInPandas, RDD).
    Idempotent per SparkContext; safe to call from any loader.
    """
    sc = spark.sparkContext
    if getattr(sc, "_amrs_pyfiles_added", False):
        return
    pkg_dir = pathlib.Path(__file__).resolve().parent
    # Build in a unique temp file and publish with an atomic rename:
    # two concurrent drivers (pytest + bench.py) can otherwise rewrite
    # a shared zip while another context's executors fetch it, shipping
    # a truncated archive.  The published name is content-hashed, so
    # concurrent writers of identical content converge on one path and
    # differing package versions never collide.
    tmp = tempfile.NamedTemporaryFile(
        dir=tempfile.gettempdir(), suffix=".zip", delete=False
    )
    try:
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, f"another_map_reduce_spark/{p.relative_to(pkg_dir)}")
        tmp.close()
        digest = hashlib.sha256(pathlib.Path(tmp.name).read_bytes()).hexdigest()[:16]
        zip_path = (
            pathlib.Path(tempfile.gettempdir())
            / f"another_map_reduce_spark_pkg_{digest}.zip"
        )
        os.replace(tmp.name, zip_path)
    except BaseException:
        pathlib.Path(tmp.name).unlink(missing_ok=True)
        raise
    sc.addPyFile(str(zip_path))
    sc._amrs_pyfiles_added = True
