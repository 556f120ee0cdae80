"""SparkSession factory and runtime-conf pinning.

The driver may hand us an arbitrary SparkSession, so every query function pins
the runtime confs it depends on via :func:`tune` (all of these are
runtime-settable SQL confs). Our own entry points build sessions with
:func:`get_spark`.

Scale notes (designed for a multi-executor cluster even though tests run
``cpus=4``): AQE is enabled so shuffle partition counts, broadcast conversion
and skew-join splitting adapt to real data sizes at any scale factor; session
timezone is pinned UTC so event-time semantics are machine-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory holding this package. Executors import the package (UDF
# modules, the worker daemon) from here whatever the caller's working
# directory or PYTHONPATH.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable confs every query depends on. Pinned defensively because
# the driver owns the session our queries run in.
RUNTIME_CONF: dict[str, str] = {
    # Deterministic event-time semantics regardless of machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: coalesce small shuffle partitions, convert to
    # broadcast joins at runtime, split skewed partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver's events.parquet stores TIMESTAMP(NANOS) which the vectorized
    # reader rejects; read as long and convert (tables.load_events).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for any pandas interchange / pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Pin runtime confs on an externally-provided session (idempotent)."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # immutable in some deployment; keep going
            pass
    return spark


def get_spark(
    app_name: str = "data-engineering-assignment-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a tuned local session (tests / bench). Cluster deployments pass
    their own master/conf and only need :func:`tune`."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "64"))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # no console progress bar: its \r-spam lands in stderr, and consumers
        # that capture combined output (the bench driver keeps a bounded
        # tail) lose real content to it
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers skip the per-task re-read of pyspark.zip unless it
        # changed (worker_daemon). Both confs are static: the driver's own
        # session keeps the stock daemon.
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
