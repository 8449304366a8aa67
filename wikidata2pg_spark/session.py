"""Shared SparkSession construction and runtime configuration.

Two entry shapes matter:
  * the driver hands us an already-built SparkSession (t1/t2) — we may only
    set RUNTIME confs on it (``configure_session``);
  * our own tests/bench build the session (``get_session``) — there we also
    set builder-time confs.

Scale posture (SURVEY.md §4): AQE on (runtime re-planning, skew-join
splitting), UTC timestamps, the parquet TIMESTAMP(NANOS) legacy flag
(FIXTURES.md ⚠ — Spark 4.1.2 hard-errors on the events table without it),
and shuffle partitions sized to the scale factor under test (the 200-part
default dominates ms-scale benchmarks; on a real cluster AQE coalesces).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the wikidata2pg_spark package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime-settable SQL confs, safe to apply to a session we did not build.
# Verified this session: nanosAsLong takes effect when set post-construction.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Write timestamps as INT64 TIMESTAMP(MICROS), not legacy INT96: INT96
    # carries NO parquet column statistics, which silently disables min/max
    # file/row-group pruning on every time dimension we lay out for it
    # (q_sink_sorted_layout, q_sink_zorder) — observed: ts stats None on
    # written files until this was set.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # nested-schema pruning matters for the wikidata wide-struct layer (K1-K8)
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Arrow for every Python<->JVM hop (pandas UDFs, toPandas)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Runtime-settable: the driver's t2 session otherwise pays the
    # 200-partition default on every tiny shuffle (VERDICT r1 #6). AQE
    # coalesces upward workloads at real scale; 16 fits sf0.01-0.1.
    "spark.sql.shuffle.partitions": "16",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to an existing session.

    Marks the session configured so tables.load() will NOT re-apply
    RUNTIME_CONFS later — re-application would silently clobber any conf a
    caller set between here and its first load() (the verify-skill gotcha
    that cost the AQE skew test an hour, and would reset the bench's
    shuffle sizing)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build — builder path covers it
    # Python workers import this package in UDFs but do not inherit this
    # process's sys.path, only PYTHONPATH, which UDFs take from this dict
    # when they are wrapped — so workers find the package from any
    # working directory, in sessions built elsewhere too.
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    spark._w2pg_configured = True
    return spark


def get_session(
    app_name: str = "wikidata2pg_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local session sized for this box.

    local[N] with N from $SPARK_GRAFT_CPUS, by default the cores this
    process may run on; shuffle partitions default to min(cpus, 16) —
    small SFs shouldn't pay 200-partition scheduling overhead, and AQE
    coalesces further at runtime.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None and "SPARK_GRAFT_SHUFFLE" in os.environ:
        shuffle_partitions = int(os.environ["SPARK_GRAFT_SHUFFLE"])
    if shuffle_partitions is None:
        # 16, not 2*cpus: measured on join3@sf0.1 — 16 parts 0.96s vs 32
        # parts 1.19s (task-scheduling overhead dominates ms-scale stages;
        # AQE coalesces/splits adaptively at real scale anyway).
        shuffle_partitions = min(cpus, 16)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = configure_session(b.getOrCreate())
    # our own sessions size shuffles to the box, overriding the t2 default
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
