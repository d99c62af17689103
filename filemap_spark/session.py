"""SparkSession factory + defensive runtime conf for driver-owned sessions.

The reference runs shell pipelines over local files with no engine config at
all (SURVEY §1.1 [K]); here the equivalent "just works on the data" posture is
a session pre-configured for the contract data: UTC, ns-timestamp parquet
compat (FIXTURES.md trap #1), Arrow transfer for the pandas-UDF boundary, and
AQE for runtime re-planning at scale (SURVEY §4.2).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from functools import wraps
from typing import Iterator

from pyspark.sql import SparkSession

# Confs that are safe (and required) to set at runtime on ANY session,
# including one the verify driver created itself. All are dynamic SQLConfs.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet is timestamp[ns]; without this PySpark 4.1.2 throws
    # [PARQUET_TYPE_ILLEGAL] INT64 (TIMESTAMP(NANOS,false)).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    # Dataset at test scale is small; AQE coalesces up from this at runtime.
    "spark.sql.shuffle.partitions": "16",
    # The 128-column MinHash signature project/agg exceeds the default
    # whole-stage-codegen field limit (100) and silently falls back to
    # interpreted mode; 200 keeps wide sketch aggregates in codegen
    # (measured ~12% on the signature stage).
    "spark.sql.codegen.maxFields": "200",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the required dynamic confs to an existing session (idempotent)."""
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Non-settable on this build — leave the session's value in place.
            pass
    return spark


def get_spark(app_name: str = "filemap-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) a session configured for the contract data.

    Honors the driver env vars: SPARK_GRAFT_CPUS selects local parallelism.
    On a real cluster the same confs apply; only `master` changes.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return ensure_runtime_confs(builder.getOrCreate())


_OP = "filemap.op"


@contextmanager
def job_phase(spark: SparkSession, phase: str, op: str | None = None) -> Iterator[None]:
    """Describe every Spark job started inside as `<op>:<phase>`, so a
    stage's metrics map to the phase of the verb that ran it.

    `op` defaults to the op of the innermost enclosing job_phase on this
    thread; with none, the description is left alone, so an engine
    function names its phases only when a verb runs it. The previous
    description and op are restored on exit; the job group is never
    touched. Both are thread-local properties: a Python thread that runs
    a phase's jobs takes them through `inheritable_thread_target`."""
    sc = spark.sparkContext
    prev_op = sc.getLocalProperty(_OP)
    prev = sc.getLocalProperty("spark.job.description")
    op = op or prev_op
    if op:
        sc.setLocalProperty(_OP, op)
        sc.setJobDescription(f"{op}:{phase}")
    try:
        yield
    finally:
        sc.setLocalProperty(_OP, prev_op)
        sc.setLocalProperty("spark.job.description", prev)


@contextmanager
def release_scope(spark: SparkSession) -> Iterator[None]:
    """Leave the session's cache as it was on entry: on exit, uncache every
    `CacheManager` entry added inside (a `DataFrame.persist()`), then
    unpersist every RDD persisted inside (a `localCheckpoint`). Entries
    and RDDs that were there on entry stay.

    Exit comes only after the work inside has materialized what reads
    those frames (collected or written it): a checkpoint has no lineage
    to recompute from. The scope sees the whole session, not one thread,
    so it releases whatever ANY thread persisted while it was open; wrap
    serial runners only (a verb, one op of a census), never one of
    several ops running concurrently on one session."""
    jss = spark._jsparkSession
    cache = jss.sharedState().cacheManager()
    jsc = spark.sparkContext._jsc
    cached = cache.cachedData()  # an immutable Scala Seq: a snapshot
    held = set(jsc.getPersistentRDDs().keys())
    try:
        yield
    finally:
        now = cache.cachedData()
        for entry in map(now.apply, range(now.size())):
            if not cached.contains(entry):
                cache.uncacheQuery(jss, entry.plan(), False, False)
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in held:
                rdd.unpersist(False)


def releasing(verb):
    """VERB(spark, ...) run inside a `release_scope(spark)`: a verb
    returns once its writes are done, and leaves nothing persisted."""

    @wraps(verb)
    def run(spark, *args, **kwargs):
        with release_scope(spark):
            return verb(spark, *args, **kwargs)

    return run
