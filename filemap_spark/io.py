"""Table loading & view registration over the contract parquet datasets.

The reference's data model is "dataset = directory of files" (SURVEY §1.1
[K]); here a dataset is a parquet path and the schema comes from the footer.
The one normalization this layer owns is the `events.ts` nanosecond trap
(FIXTURES.md trap #1): with `nanosAsLong` the column arrives as int64
ns-since-epoch and is converted to a microsecond-truncated TIMESTAMP_NTZ.

Scale note: loads are lazy `spark.read.parquet` handles — nothing here
collects or caches, so the same code works on a 100 TB cluster path. The ns
conversion is a single projected expression (whole-stage codegen, no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filemap_spark.session import ensure_runtime_confs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """File-state fingerprint ((name, size, mtime_ns) per file) of one
    contract table — the make-style freshness rule shared by every cache in
    the engine (worker-side similarity indexes, the CC label cache, the memo
    layer): a rewritten dataset changes the fingerprint and invalidates."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    stat: list[tuple] = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for f in sorted(files):
                st = os.stat(os.path.join(root, f))
                stat.append((f, st.st_size, st.st_mtime_ns))
    elif os.path.isfile(path):
        st = os.stat(path)
        stat.append((os.path.basename(path), st.st_size, st.st_mtime_ns))
    return tuple(stat)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one contract table, normalizing `events.ts` ns→µs.

    Integer arithmetic (not float division) — a double round-trip at 1.7e18 ns
    has ~0.25 µs quantization error and silently corrupts timestamps. FLOOR
    semantics, not truncation: DuckDB's `epoch_ns(ts) // 1000` floors, while
    Spark's `div` truncates toward zero, so pre-1970 (negative-ns) timestamps
    would diverge by 1 µs under plain `div`. The matching DuckDB-side
    normalization is EVENTS_NORM_SQL below.
    """
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            floor_us = "(ts div 1000) - (CASE WHEN ts < 0 AND ts % 1000 != 0 THEN 1 ELSE 0 END)"
            df = df.withColumn("ts", F.timestamp_micros(F.expr(floor_us)))
        elif ts_type == "timestamp_ntz":
            # µs-precision naive timestamps (isAdjustedToUTC=false parquet).
            # Session tz is pinned to UTC (session.py), so NTZ→TIMESTAMP is an
            # exact identity on the underlying µs value; downstream operators
            # (unix_micros, window functions) expect the LTZ type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def spread_single_split(df: DataFrame) -> DataFrame:
    """Parallelism guard for a heavy Python/Arrow compute stage fed by an
    under-split scan (optimization guide §2.5 input skew + §4).

    The sf-scale contract tables are ONE parquet file under one 128 MB
    split, so a decode-heavy `mapInPandas` directly over the scan runs as
    ONE task: r17 measured `mm_dhash_near_dup` decoding 5,000 PNGs in a
    single task (12.6 s wall) while 31 cores idled. Round-robin
    repartition to the session parallelism when (and only when) the
    input arrives with fewer than parallelism/4 partitions — at
    production scale a many-file table already clears the threshold and
    this is a no-op, and on a cluster `defaultParallelism` is the
    executor-core total, so the target stays scale-adaptive rather than
    a local[32] constant. The exchange moves each payload ONCE, straight
    into the only stage that reads it (the guide §8 "move heavy bytes
    once" shape); decode outputs are content-determined per row, so
    results are partitioning-invariant. Extracted from mm_decode_jpeg's
    r14 inline fix so every decode-stage consumer shares one guard.

    PRECONDITION (mechanically enforced since r18 — VERDICT r17 task 5):
    call this on scan-fed plans only (scan + narrow projections).
    `.rdd.getNumPartitions()` is free there, but on a plan containing
    exchanges it EXECUTES every upstream AQE stage a second time
    (measured +4 s on the incremental mm ingests before their guard
    moved to the raw scan); post-shuffle frames that need spreading use
    an unconditional bounded repartition instead (functions/blocked.py's
    candidate joins document that pattern). A call on a plan with any
    shuffle-inducing operator raises instead of silently paying the
    double execution."""
    _assert_scan_only(df)
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 4):
        df = df.repartition(target)
    return df


# Analyzed logical-plan nodes that keep a plan scan-only: a scan relation
# (file source, checkpoint or RDD-backed rows) under row-wise operators
# and analysis-only wrappers. An ALLOW-list: any other node — join,
# aggregate, window, sort, distinct, set operation (intersect/except),
# limit/offset, repartition — or any subquery means
# `.rdd.getNumPartitions()` plans (and under AQE, EXECUTES) a shuffle
# stage, the double-execution hazard spread_single_split's precondition
# exists to prevent. A node nobody listed is refused, not waved through.
_SCAN_ONLY_NODES = frozenset(
    {
        "LogicalRelation",
        "LogicalRDD",
        "LocalRelation",
        "Project",
        "Filter",
        "Generate",
        "Union",
        "SubqueryAlias",
        "View",
    }
)


def _assert_scan_only(df: DataFrame) -> None:
    """Raise if `df`'s analyzed logical plan holds a node outside
    _SCAN_ONLY_NODES or a subquery expression. Pure plan inspection —
    nothing is executed; the tree is walked node by node (children and
    expression subqueries), never matched as plan text."""
    bad = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name not in _SCAN_ONLY_NODES:
            bad.add(name)
        if not node.subqueries().isEmpty():
            bad.add("subquery")
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    if bad:
        raise ValueError(
            "spread_single_split requires a scan-only input plan "
            "(scan + narrow projections): found shuffle-inducing "
            f"operator(s) {sorted(bad)}. Probing partition counts here would "
            "re-execute every upstream AQE stage; use an unconditional "
            "bounded repartition instead (see functions/blocked.py)."
        )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Register all tables as temp views for `spark.sql` entry-point ops."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    return spark


# DuckDB reads events.ts at full ns precision; graded oracle SQL must truncate
# identically to Spark's µs. Prepend this CTE to any oracle query that touches
# `events` — the CTE shadows the driver-registered view of the same name.
EVENTS_NORM_SQL = (
    "WITH events AS (SELECT * REPLACE "
    "(make_timestamp(epoch_ns(ts) // 1000) AS ts) FROM main.events)"
)
