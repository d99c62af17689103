"""§2.10 UDF / UDAF / UDTF surface — the quarantined Python boundary.

filemap's entire execution model is "user code = shell pipeline per file"
(SURVEY §1.1 [K]); Spark's equivalents form a ladder, slowest to fastest:
row-at-a-time @udf (pickled worker) → Arrow-batched pandas_udf / grouped map
/ mapInPandas → and, as the literal filemap-equivalence operator, RDD.pipe
(shell subprocess per partition). Every op here is graded against a pure-SQL
oracle, which pins the Python/shell path to engine-checkable semantics.

Scale: pandas_udf variants transfer Arrow batches (~10-100× over @udf);
each remains a narrow per-partition transform except the grouped ops, which
shuffle once on their key.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf

from filemap_spark.io import load_table
from filemap_spark.registry import query


@query(
    "udf_python_scalar",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 10 THEN 'low'
                WHEN value < 100 THEN 'mid'
                ELSE 'high' END AS tier
    FROM events
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the slow tier — each row crosses the
    JVM→Python pickle boundary; kept out of every hot path)."""

    @udf("string")
    def tier(value: float) -> str:
        if value < 10:
            return "low"
        if value < 100:
            return "mid"
        return "high"

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", tier("value").alias("tier"))


@query(
    "udf_pandas_scalar",
    cost=1.3,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 6) AS net_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized Arrow pandas_udf — whole columns as pandas Series; float64
    arithmetic matches the JVM expression bit-for-bit."""

    @pandas_udf("double")
    def net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
        return (price * (1.0 - discount)).round(6)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_price("l_extendedprice", "l_discount").alias("net_price"),
    )


@query(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via GROUPED_AGG pandas_udf: quantity-weighted mean price."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return round(float((price * qty).sum() / qty.sum()), 6)

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(wavg("l_extendedprice", "l_quantity").alias("wavg_price"))
        .orderBy("l_returnflag")
    )


@query(
    "udf_grouped_map",
    cost=1.9,
    oracle="""
    SELECT event_id, user_id,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 6) AS z
    FROM events ORDER BY user_id, event_id
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user z-score via groupBy().applyInPandas — the table-in/table-out
    transform (pandas std ddof=1 ≡ stddev_samp on both engines)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "z": ((pdf["value"] - mu) / sd).round(6),
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .applyInPandas(zscore, schema="event_id long, user_id long, z double")
        .orderBy("user_id", "event_id")
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT event_id, user_id, round(value * 2, 6) AS doubled
    FROM events WHERE value > 100
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-batches filter+project via mapInPandas — streaming Arrow
    batches through Python with no shuffle."""

    def flt(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["value"] > 100]
            yield pd.DataFrame(
                {
                    "event_id": keep["event_id"],
                    "user_id": keep["user_id"],
                    "doubled": (keep["value"] * 2).round(6),
                }
            )

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", "user_id", "value").mapInPandas(
        flt, schema="event_id long, user_id long, doubled double"
    )


@query(
    "udtf_python",
    oracle="""
    SELECT doc_id, cast(generate_subscripts(w, 1) - 1 AS int) AS pos,
           unnest(w) AS word
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
          WHERE doc_id < 50)
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF: one text row in → (pos, word) rows out, applied
    per document via a lateral join (SQL entry point)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class SplitWords:
        def eval(self, text: str):
            for pos, word in enumerate(text.split(" ")):
                yield pos, word

    spark.udtf.register("split_words", SplitWords)
    docs = load_table(spark, sf_dir, "documents")
    # a DataFrame argument, not a temp view: the op leaves no view behind
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.word
        FROM {d} d, LATERAL split_words(d.text) t
        """,
        d=docs.where(F.col("doc_id") < 50),
    )


@query(
    "udf_pipe_shell",
    oracle="""
    SELECT cast(count(*) AS bigint) AS n_matching_docs
    FROM documents WHERE text LIKE '%spark%'
    """,
)
def udf_pipe_shell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE filemap operator (SURVEY §1.2): pipe each partition's lines
    through a shell command — here `grep -c` counting docs mentioning
    'spark' — then sum the per-partition counts. The oracle pins the shell
    semantics to a SQL-checkable LIKE count. RDD.pipe forks one subprocess
    per partition (filemap forks one per file); lines stream through Unix
    pipes exactly as the reference does."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("text")
        .rdd.map(lambda r: r[0])
        .pipe("grep -c spark")
        .map(int)
    )
    total = counts.sum()
    return spark.createDataFrame([Row(n_matching_docs=total)])


@query(
    "pipe_map_reduce",
    cost=2.5,
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word ORDER BY n DESC, word LIMIT 20
    """,
)
def pipe_map_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full filemap pipeline as shell stages: map = `tr ' ' '\\n'`
    (tokenize, one subprocess per partition), shuffle = `RDD.partitionBy(32)`
    on the emitted word, reduce = `sort | uniq -c` per bucket — the reference's
    canonical wordcount, executed with REAL Unix subprocesses at every
    stage, graded against the SQL wordcount oracle.

    Scale shape is identical to the native wordcount: the only data
    movement is the hash shuffle on the key; each reduce bucket streams
    through one subprocess. What's deliberately missing vs the native form
    is map-side partial aggregation — the cost of leaving the engine for
    shell semantics (documented trade-off; the native text_wordcount is
    the fast path)."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select("text")
        .rdd.map(lambda r: r[0])
        .pipe("tr ' ' '\\n'")
        .filter(lambda w: w != "")
    )
    # shuffle-by-key: filemap's hash-bucket step
    bucketed = words.map(lambda w: (w, w)).partitionBy(32).values()
    # RDD.pipe shlex-tokenizes and execs WITHOUT a shell — wrap pipelines
    counted = bucketed.pipe("sh -c 'sort | uniq -c'").map(
        lambda line: (int(line.strip().split(" ", 1)[0]), line.strip().split(" ", 1)[1])
    )
    # explicit schema: inference scans the RDD and raises on an empty one
    out = spark.createDataFrame(
        counted.map(lambda t: Row(word=t[1], n=t[0])), "word string, n bigint"
    )
    return out.orderBy(F.desc("n"), F.asc("word")).limit(20)


@query(
    "udf_arrow_optimized",
    oracle="""
    SELECT event_id,
           CASE WHEN value < 10 THEN 'low'
                WHEN value < 100 THEN 'mid'
                ELSE 'high' END AS tier
    FROM events
    """,
    cost=0.5,
)
def udf_arrow_optimized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (round 5, Spark 4 `useArrow=True`) — the
    middle tier between the pickled row-at-a-time `@udf`
    (udf_python_scalar, same logic, same oracle) and a `pandas_udf`: the
    function still runs per-row Python, but batches cross the JVM↔Python
    boundary as Arrow instead of pickled rows — measured 1.5-2× over the
    pickle path with zero code-shape change, which is exactly the
    migration story for legacy row UDFs that cannot be vectorized."""
    from pyspark.sql.functions import udf as _udf

    @_udf("string", useArrow=True)
    def tier(value: float) -> str:
        if value < 10:
            return "low"
        if value < 100:
            return "mid"
        return "high"

    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", tier("value").alias("tier"))


@query(
    "pipe_observe_metrics",
    oracle="""
    SELECT count(*) AS n_kept,
           cast(sum(cast(round(value * 1000000) AS bigint)) AS bigint)
             AS sum_value_micros,
           max(user_id) AS max_user_id
    FROM events WHERE event_type = 'click'
    """,
    cost=0.4,
)
def pipe_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline instrumentation via `observe()` (round 5): named metrics
    accumulate ON THE SIDE of a running query — the audit counters every
    production pipeline needs (rows kept, value totals, distinct users)
    WITHOUT a second scan of the data. The graded result is the observed
    metrics row itself, and the oracle recomputes the same aggregates
    directly — the hash-match proves the observation channel reports
    exactly what a dedicated aggregation pass would (exact int64-scaled
    sum, so no FP divergence).

    Scale: observe() metrics ride the task completion path (accumulator
    semantics on a completed action) — zero extra shuffle, zero extra
    scan; this is how a 100 TB curation job publishes its audit numbers
    for free."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("click_audit")
    observed = ev.where(F.col("event_type") == "click").observe(
        obs,
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.expr("cast(round(value * 1000000) AS bigint)")).alias(
            "sum_value_micros"
        ),
        F.max("user_id").alias("max_user_id"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one real pass
    m = obs.get

    def _opt_int(v):  # sum/max observe as NULL over zero rows — keep it
        return None if v is None else int(v)

    return spark.createDataFrame(
        [
            (
                int(m["n_kept"]),
                _opt_int(m["sum_value_micros"]),
                _opt_int(m["max_user_id"]),
            )
        ],
        "n_kept bigint, sum_value_micros bigint, max_user_id bigint",
    )
