"""Small-file compaction (round 5, VERDICT r4 task 6): the rewrite must
produce exactly the target file count, lose/duplicate nothing, and leave
the data range-clustered on the sort key (disjoint per-file min/max →
row-group pruning works on later scans)."""

from __future__ import annotations

import glob
import os
import tempfile

import pyarrow.parquet as pq

from filemap_spark.io import load_table
from filemap_spark.operators.scans import compact_parquet_dataset


def _parquet_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def test_compaction_file_count_and_fidelity(spark, sf_dir):
    base = tempfile.mkdtemp(prefix="filemap_compact_test_")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "out")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartition(64).write.mode("overwrite").parquet(frag)
    assert len(_parquet_files(frag)) == 64

    compact_parquet_dataset(spark, frag, compact, "o_orderkey", 4)
    files = _parquet_files(compact)
    assert len(files) == 4

    # row fidelity: nothing lost, nothing duplicated
    src = orders.select("o_orderkey").toPandas()["o_orderkey"]
    dst = spark.read.parquet(compact).select("o_orderkey").toPandas()["o_orderkey"]
    assert sorted(src) == sorted(dst)

    # range clustering: per-file [min, max] spans are disjoint
    spans = []
    for f in files:
        pdf = pq.read_table(f, columns=["o_orderkey"]).to_pandas()
        if len(pdf):
            spans.append((pdf["o_orderkey"].min(), pdf["o_orderkey"].max()))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi < lo, spans


def test_compaction_max_records_cap_splits_skew(spark, sf_dir):
    """A skewed range slice must split at the maxRecordsPerFile cap rather
    than produce one oversized file."""
    base = tempfile.mkdtemp(prefix="filemap_compact_cap_")
    frag, compact = os.path.join(base, "frag"), os.path.join(base, "out")
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    orders.repartition(16).write.mode("overwrite").parquet(frag)
    cap = max(n // 8, 1)
    compact_parquet_dataset(
        spark, frag, compact, "o_orderkey", 2, max_records_per_file=cap
    )
    files = _parquet_files(compact)
    assert len(files) >= 4  # 2 range slices, each split by the cap
    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= cap
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert total == n


def test_dynamic_vs_static_partition_overwrite(spark, sf_dir, tmp_path):
    """The semantics the graded op depends on: dynamic mode replaces ONLY
    the partitions present in the batch; static mode (default) clears the
    whole table first."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert len(langs) > 1
    en_only = docs.where(F.col("lang") == "en")

    static_dir = str(tmp_path / "static")
    docs.write.mode("overwrite").partitionBy("lang").parquet(static_dir)
    en_only.write.mode("overwrite").partitionBy("lang").parquet(static_dir)
    static_langs = {
        r["lang"] for r in spark.read.parquet(static_dir).select("lang").distinct().collect()
    }
    assert static_langs == {"en"}  # static wiped the other partitions

    dyn_dir = str(tmp_path / "dynamic")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dyn_dir)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        en_only.write.mode("overwrite").partitionBy("lang").parquet(dyn_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    dyn = spark.read.parquet(dyn_dir)
    assert {r["lang"] for r in dyn.select("lang").distinct().collect()} == langs
    assert dyn.count() == docs.count()


def test_zorder_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """sink_zorder_cluster's layout claim, measured: under the aligned
    Morton key, BOTH interleaved columns' per-file min/max spans are
    bounded fractions of their range, while a single-column sort leaves
    the secondary column unprunable (span fraction ~1)."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from filemap_spark.operators.scans import zorder_key

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )

    def mean_span_fraction(d, colname):
        spans = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            md = pq.ParquetFile(f).metadata
            names = [md.schema.column(j).name for j in range(md.num_columns)]
            ci = names.index(colname)
            st = [md.row_group(i).column(ci).statistics for i in range(md.num_row_groups)]
            spans.append((min(s.min for s in st), max(s.max for s in st)))
        rng = max(b for _, b in spans) - min(a for a, _ in spans) + 1
        return sum(b - a + 1 for a, b in spans) / len(spans) / rng

    zdir = str(tmp_path / "z")
    sdir = str(tmp_path / "s")
    zkey = zorder_key([("l_partkey", 15), ("l_suppkey", 10)])
    (
        li.withColumn("__z", zkey).repartitionByRange(16, "__z")
        .sortWithinPartitions("__z").drop("__z")
        .write.mode("overwrite").parquet(zdir)
    )
    (
        li.repartitionByRange(16, "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.mode("overwrite").parquet(sdir)
    )
    z_pk, z_sk = mean_span_fraction(zdir, "l_partkey"), mean_span_fraction(zdir, "l_suppkey")
    s_pk, s_sk = mean_span_fraction(sdir, "l_partkey"), mean_span_fraction(sdir, "l_suppkey")
    # single-column sort: near-perfect on its key, useless on the other
    assert s_pk < 0.2 and s_sk > 0.9, (s_pk, s_sk)
    # z-order: BOTH bounded — the secondary dimension becomes prunable
    assert z_sk < 0.6 * s_sk, (z_sk, s_sk)
    assert z_pk < 0.8, z_pk
    # nothing lost in the clustered rewrite
    assert spark.read.parquet(zdir).count() == li.count()


def test_incremental_lsh_multibatch_soak_compaction_and_crashes(
    spark, sf_dir, tmp_path, state_crash
):
    """Round-12 soak (VERDICT r11 task 4, carried from r10 task 5): a
    long-running ingest loop — TEN batches (doc_id % 10) ingested in
    sequence — with `compact_lsh_state` firing MID-STREAM (after batches
    3 and 7) and kills at both crash states of the state commit
    (filemap_spark/state.py): batches 2, 5 and 8 first die with their
    files moved in and the manifest not renamed, and are retried; the
    compaction after batch 3 dies committed, with its old files not yet
    deleted, which the next ingest's open deletes. Contract: the union of
    the ten delta outputs equals the one-shot exact >=0.8-Jaccard pair
    set, every pair exactly once, no matter where compaction or crashes
    interleave, and re-ingesting the corpus is a no-op."""
    import pytest
    from pyspark.sql import functions as F

    from filemap_spark.operators.text import (
        compact_lsh_state,
        incremental_lsh_ingest,
    )
    from filemap_spark.registry import all_queries

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = str(tmp_path / "soak_state")
    got: dict[tuple[int, int], float] = {}
    for k in range(10):
        batch = docs.where(F.col("doc_id") % 10 == k)
        if k in (2, 5, 8):
            # kill/restart: the batch dies before its manifest rename; the
            # retry must see none of its rows and lose none of its pairs
            state_crash("before_rename")
            with pytest.raises(Exception, match="before_rename"):
                incremental_lsh_ingest(spark, batch, state)
        delta = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in incremental_lsh_ingest(spark, batch, state).collect()
        }
        assert not set(delta) & set(got), f"batch {k} re-reported pairs"
        got.update(delta)
        if k == 3:
            # mid-stream fold that commits and dies before deleting the
            # old files (slack=1, min_files=1 force a real rewrite)
            state_crash("before_delete")
            with pytest.raises(Exception, match="before_delete"):
                compact_lsh_state(
                    spark, state, target_bytes=1 << 30, min_files=1, slack=1
                )
        if k == 7:
            report = compact_lsh_state(
                spark, state, target_bytes=1 << 30, min_files=1, slack=1
            )
            before, after = report["bands.parquet"]
            assert after <= before
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in all_queries()["dedup_near_jaccard"](spark, sf_dir).collect()
    }
    assert got == exact
    assert incremental_lsh_ingest(spark, docs, state).count() == 0
