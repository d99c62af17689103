"""Block-pigeonhole candidate generation for Hamming-bounded signature
pairs — shared by `dedup_simhash` (8×8-bit blocks, T ≤ 7) and
`mm_dhash_near_dup` (16×4-bit blocks, T ≤ 15). Extracted round 13: the
two ops carried near-verbatim copies of this join, which is exactly how
a fix to one silently misses the other.

The guarantee: splitting an (n_blocks · block_bits)-bit signature into
n_blocks equal blocks, any pair with Hamming distance ≤ threshold <
n_blocks must agree on at least one whole block (pigeonhole: the
differing bits touch at most `threshold` blocks). A block-equality
equi-join therefore has PERFECT recall at the threshold, shuffles like
LSH bucketing (one hash exchange on the block key), and never goes
cross-product — an OR of block equalities would fall back to a
broadcast-nested-loop O(N²) plan.
"""

from __future__ import annotations

import logging
import os
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filemap_spark import state

_LOG = logging.getLogger("filemap_spark.blocked")

# The deployed parameterizations, as CODE (round 14, VERDICT r13 task 5 —
# the scale knob was prose before). (n_blocks, block_bits, threshold):
#
# CORPUS_MATCHED_KNOB — this synthetic corpus is all-distinct with nearest
# pairs at hamming 13-15, so catching them needs threshold 15 < n_blocks,
# forcing 16 x 4-bit blocks. 4-bit buckets take only 16 values, so the
# block join's candidate volume is ~ n_distinct²/32 — fine at corpus size,
# QUADRATIC at web scale.
#
# WEB_SCALE_KNOB — a web deployment hunting re-encodes/near-identicals at
# hamming <= 7 runs the SAME plan with 8 x 8-bit blocks; 256-value buckets
# collapse candidate volume to per-bucket group sizes (the
# `dedup_simhash` setting, measured flat in SCALE.md).
CORPUS_MATCHED_KNOB = (16, 4, 15)
WEB_SCALE_KNOB = (8, 8, 7)

# Per-run candidate budget: the counter below warns when the measured
# pre-`distinct` candidate volume exceeds this many candidates per
# distinct signature — the signal that the corpus-matched knob is being
# run on a corpus that needs the web-scale one.
CANDIDATE_BUDGET_PER_ITEM = 64


def pigeonhole_candidate_volume(
    reps: DataFrame, sig_col: str, n_blocks: int, block_bits: int
) -> tuple[int, int]:
    """Measured pre-`distinct` candidate volume of the block join over a
    DISTINCT-signature frame: each (blk_idx, blk_val) bucket of m members
    contributes m·(m-1)/2 candidate pairs. One small aggregation over the
    hash-sized exploded frame (n_blocks rows per distinct signature —
    never touches documents or pixels), so it is cheap enough to run
    per-op as the scale counter. Returns (n_distinct, candidate_pairs)."""
    buckets = (
        signature_blocks(reps, sig_col, n_blocks, block_bits, keep=[])
        .groupBy("blk_idx", "blk_val")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    row = buckets.agg(
        (F.sum(F.col("m") * (F.col("m") - 1)) / 2).alias("cand"),
        (F.sum("m") / n_blocks).alias("n_distinct"),
    ).collect()[0]
    return int(row["n_distinct"] or 0), int(row["cand"] or 0)


def signature_blocks(
    frame: DataFrame,
    sig_col: str,
    n_blocks: int,
    block_bits: int,
    keep: list[str],
) -> DataFrame:
    """Explode each signature into its (blk_idx, blk_val) rows — the
    bucket relation every pigeonhole join/probe/counter shares."""
    mask = (1 << block_bits) - 1
    return frame.select(
        *keep,
        F.posexplode(
            F.array(
                *[
                    F.shiftright(sig_col, b * block_bits).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk_idx", "blk_val"),
    )


def block_pigeonhole_pairs(
    frame: DataFrame,
    id_col: str,
    sig_col: str,
    n_blocks: int,
    block_bits: int,
    threshold: int,
    include_equal: bool = False,
) -> DataFrame:
    """Pairs (id_a, id_b, hamming) with id_a < id_b and
    hamming(sig_a, sig_b) <= threshold, generated via the block join.

    `frame` has one row per signer; `id_col` orders/identifies the pair
    sides (a doc id, or the signature itself when signers ARE distinct
    signatures — pass id_col == sig_col and the select collapses).
    Requires threshold < n_blocks for the recall guarantee.

    `include_equal=True` relaxes the pair condition to id_a <= id_b, so
    the DIAGONAL (x, x, hamming 0) rows survive — a same-signature
    "pair" agrees on every block, which lets a distinct-signature
    caller fold its separate same-signature membership self-join into
    the one expansion pass (fingerprint_near_dup_pairs, r18)."""
    if threshold >= n_blocks:
        raise ValueError(
            f"pigeonhole needs threshold < n_blocks, got {threshold} >= {n_blocks}"
        )
    cols = [id_col] if id_col == sig_col else [id_col, sig_col]
    blocks = signature_blocks(frame, sig_col, n_blocks, block_bits, cols)
    # Parallelism guard (r17, optimization guide §2.2/§2.5): `frame` is
    # usually a `.distinct()` output small enough that AQE coalesces its
    # shuffle to ONE partition — and the partition count of the
    # non-broadcast side is the task count of the candidate-generating
    # join, whose OUTPUT is ~n²/2^block_bits rows (measured 20.5M
    # candidates at sf0.1 streaming through 1 task: 6.3 s on one core vs
    # 0.8 s spread over the session). The repartition is UNCONDITIONAL:
    # the only runtime-partition probe PySpark offers
    # (.rdd.getNumPartitions()) executes every upstream AQE stage a
    # second time (measured +4 s on the incremental ingests), while this
    # exchange moves only n_blocks 16-byte rows per distinct signature —
    # bounded, payload-free, and ReuseExchange still computes the
    # underlying distinct once for both join sides. On a cluster
    # defaultParallelism is the executor-core total, so the width stays
    # scale-adaptive rather than a local[32] constant.
    blocks = blocks.repartition(
        frame.sparkSession.sparkContext.defaultParallelism
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(
        F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
    )
    ordered = (
        F.col(f"a.{id_col}") <= F.col(f"b.{id_col}")
        if include_equal
        else F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    return (
        a.join(
            b,
            (F.col("a.blk_idx") == F.col("b.blk_idx"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & ordered,
        )
        .where(hamming <= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()  # a pair can agree on several blocks
    )


def fingerprint_near_dup_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    n_blocks: int,
    block_bits: int,
    threshold: int,
) -> DataFrame:
    """Doc-level near-dup pairs from a (id, 64-bit fingerprint) frame —
    the full rep-collapse → pigeonhole → expansion pipeline shared by
    `mm_dhash_near_dup` and `mm_audio_fingerprint_dedup` (extracted
    round 13 for the same no-silent-divergence reason as
    `block_pigeonhole_pairs`):

    1. collapse to one row per DISTINCT fingerprint (identical items
       share a fingerprint, so a k-member cluster contributes ONE
       signature to the join, not k²/2 candidate rows per block);
    2. candidates via the pigeonhole join WITH the diagonal kept
       (include_equal — a same-fingerprint pair agrees on every block);
    3. expand to id level in ONE pass of two membership joins: ha < hb
       rows are the cross-group pairs, diagonal rows gated by
       id_a < id_b are exactly the intra-group (hamming 0) pairs the
       pre-r18 shape generated through a separate membership self-join.

    The knob (n_blocks, block_bits, threshold) picks the recall/volume
    trade: pass CORPUS_MATCHED_KNOB (16, 4, 15) for corpora whose near
    pairs sit at high hamming distances (candidate volume ~n²/32 — fine
    small, quadratic at web scale) or WEB_SCALE_KNOB (8, 8, 7) for
    re-encode hunting over large corpora. Every run measures the
    pre-`distinct` candidate volume (one agg over the hash-sized bucket
    frame), logs it, and emits a RuntimeWarning when it exceeds
    CANDIDATE_BUDGET_PER_ITEM × n_distinct — the switch-knob signal.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b, ordered."""
    reps = hashes.select(hash_col).distinct()
    n_distinct, cand = pigeonhole_candidate_volume(
        reps, hash_col, n_blocks, block_bits
    )
    _LOG.info(
        "pigeonhole candidates: %d over %d distinct %s "
        "(knob=%d x %d-bit, T<=%d)",
        cand, n_distinct, hash_col, n_blocks, block_bits, threshold,
    )
    if cand > CANDIDATE_BUDGET_PER_ITEM * max(n_distinct, 1):
        warnings.warn(
            f"pigeonhole candidate volume {cand} exceeds "
            f"{CANDIDATE_BUDGET_PER_ITEM}x the {n_distinct} distinct "
            f"signatures with knob ({n_blocks}, {block_bits}, "
            f"{threshold}); at corpus scale switch to WEB_SCALE_KNOB "
            f"{WEB_SCALE_KNOB} (or raise the block width) before the "
            "join quadratics",
            RuntimeWarning,
            stacklevel=2,
        )
    # include_equal folds the old intra-group membership self-join into
    # the one expansion pass (r18): the diagonal (f, f, 0) hash rows
    # expand to every same-fingerprint doc pair, gated by id_a < id_b so
    # each surfaces exactly once; cross-fingerprint rows (ha < hb) pair
    # distinct docs by construction. No union, no second join subtree,
    # and still no distinct needed — each output row has one generation.
    hash_pairs = block_pigeonhole_pairs(
        reps, id_col=hash_col, sig_col=hash_col,
        n_blocks=n_blocks, block_bits=block_bits, threshold=threshold,
        include_equal=True,
    ).select(
        F.col("id_a").alias("ha"), F.col("id_b").alias("hb"), "hamming"
    )
    ma = hashes.select(
        F.col(hash_col).alias("ha"), F.col(id_col).alias("id_a")
    )
    mb = hashes.select(
        F.col(hash_col).alias("hb"), F.col(id_col).alias("id_b")
    )
    return (
        hash_pairs.join(ma, "ha")
        .join(mb, "hb")
        .where((F.col("ha") != F.col("hb")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
        .orderBy("doc_a", "doc_b")
    )


def incremental_fingerprint_ingest(
    spark,
    docs: DataFrame,
    hash_fn,
    state_dir: str,
    n_blocks: int,
    block_bits: int,
    threshold: int,
) -> DataFrame:
    """Ingest a document batch into a PERSISTED fingerprint index and
    return the near-dup pairs the batch introduces — the
    `dedup_incremental_lsh` make-semantics applied to the pigeonhole
    modalities (round 14, VERDICT r13 task 6): when new media arrive,
    only the new documents are decoded and hashed; the existing corpus
    contributes through the persisted index, never re-decoded.

    State layout under `state_dir`: one parquet table
    `fingerprints.parquet` (doc_id, fp) — simultaneously the make
    ledger (anti-join on doc_id keeps re-ingest a no-op) and the probe
    index (8 bytes per doc; the pigeonhole probe explodes it to
    n_blocks rows per DISTINCT fp, never touching payload bytes). It
    grows by one file per batch, committed through filemap_spark/state.py
    (staged, moved in, then one manifest rename).

    `hash_fn(docs) -> (doc_id, fp long)` is the modality's decode+hash
    stage (dHash for images, energy-contour hash for audio) — applied
    AFTER the anti-join, so decode cost is delta-only by construction.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b, where at least one
    side is in THIS batch: (new, old) and (new, new) cross-fingerprint
    pairs via an asymmetric block probe (delta fps broadcast as the
    build side, all fps streamed — every emitted fp pair has a new fp
    by construction, so no earlier batch's pairs are repeated).
    Hamming-0 pairs from new docs joining an existing or shared
    fingerprint group ride the SAME join since r18: a shared
    fingerprint agrees on every block, so the probe's diagonal (f, f)
    rows expand to exactly the old separate intra branch's pairs.
    Ingesting batches that partition a corpus emits each of the
    corpus's pairs EXACTLY once, cumulatively — each pair surfaces in
    the batch of its later-arriving member (pinned against the batch
    op in tests).

    Scale: per batch, decode touches |delta| docs; the probe broadcasts
    n_blocks rows per distinct DELTA fp (16 B each — the in-code cap
    note) against the round-robin-spread block frame of all distinct
    fps; the index commit is one single-file columnar write per batch.
    The knob is the same (n_blocks, block_bits, threshold) triple as
    the batch path (CORPUS_MATCHED_KNOB / WEB_SCALE_KNOB)."""
    if threshold >= n_blocks:
        raise ValueError(
            f"pigeonhole needs threshold < n_blocks, got {threshold} >= {n_blocks}"
        )
    fp_path = os.path.join(state_dir, "fingerprints.parquet")
    with state.transaction(state_dir, ("fingerprints.parquet",)) as txn:
        have_state = bool(txn.files(fp_path))

        new_docs = docs
        if have_state:
            # localCheckpoint BEFORE the commit below: the returned pair plan
            # must read the pre-batch index even if executed after it
            index = spark.read.parquet(fp_path).localCheckpoint()
            new_docs = new_docs.join(index.select("doc_id"), "doc_id", "left_anti")
        # delta-only decode+hash, pinned (the ledger commit must not flip
        # the anti-join, and decode must run once, not per downstream use)
        delta = hash_fn(new_docs).localCheckpoint()
        if not delta.take(1):
            return spark.createDataFrame([], "doc_a long, doc_b long, hamming int")

        all_fps = (
            index.withColumn("is_new", F.lit(False)).unionByName(
                delta.withColumn("is_new", F.lit(True))
            )
            if have_state
            else delta.withColumn("is_new", F.lit(True))
        )
        # ONE tagged distinct serves both join sides (r18: the r17 shape ran
        # TWO distinct aggs — delta-only and all — each its own exchange;
        # max(is_new) over the members of a fingerprint marks whether any
        # holder arrived in THIS batch, so the probe side is a filter of the
        # same relation and ReuseExchange computes the agg once)
        reps = all_fps.groupBy("fp").agg(F.max("is_new").alias("is_new"))
        # Probe side (delta fps only) is BROADCAST: both inputs are
        # statistics-less checkpoint scans, so left alone the planner's
        # static choice is fragile and an AQE SMJ->BHJ conversion re-reads
        # the streamed side through a coalesced-to-ONE-partition
        # AQEShuffleRead — the exact trap the r17 spread fixed (guide §3.1:
        # pick the strategy deliberately when estimates are absent). The
        # hint pins build=probe in the INITIAL plan, so the streamed side
        # keeps the round-robin width below and no probe-side exchange
        # exists at all (r17 spread both sides; the build side's exchange
        # was dead weight). Cap: the broadcast holds n_blocks rows per
        # DISTINCT delta fingerprint (16 B each) — delta-sized, fine to
        # ~50M distinct fps per batch; past that drop the hint and the
        # r17 both-sides-spread shuffle join is the semantics-identical
        # fallback.
        probe = F.broadcast(
            signature_blocks(
                reps.where("is_new"), "fp", n_blocks, block_bits, keep=["fp"]
            ).withColumnRenamed("fp", "nfp")
        ).alias("a")
        # spread the streamed block frame before the candidate join — the
        # distinct output is tiny, AQE coalesces its shuffle to ONE
        # partition, and the streamed-side partition count is the task
        # count of a join whose OUTPUT is ~n²/2^block_bits rows;
        # unconditional for the no-double-execution reason documented in
        # block_pigeonhole_pairs
        width = spark.sparkContext.defaultParallelism
        target = (
            signature_blocks(reps, "fp", n_blocks, block_bits, keep=["fp"])
            .repartition(width)
            .withColumnRenamed("fp", "ofp")
            .alias("b")
        )
        hamming = F.bit_count(F.col("a.nfp").bitwiseXOR(F.col("b.ofp")))
        # nfp == ofp rows are KEPT (r18): a same-fingerprint "pair" agrees
        # on every block, so the join emits (f, f, 0) for each delta fp and
        # the doc-level expansion below yields exactly the old separate
        # intra branch's hamming-0 pairs — one join subtree instead of two.
        fp_pairs = (
            probe.join(
                target,
                (F.col("a.blk_idx") == F.col("b.blk_idx"))
                & (F.col("a.blk_val") == F.col("b.blk_val")),
            )
            .where(hamming <= threshold)
            .select("nfp", "ofp", hamming.cast("int").alias("hamming"))
            .distinct()
        )
        # expand: the new side through THIS batch's docs only (delta
        # semantics), the other side through everything; id_n != id_o drops
        # the self-pairs the folded intra diagonal would otherwise emit
        cross = (
            fp_pairs.join(
                delta.select(F.col("fp").alias("nfp"), F.col("doc_id").alias("id_n")),
                "nfp",
            )
            .join(
                all_fps.select(F.col("fp").alias("ofp"), F.col("doc_id").alias("id_o")),
                "ofp",
            )
            .where(F.col("id_n") != F.col("id_o"))
            .select(
                F.least("id_n", "id_o").alias("doc_a"),
                F.greatest("id_n", "id_o").alias("doc_b"),
                "hamming",
            )
        )
        pairs = cross.distinct()
        # one state file per batch, committed when the transaction closes
        # (or with dedup --stream's _pairs): the delta is already materialized
        # (the checkpoint above), so the write is a 1-task scan of memory — and
        # every later ingest's index scan pays per-file open cost, so small
        # batches must not leave a file per shuffle partition (guide §6)
        txn.append(delta.coalesce(1), fp_path)
        return pairs
