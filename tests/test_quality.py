"""Accuracy bounds for the approximate (rows-only) operators — the checks
the DuckDB oracle can't express (SURVEY §2.4/§2.11)."""

from __future__ import annotations

from pyspark.sql import functions as F

from filemap_spark import all_queries
from filemap_spark.io import load_table

QUERIES = all_queries()


def test_approx_count_distinct_within_5pct(spark, sf_dir):
    approx = {
        r["event_type"]: r["approx_users"]
        for r in QUERIES["agg_approx_count_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for etype, n in exact.items():
        assert abs(approx[etype] - n) <= max(1, 0.05 * n), (etype, approx[etype], n)


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """128-hash/32-band LSH with exact verification recovers every true
    ≥0.8-Jaccard pair on the contract corpus (banding threshold ~0.6)."""
    exact = {(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_near_jaccard"](spark, sf_dir).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()}
    assert exact, "contract corpus must contain near-duplicate pairs"
    assert lsh == exact


def test_ivf_mechanism_is_exact_within_probed_cells(spark, sf_dir):
    """The IVF path must return EXACTLY the brute-force top-5 restricted to
    its probed cells (mechanism correctness). Absolute recall vs global
    brute force is a property of the data (isotropic vectors ⇒ low), so it
    only gets a sanity floor.

    The expected set is rebuilt test-side from the same deterministic
    sample-trained quantizer the operator uses (_train_centroids) plus a
    test-only collect of the embeddings — the OPERATOR never collects."""
    import numpy as np

    from filemap_spark.operators.similarity import _normalized_matrix, _train_centroids

    cents = _train_centroids(spark, sf_dir)
    pdf = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids, mat = _normalized_matrix(pdf)
    assign = np.argmax(mat @ cents.T, axis=1)
    expected = set()
    for i, qid in enumerate(ids):
        probes = np.argsort(-(mat[i] @ cents.T), kind="stable")[:2]
        mask = np.isin(assign, probes) & (ids != qid)
        cand_ids = ids[mask]
        sims = np.round(mat[mask] @ mat[i], 6)
        order = np.lexsort((cand_ids, -sims))[:5]
        expected |= {(int(qid), int(cand_ids[j])) for j in order}
    approx = QUERIES["sim_ann_ivf"](spark, sf_dir).collect()
    found = {(r["vec_id"], r["nbr_id"]) for r in approx}
    assert found == expected

    truth = {
        (r["vec_id"], r["nbr_id"]) for r in QUERIES["sim_cosine_topk"](spark, sf_dir).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.15, f"IVF recall collapsed: {recall:.3f}"


def test_hll_rollup_merge_is_lossless_and_accurate(spark, sf_dir):
    """HLL union is register-wise max, so minute-sketches merged to hour
    must estimate EXACTLY what a direct hour-grain sketch estimates; and
    both must sit within 5% of the exact distinct count."""
    from pyspark.sql import functions as F

    merged = {
        r["hour_us"]: r["est_users"]
        for r in QUERIES["agg_hll_rollup"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    hour = F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us")
    direct = {
        r["hour_us"]: r["est"]
        for r in ev.groupBy(hour)
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).cast("bigint").alias("est"))
        .collect()
    }
    exact = {
        r["hour_us"]: r["n"]
        for r in ev.groupBy(hour).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert merged == direct  # lossless merge, bucket for bucket
    for h, n in exact.items():
        assert abs(merged[h] - n) <= max(1, 0.05 * n), (h, merged[h], n)


def test_lsh_ann_mechanism_is_exact_within_buckets(spark, sf_dir):
    """sim_ann_lsh must return EXACTLY the brute-force top-5 restricted to
    each query's candidate set (vectors sharing >= 1 (table, bucket) key) —
    the same mechanism pin as IVF. Candidate sets are rebuilt test-side from
    the same deterministic planes the operator broadcasts."""
    import numpy as np

    from filemap_spark.operators.similarity import (
        _LSH_BITS,
        _LSH_TABLES,
        _lsh_planes,
        _normalized_matrix,
    )

    pdf = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids, mat = _normalized_matrix(pdf)
    planes = _lsh_planes(mat.shape[1])
    bits = (mat @ planes.T >= 0.0).reshape(len(ids), _LSH_TABLES, _LSH_BITS)
    weights = 1 << np.arange(_LSH_BITS, dtype=np.int64)
    buckets = (bits * weights).sum(axis=2)  # (n, T)
    expected = set()
    for i, qid in enumerate(ids):
        mask = (buckets == buckets[i]).any(axis=1) & (ids != qid)
        cand_ids = ids[mask]
        if not len(cand_ids):
            continue
        sims = np.round(mat[mask] @ mat[i], 6)
        order = np.lexsort((cand_ids, -sims))[:5]
        expected |= {(int(qid), int(cand_ids[j])) for j in order}
    found = {
        (r["vec_id"], r["nbr_id"])
        for r in QUERIES["sim_ann_lsh"](spark, sf_dir).collect()
    }
    assert found == expected


def test_simhash_block_join_has_perfect_recall(spark, sf_dir):
    """The 8×8-bit block-pigeonhole join must find EXACTLY the pairs a
    brute-force all-pairs hamming scan of the same signatures finds at
    distance ≤ 7 (no recall loss from the banding)."""
    from filemap_spark.operators.text import simhash_signatures

    sigs = simhash_signatures(spark, sf_dir).collect()
    ids = [r["doc_id"] for r in sigs]
    vals = [r["simhash"] & 0xFFFFFFFFFFFFFFFF for r in sigs]
    brute = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if (vals[i] ^ vals[j]).bit_count() <= 7:
                a, b = ids[i], ids[j]
                brute.add((min(a, b), max(a, b)))
    got = {(r["doc_a"], r["doc_b"]) for r in QUERIES["dedup_simhash"](spark, sf_dir).collect()}
    assert got == brute
    assert brute, "contract corpus should contain simhash-close pairs"


def test_approx_percentile_within_1pct(spark, sf_dir):
    approx = {
        r["l_returnflag"]: (r["p50_approx"], r["p90_approx"])
        for r in QUERIES["agg_approx_percentile"](spark, sf_dir).collect()
    }
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    assert approx.keys() == exact.keys()
    for flag, (p50, p90) in exact.items():
        assert abs(approx[flag][0] - p50) <= 0.01 * p50, (flag, approx[flag][0], p50)
        assert abs(approx[flag][1] - p90) <= 0.01 * p90, (flag, approx[flag][1], p90)


def test_incremental_lsh_delta_equals_exact_pairs(spark, sf_dir, tmp_path):
    """Base-then-delta ingest must surface exactly the true >=0.8-Jaccard
    pairs that touch the delta split — same exactness contract as the
    graded oracle."""
    from filemap_spark.operators.text import incremental_lsh_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = str(tmp_path / "lsh_state")
    base_pairs = incremental_lsh_ingest(spark, docs.where(F.col("doc_id") % 10 != 0), state)
    delta_pairs = incremental_lsh_ingest(spark, docs.where(F.col("doc_id") % 10 == 0), state)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near_jaccard"](spark, sf_dir).collect()
    }
    got_delta = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in delta_pairs.collect()}
    want_delta = {p: j for p, j in exact.items() if p[0] % 10 == 0 or p[1] % 10 == 0}
    assert got_delta == want_delta
    # base + delta together cover the full corpus's pairs exactly once
    got_base = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in base_pairs.collect()}
    assert not set(got_base) & set(got_delta)
    assert {**got_base, **got_delta} == exact


def test_incremental_lsh_only_new_docs_do_work(spark, sf_dir, tmp_path):
    """The make property, rep-level since round 10: a second ingest hashes
    ONLY unseen DISTINCT texts (persisted band rows grow by exactly the
    delta's novel sig-worthy texts — an exact dup of an indexed doc adds
    nothing), re-ingesting already-seen docs is a no-op, and an empty
    delta yields an empty result."""
    import os

    from filemap_spark.operators.text import _LSH_BANDS, incremental_lsh_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    # distinct texts with >= 5 words produce ONE signature each (one
    # stacked row per band); duplicates ride the representative's
    def sig_texts(df):
        return (
            df.where(F.size(F.split("text", " ")) >= 5)
            .select("text")
            .distinct()
        )

    state = str(tmp_path / "lsh_state")
    band_path = os.path.join(state, "bands.parquet")
    incremental_lsh_ingest(spark, base, state)
    rows_after_base = spark.read.parquet(band_path).count()
    assert rows_after_base == sig_texts(base).count() * _LSH_BANDS

    incremental_lsh_ingest(spark, delta, state)
    rows_after_delta = spark.read.parquet(band_path).count()
    novel_delta_texts = (
        sig_texts(delta).join(sig_texts(base), "text", "left_anti").count()
    )
    assert rows_after_delta - rows_after_base == novel_delta_texts * _LSH_BANDS

    # re-ingesting the SAME docs: ledger anti-join leaves no work, no growth
    again = incremental_lsh_ingest(spark, docs, state)
    assert again.count() == 0
    assert spark.read.parquet(band_path).count() == rows_after_delta


def _lsh_delta_ingest_shuffle(spark, sf_dir, state):
    """Ingest the fixture corpus minus every 20th doc, then those docs as
    a delta, and check the delta's pairs are exactly the true pairs
    touching it. Returns the shuffle records written by every stage the
    delta ingest ran (status store, attributed by stage-id range the way
    perfbench/spans.py does) and the index's band-row count."""
    import os

    from py4j.protocol import Py4JJavaError

    from filemap_spark.operators.text import incremental_lsh_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    incremental_lsh_ingest(spark, docs.where(F.col("doc_id") % 20 != 0), state)
    jsc = spark.sparkContext._jsc.sc()
    dag, store, bus = jsc.dagScheduler(), jsc.statusStore(), jsc.listenerBus()
    bus.waitUntilEmpty(60000)
    lo = int(dag.nextStageId())
    pairs = incremental_lsh_ingest(
        spark, docs.where(F.col("doc_id") % 20 == 0), state
    ).collect()
    bus.waitUntilEmpty(60000)
    hi = int(dag.nextStageId())
    shuffled = 0
    for s in range(lo, hi):
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # skipped stage: never attempted, wrote nothing
            continue
        shuffled += int(sd.shuffleWriteRecords())
    index_rows = spark.read.parquet(os.path.join(state, "bands.parquet")).count()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near_jaccard"](spark, sf_dir).collect()
    }
    assert got == {p: j for p, j in exact.items() if p[0] % 20 == 0 or p[1] % 20 == 0}
    return shuffled, index_rows


def test_incremental_lsh_delta_shuffles_less_than_the_index(spark, sf_dir, tmp_path):
    """Counter pin: a delta ingest under the broadcast cap probes the
    persisted index by the arrival's keys, so its exchanges move
    delta-sized rows — fewer shuffle records than the index has band
    rows. A plan that shuffles the index bands (or the shingles) to meet
    the probe cannot pass."""
    shuffled, index_rows = _lsh_delta_ingest_shuffle(
        spark, sf_dir, str(tmp_path / "lsh_state")
    )
    assert shuffled < index_rows, (shuffled, index_rows)


def test_incremental_lsh_delta_signature_moves_no_slots(spark, sf_dir, tmp_path):
    """The delta's reps are clustered by doc_id before shingling, so the
    signature's 128 per-doc mins never cross an exchange: the whole delta
    ingest writes fewer shuffle records than _LSH_HASHES per novel rep,
    the count one keyed min on (doc_id, i) alone would write."""
    import os

    from filemap_spark.operators.text import _LSH_HASHES

    state = str(tmp_path / "lsh_state")
    shuffled, _ = _lsh_delta_ingest_shuffle(spark, sf_dir, state)
    ledger = spark.read.parquet(os.path.join(state, "ingested.parquet"))
    novel_reps = ledger.where(
        (F.col("doc_id") % 20 == 0)
        & (F.col("doc_id") == F.col("rep_id"))
        & F.col("sigworthy")
    ).count()
    assert novel_reps and shuffled < _LSH_HASHES * novel_reps, (shuffled, novel_reps)


def test_incremental_lsh_past_broadcast_cap_shuffles_same_pairs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The other side of the cap: a delta whose probe could exceed
    _LSH_BROADCAST_ROWS takes the shuffle joins — the index is exchanged
    (records reach its band-row count) and the pairs stay exact."""
    from filemap_spark.operators import text

    monkeypatch.setattr(text, "_LSH_BROADCAST_ROWS", 0)
    shuffled, index_rows = _lsh_delta_ingest_shuffle(
        spark, sf_dir, str(tmp_path / "lsh_state")
    )
    assert shuffled >= index_rows, (shuffled, index_rows)


def _write_replica_corpus(spark, path: str) -> dict[int, str]:
    """The hot-bucket fixture (VERDICT r9 task 2's done-criterion corpus):
    a 10-member identical cluster (the k² band-bucket hot spot), a true
    near-dup pair, a 3-member identical SHORT group (< 5 words — no
    shingles, must emit nothing), and unique background docs."""
    hot = "the quick brown fox jumps over the lazy sleeping dog tonight"
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    texts = {i: hot for i in range(10)}
    texts[20], texts[21] = near_a, near_b
    for i, t in enumerate(("tiny doc", "tiny doc", "tiny doc")):
        texts[30 + i] = t
    for i in range(40, 45):
        texts[i] = f"unique background document number {i} with several extra filler words"
    spark.createDataFrame(
        [(i, t, "en", "fixture", len(t)) for i, t in sorted(texts.items())],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return texts


def _brute_force_jaccard_pairs(texts: dict[int, str], threshold=0.8):
    """All-pairs word-5-gram Jaccard ≥ threshold, straight from the dict."""
    import itertools

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}

    sh = {i: shingles(t) for i, t in texts.items()}
    out = {}
    for a, b in itertools.combinations(sorted(texts), 2):
        if not sh[a] or not sh[b]:
            continue
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = round(j, 6)
    return out


def test_minhash_lsh_identical_cluster_output_pinned(spark, tmp_path):
    """Round-10 hot-bucket hardening pin: on the 10-identical-docs replica
    corpus the collapsed plan must emit EXACTLY the brute-force pair set —
    all 45 within-cluster pairs at jaccard 1.0, the near-dup pair, nothing
    for the shingle-less short group."""
    texts = _write_replica_corpus(spark, str(tmp_path))
    want = _brute_force_jaccard_pairs(texts)
    assert sum(1 for (a, b) in want if texts[a] == texts[b]) == 45
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_minhash_lsh"](spark, str(tmp_path)).collect()
    }
    assert got == want
    # and the exact-form op agrees (shared fixture sanity)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near_jaccard"](spark, str(tmp_path)).collect()
    }
    assert exact == want
    # dedup_simhash shares the round-10 collapse: on the same replica
    # corpus it must equal a brute-force hamming scan over the per-doc
    # signatures (identical texts ⇒ identical simhash ⇒ the 45
    # within-cluster pairs appear at hamming 0, incl. the SHORT group —
    # simhash signs every doc, unlike the shingle family)
    from filemap_spark.operators.text import simhash_signatures

    sigs = simhash_signatures(spark, str(tmp_path)).collect()
    ids = [r["doc_id"] for r in sigs]
    vals = [r["simhash"] & 0xFFFFFFFFFFFFFFFF for r in sigs]
    assert len(ids) == len(texts)  # every doc signed, reps expanded back
    brute = {}
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = (vals[i] ^ vals[j]).bit_count()
            if d <= 7:
                a, b = ids[i], ids[j]
                brute[(min(a, b), max(a, b))] = d
    got_sh = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in QUERIES["dedup_simhash"](spark, str(tmp_path)).collect()
    }
    assert got_sh == brute
    hot_pairs = {(a, b) for (a, b) in brute if a < 10 and b < 10}
    assert len(hot_pairs) == 45 and all(brute[p] == 0 for p in hot_pairs)
    short_pairs = {(a, b) for (a, b) in brute if 30 <= a < 33 and 30 <= b < 33}
    assert len(short_pairs) == 3  # the short identical group IS signed


import pytest as _pytest


@_pytest.mark.parametrize(
    ("op", "boundary"),
    [
        ("append", "before_rename"),   # a batch's files moved in, no rename
        ("append", "after_commit"),
        ("replace", "before_rename"),  # a compaction's new files moved in
        ("replace", "before_delete"),  # committed, old files still on disk
        ("replace", "after_commit"),
        ("rewrite", "before_rename"),  # a listed name mapped again
        ("rewrite", "after_commit"),
    ],
)
def test_state_commit_recovers_at_each_boundary(
    tmp_path, state_crash, op, boundary
):
    """Exhaustive pin of the state commit's crash states
    (filemap_spark/state.py), pure filesystem: a table holds two
    committed files; a commit adds a third (append), replaces both with
    one (replace, a compaction's or an upsert's commit) or maps a listed
    name again (rewrite, a map stage's), and dies at `boundary`. Opening
    the root again must leave exactly the last commit's files, on disk
    and in the manifest — the old set before the manifest rename, the new
    one after it — with nothing left in staging."""
    import os

    from filemap_spark import state

    root = str(tmp_path / "root")
    table = os.path.join(root, "t.parquet")

    def put(txn, name, body):
        src = os.path.join(txn.staging(), name)
        os.makedirs(os.path.dirname(src))
        with open(src, "w") as f:
            f.write(body)
        txn.add(src, table)

    with state.transaction(root, ("t.parquet",)) as txn:
        put(txn, "a", "a")
        put(txn, "b", "b")
    old = {"a": "a", "b": "b"}
    name, body = {"append": ("c", "c"), "replace": ("c", "ab"), "rewrite": ("a", "A")}[op]
    new = {} if op == "replace" else dict(old)
    new[name] = body

    state_crash(boundary)
    with _pytest.raises(Exception, match=boundary):
        with state.transaction(root, ("t.parquet",)) as txn:
            if op == "replace":
                txn.drop(table)
            put(txn, name, body)

    txn = state.Transaction(root, ("t.parquet",))
    want = old if boundary == "before_rename" else new
    assert txn.files(table) == sorted(want)
    on_disk = {}
    for n in os.listdir(table):
        with open(os.path.join(table, n)) as f:
            on_disk[n] = f.read()
    assert on_disk == want
    assert not os.path.exists(os.path.join(root, state.STAGING))


def test_compact_lsh_state_preserves_ingest_semantics(
    spark, sf_dir, tmp_path, state_crash
):
    """State compaction (round 10): after several batch appends each
    state table holds one file set per batch; compacting must shrink
    file counts without changing ANY future ingest's behavior — same
    delta pairs as an uncompacted twin state, re-ingest still a no-op.
    Both crash states of the compaction's commit are visited on the way:
    new files moved in without the manifest rename, and a committed
    compaction whose old files were not yet deleted."""
    import os

    from filemap_spark.operators.text import (
        _LSH_STATE_TABLES,
        compact_lsh_state,
        incremental_lsh_ingest,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [docs.where(F.col("doc_id") % 3 == k) for k in range(3)]
    s_compact = str(tmp_path / "compacted")
    s_plain = str(tmp_path / "plain")
    for state in (s_compact, s_plain):
        for b in batches[:2]:
            incremental_lsh_ingest(spark, b, state)

    def n_files(state, table):
        d = os.path.join(state, table)
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    before = n_files(s_compact, "bands.parquet")
    assert before >= 2  # one file set per batch append
    # hysteresis leaves a below-threshold dir alone (threshold
    # max(slack·ideal, min_files)); pin BOTH behaviors — min_files is
    # explicit because per-append file count tracks shuffle partitions
    # and data size, so the default 16 could legitimately compact on a
    # larger FILEMAP_TEST_SF_DIR (review finding, round 10)
    untouched = compact_lsh_state(
        spark, s_compact, target_bytes=1 << 30, min_files=10_000
    )
    assert untouched["bands.parquet"] == (before, before)

    def compact():
        return compact_lsh_state(
            spark, s_compact, target_bytes=1 << 30, min_files=1, slack=1
        )

    # the compacted files are moved in, and the rename never happens
    state_crash("before_rename")
    with _pytest.raises(Exception, match="before_rename"):
        compact()
    assert n_files(s_compact, "bands.parquet") == before + 1
    # the rerun drops them, commits its own, and dies before deleting
    # the old files
    state_crash("before_delete")
    with _pytest.raises(Exception, match="before_delete"):
        compact()
    assert n_files(s_compact, "bands.parquet") == before + 1
    # the next open deletes the old files: each table is one file
    report = compact()
    assert report == {t: (1, 1) for t in _LSH_STATE_TABLES}
    assert n_files(s_compact, "bands.parquet") == 1  # tiny state -> single file

    # the third batch behaves identically on compacted vs plain state
    def pairs(state):
        return {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in incremental_lsh_ingest(spark, batches[2], state).collect()
        }

    assert pairs(s_compact) == pairs(s_plain)
    # and the ledger survived: re-ingesting everything is still a no-op
    assert incremental_lsh_ingest(spark, docs, s_compact).count() == 0


def test_incremental_lsh_rejects_pre_rep_level_state(spark, tmp_path):
    """A state dir written by the pre-round-10 layout (doc_id-only
    ledger, per-doc band index) must be refused LOUDLY — silently
    anti-joining against it would treat the old per-doc index as
    rep-level and corrupt the pair output (review finding, round 10)."""
    import pytest

    from filemap_spark.operators.text import incremental_lsh_ingest

    state = tmp_path / "old_state"
    state.mkdir()
    spark.createDataFrame([(1,), (2,)], "doc_id long").write.parquet(
        str(state / "ingested.parquet")
    )
    docs = spark.createDataFrame(
        [(3, "some brand new document text arriving now")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="pre-rep-level state layout"):
        incremental_lsh_ingest(spark, docs, str(state))


def test_minhash_lsh_randomized_dup_groups_match_brute_force(spark, tmp_path):
    """Breadth pin for the rep-collapse expansion (round 10): a seeded
    random corpus with duplicate groups of size 1-6, interleaved doc_ids
    (group members NOT contiguous), shingle-less short docs inside dup
    groups, and word-overlap near-dups — output must equal the
    brute-force all-pairs Jaccard ≥ 0.8 set exactly. Deterministic: the
    seed is fixed and every hash in the pipeline is seeded, so banding
    recall is a constant of the fixture (verified == exact here)."""
    import random

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(60)]
    texts = {}
    next_id = 0
    for g in range(25):
        size = rng.choice((1, 1, 1, 2, 2, 3, 6))
        if g % 7 == 3:
            base = " ".join(rng.choices(vocab, k=rng.randint(1, 4)))  # short
        elif g % 3 == 0:
            # long enough that a changed-last-word neighbor still clears
            # 0.8 Jaccard ((n-9)/(n+1) ≥ 0.8 needs n ≥ 49 words)
            base = " ".join(rng.choices(vocab, k=rng.randint(52, 60)))
        else:
            base = " ".join(rng.choices(vocab, k=rng.randint(12, 30)))
        for _ in range(size):
            texts[next_id * 37 % 1000] = base  # interleave ids
            next_id += 1
        if len(base.split()) >= 52 and rng.random() < 0.7:
            # a near-dup neighbor of the whole GROUP (cross-group
            # expansion must pair it with every member): same prefix,
            # one word changed at the end
            words = base.split()
            words[-1] = "zz"
            texts[next_id * 37 % 1000] = " ".join(words)
            next_id += 1
    assert len(texts) == next_id  # the id scatter must not collide
    spark.createDataFrame(
        [(i, t, "en", "fixture", len(t)) for i, t in sorted(texts.items())],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    want = _brute_force_jaccard_pairs(texts)
    # the fixture must exercise BOTH expansion paths: within-group exact
    # pairs (jaccard 1.0) and cross-group near-dup pairs (< 1.0)
    assert any(j == 1.0 for j in want.values())
    assert any(j < 1.0 for j in want.values())
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_minhash_lsh"](spark, str(tmp_path)).collect()
    }
    assert got == want


def test_incremental_lsh_identical_cluster_across_batches(spark, tmp_path):
    """Replica-corpus pin for the incremental path: identical docs arriving
    across THREE batches (cluster members split among them, incl. a batch
    that only adds members to existing groups) — batch outputs are
    disjoint and union to the brute-force pair set, and the rep-level
    index holds one signature per distinct sig-worthy text."""
    import os

    from filemap_spark.operators.text import _LSH_BANDS, incremental_lsh_ingest

    texts = _write_replica_corpus(spark, str(tmp_path))
    want = _brute_force_jaccard_pairs(texts)
    docs = spark.read.parquet(f"{tmp_path}/documents.parquet").select(
        "doc_id", "text"
    )
    state = str(tmp_path / "state")
    got = {}
    splits = (
        F.col("doc_id") < 5,  # half the hot cluster + nothing else
        (F.col("doc_id") >= 5) & (F.col("doc_id") < 30),  # rest + near-dups
        F.col("doc_id") >= 30,  # short group + background
    )
    for cond in splits:
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in incremental_lsh_ingest(
                spark, docs.where(cond), state
            ).collect()
        }
        assert not set(pairs) & set(got)  # each pair surfaces exactly once
        got.update(pairs)
    assert got == want
    n_sig_texts = 3  # hot, near_a, near_b are the only >=5-word distinct texts
    n_sig_texts += 5  # plus the 5 unique background docs
    bands = spark.read.parquet(os.path.join(state, "bands.parquet"))
    assert bands.count() == n_sig_texts * _LSH_BANDS


def test_cms_never_underestimates_and_merges_losslessly(spark, sf_dir):
    """Count-min guarantees, pinned against exact counts: (a) every
    estimate >= the true count (min of non-negative-noise cells); (b) the
    overestimate is bounded by collision noise (generous 8x the expected
    N/width per-cell load, min over 4 independent rows makes the slack
    huge); (c) two shard sketches ADDED cell-wise equal the corpus sketch
    exactly — the merge that makes CMS a streaming/rollup-safe state
    object."""
    from pyspark.sql import functions as F

    from filemap_spark.operators.aggregates import _CMS_WIDTH, cms_sketch

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    exact = {
        r["word"]: r["n"]
        for r in toks.groupBy("word").agg(F.count("*").alias("n")).collect()
    }
    n_tokens = sum(exact.values())
    est = {
        r["word"]: r["est_count"]
        for r in QUERIES["agg_cms_topk"](spark, sf_dir).collect()
    }
    assert len(est) == 20
    slack = 8 * n_tokens / _CMS_WIDTH
    for word, e in est.items():
        assert e >= exact[word], (word, e, exact[word])
        assert e - exact[word] <= slack, (word, e, exact[word], slack)

    full = {
        (r["i"], r["bucket"]): r["c"] for r in cms_sketch(toks).collect()
    }
    halves = [
        {
            (r["i"], r["bucket"]): r["c"]
            for r in cms_sketch(toks.where(f"doc_id % 2 = {p}")).collect()
        }
        for p in (0, 1)
    ]
    merged: dict = {}
    for h in halves:
        for cell, c in h.items():
            merged[cell] = merged.get(cell, 0) + c
    assert merged == full


def test_recall_eval_scores_all_ann_paths(spark, sf_dir):
    """The eval harness must score ALL THREE ANN methods (VERDICT r14
    task 6 folded the IVF-PQ tier in) against the exact top-5 with sane,
    reproducible numbers: recall in (0, 1], IVF's 2-probe recall
    comfortably above the LSH OR-merge's on this corpus (measured ~0.51
    vs ~0.33 at every SF), IVF-PQ within (0, ivf] — same probed cells,
    ADC-compressed scoring can only lose candidates, with a floor of its
    own so compression regressions surface — and a second run identical
    (fully deterministic pipeline)."""
    rows = {r["method"]: r for r in QUERIES["sim_recall_eval"](spark, sf_dir).collect()}
    assert set(rows) == {"ivf", "ivf_pq", "lsh"}
    for r in rows.values():
        assert 0.0 < r["recall_at_5"] <= 1.0
    assert rows["ivf"]["recall_at_5"] >= 0.4
    assert rows["lsh"]["recall_at_5"] >= 0.25
    assert rows["ivf_pq"]["recall_at_5"] >= 0.10
    assert rows["ivf_pq"]["recall_at_5"] <= rows["ivf"]["recall_at_5"]
    again = {r["method"]: r for r in QUERIES["sim_recall_eval"](spark, sf_dir).collect()}
    assert again == rows


def test_tier_cutoff_agreement_floor(spark, sf_dir):
    """The percentile_approx-cutoff tier path must agree with the exact
    distributed ntile on ≥95% of docs (at test SFs the sketch is exact, so
    the only divergence is boundary ties the cutoff cannot split)."""
    from filemap_spark import all_queries

    row = all_queries()["tier_agreement_eval"](spark, sf_dir).collect()[0]
    assert row["n_docs"] == (
        row["n_head_exact"] + row["n_middle_exact"] + row["n_tail_exact"]
    )
    assert row["agreement_rate"] >= 0.95, row.asDict()


def test_train_test_split_is_partition_and_hash_stable(spark, sf_dir):
    """The three splits must partition the corpus exactly (disjoint,
    complete, ~80/10/10) and membership must be a pure function of doc_id
    — recomputing on a repartitioned input yields identical counts."""
    from filemap_spark import all_queries

    fn = all_queries()["sample_split_train_test"]
    rows = fn(spark, sf_dir).collect()
    total = sum(r["n_docs"] for r in rows)
    from filemap_spark.io import load_table

    assert total == load_table(spark, sf_dir, "documents").count()
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"] + by_split["test"]
    rows2 = fn(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_reservoir_per_key_is_exactly_k_or_all(spark, sf_dir):
    """Each key yields min(k, group size) rows and membership is stable
    across runs (hash-rank, not a seeded sample)."""
    from filemap_spark import all_queries
    from filemap_spark.io import load_table

    fn = all_queries()["sample_reservoir_per_key"]
    rows = fn(spark, sf_dir).collect()
    from collections import Counter

    per_key = Counter(r["lang"] for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    for lang, n in sizes.items():
        assert per_key[lang] == min(20, n), (lang, per_key[lang], n)
    assert sorted((r["lang"], r["doc_id"]) for r in rows) == sorted(
        (r["lang"], r["doc_id"]) for r in fn(spark, sf_dir).collect()
    )


def test_quality_mix_respects_tier_keep_rates(spark, sf_dir):
    """Every kept doc's tier must agree with text_quality_tiers, head docs
    are all kept, and middle/tail keep-counts match the md5 rule exactly."""
    from filemap_spark import all_queries

    q = all_queries()
    tiers = {r["doc_id"]: r["tier"] for r in q["text_quality_tiers"](spark, sf_dir).collect()}
    kept = {r["doc_id"]: r["tier"] for r in q["sample_quality_mix"](spark, sf_dir).collect()}
    assert all(tiers[d] == t for d, t in kept.items())
    import hashlib

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % 10

    rate = {"head": 10, "middle": 5, "tail": 1}
    want = {d for d, t in tiers.items() if bucket(d) < rate[t]}
    assert set(kept) == want


def _cache_entries(spark) -> list:
    seq = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return [seq.apply(i) for i in range(seq.size())]


def _scoped(spark, sf_dir, name):
    """NAME's sorted rows, run inside a release scope, with the count and
    shuffle-write records of the stages it completed (status store,
    attributed by stage-id range the way perfbench/spans.py does)."""
    from py4j.protocol import Py4JJavaError

    from filemap_spark.session import release_scope

    jsc = spark.sparkContext._jsc.sc()
    dag, store, bus = jsc.dagScheduler(), jsc.statusStore(), jsc.listenerBus()
    bus.waitUntilEmpty(60000)
    lo = int(dag.nextStageId())
    with release_scope(spark):
        rows = sorted(QUERIES[name](spark, sf_dir).collect())
    bus.waitUntilEmpty(60000)
    stages = records = 0
    for s in range(lo, int(dag.nextStageId())):
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        if str(sd.status()) == "COMPLETE":
            stages += 1
            records += int(sd.shuffleWriteRecords())
    return rows, stages, records


def test_release_scope_reruns_ops_cold(spark, sf_dir):
    """Ops that persist a frame (the rank scaffold's ranged relation, the
    bare persist() of a small frame read twice) or checkpoint the
    component labels run twice, each run in its own release scope: the
    second run finds nothing of the first, so it returns the same rows
    through the same stages and shuffle records, and no cached plan is
    left behind. The second `dedup_apply_survivors` is a component-label
    op run after an earlier one's scope released its checkpoint: it
    computes its own labels instead of reading the released blocks."""
    cached = _cache_entries(spark)
    for name in ("agg_decile_lift", "ts_mad_anomaly", "win_pareto_share",
                 "dedup_apply_survivors"):
        first = _scoped(spark, sf_dir, name)
        assert first[0] and first[1], name
        assert _scoped(spark, sf_dir, name) == first, name
        assert _cache_entries(spark) == cached, name


def test_with_global_rank_tolerates_non_numeric_shuffle_conf(spark):
    """Managed distros can surface spark.sql.shuffle.partitions as a
    non-integer (e.g. "auto") through their conf layer; the rank helper's
    partition-count resolution must fall back to the input's partition
    count instead of raising ValueError. (Stock Spark refuses conf.set of
    a non-int here, so the fallback is pinned on a conf stub.)"""
    from filemap_spark.functions.ranks import _shuffle_partitions

    df = spark.range(50).repartition(5).withColumnRenamed("id", "k")

    class _FakeConf:
        def get(self, key):
            return "auto"

    class _FakeSession:
        conf = _FakeConf()

    class _FakeDF:
        sparkSession = _FakeSession()
        rdd = df.rdd

    assert _shuffle_partitions(_FakeDF()) == 5
    # and the numeric path still reads the real conf
    assert _shuffle_partitions(df) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )


def test_temperature_mix_realized_rates(spark, sf_dir):
    """sample_temperature_mix's realized per-domain keep rate must track
    the closed-form (min_n / n_i)^0.5 (md5 is uniform; tolerance covers
    hash noise at contract corpus sizes), and membership must be a subset
    of the corpus with rerun-identical results."""
    import math

    from filemap_spark import all_queries
    from filemap_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_by_lang = {r["lang"]: r["n"] for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    min_n = min(n_by_lang.values())

    fn = all_queries()["sample_temperature_mix"]
    kept = fn(spark, sf_dir).collect()
    kept_by_lang = {}
    for r in kept:
        kept_by_lang[r["lang"]] = kept_by_lang.get(r["lang"], 0) + 1
    for lang, n in n_by_lang.items():
        want = math.sqrt(min_n / n)
        got = kept_by_lang.get(lang, 0) / n
        # binomial noise: 4 sigma around the expected rate
        sigma = math.sqrt(want * (1 - want) / n) if 0 < want < 1 else 0.0
        assert abs(got - want) <= max(4 * sigma, 2 / n), (lang, got, want)
    # smallest domain keeps (essentially) everything
    smallest = min(n_by_lang, key=n_by_lang.get)
    assert kept_by_lang[smallest] >= n_by_lang[smallest] - 1

    # rerun-stable membership
    again = {r["doc_id"] for r in fn(spark, sf_dir).collect()}
    assert again == {r["doc_id"] for r in kept}


def test_hll_intersection_bounds(spark, sf_dir):
    """Inclusion-exclusion over three HLL estimates compounds sketch error;
    the derived intersection must stay within a combined relative bound of
    the exact count, and be rerun-identical (sketches are deterministic
    for a fixed input)."""
    from filemap_spark import all_queries

    fn = all_queries()["agg_hll_intersection"]
    row = fn(spark, sf_dir).collect()[0]
    exact = row["exact_intersection"]
    est = row["est_intersection"]
    # each sketch is ~±2%; inclusion-exclusion can amplify on small
    # intersections — bound by 10% of the LARGER operand population + 5
    slack = max(row["est_clicks"], row["est_purchases"]) * 0.10 + 5
    assert abs(est - exact) <= slack, (est, exact, slack)
    again = fn(spark, sf_dir).collect()[0]
    assert tuple(again) == tuple(row)


def test_gopher_rules_match_pure_python(spark, sf_dir):
    """text_gopher_rules vs an independent pure-Python recomputation of
    every rule and the verdict — catches any drift between the Spark
    expressions, the oracle SQL, and the documented rule definitions."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import text_gopher_rules

    got = {r["doc_id"]: r for r in text_gopher_rules(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    stop = {"the", "a", "of", "to", "and"}
    assert len(got) == len(docs)
    for d in docs:
        w = d["text"].split(" ")
        n = len(w)
        mean_wl = (len(d["text"]) - n + 1) / n
        short = sum(1 for x in w if len(x) <= 2) / n
        distinct = len(set(w)) / n
        n_stop = len(set(w) & stop)
        rules = [
            30 <= n <= 5000,
            3.0 <= mean_wl <= 10.0,
            short <= 0.1,
            distinct >= 0.3,
            n_stop >= 2,
        ]
        r = got[d["doc_id"]]
        assert (
            [r["r_len"], r["r_word_len"], r["r_short"], r["r_rep"], r["r_stop"]]
            == [int(x) for x in rules]
        ), d["doc_id"]
        assert r["verdict"] == ("keep" if all(rules) else "drop")
        assert r["n_tokens"] == n and r["n_stopwords"] == n_stop


def test_line_level_dedup_matches_pure_python(spark, sf_dir):
    """dedup_line_level vs pure-Python: recompute 10-token chunking, global
    line popularity, and in-order reassembly; every doc's survivor count
    and cleaned text must match, and any doc made of only shared lines
    must survive as an '' row (not vanish)."""
    from collections import Counter

    from filemap_spark.io import load_table
    from filemap_spark.operators.text import dedup_line_level

    got = {r["doc_id"]: r for r in dedup_line_level(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    chunks_by_doc = {}
    owners = {}
    for d in docs:
        w = d["text"].split(" ")
        chunks = [" ".join(w[i : i + 10]) for i in range(0, len(w), 10)]
        chunks_by_doc[d["doc_id"]] = chunks
        for c in set(chunks):
            owners.setdefault(c, set()).add(d["doc_id"])
    assert len(got) == len(docs)
    saw_variation = False
    for doc_id, chunks in chunks_by_doc.items():
        kept = [c for c in chunks if len(owners[c]) == 1]
        r = got[doc_id]
        assert r["n_paras"] == len(chunks)
        assert r["n_kept"] == len(kept)
        assert r["clean_text"] == " ".join(kept)
        saw_variation = saw_variation or len(kept) < len(chunks)
    # the contract corpus contains cross-doc duplicated lines at every sf
    assert saw_variation


def test_moving_median_matches_pure_python(spark, sf_dir):
    """win_moving_median vs a pure-Python rolling median (statistics.median
    interpolates even counts identically); also pins the robustness claim:
    the median of a frame never leaves [min, max] of the frame."""
    import statistics

    from filemap_spark.io import load_table
    from filemap_spark.operators.windows import win_moving_median

    got = {r["event_id"]: r["med7"] for r in win_moving_median(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    by_user = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    checked = 0
    for rows in by_user.values():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        for i, r in enumerate(rows):
            frame = [x["value"] for x in rows[max(0, i - 6) : i + 1]]
            expect = round(statistics.median(frame), 6)
            assert abs(got[r["event_id"]] - expect) <= 1e-9, r["event_id"]
            assert min(frame) <= got[r["event_id"]] <= max(frame)
            checked += 1
    assert checked == len(ev)


def test_incremental_lsh_three_batches_partition_exact_pairs(spark, sf_dir, tmp_path):
    """Batch-count independence (round 9): ingesting the corpus in THREE
    sequential batches surfaces every true >=0.8-Jaccard pair EXACTLY
    once — each pair in the batch that completes it — and their union is
    the same exact pair set the one-shot oracle computes. The make
    property must not depend on how the feed is chunked."""
    from filemap_spark.operators.text import incremental_lsh_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    state = str(tmp_path / "lsh_state3")
    got_all: dict = {}
    for k in (0, 1, 2):
        batch = docs.where(F.col("doc_id") % 3 == k)
        pairs = incremental_lsh_ingest(spark, batch, state)
        got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
        assert not set(got) & set(got_all), "a pair surfaced twice"
        got_all.update(got)
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_near_jaccard"](spark, sf_dir).collect()
    }
    assert got_all == exact


def test_pq_ann_mechanism_is_exact_within_probed_cells(spark, sf_dir):
    """sim_ann_pq must return EXACTLY the brute-force ADC top-5 restricted
    to its probed cells — the IVF mechanism pin re-based on the
    reconstructed codeword vectors x̂: candidates and cells come from the
    same deterministic sample-trained quantizer + codebooks the operator
    broadcasts, scores are q·x̂ (ADC), ties break by nbr_id. Absolute
    recall vs full-precision brute force is a data property and only gets
    a sanity floor."""
    import numpy as np

    from filemap_spark.operators.similarity import (
        _normalized_matrix,
        _pq_reconstruct,
        _train_centroids,
        _train_pq_codebooks,
    )

    cents = _train_centroids(spark, sf_dir)
    books = _train_pq_codebooks(spark, sf_dir)
    pdf = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids, mat = _normalized_matrix(pdf)
    assign = np.argmax(mat @ cents.T, axis=1)
    n_sub, _, sub = books.shape
    codes = np.empty((len(ids), n_sub), dtype=np.int64)
    for m in range(n_sub):
        s = mat[:, m * sub : (m + 1) * sub]
        d2 = -2.0 * (s @ books[m].T) + (books[m] ** 2).sum(axis=1)[None, :]
        codes[:, m] = np.argmin(d2, axis=1)
    recon = _pq_reconstruct(books, codes)
    expected = set()
    for i, qid in enumerate(ids):
        probes = np.argsort(-(mat[i] @ cents.T), kind="stable")[:2]
        mask = np.isin(assign, probes) & (ids != qid)
        cand_ids = ids[mask]
        sims = np.round(recon[mask] @ mat[i], 6)
        order = np.lexsort((cand_ids, -sims))[:5]
        expected |= {(int(qid), int(cand_ids[j])) for j in order}
    approx = QUERIES["sim_ann_pq"](spark, sf_dir).collect()
    found = {(r["vec_id"], r["nbr_id"]) for r in approx}
    assert found == expected

    truth = {
        (r["vec_id"], r["nbr_id"])
        for r in QUERIES["sim_cosine_topk"](spark, sf_dir).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.10, f"IVF-PQ recall collapsed: {recall:.3f}"


def test_weighted_percentile_matches_python_reference(spark, sf_dir):
    """agg_weighted_percentile's two-pass bin search must equal the naive
    single-sorted-list weighted percentile (peer-inclusive, exact integer
    thresholds) computed test-side in plain Python."""
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_extendedprice", "l_quantity")
        .collect()
    )
    agg: dict[float, int] = {}
    for r in rows:
        agg[r["l_extendedprice"]] = agg.get(r["l_extendedprice"], 0) + int(
            r["l_quantity"]
        )
    total = sum(agg.values())
    expected = {}
    for pct, num, den in (("p50", 1, 2), ("p90", 9, 10)):
        cum = 0
        for v in sorted(agg):
            cum += agg[v]
            if den * cum >= num * total:
                expected[pct] = v
                break
    got = {
        r["pct"]: r["value"]
        for r in QUERIES["agg_weighted_percentile"](spark, sf_dir).collect()
    }
    assert got == expected


def test_scene_cut_matches_python_reference(spark, sf_dir):
    """mm_scene_cut_y4m's decoded SAD energies and cut flags must equal a
    no-Spark reimplementation of the same Y4M construction + frame diff
    (integer byte math, cross-multiplied threshold)."""
    docs = (
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars").collect()
    )
    expected = {}
    for r in docs:
        text, n = r["text"], int(r["n_chars"])
        w, h, nf = n % 8 + 2, (n // 3) % 6 + 2, n % 4 + 2
        need = nf * w * h * 3
        b = (text * -(-need // n))[:need].encode("ascii")
        frames = [
            b[f * w * h * 3 : f * w * h * 3 + w * h] for f in range(nf)
        ]
        for f in range(1, nf):
            d = sum(abs(a - p) for a, p in zip(frames[f], frames[f - 1]))
            expected[(r["doc_id"], f)] = (d, int(d * 10 > w * h * 300))
    got = {
        (r["asset_id"], r["frame_no"]): (r["diff_energy"], r["is_cut"])
        for r in QUERIES["mm_scene_cut_y4m"](spark, sf_dir).collect()
    }
    assert got == expected


def test_sample_shuffle_global_is_deterministic_and_correct(spark, sf_dir):
    """sample_shuffle_global's per-bucket order fingerprints must equal a
    plain-Python md5 shuffle of the same corpus (portable key, bucket by
    first nibble, order by (key, doc_id-as-string)), and re-running the
    op must reproduce them byte-for-byte."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").select("doc_id").collect()
    buckets: dict[str, list[tuple[str, str]]] = {}
    for r in docs:
        did = str(r["doc_id"])
        key = hashlib.md5(f"shuf1:{did}".encode()).hexdigest()
        buckets.setdefault(key[0], []).append((key, did))
    expected = {}
    for b, items in buckets.items():
        items.sort()
        expected[b] = (
            len(items),
            items[0][0],
            items[-1][0],
            hashlib.md5(",".join(d for _, d in items).encode()).hexdigest(),
        )
    run1 = QUERIES["sample_shuffle_global"](spark, sf_dir).collect()
    got = {
        r["bucket"]: (r["n_docs"], r["key_min"], r["key_max"], r["order_md5"])
        for r in run1
    }
    assert got == expected
    run2 = QUERIES["sample_shuffle_global"](spark, sf_dir).collect()
    assert run1 == run2


def test_label_propagation_matches_python_reference(spark, sf_dir):
    """graph_label_propagation must equal a plain-Python synchronous LPA
    over the same collected edge list: same fixed rounds, same plurality
    vote with (count DESC, label ASC) tie-break, same community rollup."""
    from collections import Counter, defaultdict

    from pyspark.sql import functions as F

    from filemap_spark.operators.relational import _LPA_ROUNDS

    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(F.col("l_partkey").alias("p"), F.col("l_orderkey").alias("o")).distinct()
    orders = defaultdict(list)
    for r in po.collect():
        orders[r["o"]].append(r["p"])
    pair_counts: Counter = Counter()
    for basket in orders.values():
        basket = sorted(basket)
        for i in range(len(basket)):
            for j in range(i + 1, len(basket)):
                pair_counts[(basket[i], basket[j])] += 1
    nbrs = defaultdict(list)
    for (pa, pb), n in pair_counts.items():
        if n >= 2:
            nbrs[pa].append(pb)
            nbrs[pb].append(pa)
    labels = {n: n for n in nbrs}
    for _ in range(_LPA_ROUNDS):
        new = {}
        for n, ns in nbrs.items():
            votes = Counter(labels[m] for m in ns)
            new[n] = min(
                votes, key=lambda lbl: (-votes[lbl], lbl)
            )
        labels = new
    expected: dict[int, list[int]] = defaultdict(list)
    for n, lbl in labels.items():
        expected[lbl].append(n)
    exp_rows = {
        lbl: (len(members), min(members)) for lbl, members in expected.items()
    }
    got = {
        r["community"]: (r["n_members"], r["rep_part"])
        for r in QUERIES["graph_label_propagation"](spark, sf_dir).collect()
    }
    assert got == exp_rows


def test_lpa_broadcast_fallback_is_label_identical(spark):
    """r18 (VERDICT r17 task 6 / ADVICE r17): past the broadcast cap the
    LPA loop drops the hint and degrades to the planner's shuffle join —
    that fallback must be LABEL-IDENTICAL, not merely similar. Runs the
    shared fixpoint both ways over a graph with plurality ties and a
    weak bridge (the shapes where a subtly different join could diverge)
    and compares exact label maps."""
    from pyspark.sql import functions as F

    from filemap_spark.operators.relational import _lpa_fixpoint

    # two triangles joined by one bridge edge + a pendant node
    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4), (6, 7)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], "src long, dst long"
    ).localCheckpoint()
    labels0 = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    with_hint = {
        (r["node"], r["label"])
        for r in _lpa_fixpoint(edges, labels0, 5, broadcast_hint=True).collect()
    }
    without = {
        (r["node"], r["label"])
        for r in _lpa_fixpoint(edges, labels0, 5, broadcast_hint=False).collect()
    }
    assert with_hint == without
    assert len(with_hint) == 7


def test_matryoshka_eval_is_monotone_with_exact_truth_row(spark, sf_dir):
    """emb_matryoshka_eval sanity beyond the oracle: the full-width row is
    recall 1 by identity, hit counts are monotone non-decreasing in the
    prefix width, and every width shares the one truth denominator."""
    rows = QUERIES["emb_matryoshka_eval"](spark, sf_dir).collect()
    assert [r["prefix_dim"] for r in rows] == [8, 16, 32, 64]
    truths = {r["n_truth"] for r in rows}
    assert len(truths) == 1
    hits = [r["n_hits"] for r in rows]
    assert hits == sorted(hits)
    assert rows[-1]["n_hits"] == rows[-1]["n_truth"]
    assert rows[-1]["recall_at_5"] == 1.0


def test_quality_classifier_learns_past_majority_class(spark, sf_dir):
    """The NB tier must actually LEARN from its noisy Gopher bootstrap:
    agreement with the training labels must beat the best constant
    predictor (majority class) — the minimum bar for 'learned
    classifier' rather than 'prior with extra steps' — and clear an
    absolute floor (measured ~0.66 at every SF vs ~0.56 majority).
    Scores must be reproducible run to run (closed-form training, no
    RNG anywhere)."""
    from pyspark.sql import functions as SF

    from filemap_spark.operators.text import text_quality_classifier

    out = text_quality_classifier(spark, sf_dir)
    row = out.agg(
        SF.avg("agree").alias("agree"),
        SF.avg((SF.col("gopher_verdict") == "keep").cast("int")).alias("keep"),
        SF.count(SF.lit(1)).alias("n"),
    ).collect()[0]
    majority = max(row["keep"], 1.0 - row["keep"])
    assert row["n"] > 0
    assert row["agree"] >= 0.60, f"agreement collapsed: {row['agree']:.3f}"
    assert row["agree"] > majority, (
        f"NB ({row['agree']:.3f}) no better than the constant "
        f"majority-class predictor ({majority:.3f})"
    )
    again = text_quality_classifier(spark, sf_dir).collect()
    assert again == out.collect()


def test_holdout_eval_confusion_matrix_is_consistent(spark, sf_dir):
    """The held-out NB eval must (a) partition the odd-doc_id half
    exactly (tp+fp+fn+tn == n_eval == the odd-doc count), (b) stay
    above chance out of sample — accuracy must beat the constant
    majority-class predictor ON THE EVAL SPLIT (the generalization bar
    the in-sample agreement column cannot certify), and (c) be
    deterministic run to run."""
    from pyspark.sql import functions as SF

    from filemap_spark.operators.text import text_classifier_holdout_eval

    row = text_classifier_holdout_eval(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    n_odd = docs.where(SF.col("doc_id") % 2 == 1).count()
    assert row["n_eval"] == n_odd
    assert row["tp"] + row["fp"] + row["fn"] + row["tn"] == row["n_eval"]
    keep_rate = (row["tp"] + row["fn"]) / row["n_eval"]
    majority = max(keep_rate, 1.0 - keep_rate)
    assert row["accuracy"] > majority - 1e-9, (
        f"out-of-sample accuracy {row['accuracy']:.3f} does not beat the "
        f"majority-class predictor {majority:.3f}"
    )
    again = text_classifier_holdout_eval(spark, sf_dir).collect()[0]
    assert again == row


def test_periodogram_recovers_an_injected_cycle(spark, tmp_path):
    """ts_periodogram on a synthetic corpus with a PURE 7-day cycle must
    rank period 7 far above the off-periods — the end-to-end signal
    check the oracle (which only confirms engine agreement) cannot
    provide. A constant series must score ~0 at every period (its DFT
    mass is all at frequency 0)."""
    import math

    from filemap_spark.operators.aggregates import ts_periodogram

    rows = []
    base = 1_700_000_000_000_000  # µs epoch, day-aligned enough
    for day in range(56):
        ts = (base // 86_400_000_000 + day) * 86_400_000_000
        # weekly: counts 1..going strong every 7th day
        n_weekly = 20 if day % 7 == 0 else 1
        for i in range(n_weekly):
            rows.append(("weekly", ts + i))
        for i in range(5):  # constant series: 5/day, no cycle
            rows.append(("flat", ts + i))
    df = spark.createDataFrame(rows, "event_type string, us long").select(
        "event_type",
        __import__("pyspark.sql.functions", fromlist=["timestamp_micros"])
        .timestamp_micros("us")
        .alias("ts"),
    )
    src = tmp_path / "pgram"
    src.mkdir()
    df.write.parquet(str(src / "events.parquet"))

    out = {
        (r["event_type"], r["period"]): r["amp_share"]
        for r in ts_periodogram(spark, str(src)).collect()
    }
    assert len(out) == 8  # 2 types x 4 periods
    # the injected cycle dominates its off-periods by a wide margin
    assert out[("weekly", 7)] > 3 * max(
        out[("weekly", 2)], out[("weekly", 3)], out[("weekly", 14)]
    )
    # constant series: projections cancel (~0 at every probed period)
    for p in (2, 3, 7, 14):
        assert out[("flat", p)] < 0.02, (p, out[("flat", p)])
    # normalized amplitude bound: sqrt(C^2+S^2) <= sqrt(2) * total mass
    for v in out.values():
        assert 0.0 <= v <= math.sqrt(2) + 1e-9


def test_incremental_nb_equals_full_retrain_row_for_row(spark, sf_dir, monkeypatch):
    """`text_quality_incremental`'s graded claim, pinned cross-op: the
    base-artifact + delta-merge path must reproduce the full-retrain
    classifier's (doc_id, n_tokens, nb_score, nb_verdict) EXACTLY — the
    count merge is integer arithmetic, so this is equality, not
    tolerance. Run against a fresh warehouse so the base build actually
    executes (hit-path identity is pinned in tests/test_memo.py)."""
    import tempfile

    from pyspark.sql import functions as SF

    from filemap_spark.operators.text import (
        text_quality_classifier,
        text_quality_incremental,
    )
    from filemap_spark.testing import canonical_rows

    monkeypatch.setenv(
        "FILEMAP_WAREHOUSE", tempfile.mkdtemp(prefix="nb_inc_wh_")
    )
    inc = text_quality_incremental(spark, sf_dir).select(
        "doc_id", "n_tokens", "nb_score", "nb_verdict"
    )
    full = text_quality_classifier(spark, sf_dir).select(
        "doc_id", "n_tokens", "nb_score", "nb_verdict"
    )
    assert canonical_rows(inc.toPandas()) == canonical_rows(full.toPandas())
    # the phase split actually partitions the corpus
    phases = {
        r["ingest_phase"]: r["n"]
        for r in text_quality_incremental(spark, sf_dir)
        .groupBy("ingest_phase")
        .agg(SF.count(SF.lit(1)).alias("n"))
        .collect()
    }
    assert set(phases) == {"base", "delta"}
    assert phases["base"] > phases["delta"] > 0


def test_dsir_importance_separates_target_from_raw(spark, sf_dir):
    """DSIR mechanism: the importance weight is log(p_target/p_raw) with
    target = the Gopher-keep slice, so keep docs must average a strictly
    higher log_importance than drop docs (they ARE the target sample);
    featureless docs (<2 words) appear with exactly 0.0 / n_feats 0, and
    every doc appears exactly once. Deterministic run to run (closed-form
    counts, no RNG)."""
    from pyspark.sql import functions as SF

    from filemap_spark.io import load_table
    from filemap_spark.operators.text import (
        _gopher_columns,
        text_dsir_importance,
    )

    out = text_dsir_importance(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", _gopher_columns()["verdict"].alias("verdict")
    )
    n_docs = docs.count()
    assert out.count() == n_docs, "one row per document, none dropped"

    means = {
        r["verdict"]: r["m"]
        for r in out.join(docs, "doc_id")
        .groupBy("verdict")
        .agg(SF.avg("log_importance").alias("m"))
        .collect()
    }
    if "keep" in means and "drop" in means:
        assert means["keep"] > means["drop"], (
            f"target slice does not score higher: {means}"
        )
    few = out.where(SF.col("n_feats") == 0).collect()
    for r in few:
        assert r["log_importance"] == 0.0 and r["dsir_keep"] == 0
    assert out.collect() == text_dsir_importance(spark, sf_dir).collect()


def test_dsir_resample_is_gumbel_topk_of_importance(spark, sf_dir):
    """DSIR resampling mechanism (round 17): the kept set must be EXACTLY
    the top-k of (importance-weight q-units + md5-Gumbel q-units) with
    doc_id tiebreak, recomputed here in pure Python from the importance
    op's own weights — the Gumbel-top-k identity made deterministic. Also
    pins k, the exact 1e-4 descale of sample_key, and rerun identity."""
    import hashlib
    import math

    from filemap_spark.operators.text import (
        _DSIR_RESAMPLE_K,
        _DSIR_RESAMPLE_SALT,
        text_dsir_importance,
        text_dsir_resample,
    )

    imp = text_dsir_importance(spark, sf_dir).collect()

    def half_away(v: float) -> int:
        return math.floor(v + 0.5) if v >= 0 else -math.floor(-v + 0.5)

    keyed = []
    for r in imp:
        s = half_away(r["log_importance"] * 10000)  # exact int recovery
        h = int(
            hashlib.md5(
                f"{_DSIR_RESAMPLE_SALT}{r['doc_id']}".encode()
            ).hexdigest()[:8],
            16,
        )
        u = (h + 1) / 4294967297.0
        g_q = half_away(-math.log(-math.log(u)) * 10000)
        keyed.append((s + g_q, r["doc_id"], r["n_feats"]))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    want = keyed[:_DSIR_RESAMPLE_K]

    out = text_dsir_resample(spark, sf_dir).collect()
    assert len(out) == min(_DSIR_RESAMPLE_K, len(imp))
    assert [r["doc_id"] for r in out] == [d for _, d, _ in want]
    for r, (k, _d, nf) in zip(out, want):
        assert r["n_feats"] == nf
        assert r["sample_key"] == float(k) / 10000
    # the selection is weight-biased, not uniform: kept docs average a
    # strictly higher log weight than the full corpus when any spread
    # exists (guards against the key accidentally ignoring s)
    kept_mean = sum(
        r["log_importance"] for r in out
    ) / len(out)
    all_mean = sum(r["log_importance"] for r in imp) / len(imp)
    if len(imp) > _DSIR_RESAMPLE_K and any(
        r["log_importance"] != imp[0]["log_importance"] for r in imp
    ):
        assert kept_mean > all_mean
    assert out == text_dsir_resample(spark, sf_dir).collect()


def test_exact_substring_spans_match_pure_python_reference(spark, tmp_path):
    """dedup_exact_substring mechanism (round 17): on a constructed corpus
    with a 60-token cross-doc shared run, a within-doc 50-token repeat,
    a 49-token near-miss, and an adjacency-merge case, the op's maximal
    spans must equal an independent pure-Python ExactSubstr reference
    (duplicated fixed-L windows → interval union), including the
    window-count column."""
    from filemap_spark.operators.text import (
        _SUBSTR_SPAN_TOKENS as L,
        dedup_exact_substring,
    )

    def w(tag, a, b):  # unique-vocabulary token run [a, b)
        return [f"{tag}{i}" for i in range(a, b)]

    shared60 = w("s", 0, 60)
    shared49 = w("t", 0, L - 1)
    rep50 = w("r", 0, L)
    docs = {
        # doc 1: unique prefix 20 + shared60 + unique tail 20
        1: w("a", 0, 20) + shared60 + w("a", 20, 40),
        # doc 2: the same 60-token run at a different offset
        2: w("b", 0, 5) + shared60 + w("b", 5, 60),
        # doc 3/4: a 49-token shared run — below threshold, no output
        3: w("c", 0, 30) + shared49 + w("c", 30, 60),
        4: w("d", 0, 10) + shared49 + w("d", 10, 70),
        # doc 5: within-doc repeat of a 50-token run, far apart → two spans
        5: rep50 + w("e", 0, 60) + rep50,
        # doc 6: the run again (cross-doc too) with copies L apart → the
        # duplicated windows sit ≤ L apart and the spans MERGE
        6: rep50 + w("f", 0, 0) + rep50,
    }
    rows = [(i, " ".join(t)) for i, t in docs.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' as lang", "'src0' as source",
        "cast(length(text) as long) as n_chars",
    )
    src = tmp_path / "substr"
    src.mkdir()
    df.write.parquet(str(src / "documents.parquet"))

    # pure-Python ExactSubstr reference
    from collections import Counter, defaultdict

    counts = Counter()
    wins = defaultdict(list)
    for i, toks in docs.items():
        for p in range(len(toks) - L + 1):
            span = " ".join(toks[p : p + L])
            counts[span] += 1
            wins[i].append((p + 1, span))  # 1-indexed
    want = []
    for i in sorted(docs):
        dup_pos = [p for p, s in wins[i] if counts[s] > 1]
        run: list[int] = []
        for p in dup_pos:
            if run and p - run[-1] <= L:
                run.append(p)
            else:
                if run:
                    want.append(
                        (i, run[0], run[-1] + L - 1,
                         run[-1] + L - run[0], len(run))
                    )
                run = [p]
        if run:
            want.append(
                (i, run[0], run[-1] + L - 1, run[-1] + L - run[0], len(run))
            )

    got = [
        (r["doc_id"], r["span_start"], r["span_end"],
         r["n_span_tokens"], r["n_dup_windows"])
        for r in dedup_exact_substring(spark, str(src)).collect()
    ]
    assert got == want
    # structure sanity on the constructed cases: docs 3/4 absent (49 <
    # L), doc 5 has TWO spans of exactly L, docs 1/2 one 60-token span
    by_doc = defaultdict(list)
    for row in got:
        by_doc[row[0]].append(row)
    assert 3 not in by_doc and 4 not in by_doc
    assert [r[3] for r in by_doc[1]] == [60]
    assert [r[3] for r in by_doc[2]] == [60]
    assert [r[3] for r in by_doc[5]] == [L, L]
    assert len(by_doc[6]) == 1  # merged: copies exactly L apart


def test_kneser_ney_matches_python_reference(spark, sf_dir):
    """`text_kneser_ney_logprob` vs an independently-coded interpolated-KN
    model (collections.Counter + math.log, no Spark/DuckDB): same d=3/4
    discount, same 1e4 quantization, same exact-int mean tie rule. The
    oracle only proves engine agreement; this pins the MODEL — counts,
    continuation marginals, and the discount algebra."""
    import math
    from collections import Counter

    from filemap_spark.operators.text import text_kneser_ney_logprob

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    c12: Counter = Counter()
    for ws in docs.values():
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] += 1
    c1: Counter = Counter()
    n1fw: Counter = Counter()
    n1bw: Counter = Counter()
    for (a, b), c in c12.items():
        c1[a] += c
        n1fw[a] += 1
        n1bw[b] += 1
    ncc = len(c12)

    def mean_6dp(qsum: int, n: int) -> float:
        # davg_lnsafe's exact-integer mean: 1e4 q-units -> µ-units,
        # truncating quotient + half-away-from-zero tie, descale once
        s = 100 * qsum
        sign = -1 if s < 0 else 1
        t, rem = divmod(abs(s), n)
        if 2 * rem >= n:
            t += 1
        return sign * t / 1_000_000

    expect = {}
    for d, ws in docs.items():
        qsum = 0
        n = 0
        for a, b in zip(ws, ws[1:]):
            # engine spelling: cast-to-double FIRST, then IEEE products
            num = float(4 * c12[(a, b)] - 3) * float(ncc) + float(
                3 * n1fw[a]
            ) * float(n1bw[b])
            den = float(4 * c1[a]) * float(ncc)
            qsum += round((math.log(den) - math.log(num)) * 10000)
            n += 1
        if n:
            expect[d] = (n, mean_6dp(qsum, n))

    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_neg_logp"])
        for r in text_kneser_ney_logprob(spark, sf_dir).collect()
    }
    assert set(got) == set(expect)
    for d, (n, m) in expect.items():
        assert got[d][0] == n
        # Python round() is half-even vs the engines' half-away — ties on
        # ln outputs are measure-zero, but allow one q-unit of slack
        assert abs(got[d][1] - m) <= 2e-4, (d, got[d], m)
        assert got[d][1] > 0.0


def test_contamination_matches_bruteforce(spark, sf_dir):
    """`text_contamination_ngram` vs a brute-force Python 13-gram set
    intersection on the same corpus: exact row parity on every column,
    including the exact-integer 6dp fraction."""
    from filemap_spark.operators.text import (
        _CONTAM_N,
        text_contamination_ngram,
    )

    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
    }

    def grams(ws):
        n = _CONTAM_N
        return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

    ev = set()
    for d, ws in docs.items():
        if d % 10 == 7:
            ev.update(grams(ws))
    expect = {}
    for d, ws in docs.items():
        if d % 10 == 7:
            continue
        gs = grams(ws)
        hits = [g for g in gs if g in ev]
        if hits:
            frac_u, rem = divmod(len(set(hits)) * 1_000_000, len(gs))
            if 2 * rem >= len(gs):
                frac_u += 1
            expect[d] = (len(gs), len(set(hits)), len(hits), frac_u / 1e6)

    rows = text_contamination_ngram(spark, sf_dir).collect()
    got = {
        r["doc_id"]: (
            r["n_ngrams"],
            r["n_hit_ngrams"],
            r["n_hit_occurrences"],
            r["contamination_frac"],
        )
        for r in rows
    }
    assert got == expect
    assert len(got) > 0  # the fixture plants real near-dup collisions


def test_cusum_finds_an_injected_mean_shift(spark, tmp_path):
    """`ts_cusum_changepoint` on a synthetic series with a KNOWN level
    break must put the changepoint exactly at the last low-regime day
    with the textbook statistic value; a constant series must report a
    zero statistic with the tie broken to the earliest day and direction
    'flat'. End-to-end signal check the parity oracle cannot provide."""
    from filemap_spark.operators.aggregates import ts_cusum_changepoint

    base_day = 1_700_000_000_000_000 // 86_400_000_000
    rows = []
    for day in range(30):
        ts = (base_day + day) * 86_400_000_000
        for i in range(5 if day < 15 else 15):  # 5/day then 15/day
            rows.append(("shift", ts + i))
        for i in range(7):  # constant 7/day
            rows.append(("flat", ts + i))
    df = spark.createDataFrame(rows, "event_type string, us long").select(
        "event_type", F.timestamp_micros("us").alias("ts")
    )
    src = tmp_path / "cusum"
    src.mkdir()
    df.write.parquet(str(src / "events.parquet"))

    out = {r["event_type"]: r for r in ts_cusum_changepoint(spark, str(src)).collect()}
    assert set(out) == {"shift", "flat"}
    s = out["shift"]
    # mean = 10/day; S_t = -5t for t<=15, so |S| peaks at t=15 (day 14),
    # carried x n=30: 30*75 = 2250
    assert s["n_days"] == 30
    assert s["cp_didx"] == base_day + 14
    assert s["cusum_max_xn"] == 30 * 75
    assert s["direction"] == "up"
    assert s["mean_before"] == 5.0 and s["mean_after"] == 15.0
    f = out["flat"]
    assert f["cusum_max_xn"] == 0
    assert f["cp_didx"] == base_day  # all-tie -> earliest day
    assert f["direction"] == "flat"
    assert f["mean_before"] == 7.0 and f["mean_after"] == 7.0


def test_incremental_contamination_equals_batch_and_builds_once(
    spark, sf_dir, monkeypatch
):
    """`text_contamination_incremental`'s graded claim, pinned cross-op:
    base-artifact + delta-probe must reproduce `text_contamination_ngram`
    row for row (per-doc independence makes this equality), the phase
    tag must follow doc_id % 10, and re-running on an unchanged corpus
    must NOT rebuild the eval-index/base-report artifacts (filemap's
    make edge, the _NB_INGEST_RUNS pattern). A cold warehouse counts +2
    on _CONTAM_BASE_RUNS — one eval-index build, one base-report build
    (ADVICE r16: each builder increments, so a warehouse holding the
    eval index but not the base report still shows the base rebuild)."""
    import tempfile

    import filemap_spark.operators.text as text_ops
    from filemap_spark.testing import canonical_rows

    monkeypatch.setenv(
        "FILEMAP_WAREHOUSE", tempfile.mkdtemp(prefix="contam_inc_wh_")
    )
    before = text_ops._CONTAM_BASE_RUNS
    inc = text_ops.text_contamination_incremental(spark, sf_dir)
    inc_pd = inc.toPandas()
    assert text_ops._CONTAM_BASE_RUNS == before + 2  # eval + base, once each
    rerun = text_ops.text_contamination_incremental(spark, sf_dir).toPandas()
    assert text_ops._CONTAM_BASE_RUNS == before + 2  # ...and only once
    assert canonical_rows(rerun) == canonical_rows(inc_pd)

    batch = text_ops.text_contamination_ngram(spark, sf_dir).toPandas()
    assert canonical_rows(inc_pd.drop(columns=["ingest_phase"])) == (
        canonical_rows(batch)
    )
    for _, r in inc_pd.iterrows():
        want = "delta" if r["doc_id"] % 10 == 0 else "base"
        assert r["ingest_phase"] == want
        assert r["doc_id"] % 10 != 7  # eval docs never appear


def test_mad_anomaly_flags_injected_outlier(spark, tmp_path):
    """`ts_mad_anomaly` on a synthetic series with one planted spike must
    flag exactly that day with the exact median/MAD values; a constant
    series must flag nothing (m2 = 0 and D = 0: the rule is strict).
    End-to-end signal check the parity oracle cannot provide."""
    from filemap_spark.operators.aggregates import ts_mad_anomaly

    base_day = 1_700_000_000_000_000 // 86_400_000_000
    rows = []
    for day in range(30):
        ts = (base_day + day) * 86_400_000_000
        # noisy: alternating 9/11 with a single 50-count spike replacing
        # the day-20 "9" -> sorted counts are 9 x14, 11 x15, 50, so both
        # middles are 11 (med2 22); D = |2n-22| is 0 x15, 4 x14, 78, so
        # both D-middles straddle 0/4 (m2 4, MAD 1); only the spike
        # passes 2*D > 3*m2
        n_noisy = 50 if day == 20 else (9 if day % 2 == 0 else 11)
        for i in range(n_noisy):
            rows.append(("noisy", ts + i))
        for i in range(7):  # constant 7/day: never flags
            rows.append(("flat", ts + i))
    df = spark.createDataFrame(rows, "event_type string, us long").select(
        "event_type", F.timestamp_micros("us").alias("ts")
    )
    src = tmp_path / "mad"
    src.mkdir()
    df.write.parquet(str(src / "events.parquet"))

    out = ts_mad_anomaly(spark, str(src)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["event_type"] == "noisy"
    assert r["didx"] == base_day + 20
    assert r["n"] == 50
    assert r["med"] == 11.0
    assert r["mad"] == 1.0
    assert r["direction"] == "high"


def test_mad_anomaly_odd_span_median_matches_statistics_median(spark, tmp_path):
    """ADVICE r16 (high) regression: on an ODD-length day span the two
    positional median ranks (nd+1)//2 and nd//2+1 name the SAME middle
    row, and the original single OR-predicate CASE counted it once —
    halving med2/m2 and centering the flag rule on med/2. Pin med/mad on
    a 31-day series against Python statistics.median of the exact same
    counts (the even-span case is covered by the 30-day test above)."""
    import statistics

    from filemap_spark.operators.aggregates import ts_mad_anomaly

    base_day = 1_700_000_000_000_000 // 86_400_000_000
    counts = [60 if d == 20 else (9 if d % 2 == 0 else 11) for d in range(31)]
    rows = []
    for day, n in enumerate(counts):
        ts = (base_day + day) * 86_400_000_000
        rows.extend(("odd", ts + i) for i in range(n))
    df = spark.createDataFrame(rows, "event_type string, us long").select(
        "event_type", F.timestamp_micros("us").alias("ts")
    )
    src = tmp_path / "mad_odd"
    src.mkdir()
    df.write.parquet(str(src / "events.parquet"))

    med = statistics.median(counts)  # 11 (16th of 31 sorted: 9x15,11x15,60)
    mad = statistics.median([abs(n - med) for n in counts])  # 2
    out = ts_mad_anomaly(spark, str(src)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["didx"] == base_day + 20
    assert r["n"] == 60
    assert r["med"] == float(med) == 11.0
    assert r["mad"] == float(mad) == 2.0
    assert r["direction"] == "high"
