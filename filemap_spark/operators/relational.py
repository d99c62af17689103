"""Subqueries, deterministic sampling, and iterative graph dedup.

Subqueries are declared in their Spark-idiomatic *decorrelated* form (a
broadcast join against a tiny aggregate) while the oracle keeps the classic
correlated-SQL spelling — proving the two are equivalent is exactly the
rewrite Catalyst's subquery decorrelation performs (SURVEY §4.2).

Sampling ops are the training-pipeline primitives: stratified systematic
sampling (every k-th record per key — one window, scale-safe) and
content-hash Bernoulli sampling (md5-based, so the sample is stable across
engines, reruns, and cluster sizes — the property a reproducible data
pipeline needs; seeds of `df.sample` are partitioning-dependent).

Connected components turns near-dup *pairs* into dedup *clusters* — the
step after any LSH/Jaccard pass. Spark side: min-label propagation to a
fixpoint (O(graph diameter) joins; the 100 TB upgrade is the
large-star/small-star algorithm which converges in O(log n) rounds and
keeps every intermediate keyed by node). Oracle: DuckDB recursive CTE
transitive closure — small graphs only, which the contract corpus is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from filemap_spark.functions.numeric import mean_micro_6dp
from filemap_spark.io import EVENTS_NORM_SQL, load_table
from filemap_spark.operators.text import (
    JACCARD_PAIR_CTES,
    SHINGLE_CTE,
    _shingle_frame,
    dedup_near_jaccard,
)
from filemap_spark.registry import query


@query(
    "subq_scalar",
    oracle="""
    SELECT p_partkey, p_name, round(cast(p_retailprice AS double), 6) AS price
    FROM part
    WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
    ORDER BY p_partkey
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: parts priced above the global average.

    Spark form: the 1-row aggregate is cross-joined with an explicit
    broadcast — the same plan Catalyst builds for an uncorrelated scalar
    subquery (one tiny job, then a pushed-down filter)."""
    part = load_table(spark, sf_dir, "part")
    bar = part.agg(F.avg("p_retailprice").alias("bar"))
    return (
        part.crossJoin(F.broadcast(bar))
        .where(F.col("p_retailprice") > F.col("bar"))
        .select(
            "p_partkey",
            "p_name",
            F.round(F.col("p_retailprice").cast("double"), 6).alias("price"),
        )
        .orderBy("p_partkey")
    )


@query(
    "subq_correlated",
    oracle="""
    SELECT c_custkey, c_nationkey, round(cast(c_acctbal AS double), 6) AS acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey
    """,
)
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated aggregate subquery: customers above their nation's average
    balance — declared hand-decorrelated (per-nation aggregate, broadcast
    equi-join back), the shape the optimizer rewrites the correlated SQL
    into. One shuffle for the small aggregate, zero for the fact side."""
    cust = load_table(spark, sf_dir, "customer")
    nation_avg = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.avg("c_acctbal").alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(nation_avg), cust.c_nationkey == nation_avg.nk)
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(F.col("c_acctbal").cast("double"), 6).alias("acctbal"),
        )
        .orderBy("c_custkey")
    )


@query(
    "sample_stratified",
    oracle=EVENTS_NORM_SQL
    + """
    SELECT user_id, event_id, epoch_us(ts) AS ts_us
    FROM events
    QUALIFY (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) % 5 = 0
    ORDER BY user_id, ts_us, event_id
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified systematic sample: every 5th event per user in time order
    (keeps each user's 1st, 6th, 11th, ...). One window shuffle on the
    stratum key; per-stratum output is guaranteed non-empty, the property
    uniform row sampling lacks."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") - 1) % 5 == 0)
        .select("user_id", "event_id", "ts_us")
        .orderBy("user_id", "ts_us", "event_id")
    )


@query(
    "sample_content_hash",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 5 = 0
    ORDER BY doc_id
    """,
)
def sample_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% Bernoulli sample keyed by md5(doc_id) — identical
    membership on any engine, any partitioning, any rerun (md5 is the
    portable hash; Spark's xxhash64/rand are not). This is how a
    reproducible training pipeline carves held-out splits."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
    return (
        docs.where(bucket.cast("long") % 5 == 0)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@query(
    "sample_domain_mix",
    cost=0.5,
    oracle="""
    WITH c AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang),
    m AS (SELECT min(lang_n) AS min_n FROM c)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN c USING (lang) CROSS JOIN m
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            * c.lang_n < m.min_n * 4294967296
    ORDER BY d.doc_id
    """,
)
def sample_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing: downsample every language domain to ~the size
    of the smallest one, the way a pretraining mixture rebalances
    over-represented domains (the contract corpus is ~43% `en`; `source` is
    uniform by construction, so `lang` is the imbalanced dimension here).
    Membership is decided by md5(doc_id) against a per-domain keep-rate
    (min_count/count), so the sample is engine-, partitioning-, and
    rerun-stable — rerunning after ingest only ADDS docs, it never flips
    prior members (the property weighted `df.sample` lacks).

    The keep test is pure integer math (`hash32 * lang_n < min_n * 2^32`) —
    no FP division to diverge between engines. Scale: per-domain counts are
    a tiny broadcast dim (domains ≪ docs); the fact table is filtered in one
    pushdown-friendly scan, no shuffle of the corpus at all. At corpus sizes
    past ~2^31 docs per domain, widen the product to DECIMAL or drop to a
    16-bit hash to keep `hash32 * lang_n` inside int64."""
    docs = load_table(spark, sf_dir, "documents")
    cnts = docs.groupBy("lang").agg(F.count("*").alias("lang_n"))
    min_n = cnts.agg(F.min("lang_n").alias("min_n"))
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        docs.join(F.broadcast(cnts), "lang")
        .crossJoin(F.broadcast(min_n))
        .where(h32 * F.col("lang_n") < F.col("min_n") * F.lit(4294967296))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "sample_temperature_mix",
    cost=0.5,
    oracle="""
    WITH c AS (SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang),
    m AS (SELECT min(lang_n) AS min_n FROM c)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN c USING (lang) CROSS JOIN m
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
            * CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
            * c.lang_n < m.min_n * 4294967296
    ORDER BY d.doc_id
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain rebalancing (round 5) — the multilingual-
    pretraining mixing rule (mC4/mT5-style p_i ∝ n_i^alpha with
    alpha = 0.5): instead of flattening every domain to the smallest
    (sample_domain_mix), each domain keeps rate (min_n / n_i)^0.5, so
    high-resource domains are damped but still contribute more absolute
    docs than low-resource ones — the head keeps its scale advantage at
    half strength.

    The sqrt never touches floating point: with a 16-bit doc hash h,
    `h/2^16 < sqrt(min_n/n_i)`  ⇔  `h² · n_i < min_n · 2^32`, and the
    squared form is exact int64 arithmetic on both engines (h² ≤ 2^32,
    ×n_i stays under 2^63 up to ~2 billion docs/domain). Membership is
    md5(doc_id)-keyed, so the mix is engine-, partitioning-, and
    rerun-stable: re-ingest only ADDS docs, never flips prior members.

    Scale: per-domain counts are a tiny broadcast dim; the corpus is
    filtered in one pushdown-friendly scan — no shuffle of the fact at
    all. tests/test_quality.py pins the realized per-domain rates against
    the closed-form (min_n/n_i)^0.5."""
    docs = load_table(spark, sf_dir, "documents")
    cnts = docs.groupBy("lang").agg(F.count("*").alias("lang_n"))
    min_n = cnts.agg(F.min("lang_n").alias("min_n"))
    h16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("long")
    return (
        docs.join(F.broadcast(cnts), "lang")
        .crossJoin(F.broadcast(min_n))
        .where(h16 * h16 * F.col("lang_n") < F.col("min_n") * F.lit(4294967296))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def alternating_star_components(edges: DataFrame) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    O(log n) rounds vs O(diameter) for plain min-label propagation, and
    every intermediate stays keyed by node (no driver state).

    `edges`: DataFrame[u, v] of undirected edges, u != v. Returns
    DataFrame[node, component] for every node INCIDENT TO AN EDGE — callers
    left-join back onto the full entity table so isolated nodes label
    themselves. Operating on edge-incident nodes only is the scale-critical
    choice: near-dup graphs have |edges| ≪ |docs|, so iterating over the
    full doc set (as plain label propagation does) pays per-round cost on
    data that never changes.

    Each round is two groupBy/join pairs on the edge list; convergence is
    detected by an (edge-count, xor-of-pair-hashes) checksum — one tiny agg
    per round, never a collect of the labels."""
    e = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_sig: tuple | None = None
    converged = False
    for _ in range(12):  # 2^12 nodes per component ≫ any near-dup cluster
        # large-star: every node u links its LARGER neighbors to
        # m = min(Γ(u) ∪ {u}).
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        e = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: every node u links its smaller-or-equal neighbors
        # (and itself) to the min of that set.
        directed = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins2 = directed.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            directed.join(mins2, "u")
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .union(mins2.select(F.col("m").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig_row = e.agg(
            F.count("*").alias("n"),
            # bit_xor, not sum: xor of distinct-pair hashes cannot overflow
            # (int64 sum would, and throws under ANSI mode)
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # fail loudly: returning the non-star edge list as labels would be
        # silently-wrong components
        raise RuntimeError(
            "alternating_star_components: no fixed point after 12 rounds "
            "(component deeper than 2^12 nodes?)"
        )
    # converged: e is a star per component — (component_min, member) edges
    return e.select(F.col("v").alias("node"), F.col("u").alias("component")).union(
        e.select(F.col("u").alias("node"), F.col("u").alias("component"))
    ).distinct()


def merge_component_labels(labels: DataFrame, delta_pairs: DataFrame) -> DataFrame:
    """Delta connected components: fold a batch of NEW duplicate pairs into
    an existing (doc_id, component) labeling without re-running CC on the
    whole graph — the companion to text.incremental_lsh_ingest, completing
    the incremental dedup path (new docs → delta pairs → delta CC → updated
    survivors).

    Only AFFECTED components recompute: the components touched by a delta
    endpoint are identified with one semi-join, their label edges
    (component → member, already star-shaped) union the delta pairs, and
    alternating_star_components contracts that subgraph — converging in
    very few rounds since the old part is pre-contracted. Untouched rows
    pass through with an anti-join. Cost scales with the size of the merged
    components, not the corpus: at 100 TB a batch touching k docs reads the
    label table via two hash joins and contracts a graph of
    O(k · avg-component) edges.

    Delta docs not present in `labels` (brand-new arrivals) label
    themselves through the star contraction directly. Equality with a full
    recompute over (old ∪ delta) pairs is pinned in tests/test_kernels.py."""
    pairs = delta_pairs.select(
        F.least("doc_a", "doc_b").alias("u"), F.greatest("doc_a", "doc_b").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    endpoints = (
        pairs.select(F.col("u").alias("doc_id"))
        .union(pairs.select(F.col("v").alias("doc_id")))
        .distinct()
    )
    # components containing any delta endpoint (new docs have no label row)
    touched = (
        labels.join(endpoints, "doc_id")
        .select("component")
        .distinct()
    )
    affected = labels.join(touched, "component")  # all members, not just endpoints
    # old star edges (component → member) carry the prior connectivity
    old_edges = affected.where(F.col("doc_id") != F.col("component")).select(
        F.col("component").alias("u"), F.col("doc_id").alias("v")
    )
    merged = alternating_star_components(old_edges.union(pairs))
    updated = (
        affected.select("doc_id")
        .union(endpoints)
        .distinct()
        .join(merged, F.col("doc_id") == merged.node, "left")
        .select(
            "doc_id", F.coalesce("component", "doc_id").alias("component")
        )
    )
    untouched = labels.join(
        updated.select(F.col("doc_id").alias("d")),
        labels.doc_id == F.col("d"),
        "left_anti",
    )
    return untouched.unionByName(updated)


def _jaccard_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every doc's connected-component label over the shingle-Jaccard
    pair graph (`dedup_near_jaccard` pairs through
    `alternating_star_components`; a doc in no pair is its own component),
    checkpointed locally, so the ops that read it plan over the labels,
    not over the pair generation and the star rounds. Each call computes
    the labels anew: nothing is shared between ops, and the checkpoint
    lives until the caller's `session.release_scope` closes."""
    pairs = dedup_near_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    comp = alternating_star_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("component"))
        .localCheckpoint()
    )


@query(
    "dedup_connected_components",
    cost=2.4,
    oracle=f"""
    WITH RECURSIVE {JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM jac_pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(least(c.component, d.doc_id), d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clusters from near-dup pairs: every doc labeled with the min
    doc_id of its ≥0.8-Jaccard connected component (singletons label
    themselves) — the survivor map a dedup pipeline applies after pair
    generation. See alternating_star_components for the algorithm."""
    return _jaccard_cc_labels(spark, sf_dir).orderBy("doc_id")


@query(
    "dedup_apply_survivors",
    cost=2.6,
    oracle=f"""
    WITH RECURSIVE {JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM jac_pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    labeled AS (
      SELECT d.doc_id,
             coalesce(least(c.component, d.doc_id), d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT component AS survivor_id, cast(count(*) AS bigint) AS cluster_size,
           cast(count(*) - 1 AS bigint) AS n_removed
    FROM labeled GROUP BY component ORDER BY survivor_id
    """,
)
def dedup_apply_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT step: collapse each ≥0.8-Jaccard
    connected component to its min-doc_id survivor, reporting cluster size
    and rows removed — what a corpus-dedup job actually materializes
    (composition of dedup_connected_components' labels + one
    aggregate)."""
    labels = _jaccard_cc_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("component").alias("survivor_id"))
        .agg(
            F.count("*").alias("cluster_size"),
            (F.count("*") - 1).alias("n_removed"),
        )
        .orderBy("survivor_id")
    )


@query(
    "dedup_cross_split",
    cost=1.5,
    oracle=f"""
    WITH {SHINGLE_CTE},
    split AS (
      SELECT doc_id, shingle,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 10 AS b
      FROM sh
    ),
    train_sh AS (SELECT DISTINCT shingle FROM split WHERE b <> 0),
    held AS (SELECT doc_id, shingle FROM split WHERE b = 0),
    held_n AS (SELECT doc_id, count(*) AS n_shingles FROM held GROUP BY doc_id),
    hits AS (
      SELECT h.doc_id, count(*) AS n_shared
      FROM held h JOIN train_sh t USING (shingle)
      GROUP BY h.doc_id HAVING count(*) >= 5
    )
    SELECT hits.doc_id AS heldout_doc,
           cast(hits.n_shared AS bigint) AS n_shared,
           cast(held_n.n_shingles AS bigint) AS n_shingles,
           round(cast(hits.n_shared AS double) / held_n.n_shingles, 6) AS overlap
    FROM hits JOIN held_n ON hits.doc_id = held_n.doc_id
    ORDER BY heldout_doc
    """,
)
def dedup_cross_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — the eval-integrity primitive every
    training pipeline runs (the GPT-3-style n-gram overlap rule): split
    the corpus into train (90%) and held-out (10%) with the same
    engine-stable md5(doc_id) rule as sample_content_hash, then flag every
    held-out document sharing >= 5 distinct word-5-gram shingles with the
    TRAIN SET AS A WHOLE, reporting the shared-shingle count and overlap
    ratio.

    Scale shape: the per-doc distinct shingles are _shingle_frame's
    map-side build (no doc_id exchange); the join key is the shingle
    (same layout as dedup_near_jaccard, but against a DISTINCT
    train-shingle set — a semi-join-sized build side, not doc×doc
    pairs); one shuffle on the shingle for the join, one on doc_id for
    the count. At 100 TB the
    shingle set is hash-partitioned and the held-out side is ~10% of the
    corpus streaming through it."""
    # scanned by train-distinct, held-out, and held-out-count branches
    sh = _shingle_frame(load_table(spark, sf_dir, "documents")).localCheckpoint()
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10
    )
    split = sh.withColumn("b", bucket)
    train_sh = split.where(F.col("b") != 0).select("shingle").distinct()
    held = split.where(F.col("b") == 0).select("doc_id", "shingle")
    held_n = held.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        held.join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 5)
    )
    return (
        hits.join(held_n, "doc_id")
        .select(
            F.col("doc_id").alias("heldout_doc"),
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias("overlap"),
        )
        .orderBy("heldout_doc")
    )


@query(
    "dedup_materialize_clean",
    cost=2.6,
    oracle=f"""
    WITH RECURSIVE {JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM jac_pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    WHERE coalesce(least(c.component, d.doc_id), d.doc_id) = d.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_materialize_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline END-TO-END: pairs → components → survivors →
    MATERIALIZED clean corpus (parquet written and re-read — the dataset a
    training run actually consumes, not just a report). Survivor rule:
    keep each component's min-doc_id member; singletons keep themselves.

    The labels are `_jaccard_cc_labels`'. The write is a plain
    parquet sink — at 100 TB this is the same one-shuffle-free append the
    sink ops use, and the re-read restores scan-level pruning for every
    downstream consumer."""
    import tempfile

    labels = _jaccard_cc_labels(spark, sf_dir)
    survivors = labels.where(F.col("component") == F.col("doc_id")).select("doc_id")
    docs = load_table(spark, sf_dir, "documents")
    clean = docs.join(survivors, "doc_id").select("doc_id", "lang", "n_chars")
    out = tempfile.mkdtemp(prefix="filemap_clean_") + "/documents"
    clean.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out).orderBy("doc_id")


def pagerank_undirected(
    edges: DataFrame, damping: float = 0.85, iters: int = 20
) -> DataFrame:
    """PageRank over an undirected edge list (`u`,`v` — one row per pair),
    restricted to edge-incident nodes: symmetrize, then `iters` rounds of
    rank = (1-d)/n + d * sum(rank_nbr / deg_nbr). A FIXED iteration count
    (no convergence test) keeps the result structurally reproducible; the
    low-order bits of each rank still carry partial-aggregation combine
    order, so consumers must round before comparing or ordering on rank
    (dedup_survivor_pagerank rounds to 9dp at its survivor pick).

    Scale: each round is one hash join on node + one keyed agg — the same
    join-per-round layout as alternating-star CC, with localCheckpoint
    every 5 rounds so the plan/lineage stays O(1) instead of O(iters).
    Shuffle volume per round is O(edges); state is O(nodes)."""
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    nodes = deg.select(F.col("u").alias("node")).localCheckpoint()
    n = nodes.count()
    if n == 0:  # no edges (empty corpus / no duplicate pairs): no ranks
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        contrib = (
            sym.join(deg, "u")
            .join(ranks, sym.u == ranks.node)
            .select(
                F.col("v").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("csum", F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 5 == 0:
            ranks = ranks.localCheckpoint()
    return ranks


@query("dedup_survivor_pagerank", cost=4.0)  # rows-only: iterative fixpoint
def dedup_survivor_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CENTRALITY-based survivor selection — the alternative to
    dedup_apply_survivors' min-id rule: within each near-duplicate
    component, keep the highest-PageRank member (the doc most connected to
    the rest of its cluster = the most representative copy, the rule a
    curation pipeline wants when near-dup clusters chain A~B~C and the
    min-id doc sits at the chain's edge). Singleton components are their
    own survivors and are excluded here (no rank defined on isolated
    nodes); output is one row per multi-doc component with the survivor,
    its rank, and the cluster size.

    Rows-only (iterative fixpoint — not SQL-expressible);
    tests/test_kernels.py pins pagerank_undirected against a numpy power
    iteration on random seeded graphs, and the survivor-pick rule against
    an independent recomputation."""
    edges = dedup_near_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    ranks = pagerank_undirected(edges)
    labels = _jaccard_cc_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    # no broadcast hint on `sizes`: one row per dup-component grows with the
    # corpus — AQE broadcasts while it is small, shuffles when it is not
    ranked = ranks.join(labels, ranks.node == labels.doc_id).join(sizes, "component")
    # Order by the rank ROUNDED to 9dp, not the raw double: the per-round
    # contribution sums are partial-aggregation order-dependent in their
    # low bits, so near-tied cluster members could otherwise flip the
    # survivor pick across runs/rigs. 9dp is far above the FP wobble
    # (~1e-15 relative) and far below any real rank separation; doc_id
    # stays the deterministic tiebreak.
    w = Window.partitionBy("component").orderBy(
        F.desc(F.round("rank", 9)), F.asc("doc_id")
    )
    return (
        ranked.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "component",
            F.col("doc_id").alias("survivor"),
            F.round("rank", 6).alias("rank"),
            "cluster_size",
        )
        .orderBy("component")
    )


@query(
    "dedup_cluster_stats",
    cost=2.4,
    oracle=f"""
    WITH RECURSIVE {JACCARD_PAIR_CTES},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM jac_pairs
      UNION ALL
      SELECT doc_b, doc_a FROM jac_pairs
    ),
    reach AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
    labels AS (
      SELECT d.doc_id,
             coalesce(least(c.component, d.doc_id), d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    sizes AS (SELECT component, count(*) AS cluster_size FROM labels GROUP BY component)
    SELECT cast(cluster_size AS bigint) AS cluster_size,
           cast(count(*) AS bigint) AS n_clusters,
           cast(cluster_size * count(*) AS bigint) AS n_docs,
           cast((cluster_size - 1) * count(*) AS bigint) AS docs_removed
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health REPORT over the near-dup graph: the cluster-size
    histogram — how many singletons, pairs, triples…, how many docs each
    bin holds, and how many docs dedup would remove per bin (size-1 per
    cluster). This is the first number a curation run reports ('dedup
    removed X% concentrated in clusters of size k'), and the input to
    choosing between min-id and centrality survivor rules.

    The labels are `_jaccard_cc_labels`'; the histogram itself is two keyed
    aggs over one row per doc then one row per component — O(corpus) then
    O(clusters) shuffle, nothing new at 100 TB."""
    labels = _jaccard_cc_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters"))
            .cast("long")
            .alias("docs_removed"),
        )
        .orderBy("cluster_size")
    )


@query(
    "sample_reservoir_per_key",
    oracle="""
    SELECT lang, doc_id, n_chars
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY lang
      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT),
               doc_id
    ) <= 20
    ORDER BY lang, doc_id
    """,
)
def sample_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (k=20) uniform sample PER KEY — the distributed
    equivalent of a per-key reservoir. A literal reservoir is sequential
    and arrival-order-dependent; the order-free form ranks each row by a
    deterministic content hash (md5(doc_id), the portable-hash discipline
    of sample_content_hash) and keeps the k smallest per key — the same
    uniform-without-replacement distribution, but reproducible across
    engines, partitionings, and reruns.

    Scale: one shuffle on the key for the rank window. A hot key
    concentrates its rows on one reducer; the 100 TB refinement is a local
    top-k per input partition first (k rows per partition per key survive
    the map side) — semantically identical because the k global minima
    are a subset of every partition's k local minima."""
    docs = load_table(spark, sf_dir, "documents")
    hk = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    )
    w = Window.partitionBy("lang").orderBy(hk.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


@query(
    "sample_split_train_test",
    oracle="""
    WITH tagged AS (
      SELECT lang, n_chars,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 10 < 8
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 10 = 8
                  THEN 'val' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, lang, count(*) AS n_docs,
           cast(sum(n_chars) AS bigint) AS total_chars
    FROM tagged GROUP BY split, lang ORDER BY split, lang
    """,
)
def sample_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content hash — THE
    split rule a reproducible training pipeline needs: membership depends
    only on doc_id (portable md5, identical on any engine/partitioning),
    never on row order or a seed, so re-running ingest can never leak a
    test doc into train. Emits the per-(split, lang) audit counts a
    pipeline records next to the split.

    Scale: pure map-side tagging (no shuffle to assign membership) + one
    keyed agg over ~|splits × langs| groups."""
    docs = load_table(spark, sf_dir, "documents")
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 10
    )
    return (
        docs.withColumn(
            "split",
            F.when(b < 8, "train").when(b == 8, "val").otherwise("test"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split", "lang")
    )


@query(
    "sample_upsample_replicate",
    cost=0.5,
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             cast(substr(source, 4) AS int) % 4 AS bucket,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM documents
    ), c AS (
      SELECT doc_id, source,
             (CASE bucket WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 0 END
              + CASE WHEN bucket IN (0, 1, 3) AND h < 2147483648 THEN 1 ELSE 0 END)
               AS n_copies
      FROM r
    )
    SELECT doc_id, source, cast(n_copies AS int) AS n_copies,
           cast(unnest(generate_series(1, n_copies)) AS int) AS copy_idx
    FROM c WHERE n_copies >= 1
    ORDER BY doc_id, copy_idx
    """,
)
def sample_upsample_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional domain UPSAMPLING by row replication (round 5) — the
    other half of mixture weighting: `sample_temperature_mix` and
    `sample_domain_mix` only DOWN-sample, but real pretraining mixtures
    also repeat prized domains at fractional epoch rates (e.g. GPT-3's
    Wikipedia at ~3.4 epochs). Rate per source bucket here: 2.5× / 1.5× /
    1.0× / 0.5× (covering >1 replication, fractional top-up, identity,
    and pure downsample in one op). Each doc gets floor(rate) copies plus
    one more iff its md5 fraction clears frac(rate) — so a 2.5× domain
    lands exactly [2,3] copies per doc with the right expectation, and
    membership of the extra copy is doc-keyed, engine- and rerun-stable
    (same md5 discipline as every sample_* op; the 2147483648 literal is
    frac=0.5 of the 2^32 hash space, an exact integer test — no float).

    The copy_idx column matters downstream: packing/shuffling stages key
    on (doc_id, copy_idx) so replicas spread across shards instead of
    sitting adjacent (epoch decorrelation).

    Scale: map-side CASE + explode(sequence(...)) — zero shuffle, zero
    UDF; output volume is the mixture's token budget, which is the point.
    The explode is guarded to n_copies >= 1 because Spark's sequence(1, 0)
    DESCENDS ([1, 0]) rather than yielding empty."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    bucket = F.substring("source", 4, 10).cast("int") % 4
    base = (
        F.when(bucket == 0, 2)
        .when(bucket.isin(1, 2), 1)
        .otherwise(0)
    )
    extra = F.when(bucket.isin(0, 1, 3) & (h < 2147483648), 1).otherwise(0)
    return (
        docs.select(
            "doc_id", "source", (base + extra).cast("int").alias("n_copies")
        )
        .where(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
        .orderBy("doc_id", "copy_idx")
    )


@query(
    "subq_exists_flag",
    oracle="""
    SELECT c_custkey, c_name,
           EXISTS(SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 250000) AS has_jumbo,
           NOT EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey) AS is_dormant
    FROM customer c
    ORDER BY c_custkey
    """,
    cost=0.4,
)
def subq_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a projected COLUMN (round 6) — the existence-join plan
    shape, distinct from the semi/anti joins already covered: the probe
    keeps EVERY left row and attaches a boolean, so Catalyst plans an
    ExistenceJoin (BroadcastHashJoin here; pinned by
    tests/test_plan_shape.py) instead of filtering. Two flags in one
    pass: a correlated predicate subquery (has_jumbo) and a pure
    anti-existence (is_dormant).

    Scale: each existence probe is a hash join on the customer key — the
    dim side aggregates to distinct keys before broadcast; no
    BroadcastNestedLoopJoin anywhere (the correlated predicate is
    equi-rewritten by RewritePredicateSubquery)."""
    from filemap_spark.io import register_views

    return register_views(spark, sf_dir).sql(
        """
        SELECT c_custkey, c_name,
               EXISTS(SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 250000) AS has_jumbo,
               NOT EXISTS(SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey) AS is_dormant
        FROM customer c
        ORDER BY c_custkey
        """
    )


@query(
    "sample_negative_pairs",
    oracle="""
    WITH n AS (SELECT cast(count(*) AS bigint) AS n_docs FROM documents),
    anchors AS (
      SELECT doc_id, source, n_docs FROM documents CROSS JOIN n
    ), raw AS (
      SELECT doc_id AS anchor_id, source AS anchor_source, k,
             (doc_id * 7919 + (k + 1) * 104729) % n_docs AS cand, n_docs
      FROM anchors CROSS JOIN (VALUES (0), (1)) AS ks(k)
    ), pairs AS (
      SELECT anchor_id, anchor_source, k,
             CASE WHEN cand = anchor_id THEN (cand + 1) % n_docs
                  ELSE cand END AS neg_id
      FROM raw
    )
    SELECT p.anchor_id, p.k, p.neg_id,
           (p.anchor_source = d.source) AS same_source
    FROM pairs p JOIN documents d ON d.doc_id = p.neg_id
    ORDER BY p.anchor_id, p.k
    """,
    cost=0.4,
)
def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative-pair mining for contrastive training
    (round 6): every document anchors K=2 pseudo-random negatives chosen
    by affine hashing over the id space — seed-free, order-free, and
    rerun-stable (the same corpus always yields the same pairs, the
    property a resumable training-data build needs). Self-pairs advance
    to the next id. The join back to documents annotates each negative
    with a same-source flag — the signal used to separate easy negatives
    from near-domain hard ones.

    Scale: pair GENERATION is a pure map (explode ×K, no shuffle); only
    the annotation join shuffles, on the doc_id key, O(K·corpus) rows.
    Requires contiguous ids 0..n-1 (the contract corpus layout; for
    arbitrary ids, substitute the dense rank from with_global_rank)."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    pairs = (
        docs.select("doc_id", F.col("source").alias("anchor_source"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("doc_id").alias("anchor_id"),
            "anchor_source",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("k"),
            "n_docs",
        )
        .withColumn(
            "cand",
            (F.col("anchor_id") * 7919 + (F.col("k") + 1) * 104729)
            % F.col("n_docs"),
        )
        .select(
            "anchor_id",
            "anchor_source",
            "k",
            F.when(
                F.col("cand") == F.col("anchor_id"),
                (F.col("cand") + 1) % F.col("n_docs"),
            )
            .otherwise(F.col("cand"))
            .alias("neg_id"),
        )
    )
    negs = docs.select(
        F.col("doc_id").alias("neg_id"), F.col("source").alias("neg_source")
    )
    return (
        pairs.join(negs, "neg_id")
        .select(
            "anchor_id",
            "k",
            "neg_id",
            (F.col("anchor_source") == F.col("neg_source")).alias("same_source"),
        )
        .orderBy("anchor_id", "k")
    )


@query(
    "subq_exists_late_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND epoch_us(l_shipdate) - epoch_us(o_orderdate)
                        > 5184000000000)
    GROUP BY o_orderpriority
    """,
    cost=0.4,
)
def subq_exists_late_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (round 6, staged r7): order-priority checking — count
    one year's orders, per priority, that had AT LEAST ONE lineitem shipped
    more than 60 days after ordering (commit/receipt dates absent; the
    ship-order lag substitutes). The correlated EXISTS is spelled as a
    LEFT SEMI join whose lag predicate is a mixed-side residual INSIDE the
    join condition — each qualifying order counts once no matter how many
    late lines it has, which is the semantics a plain inner join + count
    would get wrong.

    Determinism: exact integer µs lag arithmetic (unix_micros ≡ epoch_us
    on normalized timestamps); integer counts.

    Scale: the year predicate prunes the orders scan; the semi-join
    co-shuffles orders and lineitem on the order key once (semi-join
    state: one bit per order, and AQE can flip the filtered orders side
    to broadcast when the year window is selective enough); the
    priority roll-up is O(5) groups."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("ord_us"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("ship_us"),
    )
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.ship_us - orders.ord_us > 5184000000000),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "subq_value_concentration_q11",
    oracle="""
    WITH pv AS (
      SELECT l_partkey,
             sum(cast(round(l_extendedprice * 1000000) AS bigint)) AS val_micro
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('ASIA', 'EUROPE')
      GROUP BY 1
    )
    SELECT l_partkey AS p_partkey,
           cast(cast(val_micro AS decimal(38,6)) / 1000000 AS double)
             AS part_value
    FROM pv
    WHERE cast(val_micro AS double)
          > 1.5 * (SELECT cast(sum(val_micro) AS double) / count(*) FROM pv)
    """,
    cost=0.4,
)
def subq_value_concentration_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (round 6, staged r7): part value concentration —
    parts whose shipped value (from ASIA/EUROPE-region suppliers; the
    corpus has no partsupp, so shipment value proxies inventory value)
    exceeds 1.5× the MEAN per-part value. The structural heart survives:
    a grouped aggregate filtered against a scalar aggregate OVER THE SAME
    derived relation — the HAVING-vs-global-scalar-subquery idiom. The
    threshold is mean-relative (not a fixed fraction as in the original)
    so the result stays non-degenerate at every scale factor.

    Determinism: per-part values are exact int64 µ-unit sums; the
    threshold is sum/count on exact-int-derived doubles — identical
    operands, identical IEEE multiply/divide in both engines; output
    descales via the decimal path.

    Scale: one (suppkey-broadcast-filtered) fact agg keyed by part; the
    scalar threshold is a 1-row re-aggregate of the O(parts) frame,
    broadcast back — Spark's decorrelation of the scalar subquery, written
    explicitly. The pv frame is computed once and reused for both sides
    via a cached logical subtree (deterministic, side-effect free)."""
    region_ok = (
        load_table(spark, sf_dir, "nation")
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(F.col("r_name").isin("ASIA", "EUROPE"))
        .select("n_nationkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(region_ok), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    pv = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.expr(
                "sum(cast(round(l_extendedprice * 1000000) as bigint))"
            ).alias("val_micro")
        )
    )
    thr = pv.agg(
        (F.sum("val_micro").cast("double") / F.count("*").cast("double")).alias("mean_val")
    )
    return (
        pv.join(F.broadcast(thr))
        .where(F.col("val_micro").cast("double") > 1.5 * F.col("mean_val"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.expr(
                "cast(cast(val_micro as decimal(38,6)) / 1000000 as double)"
            ).alias("part_value"),
        )
    )


@query(
    "subq_top_supplier_q15",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             sum(cast(round(l_extendedprice * (1 - l_discount) * 1000000)
                      AS bigint)) AS r_micro
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name,
           cast(cast(r_micro AS decimal(38,6)) / 1000000 AS double)
             AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE r_micro = (SELECT max(r_micro) FROM rev)
    """,
    cost=0.4,
)
def subq_top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (round 6, staged r7): top supplier — the supplier(s)
    whose half-year shipped revenue equals the maximum over all suppliers
    (the original's revenue view + scalar MAX subquery; ties all
    surface, which is why this is not a LIMIT 1).

    Determinism: the max-equality compares exact int64 µ-unit revenues —
    no doubles until the final descale, so ties are exact, not FP-lucky.

    Scale: one date-pruned fact agg keyed by supplier; the scalar MAX is a
    1-row re-aggregate broadcast back (decorrelated comparison); the
    supplier name join broadcasts. Nothing in the plan grows faster than
    O(suppliers) after the first agg."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.expr(
            "sum(cast(round(l_extendedprice * (1 - l_discount) * 1000000)"
            " as bigint))"
        ).alias("r_micro")
    )
    mx = rev.agg(F.max("r_micro").alias("max_micro"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("r_micro") == F.col("max_micro"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.expr(
                "cast(cast(r_micro as decimal(38,6)) / 1000000 as double)"
            ).alias("total_revenue"),
        )
    )


@query(
    "subq_excess_share_q20",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey, sum(cast(l_quantity AS bigint)) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE '%widget%')
      GROUP BY 1, 2
    ), tot AS (
      SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM supplier
    JOIN shipped ON s_suppkey = l_suppkey
    JOIN tot ON shipped.l_partkey = tot.l_partkey
    WHERE cast(qty AS double) > 0.5 * cast(total_qty AS double)
    """,
    cost=0.4,
)
def subq_excess_share_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (round 6, staged r7): dominant-share suppliers —
    suppliers who shipped MORE THAN HALF of some widget-family part's total
    1996 volume (the original's excess-availqty test re-expressed on the
    derived shipment relation: nested IN subquery on the part-name family,
    then a correlated share threshold per (supplier, part)).

    Determinism: quantities are integer-valued (corpus-pinned), summed in
    int64; the share test multiplies/compares identical exact-int-derived
    doubles identically in both engines.

    Scale: the part-family IN list is a broadcast semi-join pruning the
    fact scan; the (supp, part) agg reduces map-side; the per-part total
    is a WINDOW SUM over the already-(part,supp)-reduced frame on the
    Spark side — O(parts) re-key, no second fact pass; DISTINCT output is
    O(suppliers)."""
    widget = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .select("l_suppkey", "l_partkey", "l_quantity")
        .join(F.broadcast(widget), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn("total_qty", F.sum("qty").over(w))
        .where(F.col("qty").cast("double") > 0.5 * F.col("total_qty").cast("double"))
        .select("l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return dominant.join(
        F.broadcast(supp), dominant.l_suppkey == supp.s_suppkey
    ).select("s_suppkey", "s_name")


@query(
    "subq_idle_customers_q22",
    oracle="""
    WITH avgbal AS (
      SELECT cast(sum(cast(round(c_acctbal * 1000000) AS bigint)) AS double)
               / cast(count(*) AS double) AS thr_micro
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, count(*) AS numcust,
           cast(cast(sum(cast(round(c_acctbal * 1000000) AS bigint))
                     AS decimal(38,6)) / 1000000 AS double) AS totacctbal
    FROM customer, avgbal
    WHERE cast(round(c_acctbal * 1000000) AS bigint) > thr_micro
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    cost=0.4,
)
def subq_idle_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (round 6, staged r7): well-funded idle customers —
    per market segment (standing in for the original's phone country
    code), customers whose balance beats the positive-balance average AND
    who placed no order since 2000 (the anti-join; the original's "no
    orders ever" is empty on this corpus, so the recency window keeps the
    shape non-degenerate). Composes the two classic subquery forms in one
    query: a scalar AVG subquery and a NOT EXISTS anti-join.

    Determinism: the threshold is exact-µ-unit sum / count (identical
    IEEE division both engines) compared against each customer's exact
    µ-unit balance — the FP-summed AVG of a naive spelling would make row
    membership engine-dependent; totals descale via the decimal path.

    Scale: the threshold is a 1-row broadcast; the anti-join keys
    customer against the date-pruned orders scan on custkey (co-shuffle,
    or broadcast of recent-customer keys when the window is selective);
    the segment roll-up is O(segments)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr("cast(round(c_acctbal * 1000000) as bigint)").alias("bal_micro"),
    )
    thr = (
        cust.where(F.col("bal_micro") > 0)
        .agg(
            (
                F.sum("bal_micro").cast("double") / F.count("*").cast("double")
            ).alias("thr_micro")
        )
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(thr))
        .where(F.col("bal_micro").cast("double") > F.col("thr_micro"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.expr(
                "cast(cast(sum(bal_micro) as decimal(38,6)) / 1000000 as double)"
            ).alias("totacctbal"),
        )
    )


def _order_baskets(
    spark: SparkSession, sf_dir: str, parts: DataFrame | None = None
) -> DataFrame:
    """(o, ps): each order's sorted distinct part keys — one collect_set
    agg, so ONE exchange on the order key. `parts` (a `p_partkey` frame)
    restricts the baskets to those parts by a broadcast semi-join before
    the agg. Feeds _co_order_pairs; the baskets also give each part's
    order degree directly (explode ps, count per part)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_orderkey").alias("o")
    )
    if parts is not None:
        li = li.join(
            F.broadcast(parts), F.col("p") == F.col("p_partkey"), "left_semi"
        )
    return li.groupBy("o").agg(F.sort_array(F.collect_set("p")).alias("ps"))


def _co_order_pairs(baskets: DataFrame) -> DataFrame:
    """(pa, pb, i): part pairs with pa < pb and the number of orders they
    share — the co-order edge build of graph_triangle_count,
    graph_jaccard_neighbors and graph_label_propagation.

    Pairs come from an ordered array self-product inside each
    _order_baskets basket, then one (pa, pb) count agg. The
    sorted-distinct basket makes pa < pb by construction, and the pair
    rows per order are exactly what a (part, order) distinct + order-key
    self-join emits, without that shape's distinct exchange,
    localCheckpoint and join re-exchange (guide §2.4: the distinct and
    the join decided nothing the basket array does not already know).
    Measured cold at sf0.1 (local[4], status-store shuffle writes), the
    >= 2 shared-order pair set costs 17.16 MB / 1.35M records / 5 stages
    as baskets and 18.58 MB / 1.80M records / 7 stages as the distinct +
    self-join; whole graph_jaccard_neighbors 17.86 vs 19.28 MB, whole
    graph_triangle_count 1.47 vs 2.19 MB.
    Pair volume is Σ_orders |basket|², bounded by basket size, never
    part × part; a pathological mega-basket is the skew surface, handled
    by capping or salting the hot order key.

    Baskets lose where postings are near-singletons:
    dedup_near_jaccard's shingle overlap ships 6.86 MB as shingle
    baskets against 16 KB for its self-join, which AQE broadcasts — so
    that op keeps its self-join."""
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps) - i - 1),"
                    " y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("i"))
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH pl AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'STANDARD'
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pl a JOIN pl b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT (SELECT count(*) FROM e) AS n_edges,
           count(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.v = e2.u
    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    """,
    cost=0.5,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (round 6, staged r7) over the co-purchase graph:
    STANDARD parts are nodes, an edge joins two parts that appeared in the
    same order, and a triangle is three mutually co-ordered parts — the
    clustering/community primitive (graph family sibling of
    dedup_connected_components / dedup_survivor_pagerank). Edges are
    oriented u < v, so each triangle is counted exactly once via the
    wedge join (e1: u→v, e2: v→w) closed by the e3: u→w existence join.

    Determinism: integer keys and counts only.

    Scale: the edge list is _co_order_pairs over the STANDARD-part
    baskets (see its docstring for the build and its bound); its (pa, pb)
    agg already makes the edges distinct. The wedge join is the scale
    hazard — Σ deg(v)² — bounded here by the type restriction, and the
    100 TB mitigation is the standard DEGREE orientation (point each edge
    from lower- to higher-degree endpoint, making max wedge count
    O(edges^1.5)): same plan, one extra degree agg + broadcast. All three
    joins are hash equi-joins keyed on node ids."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    # materialized once (round 10, scan-sweep finding): the edge list
    # feeds FOUR consumers (e1/e2/e3/n_edges) — un-checkpointed, each
    # consumer may rescan lineitem + part (exchange reuse is partial at
    # best, the ndcg precedent); the frame is REDUCED (distinct pairs of
    # ints), so materializing it is cheap and the corpus is scanned once
    e = (
        _co_order_pairs(_order_baskets(spark, sf_dir, part))
        .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .localCheckpoint()
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y2"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x3"), F.col("v").alias("z3"))
    tri = (
        e1.join(e2, e1.y == e2.y2)
        .join(e3, (F.col("x") == F.col("x3")) & (F.col("z") == F.col("z3")))
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return n_edges.join(F.broadcast(tri)).select("n_edges", "n_triangles")


@query(
    "sample_balanced_classes",
    oracle="""
    WITH mc AS (
      SELECT min(n) AS min_n
      FROM (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
    ), ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(text), doc_id) AS rn
      FROM documents
    )
    SELECT lang, count(*) AS n_kept,
           cast(min(rn) AS bigint) AS first_rn,
           cast(max(rn) AS bigint) AS last_rn
    FROM ranked, mc
    WHERE rn <= min_n
    GROUP BY lang
    """,
    cost=0.4,
)
def sample_balanced_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling (round 6, staged r7): keep exactly
    min-class-count documents per language — the classifier-training
    prep that prevents the majority class from dominating the loss. Kept
    rows are chosen by CONTENT-HASH rank (md5(text), doc_id tiebreak), so
    the sample is deterministic across engines, reruns, partitionings and
    cluster sizes — `df.sample`'s seed is partitioning-dependent, the
    reason every sampler in this repo ranks on a content hash instead.

    Determinism: md5 strings compare identically; counts are integers.

    Scale: the per-class rank is a PARTITIONED window (one lang-keyed
    exchange — bounded per-class row counts per task, never a global
    sort); the min-class scalar is a 1-row broadcast. The graded output
    is the per-class audit (counts + rank envelope), not the sampled
    payload — the op composes as a filter stage in a pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    mc = counts.agg(F.min("n").alias("min_n"))
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    ranked = docs.select("doc_id", "lang", "text").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.join(F.broadcast(mc))
        .where(F.col("rn") <= F.col("min_n"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.min("rn").cast("bigint").alias("first_rn"),
            F.max("rn").cast("bigint").alias("last_rn"),
        )
    )


_NOT_IN_TRAP_SQL = """
    WITH probe AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k
      FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT
      (SELECT count(*) FROM customer) AS n_customers,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM probe)) AS n_not_in,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM probe p WHERE p.k = c.c_custkey))
        AS n_not_exists,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT k FROM probe WHERE k IS NOT NULL))
        AS n_not_in_filtered
"""


@query(
    "subq_not_in_null_trap",
    oracle=_NOT_IN_TRAP_SQL,
    cost=0.4,
)
def subq_not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NOT IN null trap (round 6, staged r7), graded on BOTH engines
    agreeing about ANSI three-valued logic: a NOT IN whose subquery
    contains even ONE NULL returns ZERO rows (every comparison is
    UNKNOWN), while the NOT EXISTS spelling — and NOT IN over the
    null-filtered list — return the intuitive complement. The probe list
    manufactures NULLs (o_orderkey % 97) since contract data has none.
    Emits all four counts in one row; n_not_in = 0 IS the semantic point,
    and n_not_exists = n_not_in_filtered > 0 the cross-check. The
    identical SQL text runs on Spark (via the registered contract views)
    and DuckDB — this op pins dialect agreement on the most notorious
    subquery semantics divergence in SQL engines.

    Scale: Spark plans NOT IN as a null-aware anti join (broadcast when
    the probe is small, as here); NOT EXISTS as a plain LEFT ANTI — the
    exact plans a user's ad-hoc SQL gets; nothing here is driver-side.
    The practical 100 TB guidance this op encodes: filter NULLs (or use
    NOT EXISTS) so the anti join stays hash-based instead of the
    null-aware BNLJ fallback."""
    from filemap_spark.io import register_views

    return register_views(spark, sf_dir).sql(_NOT_IN_TRAP_SQL)


_DSIR_BUCKETS = 64
# 1e4-quantized per-token log importance ratio of one hashed bucket, with
# add-one smoothing on both numerator and denominator distributions.
_DSIR_LRQ = (
    "cast(round(ln((cast(tc + 1 as double) / (t_tot + {nb}))"
    " / (cast(cc + 1 as double) / (c_tot + {nb}))) * 10000) as bigint)"
).format(nb=_DSIR_BUCKETS)


@query(
    "sample_importance_hashed",
    oracle=f"""
    WITH toks AS (
      SELECT d.doc_id, d.lang, unnest(string_split(d.text, ' ')) AS word
      FROM documents d
    ), b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(word), 1, 4)) AS INT)
               % {_DSIR_BUCKETS} AS bucket
      FROM toks
    ), db AS (
      SELECT doc_id, bucket, count(*) AS n FROM b GROUP BY doc_id, bucket
    ), bs AS (
      SELECT bucket,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
             count(*) AS cc
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT sum(tc) AS t_tot, sum(cc) AS c_tot FROM bs
    ), lr AS (
      SELECT bucket, {_DSIR_LRQ} AS lrq FROM bs CROSS JOIN tot
    ), dw AS (
      SELECT db.doc_id, sum(db.n * lr.lrq) AS wq, sum(db.n) AS n_tokens
      FROM db JOIN lr ON db.bucket = lr.bucket GROUP BY db.doc_id
    )
    SELECT dw.doc_id, d.lang, cast(n_tokens AS bigint) AS n_tokens,
           {mean_micro_6dp("100 * wq", "n_tokens")} AS mean_lr
    FROM dw JOIN documents d ON dw.doc_id = d.doc_id
    ORDER BY cast(wq AS double) / n_tokens DESC, dw.doc_id LIMIT 100
    """,
    cost=0.6,
)
def sample_importance_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed importance resampling, DSIR-lite (round 6, staged r7): rank
    the corpus by how target-like each document is — the Data Selection
    via Importance Resampling recipe (Xie et al. 2023) with hashed
    unigram features: estimate target (lang='en') and corpus bucket
    distributions over {_DSIR_BUCKETS} md5-hashed buckets (add-one
    smoothed), score each doc by its mean per-token log importance
    ratio, keep the top-100. No vocabulary state anywhere — the same
    hashing-trick property text_hash_features establishes, which is what
    makes the recipe run at 100 TB (the bucket frame is O(64), the doc
    score one join + keyed agg away).

    Determinism: the per-bucket log-ratio quantizes at 1e4 into int64
    (davg_lnsafe libm discipline) so doc scores are exact integer sums;
    the ranking key wq/n_tokens is one IEEE quotient of exact ints
    (identical order both engines, doc_id tiebreak); the reported mean
    descends through mean_micro_6dp's integer tie rule.

    Scale: ONE tokenize scan (round-12 rewrite — the r7 shape exploded
    and md5-hashed the full token stream TWICE, once per distribution):
    the doc×bucket agg keeps `lang` as a grouping key (functionally
    dependent on doc_id — zero extra groups), and the bucket
    distribution re-aggregates THAT token-count frame (corpus tokens →
    doc×bucket rows, orders of magnitude smaller). Both consumers of
    the doc×bucket agg hang off one identical exchange subtree, which
    Spark's ReuseExchange dedupes — the scan+explode+hash pipeline runs
    once per query. Then a 64-row broadcast, one keyed agg,
    TakeOrdered(100). The target distribution could come from a
    separate curated corpus — same plan, different scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    bucket = (
        F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("int")
        % _DSIR_BUCKETS
    )
    dbl = (
        toks.select("doc_id", "lang", bucket.alias("bucket"))
        # explicit no-op null guards: the downstream joins infer
        # isnotnull() on their keys and push them into SOME branches of
        # this shared subtree — asymmetric filters make the three branch
        # plans non-identical, which defeats ReuseExchange and triples
        # the tokenize scan. Declaring the guards here keeps every
        # branch's pushed-filter set (hence canonical plan) identical.
        .where(F.col("doc_id").isNotNull() & F.col("bucket").isNotNull())
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("n"))
    )
    db = dbl.select("doc_id", "bucket", "n")
    bs = dbl.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0)).alias("tc"),
        F.sum("n").alias("cc"),
    )
    tot = bs.agg(F.sum("tc").alias("t_tot"), F.sum("cc").alias("c_tot"))
    lr = bs.crossJoin(F.broadcast(tot)).select(
        "bucket", F.expr(_DSIR_LRQ).alias("lrq")
    )
    dw = (
        db.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * F.col("lrq")).alias("wq"),
            F.sum("n").alias("n_tokens"),
        )
    )
    return (
        dw.join(docs.select("doc_id", "lang"), "doc_id")
        .orderBy(
            (F.col("wq").cast("double") / F.col("n_tokens")).desc(), "doc_id"
        )
        .limit(100)
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr(mean_micro_6dp("100 * wq", "n_tokens")).alias("mean_lr"),
        )
    )


@query(
    "graph_jaccard_neighbors",
    oracle="""
    WITH po AS (
      SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem
    ), deg AS (
      SELECT p, count(*) AS d FROM po GROUP BY p
    ), inter AS (
      SELECT a.p AS pa, b.p AS pb, count(*) AS i
      FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 2
    )
    SELECT pa, pb, cast(i AS bigint) AS n_shared,
           cast(da.d + db.d - i AS bigint) AS n_union,
           round(cast(i AS double) / (da.d + db.d - i), 6) AS jaccard
    FROM inter JOIN deg da ON pa = da.p JOIN deg db ON pb = db.p
    ORDER BY cast(i AS double) / (da.d + db.d - i) DESC, pa, pb
    LIMIT 30
    """,
    cost=0.6,
    memo=("lineitem",),
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link prediction (round 6, staged r7): for the
    bipartite part-order graph, score part pairs by Jaccard similarity of
    their order neighborhoods (≥2 shared orders) — the classic
    collaborative-filtering / link-prediction primitive ("parts bought
    together"), and the graph sibling of dedup_near_jaccard's shingle
    Jaccard. Top-30 by (jaccard, pa, pb).

    Mechanics: intersections are the shared-order counts of
    _co_order_pairs (pairs only within an order's basket — never
    part×part); degrees are per-part counts over the exploded baskets,
    which hold each (part, order) once.

    Determinism: all counts exact integers; jaccard = one IEEE quotient
    of exact ints (identical ordering both engines, (pa,pb) tiebreak).

    Scale: pair volume is the kernel's Σ_orders |basket|² (see
    _co_order_pairs). The baskets are checkpointed once because both the
    pair build and the degree agg read them. Degrees join keys on part —
    AQE broadcasts while the dim is small. TakeOrdered(30) on top."""
    baskets = _order_baskets(spark, sf_dir).localCheckpoint()
    deg = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("d"))
    )
    inter = _co_order_pairs(baskets).where(F.col("i") >= 2)
    da = deg.select(F.col("p").alias("pa"), F.col("d").alias("da"))
    db = deg.select(F.col("p").alias("pb"), F.col("d").alias("db"))
    uni = F.col("da") + F.col("db") - F.col("i")
    jac = F.col("i").cast("double") / uni
    return (
        inter.join(da, "pa")
        .join(db, "pb")
        .orderBy(jac.desc(), "pa", "pb")
        .limit(30)
        .select(
            "pa",
            "pb",
            F.col("i").cast("bigint").alias("n_shared"),
            uni.cast("bigint").alias("n_union"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query(
    "sample_shuffle_global",
    cost=0.5,
    memo=("documents",),
    oracle="""
    WITH k AS (
      SELECT doc_id, md5('shuf1:' || CAST(doc_id AS VARCHAR)) AS skey
      FROM documents
    )
    SELECT substr(skey, 1, 1) AS bucket,
           count(*) AS n_docs,
           min(skey) AS key_min,
           max(skey) AS key_max,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY skey, CAST(doc_id AS VARCHAR))) AS order_md5
    FROM k GROUP BY 1 ORDER BY bucket
    """,
)
def sample_shuffle_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the corpus — the epoch-ordering
    step a training pipeline runs before writing shards: every doc gets a
    content-addressed shuffle key md5('shuf1:' || doc_id) (seed string in
    the key ⇒ a new epoch is a new seed, same machinery), and the corpus
    is totally ordered by (skey, doc_id) with no RNG, no row-order
    dependence, and no engine-specific hash — rerunning ingest anywhere
    reproduces byte-identical shard order.

    The graded surface PROVES the order without materializing it: the
    keyspace splits into 16 range buckets (first hex nibble); per bucket
    the op emits count, key range, and the md5 of the doc_id stream in
    shuffle order — bucket-local order plus bucket ordering is the global
    order, so any engine that would write a different shard sequence
    mismatches here.

    Scale: ONE hash-agg exchange on the 16 range buckets; the in-bucket
    order fingerprint is sort_array over each bucket's collected ids —
    bounded by n/16 per group here, and at 100 TB the same contract is
    verified shard-wise instead (the write path is
    repartitionByRange(skey).sortWithinPartitions(skey, doc_id) →
    per-FILE fingerprints, one per output shard, never a corpus-sized
    collect_list). The md5 key is uniform, so range buckets are
    skew-free by construction even on adversarial doc_id distributions."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        F.md5(F.concat(F.lit("shuf1:"), F.col("doc_id").cast("string"))).alias("skey"),
        F.col("doc_id").cast("string").alias("doc_id"),
    )
    return (
        keyed.groupBy(F.substring("skey", 1, 1).alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("skey").alias("key_min"),
            F.max("skey").alias("key_max"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("skey", "doc_id"))),
                        lambda s: s["doc_id"],
                    ),
                    ",",
                )
            ).alias("order_md5"),
        )
        .orderBy("bucket")
    )


_LPA_ROUNDS = 5


def _lpa_fixpoint(
    edges: DataFrame,
    labels: DataFrame,
    rounds: int,
    broadcast_hint: bool = True,
) -> DataFrame:
    """The synchronous LPA round loop shared by graph_label_propagation
    and its broadcast-fallback test. No per-round localCheckpoint: the
    round count is a fixed constant, so the lineage is bounded (each
    round adds one join + two hash aggs) and the whole fixpoint plans as
    ONE query — the r16 per-round checkpoints cost a driver job +
    broadcast rebuild each round (measured 3.1 s -> 2.6 s warm for the
    five rounds at sf0.1). An unbounded-round variant would need the
    checkpoint back.

    `broadcast_hint=False` is the documented past-the-broadcast-cap
    fallback (labels outgrow the driver at ~100M+ nodes): the same loop
    with the planner's shuffle join, label-identical by construction —
    pinned by tests/test_quality.py so the degradation path stays
    semantics-safe."""
    for _ in range(rounds):
        bl = F.broadcast(labels) if broadcast_hint else labels
        votes = (
            edges.join(bl, edges["src"] == bl["node"])
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # plurality with the (n DESC, label ASC) tie-break as ONE hash
        # agg: max of (n, -label) is lexicographic, labels are positive
        # part keys, so max(-label) == min(label) among tied counts
        labels = (
            votes.groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("n"), (-F.col("label")).alias("nl"))
                ).alias("b")
            )
            .select(F.col("dst").alias("node"), (-F.col("b.nl")).alias("label"))
        )
    return labels


@query("graph_label_propagation", cost=2.0)  # rows-only: iterative fixpoint
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA) over
    the part co-occurrence graph (edges = part pairs sharing >= 2 orders,
    `graph_jaccard_neighbors`' blocking) — the graph-clustering sibling
    of `dedup_connected_components`: where CC merges anything connected,
    LPA's plurality vote keeps densely-linked groups together and lets
    weak bridges split, which is the domain-clustering behavior a corpus
    curation pipeline wants. Fixed {r} synchronous rounds; every node
    starts as its own label; each round every node adopts the PLURALITY
    label among its neighbors (vote-count DESC, label ASC tie-break —
    exact integers, so the fixpoint is deterministic and engine-free).
    Emits one row per surviving community: (community, n_members,
    rep_part = min member) ordered by size desc then community.

    Rows-only: an iterative fixpoint has no SQL form; pinned == a plain
    Python synchronous LPA over the same collected edge list
    (tests/test_quality.py).

    Scale: per round the label table (one 16-byte row per node) BROADCASTS
    onto the checkpointed edge frame — an ExistingRDD scan has no
    statistics, so without the hint the planner sort-merge-joined it,
    re-shuffling and re-sorting the whole edge list every round (guide
    §3.1: pick the strategy deliberately when estimates are absent; r17
    measured 3.6-5.8 s -> ~2.3 s warm at sf0.1). The plurality argmax is
    a two-level hash agg — partial map-side (node, label) counts, then
    max(struct(n, -label)) per node, the exact-integer tie-break
    (vote-count DESC, label ASC) encoded lexicographically — replacing
    the per-node row_number sort window (one sort + one exchange fewer
    per round). Remaining shuffles are the two keyed aggs per round;
    state is one label per node; the FIXED round count bounds the
    single-query lineage, so the r16 per-round localCheckpoint is gone
    (the loop comment records that trade). The broadcast is the
    standard LPA trade: it holds while the NODE table fits the broadcast
    cap (~100M+ nodes at 16 B/row per guide §3.1); past that, dropping
    the hint degrades to the r16 node-keyed shuffle plan unchanged in
    semantics. Edges are the >= 2 shared-order pairs of _co_order_pairs
    (see its docstring for the build and its Σ basket² bound, never
    part x part); rounds are a fixed constant, so total cost is
    {r} x O(edges)."""
    undirected = (
        _co_order_pairs(_order_baskets(spark, sf_dir))
        .where(F.col("i") >= 2)
        .select("pa", "pb")
    )
    # both directions once, checkpointed: every round re-reads this frame
    edges = (
        undirected.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            undirected.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    labels = _lpa_fixpoint(edges, labels, _LPA_ROUNDS)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").alias("rep_part"),
        )
        .orderBy(F.desc("n_members"), "community")
    )


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    r=_LPA_ROUNDS
)
