"""Deduplication operators over the documents table.

Five near/exact-dup strategies, each in its 100-TB-appropriate shape:

  dedup_exact            hash-groupBy on a content fingerprint (one shuffle)
  dedup_minhash_lsh      shingle -> K minhashes -> banded LSH bucket join ->
                         exact-Jaccard verify on candidates only
  dedup_simhash          32-bit simhash (codegen-only per row) -> byte-band
                         bucket join -> Hamming filter
  dedup_ngram_jaccard    inverted-index join on shared shingles (exact, no
                         O(n^2) cross join)
  dedup_embedding_cosine pairwise cosine over embeddings (brute force at
                         test scale; the LSH/IVF scale path lives in
                         operators/similarity.py)

All hashing is md5-derived so the DuckDB oracles reproduce every value
bit-for-bit (see functions/text.py). Jaccard/cosine are emitted as exact
doubles — both engines compute them from identical integers/floats in
identical order, so no rounding is needed.

Reference parity: the reference deduplicates nothing (every upload is a
new uuid row, storage_service.py:48); dedup is part of the training-data
surface this engine adds on top of SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import clear_caches, memo  # noqa: F401 — clear_caches re-exported
from ..functions import text as TX
from ..functions import vectors as V


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents spread across all cores for the hash-heavy cached
    projections: the test table is a single parquet split, so without an
    explicit repartition the shingle/digest/simhash materialization runs
    as ONE task and serializes the whole scan on one core (measured 9.9s
    of a 11s op at sf0.1). At 100 TB the input arrives in thousands of
    splits and this repartition collapses into the natural scan
    parallelism."""
    par = max(spark.sparkContext.defaultParallelism, 8)
    return _docs(spark, sf_dir).repartition(par, F.col("doc_id"))


def _shingle_table(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Unpersisted (doc_id, shd) plan — the ONE definition of shingle
    construction, shared by _shingled and the minhash digest table so
    the DuckDB oracle's _shingle_expr can never drift from only one of
    them."""
    docs = _docs_wide(spark, sf_dir)
    tok = TX.tokens(F.col("text"))
    return docs.select(
        "doc_id", F.array_distinct(TX.word_shingles(tok, n)).alias("shd")
    )


def _shingled(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    """doc_id + distinct n-word shingles, persisted and memoized per
    (session, sf_dir, n) — repeated operator calls in one session reuse
    ONE cached table instead of leaking a new persist() each time. The
    cache barrier also keeps the downstream 12-signature codegen small
    (see dedup_minhash_lsh docstring)."""
    return memo(spark, sf_dir, n, lambda: _shingle_table(spark, sf_dir, n))


# --- exact dedup ------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed exact dedup: one hash aggregate on the
    fingerprint of the canonical text form. At 100 TB this is a single
    shuffle on a 16-byte key with partial aggregation map-side."""
    docs = _docs(spark, sf_dir)
    fp = TX.md5_hex(TX.norm_text(F.col("text")))
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


# --- MinHash + LSH ----------------------------------------------------------


def _minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted+memoized narrow band table (doc_id, band_idx,
    band_hash) — the LSH index shared by dedup_minhash_lsh and the
    incremental variant (see dedup_minhash_lsh's docstring for why the
    NARROW table is the one worth caching/checkpointing). The LSH
    bucket join reads it from BOTH sides (a/b aliases)."""

    def build() -> DataFrame:
        dig = TX.minhash_digests(F.col("shd"))
        sigs = [TX.minhash_component(dig, i) for i in range(TX.MINHASH_K)]
        bands = F.array(
            *[TX.lsh_band_hash(sigs, b) for b in range(TX.LSH_BANDS)]
        )
        return (
            _shingle_table(spark, sf_dir, 3)
            .select(
                "doc_id", F.posexplode(bands).alias("band_idx", "band_hash")
            )
            .filter(F.col("band_hash").isNotNull())
        )

    return memo(spark, sf_dir, "minhash_bands", build)


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(K=12) -> 4 bands x 3 rows LSH -> bucket self-join ->
    exact-Jaccard verify (>= 0.5) on candidates only.

    Scale shape: the band join touches O(n * BANDS) small rows, never the
    O(n^2) pair space; shingle arrays are re-joined only for the verified
    candidate set. Signature + band hashes are pure codegen expressions.

    Cache layout (re-measured in r3): persist the NARROW post-explode
    band table (doc_id, band_idx, band_hash — ~32 bytes/row) and reuse
    the shared _shingled(3) cache for the verify sides, instead of one
    wide (shd + dig) table read three times. The wide cache was
    measurably SLOWER warm than a full recompute (3.4-5s vs 1.3s at
    sf0.1): every consumer paid columnar deserialization of fat string
    arrays, while the collapsed single-projection build (tokenize ->
    shingle -> 3 md5 digests -> 12 signature slices -> 4 band hashes)
    stays inside one WholeStageCodegen span where subexpression
    elimination computes each digest once per row. With digest slicing
    (functions/text.py minhash_digests) the signature costs 3 md5 calls
    per shingle, not 12. At 10^12 rows the band table is the thing to
    checkpoint to storage — it is the join input and orders of
    magnitude smaller than the shingle sets.
    """
    banded = _minhash_bands(spark, sf_dir)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sh = _shingled(spark, sf_dir, 3)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shd").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shd").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", (inter / union).alias("jaccard")
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# --- SimHash ----------------------------------------------------------------


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit simhash per doc (no shuffle — higher-order fns in codegen),
    then byte-band bucket join + Hamming-distance filter (<= 6).

    Banding guarantee: any pair within Hamming 3 of a 32-bit hash shares
    at least one of the 4 bytes; <=6 is best-effort recall, the standard
    simhash trade.

    The signature table is persisted+memoized like the shingle table:
    the banding projection references `simhash` five times (posexplode
    bytes + carry), and without the cache barrier CollapseProject
    inlines the 32-lane aggregate into every reference."""
    sh = memo(
        spark,
        sf_dir,
        "simhash",
        lambda: _docs_wide(spark, sf_dir).select(
            "doc_id", TX.simhash32(TX.tokens(F.col("text"))).alias("simhash")
        ),
    )
    byte_of = lambda b: F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
    banded = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[byte_of(b) for b in range(4)])).alias(
            "band_idx", "band_val"
        ),
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 6)
    )


# --- exact n-gram Jaccard via inverted index --------------------------------


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-gram Jaccard (>= 0.6) with an inverted-index join: explode
    distinct shingles, self-join on the shingle, dedup candidate pairs,
    verify. Exact recall (any overlapping pair shares a shingle) without
    the O(n^2) cross join; the shingle join key is skew-prone at scale —
    frequent-shingle stop-listing (df > threshold) is the standard cure
    and is applied here via a max-document-frequency filter."""
    sh = _shingled(spark, sf_dir, 2)  # persisted via _shingled memo
    inv = sh.select("doc_id", F.explode("shd").alias("sh"))
    # stop-list shingles appearing in too many docs (skew + noise control)
    rare = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 50
    )
    inv = inv.join(rare.select("sh"), "sh")
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shd").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shd").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# --- measured LSH recall vs exact ground truth ------------------------------


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The honesty number for the minhash family (same play as
    ann_ivf_recall): measured RECALL of the banded LSH against exact
    ground truth, plus the candidate-set precision that prices the
    verify stage.

    Ground truth = every pair with exact 3-gram Jaccard >= 0.5, found
    via an UN-stop-listed inverted index — exhaustive, because any pair
    with Jaccard > 0 shares at least one shingle; no O(n^2) cross join.
    Found = dedup_minhash_lsh's verified output (same shingles, same
    threshold), which is by construction a subset of the truth set, so
    recall_e4 = found/truth and candidate_precision_e4 = found/candidates
    are both exact integer ratios (x10^4 through DIV).

    Scale: the truth side is the expensive half (no stop-list means the
    hottest shingle key carries its full posting list); this op is a
    VALIDATION query you run on a sampled slice to tune BANDS x ROWS,
    not a production pass — the production pass is dedup_minhash_lsh
    itself. At 10^12 docs you run it on a hash-stable 10^-4 sample
    (sample_hash_stable) where the same ratios hold in expectation.
    Singleton frames crossJoin like every one-row aggregate here.
    """
    sh = _shingled(spark, sf_dir, 3)
    inv = sh.select("doc_id", F.explode("shd").alias("s"))
    a, b = inv.alias("a"), inv.alias("b")
    tcand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shd").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shd").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        tcand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((inter / union) >= 0.5)
        .select("doc_a", "doc_b")
    )

    banded = _minhash_bands(spark, sf_dir)
    ba, bb = banded.alias("a"), banded.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    found = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")

    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_lsh_candidates"))
    n_found = found.agg(F.count(F.lit(1)).cast("long").alias("n_found_pairs"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(n_found)
        .select(
            "n_true_pairs",
            "n_lsh_candidates",
            "n_found_pairs",
            F.when(F.col("n_true_pairs") == 0, F.lit(10000).cast("long"))
            .otherwise(
                F.expr("(n_found_pairs * 10000L) DIV n_true_pairs")
            )
            .alias("recall_e4"),
            F.when(F.col("n_lsh_candidates") == 0, F.lit(10000).cast("long"))
            .otherwise(
                F.expr("(n_found_pairs * 10000L) DIV n_lsh_candidates")
            )
            .alias("candidate_precision_e4"),
        )
    )


# --- per-document duplicate-text fraction ------------------------------------


def text_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style signal: the fraction of a document's distinct
    5-gram shingles that also occur in at least one OTHER document.
    High values flag boilerplate/templated pages even when no single
    pair crosses a near-dup threshold.

    Shape: inverted index on the cached shingle table (one shuffle on
    the shingle key for document frequencies, one back on doc_id) —
    the same skew profile as dedup_ngram_jaccard, minus the pair join."""
    sh = _shingled(spark, sf_dir, 5)
    inv = sh.select("doc_id", F.explode("shd").alias("s"))
    df = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        inv.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_dup"),
        )
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    out = docs.join(per_doc, "doc_id", "left")
    n_sh = F.coalesce(F.col("n_shingles"), F.lit(0))
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0))
    return out.select(
        "doc_id",
        n_sh.cast("long").alias("n_shingles"),
        n_dup.cast("long").alias("n_dup"),
        F.when(n_sh > 0, n_dup / n_sh).otherwise(F.lit(0.0)).alias("dup_fraction"),
    )


# --- connected components over the near-dup graph ---------------------------


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: every document labeled with the minimum doc_id
    reachable through the minhash-LSH pair graph (singletons label
    themselves). This is the step that turns pairwise dedup output into
    per-cluster canonical representatives — keep min(doc_id), drop the
    rest.

    Shape: iterative min-label propagation (each round: one equi-join of
    labels to edges + one min-aggregate), converging in <= graph-diameter
    rounds with an early-exit count. Near-dup graphs are
    tiny-diameter clique-ish clusters, so rounds stay single-digit; at
    10^12 rows the refinement is large-star/small-star pointer doubling
    (O(log n) rounds), same per-round plan. Driver-side state is one
    scalar count per round — no collect of data rows."""

    def build() -> DataFrame:
        pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
        docs = _docs(spark, sf_dir).select("doc_id")
        return connected_components_labels(docs, pairs)

    return memo(spark, sf_dir, "components", build)


def connected_components_labels(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 60
) -> DataFrame:
    """Label every node with the minimum node id reachable through the
    undirected pair graph, via min-label propagation WITH pointer
    doubling (VERDICT r2 next-round #6 — the r2 version was pure
    propagation, bounded by graph diameter and capped at 50 rounds).

    Each round computes, per node u, the min over three candidate
    sets and keeps labels monotonically non-increasing:
      * l(u)            — own label
      * min l(v), v∈N(u) — neighbor propagation (edge equi-join + min agg)
      * l(l(u))         — the SHORTCUT: follow the label pointer one
                          hop (labels self-join); pointer chains halve
                          every round, so a path graph converges in
                          O(log diameter) rounds instead of O(diameter)
                          — the Shiloach-Vishkin / large-star
                          shortcutting idea expressed as two joins.
    Every candidate is a node id inside u's component, so the fixpoint
    is unchanged from r2: labels constant per component and equal to
    the component min (exact transitive-closure semantics, same
    recursive-CTE DuckDB oracle). Driver-side state per round is one
    scalar change-count; max_rounds=60 covers any graph to 2^60 nodes,
    and non-convergence still raises rather than silently returning
    split components.

    Each round's labels are localCheckpoint-ed, not just persisted:
    three operators reference the previous round's labels (propagate,
    shortcut, change-count), so without lineage truncation the LOGICAL
    plan triples per round — 3^rounds analyzer nodes hung the driver
    before any task ran. localCheckpoint keeps the data in executor
    storage and cuts the plan to a leaf. (On a real cluster with
    executor loss, swap for reliable checkpoint() on a cluster-visible
    dir — the driver-side loop is unchanged.)"""
    # Pregel pin (same as pagerank_link_graph): the doubled edge table
    # is hash-partitioned ONCE on its join key (doc_b) and persisted,
    # so every round's propagate join satisfies its distribution from
    # the cache and exchanges ONLY the label side. (PySpark's
    # localCheckpoint drops partitioning metadata — measured, pinned in
    # tests/test_plan_shape_r4.py — so labels re-exchange each round;
    # that is the Pregel cost model: vertex values move, edges never.)
    # At 10^12 edges this is the difference between shuffling the edge
    # list log(n) times and never.
    spark = nodes.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition(par, "doc_b")
        .persist()
    )
    labels = (
        nodes.repartition(par, "doc_id")
        .select("doc_id", F.col("doc_id").alias("component_id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_rounds):
        neigh = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("component_id").alias("nmin"))
        )
        jump = (
            labels.alias("x")
            .join(
                labels.alias("y"),
                F.col("x.component_id") == F.col("y.doc_id"),
            )
            .select(
                F.col("x.doc_id").alias("doc_id"),
                F.col("y.component_id").alias("jmin"),
            )
        )
        new_labels = (
            labels.join(neigh, "doc_id", "left")
            .join(jump, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nmin"), F.col("component_id")),
                    F.coalesce(F.col("jmin"), F.col("component_id")),
                ).alias("component_id"),
            )
            .localCheckpoint()  # eager: materializes + truncates lineage
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component_id") != F.col("o.component_id"))
            .count()
        )
        # storage note: unpersist() is a cache-manager call and a no-op
        # on localCheckpoint-ed frames — the previous round's checkpoint
        # blocks are freed by the ContextCleaner once this Python
        # reference drops (next line), so the transient footprint is
        # bounded by GC lag over ~log2(n) small label tables, not held
        # for the session
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # silent non-convergence would return split components and
        # diverge from the exact transitive-closure oracle
        raise RuntimeError(
            "connected components did not converge within the round cap"
        )
    return labels


# --- embedding cosine near-dup ----------------------------------------------


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine >= EMB_NEARDUP_TAU (the family's
    one shared operating point, similarity.py) over all i<j pairs.

    Brute force is the *verification* baseline (exact); at 10^12 rows the
    candidate generation must come from operators/similarity.py's
    IVF/bucketed path — this operator is the oracle-checkable ground
    truth for it. Norms are precomputed per side before the join so the
    pair stage multiplies two scalars instead of re-folding 64 floats."""
    from .similarity import EMB_NEARDUP_TAU

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    emb = emb.select("vec_id", "v", V.norm(F.col("v")).alias("nrm"))
    a, b = emb.alias("a"), emb.alias("b")
    cos = V.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= EMB_NEARDUP_TAU)
    )


def dedup_url_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl re-fetch dedup: the same page fetched through URL variants
    (scheme/host case, utm params, fragments, trailing slash) collapses
    onto its canonical URL; keep the first (min doc_id) fetch per key.

    Deterministic variants are synthesized so every ~3 docs collide on
    one canonical key (floor(doc_id/3) picks the page, doc_id picks the
    variant). Shape mirrors dedup_exact: one hash aggregate on the
    canonical key with map-side partial aggregation — the single
    cheapest dedup pass a crawl pipeline runs before any content
    hashing, and at 10^12 fetches it is one shuffle of (key, doc_id)
    pairs, no payload movement."""
    from .textstats import canonical_url

    docs = _docs(spark, sf_dir)
    k = F.col("doc_id")
    g = F.floor(k / 3).cast("long")
    raw = F.concat(
        F.when(k % 2 == 0, F.lit("https://www.")).otherwise(F.lit("HTTPS://WWW.")),
        F.lit("site"),
        (g % 50).cast("string"),
        F.lit(".example.com/page/"),
        g.cast("string"),
        F.when(k % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 2 == 0, F.lit("?utm_source=feed&page=1")).otherwise(
            F.lit("?page=1")
        ),
        F.when(k % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        docs.select(canonical_url(raw).alias("canon_url"), "doc_id")
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )


# Exact-substring span dedup: window width in tokens. Real pipelines use
# ~50 (Lee et al., "Deduplicating Training Data Makes Language Models
# Better"); 5 keeps the fixture text exercised at test scale.
SPAN_W = 5


def _span_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positioned SPAN_W-token windows: one (doc_id, pos, h) row per
    window, md5-hashed so downstream shuffle/join keys are 32 bytes
    regardless of W. Persisted + memoized per (session, sf_dir): the
    table feeds both sides of dedup_substring_spans' dup-hash join AND
    curation.decontam_ngram_overlap, so the tokenize -> shingle -> md5
    -> posexplode pipeline runs once per dataset (9.9s -> ~1s warm at
    sf0.1)."""

    def build() -> DataFrame:
        tok = TX.tokens(F.col("text"))
        return (
            _docs_wide(spark, sf_dir)
            .select(
                "doc_id",
                F.posexplode(TX.word_shingles(tok, SPAN_W)).alias("pos", "sh"),
            )
            .select("doc_id", "pos", TX.md5_hex(F.col("sh")).alias("h"))
        )

    return memo(spark, sf_dir, f"spanwin-{SPAN_W}", build)


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, span-level (ExactSubstr a la Lee et al.):
    find every SPAN_W-token window whose text recurs in ANOTHER
    document, then merge overlapping/adjacent duplicated windows into
    maximal per-document spans — the unit a cleaning pipeline would
    actually cut.

    Differs from text_dup_fraction (which counts distinct duplicated
    shingles) by keeping POSITIONS and reporting the merged interval
    union: n_spans, dup_tokens (union length), max_span.

    Shape, scan to sink:
      1. posexplode of the window array — one (doc_id, pos, h) row per
         window, md5-hashed so the shuffle key is 32 bytes regardless
         of W.
      2. distinct-document frequency per hash: groupBy(h, doc_id) then
         groupBy(h) — both phases partial-aggregate map-side, so the
         Zipf-hot boilerplate windows collapse before the shuffle.
      3. join positions back to the nd>=2 hash set (equi-join on h;
         AQE skew-join handles the boilerplate head at scale — the
         duplicated-hash set is corpus-sized, not broadcastable).
      4. interval union per doc via one window pass ordered by pos:
         a window starts a new span iff it begins past the running
         max end + 1 (adjacent windows fuse); span id = running sum
         of starts. One shuffle on doc_id, then two tiny aggregates.
    Per doc the output is joined LEFT from documents so clean docs
    report zeros. All counts are exact integers; the fraction is one
    bigint/bigint double division (bit-identical across engines)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    win = _span_windows(spark, sf_dir)
    dup_hashes = (
        win.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    dup = win.join(dup_hashes, "h").select(
        "doc_id", "pos", (F.col("pos") + F.lit(SPAN_W - 1)).alias("e")
    )
    order = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "brk",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "gid",
        F.sum("brk").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = marked.groupBy("doc_id", "gid").agg(
        F.min("pos").alias("s"), F.max("e").alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).cast("long").alias("max_span"),
    )
    n_tok = F.when(TX.norm_text(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(TX.tokens(F.col("text")))
    )
    return (
        docs.select("doc_id", n_tok.cast("long").alias("n_tok"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.coalesce(F.col("max_span"), F.lit(0)).cast("long").alias("max_span"),
            F.when(
                F.col("n_tok") > 0,
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tok"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_token_frac"),
        )
    )


# --- incremental (crawl-refresh) minhash dedup -------------------------------

INCR_NEW_MOD = 5  # hash60(doc_id) % 5 == 0 -> the "new crawl increment" (~20%)


def _is_new_doc(doc_id: F.Column) -> F.Column:
    return TX.hash15(doc_id.cast("string")) % INCR_NEW_MOD == 0


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-refresh dedup: verdict for every document of the NEW
    increment against the already-indexed corpus, without re-deduping
    the corpus against itself.

    The increment is carved deterministically (hash60(doc_id) %
    INCR_NEW_MOD == 0, ~20%) so the oracle can replay it. Probe shape:
    only the increment's band rows sit on the LEFT of the bucket join
    — the candidate space is O(|new| x bucket width), not O(|corpus|^2),
    which is the entire point of keeping the band table as a persistent
    index (at 10^12 docs: the checkpointed band table is the corpus
    index; a refresh job appends the new bands and probes with them).
    Indexed-vs-indexed pairs never form. Verdict per new doc:
    drop if it duplicates an indexed doc (any) or a SMALLER-id new doc
    (keep-first within the increment); match = smallest eligible
    duplicate partner, with its exact verify Jaccard.
    """
    banded = _minhash_bands(spark, sf_dir)
    nb = banded.filter(_is_new_doc(F.col("doc_id")))
    a, b = nb.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_new"),
            F.col("b.doc_id").alias("doc_other"),
        )
        .filter(
            (~_is_new_doc(F.col("doc_other")))
            | (F.col("doc_other") < F.col("doc_new"))
        )
        .distinct()
    )
    sh = _shingled(spark, sf_dir, 3)
    sa = sh.select(F.col("doc_id").alias("doc_new"), F.col("shd").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_other"), F.col("shd").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = (
        cand.join(sa, "doc_new")
        .join(sb, "doc_other")
        .select("doc_new", "doc_other", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )
    matches = verified.groupBy("doc_new").agg(
        F.min("doc_other").alias("match_doc_id"),
        F.expr("min_by(jaccard, doc_other)").alias("match_jaccard"),
    )
    new_docs = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .filter(_is_new_doc(F.col("doc_id")))
    )
    return (
        new_docs.join(
            matches, new_docs["doc_id"] == matches["doc_new"], "left"
        )
        .select(
            "doc_id",
            F.col("match_doc_id").isNotNull().alias("is_dup"),
            "match_doc_id",
            "match_jaccard",
        )
    )


# --- crawl-delta report (re-crawl change detection) ---------------------------

DELTA_GONE_MOD = 11  # every 11th url vanishes from the re-crawl
DELTA_CHANGED_MOD = 7  # every 7th page's content changes
DELTA_NEW_MOD = 13  # every 13th doc spawns a brand-new url


def crawl_delta_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change detection between two crawl snapshots of the same sites —
    the monthly-refresh primitive next to dedup_incremental_lsh: which
    urls are unchanged (skip re-processing), changed (re-extract),
    gone (tombstone), new (full pipeline).

    Crawl A is the documents table; crawl B is derived from it
    deterministically (every DELTA_GONE_MOD-th url dropped, every
    DELTA_CHANGED_MOD-th page's text mutated, every DELTA_NEW_MOD-th
    doc contributing a brand-new url), so both engines build the
    identical snapshots. Verdicts compare content FINGERPRINTS
    (md5 of the canonical text form — the same content-addressed key
    dedup_exact shuffles on), never the texts: at 10^12 urls the full
    outer join moves two 16-byte-key columns, not page bodies, and the
    statuses drive exactly which fraction of the fleet re-runs the
    expensive kernel stage. One url-keyed shuffle; map-side combine
    does not apply (keys unique) but partial pruning via the status
    filter pushes down when a consumer asks only for e.g. 'changed'."""
    from ..pipeline import doc_url_expr

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    url = doc_url_expr()
    d = F.col("doc_id")
    a = docs.select(
        url.alias("url"), TX.md5_hex(TX.norm_text(F.col("text"))).alias("fp_a")
    )
    changed_text = F.when(
        d % DELTA_CHANGED_MOD == 0,
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" updated "),
            d.cast("string"),
        ),
    ).otherwise(F.col("text"))
    b = (
        docs.filter(d % DELTA_GONE_MOD != 0)
        .select(
            url.alias("url"),
            TX.md5_hex(TX.norm_text(changed_text)).alias("fp_b"),
        )
        .unionByName(
            docs.filter(d % DELTA_NEW_MOD == 0).select(
                F.concat(
                    F.lit("https://"), F.col("source"),
                    F.lit(".example.com/doc/new-"), d.cast("string"),
                ).alias("url"),
                TX.md5_hex(
                    F.concat(F.lit("fresh "), d.cast("string"))
                ).alias("fp_b"),
            )
        )
    )
    j = a.join(b, "url", "full_outer")
    status = (
        F.when(F.col("fp_b").isNull(), F.lit("gone"))
        .when(F.col("fp_a").isNull(), F.lit("new"))
        .when(F.col("fp_a") == F.col("fp_b"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("url", "fp_a", "fp_b", status.alias("status"))


def dedup_lsh_exact_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket graduation path named in dedup_minhash_lsh's
    docstring, made real: route EXACT duplicates through the
    one-shuffle hash dedup FIRST, run LSH over a single representative
    per exact group, then recover the full near-dup component labeling
    from (exact star edges) UNION (representative LSH pairs).

    Why this is the Zipf answer: at 10^12 pages the hottest LSH buckets
    are dominated by byte-identical boilerplate (error pages, parked
    domains) — a bucket with m identical docs costs O(m^2) candidate
    pairs under plain LSH but exactly m-1 star edges + 1 representative
    here, so the quadratic bucket blowup collapses to the linear exact
    aggregate.

    EQUIVALENCE (pytest-proven against dedup_connected_components, and
    oracle-checked against the same recursive-CTE transitive-closure
    twin): exact-equal canonical text => identical shingle sets =>
    identical minhash signatures => identical bucket membership AND
    exact Jaccard 1 against the representative. So for any members
    a∈A, b∈B of exact groups A != B, jaccard(a, b) ==
    jaccard(rep_A, rep_B) and (a, b) is an LSH candidate iff
    (rep_A, rep_B) is — collapsing a group onto its min-id
    representative loses no edge reachable through any member, and
    within-group connectivity is restored by the star edges. One edge
    case makes the restriction below load-bearing: a document with
    fewer than 3 tokens has an EMPTY shingle set, so plain LSH can
    never pair it with anything (its band hashes are NULL-filtered and
    0/0 Jaccard is NULL) — exact duplicates of such a document stay
    singletons under plain LSH. Star edges are therefore formed only
    over SHINGLE-BEARING docs (size(shd) > 0, read from the same
    shared shingle table the verify step uses, so the basis can't
    drift); with that, the component labeling is IDENTICAL to running
    plain LSH + components over every document.

    Shape: one fp shuffle (exact groups) + one fp join-back (star
    edges), the band/self-join/verify machinery restricted to reps,
    then the shared pointer-doubling labeler over the union.
    """
    docs = _docs(spark, sf_dir)
    sh_all = _shingled(spark, sf_dir, 3)
    shingly = sh_all.filter(F.size("shd") > 0).select("doc_id")
    fp = TX.md5_hex(TX.norm_text(F.col("text")))
    groups = docs.select(fp.alias("fp"), "doc_id").join(shingly, "doc_id")
    reps = groups.groupBy("fp").agg(F.min("doc_id").alias("rep"))
    member = groups.join(reps, "fp").select("doc_id", "rep")
    star = member.filter(F.col("doc_id") != F.col("rep")).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )

    rep_set = member.select(F.col("rep").alias("doc_id")).distinct()
    banded = _minhash_bands(spark, sf_dir).join(rep_set, "doc_id")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sh_all.select(
        F.col("doc_id").alias("doc_a"), F.col("shd").alias("sh_a")
    )
    sb = sh_all.select(
        F.col("doc_id").alias("doc_b"), F.col("shd").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    rep_pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )

    edges = star.unionByName(rep_pairs)
    return connected_components_labels(docs.select("doc_id"), edges)


# --- winnowing-fingerprint pair detection ------------------------------------

WINNOW_PAIR_CAP = 10  # stop-fingerprint cap: h shared by more docs is dropped
WINNOW_PAIR_MIN_SHARED = 2  # candidate pairs need >= 2 shared fingerprints


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL-similarity near-dup pairs via shared winnowing fingerprints
    — the MOSS detection join (Schleimer et al., SIGMOD'03 §4) and the
    complement to the dedup family's global MinHash: winnowing's
    guarantee (any shared substring of length ≥ k+w−1 shares a
    fingerprint) catches CONTAINMENT — a quoted paragraph, a syndicated
    article inside a longer page — that whole-document Jaccard dilutes
    below the LSH threshold.

    Algorithm: each document's distinct fingerprint HASHES (position
    dropped — shared content anywhere counts) post into hash buckets;
    hashes held by < 2 docs cannot form pairs and hashes held by >
    WINNOW_PAIR_CAP docs are dropped as stop-fingerprints (MOSS's own
    noise rule — boilerplate k-grams — and the hot-bucket bound that
    caps the pair join at CAP² rows per hash, the same graduation
    policy dedup_lsh_exact_reps proves for LSH bands); surviving
    postings self-join on the hash (columns renamed first — the
    shared-lineage footgun), pairs aggregate shared-fingerprint counts,
    and containment_e6 = (10^6·shared) DIV min(|fp_a|,|fp_b|) scores
    overlap against the SMALLER fingerprint set (asymmetric-containment
    normalization), all integer-exact.

    Scale shape: fingerprints explode scan-side from _winnow_fp_frame's
    zero-shuffle arrays; the bucket count and pair aggregate are the
    only shuffles, both map-side combined; the stop-fingerprint cap
    bounds every bucket's pair fan-out. At 10^12 docs the posting
    table IS the stored fingerprint index (same increment path as the
    LSH band index) — so it goes through cache.memo like the other
    persisted indexes: the posting frame has THREE consumers in one
    action (n_fp rollup, bucket count, pair join both sides), and left
    bare that re-ran the whole k-gram md5 winnowing chain per consumer
    (measured 10.8s warm at sf0.1 → 2.0s memoized).
    """
    from .textstats import _winnow_fp_frame

    dh = memo(
        spark,
        sf_dir,
        "winnow-posts",
        lambda: _winnow_fp_frame(spark, sf_dir).select(
            "doc_id",
            F.explode(
                F.array_distinct(F.transform(F.col("fps"), lambda x: x["h"]))
            ).alias("h"),
        ),
    )
    nfp = dh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp")
    )
    keep = (
        dh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("dcnt"))
        .filter(
            (F.col("dcnt") >= 2) & (F.col("dcnt") <= WINNOW_PAIR_CAP)
        )
        .select("h")
    )
    posts = dh.join(keep, "h")
    right = posts.select(
        F.col("h").alias("h_r"), F.col("doc_id").alias("doc_b")
    )
    pairs = (
        posts.select(F.col("h"), F.col("doc_id").alias("doc_a"))
        .join(right, F.col("h") == F.col("h_r"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= WINNOW_PAIR_MIN_SHARED)
    )
    na = nfp.select(
        F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")
    )
    nb = nfp.select(
        F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "(1000000 * shared) DIV least(n_fp_a, n_fp_b)"
            ).cast("long").alias("containment_e6"),
        )
    )


def _winnow_pairs_oracle() -> str:
    from .textstats import _WINNOW_CTES

    return f"""
    WITH {_WINNOW_CTES},
    dh AS (
        SELECT DISTINCT doc_id, h FROM inwin WHERE rk = 1
    ),
    nfp AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        FROM dh GROUP BY doc_id
    ),
    keep AS (
        SELECT h FROM dh GROUP BY h
        HAVING count(*) BETWEEN 2 AND {WINNOW_PAIR_CAP}
    ),
    posts AS (SELECT doc_id, h FROM dh JOIN keep USING (h)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared
        FROM posts a JOIN posts b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {WINNOW_PAIR_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.shared,
           na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b,
           CAST((1000000 * p.shared) // least(na.n_fp, nb.n_fp)
                AS BIGINT) AS containment_e6
    FROM pairs p
    JOIN nfp na ON p.doc_a = na.doc_id
    JOIN nfp nb ON p.doc_b = nb.doc_id
"""


WINNOW_PAIRS_ORACLE_SQL = _winnow_pairs_oracle()
