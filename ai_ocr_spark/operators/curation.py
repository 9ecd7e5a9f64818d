"""Corpus-curation operators a training-data pipeline runs AFTER
per-document cleaning: benchmark decontamination, per-domain sampling
caps, and the end-to-end near-dup keep/drop decision.

  decontam_ngram_overlap      flag corpus documents sharing any
                              SPAN_W-token window with a held-out
                              benchmark slice (the eval-set-leakage
                              check every LLM data pipeline runs before
                              training; cf. GPT-3 App. C / PaLM's
                              13-gram decontamination).
  decontam_minhash            the FUZZY leg: near-duplicate matching
                              against the benchmark slice through the
                              shared MinHash/LSH band index — catches
                              the paraphrased leakage exact windows
                              miss.
  sample_domain_cap           keep at most CAP documents per domain,
                              longest first with a deterministic
                              tie-break — the C4/Gopher-style corpus
                              balancing pass that stops one crawl-heavy
                              host from dominating the mixture.
  dedup_minhash_keep_canonical
                              the composition users actually run:
                              minhash-LSH pairs -> connected components
                              -> per-cluster canonical representative,
                              emitting a keep/drop verdict for EVERY
                              document (singletons keep themselves).

  sample_pack_sequences       GPT-style concat-and-chunk sequence
                              packing: deterministic global layout via
                              a distributed prefix sum, per-document
                              chunk span + boundary-crossing stats.

All are pure DataFrame plans over the shared dedup machinery —
no Python rows, no collect. Scale notes per operator docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..functions import text as TX
from .dedup import (
    _docs,
    _span_windows,
    dedup_connected_components,
)

# Benchmark slice: hash15(doc_id) below 5% of the 60-bit hash space.
# Same stable-hash membership primitive as sketch.sample_hash_stable —
# deterministic across engines, runs, and partitionings.
DECON_BENCH_THRESHOLD = (1 << 60) // 20

# Per-domain document cap for the balancing sample.
DOMAIN_CAP = 15

# Global line dedup: lines shorter than this many tokens are never
# deduplicated (C4 dedups content spans, not connective scraps), and
# the top-K hottest line hashes join as a broadcast map (boilerplate
# head de-skew, same split as textstats.text_unigram_rarity).
MIN_LINE_TOKENS = 4
LINE_HEAD_K = 1024


def _is_bench(doc_id: Column) -> Column:
    return TX.hash15(doc_id.cast("string")) < F.lit(DECON_BENCH_THRESHOLD)


def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every NON-benchmark document,
    count distinct SPAN_W-token windows that also occur anywhere in the
    benchmark slice; `contaminated` marks any overlap.

    Benchmark membership is a scan-side predicate on hash15(doc_id) —
    no join materializes the split, both sides prune off the same
    cached window table (dedup._span_windows).

    Scale shape: the benchmark n-gram set is bounded by the BENCHMARK's
    token count, not the corpus (real decontamination runs against
    fixed eval sets — MMLU/GSM8K-sized, ~10^6 windows), so it is
    broadcast: the corpus side never shuffles. Per-doc counts are one
    partial-aggregated groupBy on doc_id; clean/short docs re-enter via
    a left join from the corpus slice so the verdict covers every row.
    """
    win = _span_windows(spark, sf_dir)
    bench_hashes = (
        win.filter(_is_bench(F.col("doc_id"))).select("h").distinct()
    )
    corpus_win = (
        win.filter(~_is_bench(F.col("doc_id")))
        .select("doc_id", "h")
        .distinct()
    )
    per_doc = (
        corpus_win.join(
            F.broadcast(bench_hashes.withColumn("hit", F.lit(1))), "h", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_win"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    corpus = _docs(spark, sf_dir).filter(~_is_bench(F.col("doc_id")))
    return (
        corpus.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_win"), F.lit(0)).cast("long").alias("n_win"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            F.when(F.coalesce(F.col("n_win"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("long")
                / F.coalesce(F.col("n_win"), F.lit(0)).cast("long")
            )
            .alias("hit_frac"),
            (F.coalesce(F.col("n_hit"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# Fuzzy-decontamination verdict threshold: the Jaccard operating point
# the 4-band x 3-row LSH config is tuned to (same as the dedup family),
# so candidate recall at the threshold is the measured dedup_lsh_recall
# number, not a new unknown.
DECONTAM_J = 0.5


def decontam_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: near-duplicate matching of
    corpus documents AGAINST the benchmark slice via MinHash/LSH — the
    companion to decontam_ngram_overlap's exact window gate. Exact
    n-gram checks miss lightly-paraphrased eval leakage (reworded
    GSM8K/MMLU items are the classic contamination vector); running
    the eval set through the SAME near-dup machinery the corpus is
    deduplicated with closes that hole at the dedup operating point
    (cf. the Llama/GPT-4-style fuzzy decontamination reports).

    Per corpus document: number of distinct benchmark candidates its
    LSH buckets produced, the best-matching benchmark doc and its
    exact Jaccard, and the verdict max_jaccard >= DECONTAM_J.
    Candidate-less docs re-enter via a left join (0 candidates, 0.0,
    clean) so the verdict covers every corpus row.

    Scale shape: the band index is the SAME memoized _minhash_bands
    frame the dedup family probes — built once per corpus, reused
    here. The benchmark side is bounded by the eval set (5% here;
    MMLU-sized, ~10^4 docs, in practice) so its bands AND its shingle
    sets ride BROADCASTs: candidate generation and verification never
    shuffle the corpus — the same build-big/probe-small asymmetry as
    decontam_ngram_overlap, at near-dup instead of exact granularity.

    The DuckDB twin rebuilds the band chain verbatim
    (_minhash_band_ctes) and applies the same hash15 split, argmax
    tie-break (jaccard DESC, bench_id ASC) and coalesced zeros."""
    from .dedup import _minhash_bands, _shingled

    banded = _minhash_bands(spark, sf_dir)
    bench_bands = banded.filter(_is_bench(F.col("doc_id"))).select(
        F.col("doc_id").alias("bench_id"), "band_idx", "band_hash"
    )
    cand = (
        banded.filter(~_is_bench(F.col("doc_id")))
        .join(F.broadcast(bench_bands), ["band_idx", "band_hash"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    sh = _shingled(spark, sf_dir, 3)
    sa = sh.select("doc_id", F.col("shd").alias("sh_a"))
    sb = sh.filter(_is_bench(F.col("doc_id"))).select(
        F.col("doc_id").alias("bench_id"), F.col("shd").alias("sh_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    scored = (
        cand.join(sa, "doc_id")
        .join(F.broadcast(sb), "bench_id")
        .select("doc_id", "bench_id", (inter / union).alias("jaccard"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("bench_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("bench_id").alias("best_bench_id"),
            F.col("jaccard").alias("max_jaccard"),
        )
    )
    ncand = cand.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand")
    )
    corpus = _docs(spark, sf_dir).filter(~_is_bench(F.col("doc_id")))
    mj = F.coalesce(F.col("max_jaccard"), F.lit(0.0))
    return (
        corpus.select("doc_id")
        .join(ncand, "doc_id", "left")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_cand"), F.lit(0)).cast("long").alias("n_cand"),
            "best_bench_id",
            mj.alias("max_jaccard"),
            (mj >= DECONTAM_J).alias("contaminated"),
        )
    )


# Semantic-decontamination threshold = the embedding near-dup family's
# verify point (dedup_embedding_cosine / dedup_embedding_lsh /
# dedup_semdedup all operate at the same cosine) — the ONE shared
# definition in similarity.py, not a fourth copy of the literal.
from .similarity import EMB_NEARDUP_TAU as EMB_DECONTAM_TAU  # noqa: E402


def decontam_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic benchmark decontamination — the EMBEDDING leg next to
    decontam_ngram_overlap (exact windows) and decontam_minhash (lexical
    fuzz): flag corpus vectors whose cosine to ANY benchmark-slice
    vector reaches EMB_DECONTAM_TAU. Rewritten eval items that share no
    surface n-grams still land near the original in embedding space —
    this is the leakage tier the other two legs cannot see (cf. the
    contamination studies behind Llama 3's and GPT-4's eval hygiene
    sections).

    Benchmark membership is the SAME hash15(vec_id) 5% slice the other
    decontam legs use on doc_id, so the three verdicts compose row-wise.

    Scale shape: the eval side is bounded by the BENCHMARK (MMLU/GSM8K-
    sized, ~10^4 vectors in practice), so it rides a BROADCAST and the
    corpus side never shuffles for candidate generation — a single scan
    scoring |bench| dots per row (O(n*|eval|), NOT the ground-truth
    oracle's O(n^2)). Only rows that hit the threshold enter the
    per-vector aggregate, and the verdict join-back moves scalars.
    Candidate-less vectors re-enter via a left join (0 hits, 0.0,
    clean) so the verdict covers every corpus row — same contract as
    the other legs.
    """
    from ..functions import vectors as V
    from .similarity import _emb

    emb = _emb(spark, sf_dir)
    bench = emb.filter(_is_bench(F.col("vec_id"))).select(
        F.col("vec_id").alias("bench_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    corpus = emb.filter(~_is_bench(F.col("vec_id")))
    cos = V.dot(F.col("v"), F.col("bv")) / (F.col("nrm") * F.col("bn"))
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", "bench_id", cos.alias("cos"))
        .filter(F.col("cos") >= EMB_DECONTAM_TAU)
    )
    # ONE aggregate computes both the hit count and the argmax (review
    # finding r5: a count aggregate + a separate row_number window each
    # consumed the unpersisted `hits` subtree, planning the dominant
    # O(n*|bench|) scan-and-score pass twice per action). The argmax
    # tie-break (cos DESC, bench_id ASC) becomes max(struct(cos,
    # -bench_id)) — field-wise struct max over exact values, identical
    # winner, and the whole leg is a single corpus pass again.
    agg = hits.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.max(
            F.struct(
                F.col("cos").alias("cos"),
                (-F.col("bench_id")).alias("neg_bid"),
            )
        ).alias("mx"),
    )
    return (
        corpus.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (-F.col("mx.neg_bid")).cast("long").alias("best_bench_id"),
            F.coalesce(F.col("mx.cos"), F.lit(0.0)).alias("max_cos"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed decontamination verdict — the three legs fused into
    one per-document row, which is what an eval-hygiene pipeline
    actually gates on (the Llama 3 / GPT-4 reports each run several
    contamination detectors and publish the union):

      ngram_hit      exact 8-gram window overlap (decontam_ngram_overlap)
      minhash_hit    lexical fuzz via the shared band index
                     (decontam_minhash — catches paraphrase)
      embedding_hit  semantic cosine vs the broadcast benchmark slice
                     (decontam_embedding — catches rewrites sharing no
                     surface n-grams)
      n_legs         how many detectors fired (0-3)
      contaminated   the union verdict

    All three legs sample the benchmark with the SAME hash15 5% slice
    over the same id domain, so the fusion is three equi-joins on
    doc_id over identically-scoped frames — scalars move, never text or
    vectors. The DuckDB twin composes the three leg oracles as
    MATERIALIZED CTEs, so any drift in any leg surfaces here too."""
    ng = decontam_ngram_overlap(spark, sf_dir).select(
        "doc_id", F.col("contaminated").alias("ngram_hit")
    )
    mh = decontam_minhash(spark, sf_dir).select(
        "doc_id", F.col("contaminated").alias("minhash_hit")
    )
    em = decontam_embedding(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("contaminated").alias("embedding_hit"),
    )
    n_legs = (
        F.col("ngram_hit").cast("int")
        + F.col("minhash_hit").cast("int")
        + F.col("embedding_hit").cast("int")
    ).cast("long")
    return (
        ng.join(mh, "doc_id")
        .join(em, "doc_id")
        .select(
            "doc_id",
            "ngram_hit",
            "minhash_hit",
            "embedding_hit",
            n_legs.alias("n_legs"),
            (n_legs > 0).alias("contaminated"),
        )
    )


def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-balanced sample: at most DOMAIN_CAP documents per source,
    preferring the longest (n_chars DESC) with doc_id ASC as the
    deterministic tie-break. NULL sources coalesce to '' so they form a
    real capped bucket instead of one row-per-NULL.

    Shape: ONE shuffle on the domain key; the rn <= CAP predicate
    compiles to WindowGroupLimit, so each partition keeps a CAP-sized
    heap instead of fully sorting its domain's rows — the property that
    makes the pass survive a crawl-skewed host with 10^9 pages."""
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.select(
            F.coalesce(F.col("source"), F.lit("")).alias("source"),
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= DOMAIN_CAP)
    )


def dedup_minhash_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup verdict: minhash-LSH pairs -> connected
    components -> keep the cluster-minimum doc_id, drop the rest.
    Every document gets a row (singletons are their own canonical).

    This is the composition a cleaning pipeline actually materializes —
    the pairwise and clustering operators exist so THIS keep column can
    be computed. Reuses the memoized component labels
    (dedup.dedup_connected_components — already localCheckpoint-ed);
    cluster_size rides one component_id shuffle as a count window, and
    `keep` is a pure projection, so the verdict costs one exchange over
    the labels table."""
    labels = dedup_connected_components(spark, sf_dir)
    w = Window.partitionBy("component_id")
    return labels.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("component_id")).alias("keep"),
    )


def _seeded_lines_doc(k: Column, t: Column) -> Column:
    """Deterministic multi-line document per row (the fixture text is
    single-line): two prose slices, a site-boilerplate footer shared by
    half the corpus each, and a tail slice. Assembled IDENTICALLY in
    the DuckDB twin so the cross-doc dedup provably fires on real
    repeated content (the footer is exactly the boilerplate a global
    line dedup exists to kill)."""
    return F.concat_ws(
        "\n",
        F.substring(t, 1, 50),
        F.substring(t, 51, 50),
        F.when(
            k % 2 == 0, F.lit("all rights reserved by the site operator")
        ).otherwise(F.lit("subscribe to our newsletter for updates today")),
        F.substring(t, 101, 50),
    )


def dedup_lines_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-level line dedup (the actual C4 rule — text_line_dedup is
    the within-document variant): every line occurring more than once
    anywhere in the corpus survives only at its lexicographically first
    (doc_id, pos) site; all later occurrences are cut. Lines under
    MIN_LINE_TOKENS tokens are exempt (C4 dedups content, not 'click
    here'). Emits per doc: line counts, removed count/fraction, and the
    reconstructed cleaned text.

    Shape, scan to sink:
      1. posexplode lines; key = md5 of the whitespace-canonical line.
      2. first-occurrence table: groupBy(h) -> min(struct(doc_id, pos))
         + occurrence count — partial-aggregated map-side, so the
         boilerplate head collapses before the shuffle.
      3. join the verdict back. The line key is Zipf-skewed (one footer
         line can occur 10^9 times at 100 TB), so the join is split
         like text_unigram_rarity: the LINE_HEAD_K hottest hashes
         (TakeOrderedAndProject, driver-bounded) join as a BROADCAST —
         the hot head never rides the shuffle — and only the de-skewed
         tail takes the shuffled equi-join.
      4. reconstruct: collect kept (pos, line) structs per doc,
         array_sort (struct order = pos order), join with newline. One
         doc_id shuffle.
    """
    docs = _docs(spark, sf_dir)
    seeded = _seeded_lines_doc(
        F.col("doc_id"), F.coalesce(F.col("text"), F.lit(""))
    )
    lines = docs.select(
        "doc_id", F.posexplode(F.split(seeded, "\n")).alias("pos", "line")
    )
    nl = TX.norm_text(F.col("line"))
    guard = (nl != "") & (F.size(F.split(nl, " ")) >= MIN_LINE_TOKENS)
    lines = lines.select(
        "doc_id", "pos", "line", guard.alias("dedupable"),
        F.when(guard, TX.md5_hex(nl)).alias("h"),
    )
    dedupable = lines.filter(F.col("dedupable"))
    # persist barrier, memoized per (session, sf_dir): firsts is
    # consumed twice (the broadcast-head TakeOrdered and the cold-tail
    # join) and each consumption would otherwise re-run the full
    # posexplode + aggregate. The cached table is one row per DISTINCT
    # dedupable line hash — the first-occurrence index a corpus-level
    # line dedup materializes anyway (same persisted-index pattern as
    # the minhash band table); repeated calls reuse ONE copy.
    firsts = memo(
        spark,
        sf_dir,
        "line-firsts",
        lambda: dedupable.groupBy("h").agg(
            F.min(F.struct("doc_id", "pos")).alias("first"),
            F.count(F.lit(1)).alias("n_occ"),
        ),
    )
    head = firsts.orderBy(F.col("n_occ").desc(), "h").limit(LINE_HEAD_K)
    with_head = dedupable.join(
        F.broadcast(head.select("h", F.col("first").alias("first_h"))),
        "h",
        "left",
    )
    hot = with_head.filter(F.col("first_h").isNotNull()).select(
        "doc_id", "pos", "line", F.col("first_h").alias("first")
    )
    # tail rows' hashes are not in head by construction, so joining the
    # full firsts table finds exactly the tail entries
    cold = (
        with_head.filter(F.col("first_h").isNull())
        .drop("first_h")
        .join(firsts.select("h", "first"), "h")
        .select("doc_id", "pos", "line", "first")
    )
    verdict = hot.unionByName(cold).select(
        "doc_id", "pos", "line",
        (F.struct("doc_id", "pos") == F.col("first")).alias("kept"),
    )
    exempt = lines.filter(~F.col("dedupable")).select(
        "doc_id", "pos", "line", F.lit(True).alias("kept")
    )
    allv = verdict.unionByName(exempt)
    per_doc = allv.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(~F.col("kept"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("pos", "line"))
                    )
                ),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("cleaned_text"),
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_removed",
        (F.col("n_removed") / F.col("n_lines")).alias("removed_frac"),
        "cleaned_text",
    )


# Per-domain token budget for the mixture-fill sample (the fixture
# domains carry ~1.5k tokens each, so this provably trims).
TOKEN_BUDGET = 800


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture fill: per domain, take documents in QUALITY
    order (best first, doc_id tie-break) until the cumulative token
    count exceeds TOKEN_BUDGET — the pass that turns 'we want N tokens
    per domain' into a concrete keep set. Uses the exact
    textstats.quality_expr double (bit-identical in the DuckDB twin),
    so the order — and therefore the running sum and the cut point —
    is deterministic cross-engine.

    Shape: ONE shuffle on the domain key, then a per-domain sort +
    running sum window. Unlike the cap sample this genuinely needs the
    per-domain quality sort (a budget is order-dependent); at 10^12
    rows the sort is bounded per domain, and a crawl-skewed host is
    handled upstream by sample_domain_cap or a pre-filter on quality
    — note, not silently absorbed."""
    from .textstats import _n_tokens, quality_expr

    docs = _docs(spark, sf_dir)
    norm = TX.norm_text(F.col("text"))
    tok = F.split(norm, " ")
    base = docs.select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"),
        "doc_id",
        _n_tokens(norm, tok).cast("long").alias("n_tok"),
        quality_expr(norm, tok).alias("quality"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
        .filter(F.col("cum_tok") <= TOKEN_BUDGET)
    )


def dedup_embedding_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-path twin of dedup_minhash_keep_canonical
    (SemDeDup-shaped): SRP-LSH cosine pairs -> connected components ->
    keep the cluster-minimum vec_id. Every vector gets a verdict row.
    Reuses connected_components_labels verbatim (pointer-doubling,
    localCheckpoint per round); cluster_size + keep ride one
    component_id exchange."""
    from .similarity import _emb, dedup_embedding_lsh
    from .dedup import connected_components_labels

    pairs = dedup_embedding_lsh(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = _emb(spark, sf_dir).select(F.col("vec_id").alias("doc_id"))
    labels = connected_components_labels(nodes, pairs)
    w = Window.partitionBy("component_id")
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        "component_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("doc_id") == F.col("component_id")).alias("keep"),
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation REPORT: per domain, how many documents survive each
    gate of the cleaning pipeline applied in order — Gopher quality ->
    C4 structural rules -> near-dup canonical keep -> benchmark
    decontamination. This is the number a data-curation run actually
    publishes (the funnel chart every pipeline paper shows), and it
    composes four independently-oracle-checked operators, so the
    composition itself is verified end-to-end.

    Shape: the three scan-speed gates + the dedup verdict join on
    doc_id (co-partitioned one-key shuffles), then one partial-agg
    rollup on the domain key. Composition-by-join keeps each gate's
    single source of truth; a production run at 10^12 rows would fuse
    the projection gates into one scan pass and persist the dedup
    verdict — same counts either way. Benchmark docs (held out by
    decontam) count as NOT passing the final gate."""
    from .textstats import quality_filter_c4, quality_filter_gopher

    docs = _docs(spark, sf_dir).select(
        F.coalesce(F.col("source"), F.lit("")).alias("source"), "doc_id"
    )
    g = quality_filter_gopher(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kg")
    )
    c = quality_filter_c4(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kc")
    )
    d = dedup_minhash_keep_canonical(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("kd")
    )
    x = decontam_ngram_overlap(spark, sf_dir).select(
        "doc_id", (~F.col("contaminated")).alias("kx")
    )
    j = (
        docs.join(g, "doc_id")
        .join(c, "doc_id")
        .join(d, "doc_id")
        .join(x, "doc_id", "left")
        .select(
            "source", "kg", "kc", "kd",
            F.coalesce(F.col("kx"), F.lit(False)).alias("kx"),
        )
    )

    def _n(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    kg, kc, kd, kx = (F.col(k) for k in ("kg", "kc", "kd", "kx"))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _n(kg, "n_pass_gopher"),
        _n(kg & kc, "n_pass_c4"),
        _n(kg & kc & kd, "n_pass_dedup"),
        _n(kg & kc & kd & kx, "n_final"),
    )


# Bloom-filter URL blocklist. BLOOM_M is deliberately SMALL at test
# scale so false positives actually occur and get value-checked — the
# semantics under test (no false negatives, possibly⊇truly) are
# m-independent; a production run sizes m ≈ -n·ln(p)/ln(2)² for its
# blocklist size and keeps the same plan. BLOOM_BLOCK_MOD carves a
# deterministic ~5% "banned URL" slice out of the corpus itself so the
# query needs no external fixture.
BLOOM_M = 256
BLOOM_K = 3
BLOOM_BLOCK_MOD = 19


def _bloom_pos(url: Column, j: int) -> Column:
    """j-th Bloom bit position: salted 60-bit md5 hash mod BLOOM_M
    (DuckDB twin identical via ('0x'||substr(md5(...),1,15))::BIGINT)."""
    return TX.hash15(F.concat(F.lit(f"{j}:"), url)) % BLOOM_M


def _bloom_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url) — same url construction as pipeline_main_text,
    with the source coalesced so NULL domains still form a stable key."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.coalesce(F.col("source"), F.lit("")),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )


def _bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTINCT set-bit table (<= BLOOM_M rows), persisted and
    memoized per (session, sf_dir): without the persist barrier each of
    the BLOOM_K broadcast builds below re-scans the corpus to re-derive
    the blocklist — three redundant full scans at 100 TB. (In
    production the blocklist is an external small table and the build
    side never touches the corpus; the rescan hazard is an artifact of
    this fixture deriving its blocklist from the corpus itself, but the
    persist-once shape is right either way.)"""

    def build() -> DataFrame:
        return (
            _bloom_urls(spark, sf_dir)
            .filter(TX.hash15(F.col("url")) % BLOOM_BLOCK_MOD == 0)
            .select(
                F.explode(
                    F.array(
                        *[_bloom_pos(F.col("url"), j) for j in range(BLOOM_K)]
                    )
                ).alias("pos")
            )
            .distinct()
        )

    return memo(spark, sf_dir, "bloom_bits", build)


def filter_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate against a URL blocklist — the
    spam/malware/opt-out URL screen a crawl pipeline runs before
    anything else touches the page. Reference twin: the upload
    gate's allowlist screen (src/api/app/utils/file_validator.py:15-57)
    generalized to web-scale set membership.

    Build side: blocklisted urls (hash15(url) % BLOOM_BLOCK_MOD == 0)
    set BLOOM_K salted-hash bit positions each; the DISTINCT set-bit
    table is at most BLOOM_M rows — broadcast, exactly like shipping
    the bitset to every executor. Probe side: each document computes
    its K positions and takes K broadcast hash joins — the probe is
    SHUFFLE-FREE, pure scan-side work, which is the whole point of a
    Bloom gate at 10^12 rows. `possibly_blocked` is the Bloom verdict
    (complete but not sound); `truly_blocked` the exact predicate;
    `false_positive` the honest delta between them.
    """
    d = _bloom_urls(spark, sf_dir)
    is_blocked = TX.hash15(F.col("url")) % BLOOM_BLOCK_MOD == 0
    bits = _bloom_bits(spark, sf_dir)
    probe = d.select(
        "doc_id",
        "url",
        *[_bloom_pos(F.col("url"), j).alias(f"q{j}") for j in range(BLOOM_K)],
    )
    out = probe
    hits = []
    for j in range(BLOOM_K):
        out = out.join(
            F.broadcast(bits.withColumnRenamed("pos", f"_b{j}")),
            F.col(f"q{j}") == F.col(f"_b{j}"),
            "left",
        )
        hits.append(F.col(f"_b{j}").isNotNull())
    possibly = hits[0] & hits[1] & hits[2]
    return out.select(
        "doc_id",
        "url",
        possibly.alias("possibly_blocked"),
        is_blocked.alias("truly_blocked"),
        (possibly & ~is_blocked).alias("false_positive"),
    )


# --- temperature-smoothed domain mixture ---------------------------------

MIX_ALPHA_SQRT_SCALE = 10_000  # r_s = floor(sqrt(n_s * SCALE)) ~ sqrt integerized
MIX_BUDGET_PCT = 50  # resample to half the corpus size


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed domain mixture (alpha = 0.5): resample the
    corpus to MIX_BUDGET_PCT of its size with per-source quotas
    proportional to sqrt(n_s) instead of n_s — the standard
    low-resource up-/head-domain-down-weighting (cf. multilingual BERT
    / XLM-R sampling, alpha-smoothed mixtures in Gopher §A3.1).

    Exactness: quotas are pure integer arithmetic. r_s =
    floor(sqrt(n_s * SCALE)) is deterministic because IEEE-754 sqrt is
    correctly rounded in both engines and n_s*SCALE < 2^52 keeps the
    double exact; the mixture denominator sum(r_s) is an integer sum
    (a FLOAT sum over sources would be summation-order-dependent);
    quota k_s = (budget * r_s) DIV sum(r). Selection within a source is
    the same hash60-rank cut as sample_stratified_split, so every
    source hits its quota exactly and the kept set is stable across
    runs, engines and shard layouts.

    Scale shape: one tiny per-source count aggregate (map-side
    combine), broadcast-joined back (20 rows at test scale, |domains|
    at 10^12 — still dimension-sized), then one shuffle on source for
    the rank window. At 10^12 docs the budget*r_s product moves to
    DECIMAL(38,0) to stay overflow-safe; the DIV semantics are
    unchanged.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "doc_id", "source", TX.hash15(F.col("doc_id").cast("string")).alias("h")
    )
    counts = base.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    sqrt_s = counts.select(
        "source",
        "n_s",
        F.floor(F.sqrt((F.col("n_s") * MIX_ALPHA_SQRT_SCALE).cast("double")))
        .cast("long")
        .alias("r_s"),
    )
    totals = sqrt_s.agg(
        F.sum("n_s").alias("n_total"), F.sum("r_s").alias("r_total")
    )
    quota = (
        sqrt_s.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_s",
            F.least(
                F.col("n_s"),
                F.expr(
                    f"(((n_total * {MIX_BUDGET_PCT}) DIV 100) * r_s) DIV r_total"
                ),
            ).alias("k_s"),
        )
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = base.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quota), "source")
        .select(
            "doc_id",
            "source",
            F.col("rn").cast("long").alias("rn"),
            F.col("k_s").cast("long").alias("k_quota"),
            (F.col("rn") <= F.col("k_s")).alias("kept"),
        )
    )


TEMPERATURE_MIX_ORACLE_SQL = f"""
    WITH base AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
        FROM documents
    ),
    counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_s,
               CAST(floor(sqrt(CAST(count(*) * {MIX_ALPHA_SQRT_SCALE}
                   AS DOUBLE))) AS BIGINT) AS r_s
        FROM base GROUP BY source
    ),
    totals AS (
        SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
               CAST(sum(r_s) AS BIGINT) AS r_total
        FROM counts
    ),
    quota AS (
        SELECT source, n_s,
               least(n_s, (((n_total * {MIX_BUDGET_PCT}) // 100) * r_s)
                   // r_total) AS k_s
        FROM counts, totals
    ),
    ranked AS (
        SELECT doc_id, source, h,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
        FROM base
    )
    SELECT doc_id, ranked.source,
           CAST(rn AS BIGINT) AS rn,
           CAST(k_s AS BIGINT) AS k_quota,
           rn <= k_s AS kept
    FROM ranked JOIN quota ON ranked.source = quota.source
"""


# GPT-style concat-and-chunk packing: training sequences are SEQ_LEN
# tokens; documents are laid out in a deterministic global order and
# chunk boundaries fall wherever the running token offset says.
# PACK_SEQ_LEN is small at test scale so boundary crossings actually
# occur; PACK_SHARDS would be ~the partition count on a real cluster.
PACK_SEQ_LEN = 512
PACK_SHARDS = 32


def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-and-chunk a la GPT pretraining): lay
    every non-empty document out in a deterministic global order and
    cut fixed PACK_SEQ_LEN-token training sequences; report, per
    document, its global token offset and which sequences it lands in
    (seq_first..seq_last, position within its first sequence, whether
    it straddles a boundary). This is the pass that turns a curated
    corpus into the actual training-sequence layout — and the
    boundary-crossing stats are what you tune SEQ_LEN against.

    Global order is (shard, hash60(doc_id), doc_id): hash order is the
    standard document shuffle (content-independent, stable across
    runs/engines/shard layouts), and making shard = h % PACK_SHARDS the
    major key lets the global prefix sum distribute.

    Scale shape — a DISTRIBUTED PREFIX SUM, no corpus-sized
    single-partition window: one shuffle on shard for the per-shard
    running sums; the shard totals (PACK_SHARDS rows) take their
    exclusive prefix on one tiny partition and broadcast back; the
    global offset is shard_base + within-shard cumsum - n_tok. At
    10^12 docs every stage is bounded per shard; the offsets are
    BIGINT (corpus token counts ~10^15 fit comfortably).

    The reference processes strictly one document per job
    (/root/reference/src/processor/app/main.py:115); this op has no
    counterpart there — it is the GPT-style concat-and-chunk packing a
    training-data pipeline runs after extraction, stated on its own
    terms as a distributed layout computation.
    """
    from .textstats import _n_tokens

    docs = _docs(spark, sf_dir)
    norm = TX.norm_text(F.col("text"))
    tok = F.split(norm, " ")
    base = (
        docs.select(
            "doc_id",
            _n_tokens(norm, tok).cast("long").alias("n_tok"),
            TX.hash15(F.col("doc_id").cast("string")).alias("h"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("shard", (F.col("h") % PACK_SHARDS).cast("long"))
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.withColumn("cum", F.sum("n_tok").over(w).cast("long"))
    tot = base.groupBy("shard").agg(F.sum("n_tok").cast("long").alias("shard_tok"))
    # exclusive prefix over PACK_SHARDS rows — dimension-sized, the one
    # deliberate single-partition window in this plan
    wb = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    bases = tot.select(
        "shard",
        F.coalesce(F.sum("shard_tok").over(wb), F.lit(0)).cast("long").alias("shard_base"),
    )
    return (
        cum.join(F.broadcast(bases), "shard")
        .withColumn(
            "tok_offset",
            (F.col("shard_base") + F.col("cum") - F.col("n_tok")).cast("long"),
        )
        .withColumn("seq_first", F.expr(f"tok_offset DIV {PACK_SEQ_LEN}").cast("long"))
        .withColumn(
            "seq_last",
            F.expr(f"(tok_offset + n_tok - 1) DIV {PACK_SEQ_LEN}").cast("long"),
        )
        .select(
            "doc_id",
            "shard",
            "n_tok",
            "tok_offset",
            "seq_first",
            "seq_last",
            (F.col("seq_last") - F.col("seq_first") + F.lit(1)).cast("long").alias("n_seqs"),
            (F.col("tok_offset") % PACK_SEQ_LEN).cast("long").alias("pos_in_seq"),
            (F.col("seq_last") > F.col("seq_first")).alias("crosses_seq"),
        )
    )


EPOCH_BUDGET_MULT = 2  # train for 2x the corpus token mass
EPOCH_FRAC_SCALE = 1_000_000


def sample_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-repetition PLAN for a smoothed mixture — the artifact a
    training run actually consumes (cf. LLaMA's per-source epochs
    table; Muennighoff et al. 2023 on repeating data): given the
    temperature-smoothed quota q_s = (B * sqrt-weight_s) DIV r_total
    for a token budget B = EPOCH_BUDGET_MULT * corpus tokens, report
    per source how many PASSES the loader makes and how much of the
    final pass it takes:

      epochs_s           ceil(q_s / n_s)      [>= 2 means the tail
                                               source is repeated —
                                               upsampling made visible]
      last_epoch_frac    (q_s - (epochs_s-1)*n_s) / n_s, scaled 1e6
      upsampled          epochs_s >= 2

    Where sample_temperature_mix SELECTS the documents of one epoch,
    this computes the repetition schedule across epochs — the two
    compose into the full mixture spec. All arithmetic is integer
    (the sqrt-weight uses the same floor(sqrt(n*SCALE)) idiom whose
    exactness sample_temperature_mix's docstring proves), so the twin
    matches bit-for-bit.

    Scale shape: one (source)-keyed token-count aggregate with
    map-side combine — the ONLY corpus-sized stage — then a one-row
    totals broadcast onto the |sources|-row dimension table. Output is
    dimension-sized.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ntok = F.size(F.filter(TX.tokens(F.col("text")), lambda t: t != ""))
    counts = docs.select("source", ntok.alias("nt")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").cast("long").alias("n_s")
    )
    weighted = counts.select(
        "source",
        "n_docs",
        "n_s",
        F.floor(F.sqrt((F.col("n_s") * MIX_ALPHA_SQRT_SCALE).cast("double")))
        .cast("long")
        .alias("r_s"),
    )
    totals = weighted.agg(
        F.sum("n_s").alias("n_total"), F.sum("r_s").alias("r_total")
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_s").cast("long").alias("n_tokens"),
            F.expr(
                f"((n_total * {EPOCH_BUDGET_MULT}) * r_s) DIV r_total"
            ).alias("quota_tokens"),
            "n_s",
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.col("quota_tokens").cast("long").alias("quota_tokens"),
            # quota 0 (possible when many tiny sources floor the
            # integer share to nothing) means ZERO passes — without the
            # guard the frac formula, which assumes epochs >= 1, would
            # claim a full final pass on a zero-epoch source
            F.when(
                (F.col("n_s") == 0) | (F.col("quota_tokens") == 0), F.lit(0)
            )
            .otherwise(F.expr("(quota_tokens + n_s - 1) DIV n_s"))
            .cast("long")
            .alias("epochs"),
            F.when(
                (F.col("n_s") == 0) | (F.col("quota_tokens") == 0), F.lit(0)
            )
            .otherwise(
                F.expr(
                    "((quota_tokens - ((quota_tokens + n_s - 1) DIV n_s - 1)"
                    f" * n_s) * {EPOCH_FRAC_SCALE}) DIV n_s"
                )
            )
            .cast("long")
            .alias("last_epoch_frac_scaled"),
            F.when(
                (F.col("n_s") == 0) | (F.col("quota_tokens") == 0),
                F.lit(False),
            )
            .otherwise(F.expr("(quota_tokens + n_s - 1) DIV n_s >= 2"))
            .alias("upsampled"),
        )
    )


MIX_EPOCHS_ORACLE_SQL = f"""
    WITH tokc AS (
        SELECT source,
               len(list_filter(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' '),
                   x -> x <> '')) AS nt
        FROM documents
    ),
    counts AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_s
        FROM tokc GROUP BY source
    ),
    weighted AS (
        SELECT source, n_docs, n_s,
               CAST(floor(sqrt(CAST(n_s * {MIX_ALPHA_SQRT_SCALE} AS DOUBLE)))
                    AS BIGINT) AS r_s
        FROM counts
    ),
    totals AS (
        SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
               CAST(sum(r_s) AS BIGINT) AS r_total
        FROM weighted
    ),
    q AS (
        SELECT source, n_docs, n_s,
               ((n_total * {EPOCH_BUDGET_MULT}) * r_s) // r_total
                   AS quota_tokens
        FROM weighted, totals
    )
    SELECT source, n_docs,
           n_s AS n_tokens,
           quota_tokens,
           CASE WHEN n_s = 0 OR quota_tokens = 0 THEN 0
                ELSE (quota_tokens + n_s - 1) // n_s END AS epochs,
           CASE WHEN n_s = 0 OR quota_tokens = 0 THEN 0
                ELSE ((quota_tokens - ((quota_tokens + n_s - 1) // n_s - 1)
                       * n_s) * {EPOCH_FRAC_SCALE}) // n_s
           END AS last_epoch_frac_scaled,
           CASE WHEN n_s = 0 OR quota_tokens = 0 THEN FALSE
                ELSE (quota_tokens + n_s - 1) // n_s >= 2
           END AS upsampled
    FROM q
"""
