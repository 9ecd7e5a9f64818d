"""Inverted-index keyword retrieval over the document corpus.

The missing primitive next to dedup/ANN in a training-data engine:
given a handful of keyword queries, return the top-K documents per
query ranked by a tf-idf-family score. The classic distributed shape:

  scan -> explode tokens -> broadcast(query terms)   [shuffle-free probe
                            SEMI-PROBE                BEFORE any agg]
  tf per (doc, query term)                           [one shuffle that
                                                      carries ONLY the
                                                      query terms'
                                                      postings — the
                                                      full vocabulary
                                                      never shuffles]
  df per query term        [tiny groupBy over the same filtered tf]
  groupBy (query, doc) sum  -> top-K per query       [one small shuffle]

The probe sits BELOW the tf aggregate on purpose: Catalyst will not
push a join through a groupBy, so writing the join first is what keeps
the shuffle proportional to |postings(query terms)| instead of
|corpus tokens| — at 10^12 docs that is the difference between
shuffling gigabytes and shuffling the corpus.

search_keyword_topk scores tf * idf_int with idf_int = (SCALE * N)
DIV df — integer arithmetic end to end, so the DuckDB twin matches
bit-for-bit; the integer idf is a monotone transform of 1/df,
preserving tf-idf ranking. search_bm25_topk lifts that family's known
blind spot — no length normalization — with full BM25 (k1=1.2,
b=0.75, Lucene idf), made cross-engine-exact the same way
sketch_distinct_hll dodged libm: ln() never runs engine-side. An
integer log (bit-length for the exponent + a 256-entry precomputed
mantissa table embedded verbatim in both engines' query text) and DIV
arithmetic make every intermediate a deterministic BIGINT, so the
score is bit-identical in Spark and DuckDB while tracking real BM25
to ~2^-8 relative precision — far inside what faithful ranking needs.

Stop-word flood, both stages: (1) the tf shuffle only ever carries
query-term postings (probe-below-aggregate, pinned in
tests/test_plan_shape_r4d.py), so a stop-word query costs its posting
list, not the corpus; (2) the per-query top-K compiles to Spark's
WindowGroupLimit (also pinned) — each map task forwards at most K rows
per query into the final per-query sort, so no single reducer ever
sees a stop-word term's full candidate set. What production engines
still add beyond this is impact-ordered postings + WAND so the posting
list itself is not fully scored; at that point the index is a
materialized table, not a per-query derivation.

Reference parity: the reference ranks candidate doc types by keyword
hit scores (src/api/app/validators/excel_validator.py:354-381 — +2 per
sheet-name hit, +1 per header hit, argmax with a default fallback);
this is that scoring turned into corpus-wide retrieval with ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..functions import text as TX

SEARCH_TOP_K = 5
IDF_SCALE = 1_000_000
# keyword families mirroring the synthetic corpus' topic vocabulary
SEARCH_QUERIES: dict[str, list[str]] = {
    "q_stream": ["stream", "window", "watermark"],
    "q_table": ["table", "schema", "rows"],
    "q_vector": ["vector", "index", "search"],
}


def _qterm_frames(spark: SparkSession):
    qrows = [(q, t) for q, ts in SEARCH_QUERIES.items() for t in ts]
    qterms = spark.createDataFrame(qrows, "query_id string, token string")
    return qterms, qterms.select("token").distinct()


def _topk(scored: DataFrame) -> DataFrame:
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= SEARCH_TOP_K)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            F.col("score").cast("long").alias("score"),
        )
    )


def _rank_tfidf(
    tf: DataFrame, n_docs: DataFrame, qterms: DataFrame
) -> DataFrame:
    """Integer tf-idf top-K from a postings frame (doc_id, token, tf).
    Extra columns on tf (dl) are ignored — tf rows stay unique per
    (doc, token), so df counts and score sums are unchanged."""
    # df over the query terms' posting lists only (tf is unique per
    # (doc, token), so count(*) == docs containing the term)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    weights = dfreq.crossJoin(F.broadcast(n_docs)).select(
        "token",
        F.expr(f"CAST(({IDF_SCALE} * n_docs) DIV df AS BIGINT)").alias("w"),
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(weights), "token")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )
    return _topk(scored)


def search_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qterms, terms = _qterm_frames(spark)

    # Broadcast-probe the exploded tokens against the query terms
    # BEFORE the tf aggregate: the (doc, token) shuffle then carries
    # only the query terms' postings, never the full vocabulary.
    # Catalyst cannot push a join below a groupBy on its own, so the
    # order here IS the plan. (Filtering before the aggregate is
    # exact: tf per (doc, term) is unchanged by dropping other terms.)
    tok = (
        docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
        .join(F.broadcast(terms), "token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return _rank_tfidf(tf, n_docs, qterms)


def _values_clause() -> str:
    return ", ".join(
        f"('{q}', '{t}')" for q, ts in SEARCH_QUERIES.items() for t in ts
    )


SEARCH_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    tf AS (SELECT doc_id, token, count(*) AS tf
           FROM tok2 GROUP BY doc_id, token),
    q(query_id, token) AS (VALUES {_values_clause()}),
    dfreq AS (
        SELECT token, count(*) AS df FROM tf
        WHERE token IN (SELECT DISTINCT token FROM q)
        GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(sum(tf.tf * (({IDF_SCALE} * n.n_docs) // dfreq.df))
                    AS BIGINT) AS score
        FROM q
        JOIN tf USING (token)
        JOIN dfreq USING (token)
        CROSS JOIN n
        GROUP BY q.query_id, tf.doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score
    FROM ranked WHERE rnk <= {SEARCH_TOP_K}
"""


# --- BM25 with cross-engine-exact integer arithmetic -------------------------

import math  # noqa: E402

BM25_PREC = 1_000_000  # fixed-point scale for all BM25 intermediates
BM25_TBITS = 8  # mantissa table bits -> 256 entries, ~2^-8 rel. precision
BM25_LN2 = round(BM25_PREC * math.log(2))
BM25_LNPREC = round(BM25_PREC * math.log(BM25_PREC))
# ln(1 + i/256) for the mantissa's lower bucket edge — Python-computed
# literals embedded verbatim in BOTH engines' query text, like
# sketch.HLL_LN_TABLE (neither engine ever calls its own ln()).
BM25_LN_TABLE = [
    round(BM25_PREC * math.log(1 + i / (1 << BM25_TBITS)))
    for i in range(1 << BM25_TBITS)
]


def _iln_sql(v: str, dialect: str) -> str:
    """SQL for the integer ln: given v = x * PREC (BIGINT, v >= PREC),
    returns round-to-table ln(x) * PREC as pure integer ops.

    x = 2^(L-1-ln2(PREC-ish)) * m decomposes via L = bit-length(v):
    ln(v) = (L-1)*ln2 + ln(mantissa bucket), minus ln(PREC) to undo the
    scale. bin()/greatest/pow(2.0, k) (exact for powers of two — DuckDB's
    round-on-cast equals truncation there) exist in both dialects; only
    integer division and list indexing differ.
    """
    div = "DIV" if dialect == "spark" else "//"
    tab = ",".join(map(str, BM25_LN_TABLE))
    bits = f"length(bin({v}))"
    mant = (
        f"(({v}) {div} CAST(pow(2.0, greatest({bits} - {1 + BM25_TBITS}, 0)) "
        f"AS BIGINT)) - {1 << BM25_TBITS}"
    )
    if dialect == "spark":
        lookup = f"element_at(array({tab}), CAST({mant} AS INT) + 1)"
    else:
        lookup = f"([{tab}])[({mant}) + 1]"
    return f"(({bits} - 1) * {BM25_LN2} + {lookup} - {BM25_LNPREC})"


# BM25 constants k1=1.2, b=0.75 cleared of fractions:
#   tf_norm = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
# with avgdl = T/N and everything scaled by 10*PREC:
#   num = 22 * PREC * tf * PREC
#   den = 10*PREC*tf + 3*PREC + 9*dlr,  dlr = (dl*N*PREC) DIV T
# idf = iln(((2N+2)*PREC) DIV (2*df+1))  [Lucene (N-df+.5)/(df+.5)+1]


def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K retrieval under integer-exact BM25 — the length-normalized
    ranking search_keyword_topk's docstring names as the graduation
    path. Same distributed shape (one tf shuffle with map-side combine,
    broadcast query terms + weights + corpus stats, one top-K window);
    dl rides the tf groupBy key (constant per doc), so length
    normalization costs ZERO extra shuffles.

    Reference parity: the reference's keyword scoring
    (src/api/app/validators/excel_validator.py:354-370) has no
    notion of document length; this is the standard correction that
    stops 100-page pages from outranking focused ones at corpus scale.
    """
    docs, stats = _docs_and_stats(spark, sf_dir)
    qterms, terms = _qterm_frames(spark)
    tf = _postings_with_dl(docs, terms)
    return _rank_bm25(tf, stats, qterms)


def _docs_and_stats(spark: SparkSession, sf_dir: str):
    """Width-repartitioned corpus + the 1-row (N, T) stats frame.

    testdata parquet is ONE split (CLAUDE.md footgun): repartition to
    width BEFORE the tokenizing projections or both corpus scans run
    as a single task (measured 4.5s -> ~1s at sf0.1). N counts every
    document (dl=0 included); T is total corpus tokens — one aggregate
    scan, no distinct, the 1-row result broadcasts."""
    par = max(spark.sparkContext.defaultParallelism, 8)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    stats = docs.select(F.size(toks).alias("dl0")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl0").cast("long").alias("t_tokens"),
    )
    return docs, stats


def _postings_with_dl(docs: DataFrame, terms: DataFrame) -> DataFrame:
    """Query-term postings carrying document length: the same
    pre-aggregate broadcast probe as search_keyword_topk — only
    query-term postings reach the tf shuffle. dl = size(toks) is
    computed per row BEFORE the probe, so length normalization still
    sees the full document length; dl rides the groupBy key (constant
    per doc), costing zero extra shuffles."""
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    return (
        docs.select(
            "doc_id", F.explode(toks).alias("token"), F.size(toks).alias("dl")
        )
        .join(F.broadcast(terms), "token")
        .groupBy("doc_id", "token", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _rank_bm25(tf: DataFrame, stats: DataFrame, qterms: DataFrame) -> DataFrame:
    """Integer-exact BM25 top-K from a dl-carrying postings frame."""
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "token",
        F.expr(
            _iln_sql(f"((2 * n_docs + 2) * {BM25_PREC}) DIV (2 * df + 1)", "spark")
        ).cast("long").alias("idf"),
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "dlr", F.expr(f"(dl * n_docs * {BM25_PREC}) DIV t_tokens")
        )
        .withColumn(
            "contrib",
            F.expr(
                f"idf * ((22 * {BM25_PREC} * tf * {BM25_PREC}) DIV "
                f"(10 * {BM25_PREC} * tf + 3 * {BM25_PREC} + 9 * dlr))"
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )
    return _topk(scored)


BM25_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
    stats AS (
        SELECT (SELECT count(*) FROM documents) AS n_docs,
               (SELECT count(*) FROM tok2) AS t_tokens
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf
           FROM tok2 GROUP BY doc_id, token),
    q(query_id, token) AS (VALUES {_values_clause()}),
    dfreq AS (
        SELECT token, count(*) AS df FROM tf
        WHERE token IN (SELECT DISTINCT token FROM q)
        GROUP BY token
    ),
    idf AS (
        SELECT token,
               CAST({_iln_sql(f"((2 * stats.n_docs + 2) * {BM25_PREC}) // (2 * df + 1)", "duckdb")}
                    AS BIGINT) AS idf
        FROM dfreq, stats
    ),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(sum(idf.idf * ((22 * {BM25_PREC} * tf.tf * {BM25_PREC}) //
                    (10 * {BM25_PREC} * tf.tf + 3 * {BM25_PREC}
                     + 9 * ((dl.dl * stats.n_docs * {BM25_PREC}) // stats.t_tokens))))
                    AS BIGINT) AS score
        FROM q
        JOIN tf USING (token)
        JOIN idf USING (token)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY q.query_id, tf.doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score
    FROM ranked WHERE rnk <= {SEARCH_TOP_K}
"""


# --- Reciprocal-rank fusion of the two lexical rankers ------------------------

RRF_K = 60  # standard fusion constant (Cormack et al., SIGIR'09)
RRF_SCALE = 1_000_000  # fixed-point scale: contributions are BIGINTs


def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion over the tf-idf and BM25 top-K lists —
    the standard way a retrieval stack combines rankers that disagree
    (here: length-normalized vs raw term weighting; at 100 TB the same
    op fuses a lexical list with an ANN list).

    Contribution of a rank is RRF_SCALE DIV (RRF_K + rnk): integer
    division on BIGINTs, so the fused score is bit-identical in DuckDB.

    Plan shape: the corpus is tokenized exactly twice at build time —
    once for the dl-carrying postings frame, once for the (N, T)
    corpus stats — and both land in the memoized cache, so every
    scorer (and every later invocation) reads persisted frames, never
    the corpus. Both rankers score the SAME postings frame (tf-idf
    provably ignores dl: tf rows stay unique per (doc, token), so df
    counts and score sums are unchanged — pytest pins fusion inputs ==
    the standalone rankers). The probe-below-aggregate and WindowGroupLimit pins
    apply to the shared frame; the fusion itself runs over at most
    2*K rows per query — a union of two top-K lists, one tiny
    aggregate, one WindowGroupLimit window. n_rankers counts how many
    lists surfaced the doc (2 = consensus), so downstream mixture
    policies can weight agreement.

    Reference parity: the reference picks its document type by the
    SINGLE best keyword score
    (src/api/app/validators/excel_validator.py:372-378 max-score
    argmax); fusing multiple scorers of the same candidates is that
    decision generalized to ranked retrieval.
    """
    qterms, terms = _qterm_frames(spark)

    def build() -> tuple:
        # stats tokenizes the corpus for t_tokens and is consumed by
        # THREE scorers (tfidf weights, bm25 idf, bm25 dlr) — cache
        # the 1-row frame so those are cache reads, not corpus scans
        docs, stats = _docs_and_stats(spark, sf_dir)
        return _postings_with_dl(docs, terms), stats

    tf, stats = memo(spark, sf_dir, "rrf-postings", build)
    kw = _rank_tfidf(tf, stats.select("n_docs"), qterms)
    bm = _rank_bm25(tf, stats, qterms)
    u = kw.select("query_id", "doc_id", "rnk").unionByName(
        bm.select("query_id", "doc_id", "rnk")
    )
    return _rrf_fuse(u)


def _rrf_fuse(u: DataFrame) -> DataFrame:
    """Integer RRF over a union of (query_id, doc_id, rnk) lists:
    RRF_SCALE DIV (RRF_K + rnk) summed per (query, doc), consensus
    count, deterministic top-K. Shared by the lexical-x-lexical fusion
    and the lexical-x-ANN hybrid — the layer itself never touches more
    than (#rankers * K) rows per query."""
    fused = u.groupBy("query_id", "doc_id").agg(
        F.expr(f"CAST(sum({RRF_SCALE} DIV ({RRF_K} + rnk)) AS BIGINT)").alias(
            "rrf"
        ),
        F.count(F.lit(1)).cast("long").alias("n_rankers"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= SEARCH_TOP_K)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            "rrf",
            "n_rankers",
        )
    )


# exemplar embedding query per keyword family: the hybrid's query
# carries BOTH a term list (drives BM25) and an embedding (drives the
# PQ probe); the synthetic stand-in pins one exemplar vector per
# family, inside ann_pq_topk's query set (vec_id < N_QUERIES)
HYBRID_QUERY_VEC: dict[str, int] = {
    "q_stream": 0,
    "q_table": 1,
    "q_vector": 2,
}


def ann_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the shape search_rrf_fusion's docstring
    promises at 100 TB ("fuses a lexical list with an ANN list"), made
    real: BM25 top-K over the inverted index fused with the PQ-ADC
    top-K over the embedding index, through the same integer RRF.

    Each ranker is the already-oracle-checked operator, unchanged:
    `search_bm25_topk` (probe-below-aggregate postings, memoized) and
    `ann_pq_topk` (broadcast codebooks + ADC, memoized). The hybrid
    adds a 3-row broadcast query map (keyword family -> exemplar
    vector) and the fusion aggregate over <= 2K rows/query — nothing
    corpus-sized. Scale: both indexes are the persisted/checkpointed
    artifacts their builders maintain; the fusion is rank-only, so a
    vector neighbor missing from the lexical list (and vice versa)
    contributes exactly its reciprocal rank — the standard way
    RAG-grade retrieval merges modalities (Cormack et al., SIGIR'09).

    Reference parity: generalizes the reference's best-single-score
    document-type argmax (src/api/app/validators/excel_validator.py:
    372-378) to multi-modal ranked retrieval, like search_rrf_fusion.
    """
    from .similarity import ann_pq_topk

    bm = search_bm25_topk(spark, sf_dir).select("query_id", "doc_id", "rnk")
    qmap = spark.createDataFrame(
        sorted(HYBRID_QUERY_VEC.items()), "query_id string, qvec long"
    )
    ann = (
        ann_pq_topk(spark, sf_dir)
        .withColumnRenamed("query_id", "qvec_id")
        .join(F.broadcast(qmap), F.col("qvec_id") == F.col("qvec"))
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rk").alias("rnk"),
        )
    )
    return _rrf_fuse(bm.unionByName(ann))


RRF_ORACLE_SQL = f"""
    WITH kw AS (SELECT * FROM ({SEARCH_ORACLE_SQL})),
    bm AS (SELECT * FROM ({BM25_ORACLE_SQL})),
    u AS (
        SELECT query_id, doc_id, rnk FROM kw
        UNION ALL
        SELECT query_id, doc_id, rnk FROM bm
    ),
    fused AS (
        SELECT query_id, doc_id,
               CAST(sum({RRF_SCALE} // ({RRF_K} + rnk)) AS BIGINT) AS rrf,
               CAST(count(*) AS BIGINT) AS n_rankers
        FROM u GROUP BY query_id, doc_id
    ),
    r AS (
        SELECT query_id, doc_id, rrf, n_rankers,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id ASC) AS rnk
        FROM fused
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf, n_rankers
    FROM r WHERE rnk <= {SEARCH_TOP_K}
"""


# --- incremental inverted-index refresh (the crawl-refresh shape) -------------

def _hybrid_oracle_sql() -> str:
    """Twin of ann_rrf_hybrid: the two ranker subqueries ARE the
    already-green BM25 and PQ oracle texts (the PQ twin re-trains its
    codebooks independently, so Spark state never leaks in), mapped
    through the same exemplar VALUES clause and fused by the same
    integer RRF arithmetic."""
    from .similarity import PQ_ORACLE_SQL

    qvals = ", ".join(
        f"('{q}', {v})" for q, v in sorted(HYBRID_QUERY_VEC.items())
    )
    return f"""
        WITH bm AS (SELECT * FROM ({BM25_ORACLE_SQL})),
        pq AS (SELECT * FROM ({PQ_ORACLE_SQL})),
        qmap(query_id, qvec) AS (VALUES {qvals}),
        annl AS (
            SELECT qmap.query_id, pq.neighbor_id AS doc_id, pq.rk AS rnk
            FROM pq JOIN qmap ON pq.query_id = qmap.qvec
        ),
        u AS (
            SELECT query_id, doc_id, rnk FROM bm
            UNION ALL
            SELECT query_id, doc_id, rnk FROM annl
        ),
        fused AS (
            SELECT query_id, doc_id,
                   CAST(sum({RRF_SCALE} // ({RRF_K} + rnk)) AS BIGINT) AS rrf,
                   CAST(count(*) AS BIGINT) AS n_rankers
            FROM u GROUP BY query_id, doc_id
        ),
        r AS (
            SELECT query_id, doc_id, rrf, n_rankers,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf DESC, doc_id ASC) AS rnk
            FROM fused
        )
        SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf, n_rankers
        FROM r WHERE rnk <= {SEARCH_TOP_K}
    """


HYBRID_ORACLE_SQL = _hybrid_oracle_sql()


# hash15(doc_id) % IDX_INCR_MOD == 0 -> the new-crawl increment (~20%),
# content-independent and engine-identical (same carve rule family as
# dedup_incremental_lsh / the quality_lm train slice).
IDX_INCR_MOD = 5


def search_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly-crawl index refresh, retrieval-side — the search twin of
    dedup_incremental_lsh: merge a NEW increment into an already-built
    postings index and serve the updated top-K, WITHOUT rescanning the
    indexed corpus text.

    Shape:
      index build   base postings tf(doc, term) — one scan of the base
                    corpus, probe-below-aggregate, persisted (at 10^12
                    docs this is the stored postings table; here the
                    persist() stands in for it and the plan shows the
                    base text scanned exactly once)
      refresh job   the increment is the ONLY corpus text read:
                    tf_inc from scan(is_new) -> probe -> agg
      stats merge   df_new = full-outer SUM of df_base + df_inc;
                    N_new = N_base + N_inc — pure index-metadata
                    arithmetic, token-keyed on posting-list-count-sized
                    frames, never corpus-sized
      serve         (tf_base UNION tf_inc) scored under the MERGED idf,
                    per-query WindowGroupLimit top-K, is_new flag per
                    hit so the caller sees increment docs entering the
                    ranking

    Correctness claim (the one worth checking): the incremental merge
    equals a from-scratch batch recompute over base+increment — the
    DuckDB twin IS that batch recompute, so the value hash pins
    increment-merge == full-rebuild, cross-engine.
    """
    docs_raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    qterms, terms = _qterm_frames(spark)
    is_new = TX.hash15(F.col("doc_id").cast("string")) % IDX_INCR_MOD == 0

    def postings(part: DataFrame) -> DataFrame:
        tok = part.select(
            "doc_id", F.explode(TX.tokens(F.col("text"))).alias("token")
        ).join(F.broadcast(terms), "token")
        return tok.groupBy("doc_id", "token").agg(
            F.count(F.lit(1)).alias("tf")
        )

    # the stored index: base postings + base df + base N. Memoized per
    # (session, sf_dir) through cache.memo like the minhash band index —
    # repeated calls probe ONE persisted index instead of leaking a new
    # persist() each time.
    def build() -> tuple:
        # one-split testdata parquet (CLAUDE.md footgun): repartition to
        # width BEFORE the tokenize-heavy postings projections or both
        # the index build and the increment scan run as single tasks.
        # Width only here — the N counts below read the UNrepartitioned
        # table so they stay column-pruned doc_id scans instead of
        # paying a full-row exchange.
        par = max(spark.sparkContext.defaultParallelism, 8)
        docs = docs_raw.repartition(par)
        return postings(docs.filter(~is_new)), postings(docs.filter(is_new))

    tf_base, tf_inc = memo(spark, sf_dir, "idx-refresh", build)
    df_base = tf_base.groupBy("token").agg(F.count(F.lit(1)).alias("df_b"))
    n_base = docs_raw.filter(~is_new).select(
        F.count(F.lit(1)).alias("n_b")
    )
    df_inc = tf_inc.groupBy("token").agg(F.count(F.lit(1)).alias("df_i"))
    n_inc = docs_raw.filter(is_new).select(F.count(F.lit(1)).alias("n_i"))

    df_new = (
        df_base.join(df_inc, "token", "full")
        .select(
            "token",
            (
                F.coalesce(F.col("df_b"), F.lit(0))
                + F.coalesce(F.col("df_i"), F.lit(0))
            ).alias("df"),
        )
    )
    n_new = n_base.crossJoin(F.broadcast(n_inc)).select(
        (F.col("n_b") + F.col("n_i")).alias("n_docs")
    )
    weights = df_new.crossJoin(F.broadcast(n_new)).select(
        "token",
        F.expr(f"CAST(({IDF_SCALE} * n_docs) DIV df AS BIGINT)").alias("w"),
    )

    tf_all = tf_base.withColumn("is_new", F.lit(False)).unionByName(
        tf_inc.withColumn("is_new", F.lit(True))
    )
    scored = (
        tf_all.join(F.broadcast(qterms), "token")
        .join(F.broadcast(weights), "token")
        .groupBy("query_id", "doc_id", "is_new")
        .agg(F.sum(F.col("tf") * F.col("w")).alias("score"))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= SEARCH_TOP_K)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            F.col("score").cast("long").alias("score"),
            "is_new",
        )
    )


_IS_NEW_SQL = (
    "(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
    f" % {IDX_INCR_MOD} = 0)"
)

# the batch recompute: same ranking math as SEARCH_ORACLE_SQL over the
# FULL corpus, plus the is_new carve flag — if the engine's incremental
# merge drifts from a from-scratch rebuild in any way, the value hash
# breaks.
IDX_REFRESH_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    tf AS (SELECT doc_id, token, count(*) AS tf
           FROM tok2 GROUP BY doc_id, token),
    q(query_id, token) AS (VALUES {_values_clause()}),
    dfreq AS (
        SELECT token, count(*) AS df FROM tf
        WHERE token IN (SELECT DISTINCT token FROM q)
        GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(sum(tf.tf * (({IDF_SCALE} * n.n_docs) // dfreq.df))
                    AS BIGINT) AS score
        FROM q
        JOIN tf USING (token)
        JOIN dfreq USING (token)
        CROSS JOIN n
        GROUP BY q.query_id, tf.doc_id
    ),
    ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score,
           {_IS_NEW_SQL} AS is_new
    FROM ranked WHERE rnk <= {SEARCH_TOP_K}
"""


# --- positional retrieval: exact phrase + proximity window --------------------

# Phrase / proximity queries drawn from the corpus' topic vocabulary
# (measured at sf0.01: every phrase occurs in dozens of docs, every
# proximity pair co-occurs within the window in ~200 docs — non-trivial
# candidate sets at every SF without depending on any single row).
PHRASE_QUERIES: dict[str, list[str]] = {
    "p_table_hash": ["table", "hash"],
    "p_merge_group": ["merge", "group"],
    "p_stream_table_hash": ["stream", "table", "hash"],
}
# The anchor-match counts rows per (query, doc, anchor), which equals
# the number of matched offsets ONLY when one position cannot satisfy
# two offsets at once — i.e. when phrase terms are distinct. Enforced
# at import so a future phrase with a repeated word fails loudly
# instead of over-counting.
assert all(len(set(ts)) == len(ts) for ts in PHRASE_QUERIES.values())

PROX_QUERIES: dict[str, tuple[str, str]] = {
    "x_join_stream": ("join", "stream"),
    "x_query_table": ("query", "table"),
    "x_vector_window": ("vector", "window"),
}
PROX_WINDOW = 8  # max token distance for a co-occurrence pair


def _positional_vocab() -> list[str]:
    return sorted(
        {t for ts in PHRASE_QUERIES.values() for t in ts}
        | {t for ab in PROX_QUERIES.values() for t in ab}
    )


def _pos_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized POSITIONAL postings (doc_id, pos, token) restricted to
    the phrase+proximity vocabulary — the positional-index slice next
    to the rrf postings cache. Same probe-below-everything shape: the
    posexplode output broadcast-joins the vocab BEFORE any shuffle or
    persist, so only the queried terms' positional postings ever
    materialize (at 10^12 docs the stored positional index is exactly
    this table, term-partitioned; per-query derivation here stands in
    for reading it). pos counts the FILTERED token stream (0-based), so
    the DuckDB twin's row_number()-1 over non-empty tokens matches.
    """

    def build() -> DataFrame:
        par = max(spark.sparkContext.defaultParallelism, 8)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(par)
        vocab = spark.createDataFrame(
            [(t,) for t in _positional_vocab()], "token string"
        )
        toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
        return docs.select(
            "doc_id", F.posexplode(toks).alias("pos", "token")
        ).join(F.broadcast(vocab), "token")

    return memo(spark, sf_dir, "pos-postings", build)


def search_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over a positional index — the operator
    tf-idf/BM25 bag-of-words scoring cannot express ("stream table
    hash" as a contiguous run, not three independent terms).

    Classic anchor-join shape: each positional posting for phrase term
    at offset o votes for anchor = pos - o; an anchor collecting all
    plen offsets is one exact occurrence. Distributed cost: the anchor
    aggregate is keyed (query, doc, anchor) over QUERY-TERM postings
    only (the vocab probe sits below everything, pinned), partial
    aggregation applies, and no join ever carries corpus text. Phrase
    tf then scores like search_keyword_topk: tf * ((SCALE*N) DIV df)
    with df = docs containing the phrase — integer end to end, so the
    DuckDB twin is bit-exact.

    Reference parity: the reference's keyword scorer treats multi-word
    names as bags (src/api/app/validators/excel_validator.py:354-370 —
    substring hits per keyword); this is the order-aware upgrade a
    retrieval stack needs for entity-like queries.
    """
    posts = _pos_postings(spark, sf_dir)
    qrows = [
        (q, t, o, len(ts))
        for q, ts in PHRASE_QUERIES.items()
        for o, t in enumerate(ts)
    ]
    qoff = spark.createDataFrame(
        qrows, "query_id string, token string, off int, plen int"
    )
    anch = posts.join(F.broadcast(qoff), "token").select(
        "query_id",
        "doc_id",
        (F.col("pos") - F.col("off")).alias("anchor"),
        "plen",
    )
    occ = anch.groupBy("query_id", "doc_id", "anchor", "plen").agg(
        F.count(F.lit(1)).alias("nmatch")
    )
    ptf = (
        occ.filter(F.col("nmatch") == F.col("plen"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    pdf = ptf.groupBy("query_id").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.count(F.lit(1)).alias("n_docs"))
    )
    scored = (
        ptf.join(F.broadcast(pdf), "query_id")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CAST(tf * (({IDF_SCALE} * n_docs) DIV df) AS BIGINT)"
            ).alias("score"),
        )
    )
    return _topk(scored)


def search_proximity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity retrieval: rank documents where a term PAIR co-occurs
    within PROX_WINDOW tokens — the sloppy middle ground between
    bag-of-words and exact phrase (a "near" operator).

    Shape: both sides of the pair read the SAME memoized positional
    postings; the right side is column-RENAMED before the self-join
    (qb/db/pos_b) so the shared lineage cannot collapse the equality
    keys into a trivially-true predicate (CLAUDE.md footgun). The join
    keys are (query, doc) over query-term postings only; the band
    filter |pos_a - pos_b| <= W prunes pairs in the join condition.
    Per-doc pair count is bounded by tf_a * tf_b of the two query
    terms in that document — document-length bounded, never
    corpus-sized. Ranking: more in-window pairs first, then tighter
    minimum distance, then doc_id — all integers, twin-exact.
    """
    posts = _pos_postings(spark, sf_dir)
    qa = spark.createDataFrame(
        [(q, a) for q, (a, _) in PROX_QUERIES.items()],
        "query_id string, token string",
    )
    qb = spark.createDataFrame(
        [(q, b) for q, (_, b) in PROX_QUERIES.items()],
        "qb string, tb string",
    )
    left = posts.join(F.broadcast(qa), "token").select(
        "query_id", "doc_id", F.col("pos").alias("pos_a")
    )
    right = (
        posts.select(
            F.col("token").alias("tb"),
            F.col("doc_id").alias("db"),
            F.col("pos").alias("pos_b"),
        )
        .join(F.broadcast(qb), "tb")
        .select("qb", "db", "pos_b")
    )
    pairs = left.join(
        right,
        (F.col("query_id") == F.col("qb"))
        & (F.col("doc_id") == F.col("db"))
        & (F.abs(F.col("pos_a") - F.col("pos_b")) <= PROX_WINDOW),
    )
    scored = pairs.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min(F.abs(F.col("pos_a") - F.col("pos_b")))
        .cast("long")
        .alias("min_dist"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("n_pairs").desc(), F.col("min_dist").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= SEARCH_TOP_K)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "doc_id",
            "n_pairs",
            "min_dist",
        )
    )


_POS_TOK_SQL = """
    tokraw AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token,
               generate_subscripts(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' '), 1) AS rawpos
        FROM documents
    ),
    ptok AS (
        SELECT doc_id, token,
               row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) - 1 AS pos
        FROM tokraw WHERE token <> ''
    )
"""


def _phrase_values() -> str:
    return ", ".join(
        f"('{q}', '{t}', {o}, {len(ts)})"
        for q, ts in PHRASE_QUERIES.items()
        for o, t in enumerate(ts)
    )


PHRASE_ORACLE_SQL = f"""
    WITH {_POS_TOK_SQL},
    q(query_id, token, off, plen) AS (VALUES {_phrase_values()}),
    anch AS (
        SELECT q.query_id, ptok.doc_id, ptok.pos - q.off AS anchor, q.plen
        FROM ptok JOIN q USING (token)
    ),
    occ AS (
        SELECT query_id, doc_id, anchor, plen, count(*) AS nmatch
        FROM anch GROUP BY query_id, doc_id, anchor, plen
    ),
    ptf AS (
        SELECT query_id, doc_id, count(*) AS tf
        FROM occ WHERE nmatch = plen GROUP BY query_id, doc_id
    ),
    pdf AS (SELECT query_id, count(*) AS df FROM ptf GROUP BY query_id),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT ptf.query_id, ptf.doc_id,
               CAST(ptf.tf * (({IDF_SCALE} * n.n_docs) // pdf.df) AS BIGINT)
                   AS score
        FROM ptf JOIN pdf USING (query_id) CROSS JOIN n
    ),
    ranked AS (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, score
    FROM ranked WHERE rnk <= {SEARCH_TOP_K}
"""


def _prox_values(side: int) -> str:
    return ", ".join(
        f"('{q}', '{ab[side]}')" for q, ab in PROX_QUERIES.items()
    )


PROX_ORACLE_SQL = f"""
    WITH {_POS_TOK_SQL},
    qa(query_id, ta) AS (VALUES {_prox_values(0)}),
    qb(query_id, tb) AS (VALUES {_prox_values(1)}),
    pairs AS (
        SELECT qa.query_id, a.doc_id, abs(a.pos - b.pos) AS dist
        FROM qa
        JOIN qb USING (query_id)
        JOIN ptok a ON a.token = qa.ta
        JOIN ptok b ON b.token = qb.tb AND b.doc_id = a.doc_id
        WHERE abs(a.pos - b.pos) <= {PROX_WINDOW}
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(min(dist) AS BIGINT) AS min_dist
        FROM pairs GROUP BY query_id, doc_id
    ),
    r AS (
        SELECT query_id, doc_id, n_pairs, min_dist,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY n_pairs DESC, min_dist ASC, doc_id ASC) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_pairs, min_dist
    FROM r WHERE rnk <= {SEARCH_TOP_K}
"""


# --- snippet generation over the phrase hits ----------------------------------

SNIPPET_PRE = 3  # tokens of left context before the first phrase hit
SNIPPET_POST = 2  # tokens of right context after the phrase


def search_snippet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Result-page snippet generation — the presentation step every
    retrieval stack runs after ranking: for each phrase query's top-K
    documents, rebuild the token window around the FIRST exact
    occurrence ([anchor - PRE, anchor + plen - 1 + POST], clamped).

    Shape: ranking and first-occurrence anchors both come off the
    memoized positional postings (nothing new is corpus-sized); the
    K-docs-per-query hit list then BROADCASTS into a join against the
    corpus, so snippet text extraction is one scan with a broadcast
    semi-probe — only surviving rows ever tokenize (at 10^12 docs this
    join is the doc-store point-lookup; the broadcast stands in for
    it). Token-slice + array_join rebuilds the snippet identically in
    both engines (list_slice/array_to_string vs slice/array_join on
    the same filtered token stream — snippets are never empty, so
    DuckDB's NULL-for-empty array_to_string cannot diverge).
    """
    posts = _pos_postings(spark, sf_dir)
    qrows = [
        (q, t, o, len(ts))
        for q, ts in PHRASE_QUERIES.items()
        for o, t in enumerate(ts)
    ]
    qoff = spark.createDataFrame(
        qrows, "query_id string, token string, off int, plen int"
    )
    anch = posts.join(F.broadcast(qoff), "token").select(
        "query_id",
        "doc_id",
        (F.col("pos") - F.col("off")).alias("anchor"),
        "plen",
    )
    occ = anch.groupBy("query_id", "doc_id", "anchor", "plen").agg(
        F.count(F.lit(1)).alias("nmatch")
    )
    firsts = (
        occ.filter(F.col("nmatch") == F.col("plen"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.min("anchor").alias("a0"),
            F.max("plen").alias("plen"),  # constant per query
        )
    )
    hits = search_phrase_topk(spark, sf_dir).join(
        firsts, ["query_id", "doc_id"]
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    start0 = F.greatest(F.col("a0") - SNIPPET_PRE, F.lit(0))
    length = F.col("a0") + F.col("plen") - 1 + SNIPPET_POST - start0 + 1
    return (
        docs.join(F.broadcast(hits), "doc_id")
        .select(
            "query_id",
            "rnk",
            "doc_id",
            F.col("a0").cast("long").alias("first_anchor"),
            F.array_join(F.slice(toks, start0 + 1, length), " ").alias(
                "snippet"
            ),
        )
    )


SNIPPET_ORACLE_SQL = f"""
    WITH {_POS_TOK_SQL},
    q(query_id, token, off, plen) AS (VALUES {_phrase_values()}),
    anch AS (
        SELECT q.query_id, ptok.doc_id, ptok.pos - q.off AS anchor, q.plen
        FROM ptok JOIN q USING (token)
    ),
    occ AS (
        SELECT query_id, doc_id, anchor, plen, count(*) AS nmatch
        FROM anch GROUP BY query_id, doc_id, anchor, plen
    ),
    firsts AS (
        SELECT query_id, doc_id, min(anchor) AS a0, max(plen) AS plen
        FROM occ WHERE nmatch = plen GROUP BY query_id, doc_id
    ),
    top AS (SELECT * FROM ({PHRASE_ORACLE_SQL})),
    tk AS (
        SELECT doc_id, list(token ORDER BY pos) AS l
        FROM ptok GROUP BY doc_id
    )
    SELECT t.query_id, t.rnk, t.doc_id,
           CAST(f.a0 AS BIGINT) AS first_anchor,
           array_to_string(
               list_slice(tk.l, greatest(f.a0 - {SNIPPET_PRE}, 0) + 1,
                          f.a0 + f.plen + {SNIPPET_POST}), ' ') AS snippet
    FROM top t
    JOIN firsts f USING (query_id, doc_id)
    JOIN tk ON tk.doc_id = t.doc_id
"""


# --- pseudo-relevance-feedback query expansion --------------------------------

EXP_TOP_N = 5  # expansion terms reported per query


def search_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion — the Rocchio/RM step
    between ranking and re-ranking (Rocchio 1971; Lavrenko & Croft's
    relevance models): assume the BM25 top-K are relevant, mine the
    terms that characterize them, and report the top expansion terms
    per query (weight = feedback tf x the integer idf proven in
    search_keyword_topk, original query terms excluded).

    Scale shape: everything downstream of the ranker is bounded by the
    FEEDBACK set, not the corpus — (a) the K-docs-per-query hit list
    BROADCASTS into the corpus scan, so only feedback docs ever
    tokenize (the doc-store point-lookup stand-in, same as
    search_snippet_topk); (b) the candidate vocabulary (distinct
    feedback-doc terms, Heaps-bounded by K·|Q| docs) BROADCASTS into a
    second scan whose (doc, token) shuffle carries only candidate-term
    postings — the probe-below-aggregate shape pinned in r4d; at 10^12
    docs that df probe is a point-read into the stored per-term df
    metadata (exactly search_index_refresh's merged-stat table), and
    the per-query term ranking touches EXP-candidate rows only. No
    corpus-sized exchange anywhere past the ranker it composes.
    """
    fb = search_bm25_topk(spark, sf_dir).select("query_id", "doc_id")
    docs, _ = _docs_and_stats(spark, sf_dir)
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    fbtok = (
        docs.join(F.broadcast(fb), "doc_id")
        .select("query_id", "doc_id", F.explode(toks).alias("token"))
    )
    qterms, _ = _qterm_frames(spark)
    fbtf = (
        fbtok.groupBy("query_id", "token")
        .agg(F.count(F.lit(1)).alias("fb_tf"))
        .join(F.broadcast(qterms), ["query_id", "token"], "left_anti")
    )
    cands = fbtf.select("token").distinct()
    cand_df = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .join(F.broadcast(cands), "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        fbtf.join(cand_df, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "query_id",
            "token",
            F.col("fb_tf").cast("long").alias("fb_tf"),
            F.expr(
                f"CAST(fb_tf * (({IDF_SCALE} * n_docs) DIV df) AS BIGINT)"
            ).alias("weight"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("weight").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= EXP_TOP_N)
        .select(
            "query_id",
            F.col("rnk").cast("long").alias("rnk"),
            "token",
            "fb_tf",
            "weight",
        )
    )


EXPANSION_ORACLE_SQL = f"""
    WITH fb AS (SELECT query_id, doc_id FROM ({BM25_ORACLE_SQL})),
    tok AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    q(query_id, token) AS (VALUES {_values_clause()}),
    fbtf AS (
        SELECT f.query_id, t.token, count(*) AS fb_tf
        FROM fb f JOIN tok2 t USING (doc_id)
        GROUP BY f.query_id, t.token
    ),
    fbtf2 AS (
        SELECT * FROM fbtf
        WHERE NOT EXISTS (
            SELECT 1 FROM q
            WHERE q.query_id = fbtf.query_id AND q.token = fbtf.token
        )
    ),
    cand_df AS (
        SELECT token, count(*) AS df
        FROM (SELECT DISTINCT doc_id, token FROM tok2
              WHERE token IN (SELECT DISTINCT token FROM fbtf2))
        GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT f.query_id, f.token,
               CAST(f.fb_tf AS BIGINT) AS fb_tf,
               CAST(f.fb_tf * (({IDF_SCALE} * n.n_docs) // d.df)
                    AS BIGINT) AS weight
        FROM fbtf2 f JOIN cand_df d USING (token) CROSS JOIN n
    ),
    ranked AS (
        SELECT query_id, token, fb_tf, weight,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY weight DESC, token ASC) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS BIGINT) AS rnk, token, fb_tf, weight
    FROM ranked WHERE rnk <= {EXP_TOP_N}
"""


# --- SymSpell-style spell suggestion ------------------------------------------

SPELL_MIN_LEN = 4  # vocab floor: bounds deletion-key fan-in (keys >= 3 chars)
SPELL_TOP_N = 3


def _spell_typos() -> list[str]:
    """Deterministic misspelling seeds: every query-vocabulary term of
    length >= SPELL_MIN_LEN with its second character dropped — the
    classic single-deletion typo class, derivable identically by both
    engines with no external data."""
    terms = sorted(
        {t for ts in SEARCH_QUERIES.values() for t in ts if len(t) >= SPELL_MIN_LEN}
    )
    return sorted({t[0] + t[2:] for t in terms})


_DEL_KEYS = (
    "array_union(array({c}), transform(sequence(1, length({c})),"
    " i -> concat(substr({c}, 1, i - 1), substr({c}, i + 1))))"
)


def search_spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell suggestion over the corpus vocabulary — the
    query-understanding step in front of every retrieval stack, in
    SymSpell's deletion-neighborhood form (Garbe's symmetric delete
    algorithm; same family as Norvig's corrector but join-shaped):
    a pair within edit distance 1 ALWAYS shares a key in the union of
    {word} and its single-deletion set (substitution deletes the
    differing position from both sides; insertion/deletion makes one
    side a key of the other), so candidate generation is an EQUI-JOIN
    on deletion keys — never a cross product — and the exact
    `levenshtein` verify (built into both engines) runs on candidate
    pairs only.

    Scale shape: the vocabulary is a Heaps-law aggregate (one
    map-side-combined token shuffle, the only corpus-sized exchange);
    the deletion index is (len+1)x vocab rows, built once — at 10^12
    docs it IS the stored spell index, exactly like the positional
    postings; the typo side is query-sized and BROADCASTS into the
    index; ranking touches verified candidates only. SPELL_MIN_LEN
    floors key length at 3 chars so no deletion bucket degenerates
    into a stop-key flood; the distance-2 graduation is the standard
    SymSpell recursion (deletes of deletes), same join shape.

    Determinism: rank by (distance asc, corpus count desc, word asc) —
    every tie-break key is an exact integer or string on both engines.
    """
    docs, _ = _docs_and_stats(spark, sf_dir)
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    vocab = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.length("token") >= SPELL_MIN_LEN)
    )
    vindex = vocab.select(
        F.col("token").alias("cand"),
        "cnt",
        F.explode(F.expr(_DEL_KEYS.format(c="token"))).alias("k"),
    )
    typos = spark.createDataFrame([(t,) for t in _spell_typos()], "typo string")
    tindex = typos.select(
        "typo", F.explode(F.expr(_DEL_KEYS.format(c="typo"))).alias("k")
    )
    cands = (
        vindex.join(F.broadcast(tindex), "k")
        .select("typo", "cand", "cnt")
        .distinct()
        .withColumn("dist", F.levenshtein("typo", "cand").cast("long"))
        .filter(F.col("dist") <= 1)
    )
    w_rank = Window.partitionBy("typo").orderBy(
        F.col("dist").asc(), F.col("cnt").desc(), F.col("cand").asc()
    )
    return (
        cands.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= SPELL_TOP_N)
        .select("typo", F.col("rnk").cast("long").alias("rnk"), "cand", "dist", "cnt")
    )


def _spell_oracle() -> str:
    typo_values = ", ".join(f"('{t}')" for t in _spell_typos())
    del_keys = (
        "list_distinct(list_append(list_transform(range(1, length({c}) + 1),"
        " i -> substr({c}, 1, i - 1) || substr({c}, i + 1)), {c}))"
    )
    return f"""
    WITH tok AS (
        SELECT unnest(string_split(trim(regexp_replace(
            lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok
        WHERE token <> '' GROUP BY token HAVING length(token) >= {SPELL_MIN_LEN}
    ),
    vindex AS (
        SELECT token AS cand, cnt,
               unnest({del_keys.format(c='token')}) AS k
        FROM vocab
    ),
    typos(typo) AS (VALUES {typo_values}),
    tindex AS (
        SELECT typo, unnest({del_keys.format(c='typo')}) AS k FROM typos
    ),
    cands AS (
        SELECT DISTINCT typo, cand, cnt FROM tindex JOIN vindex USING (k)
    ),
    verified AS (
        SELECT typo, cand, cnt,
               CAST(levenshtein(typo, cand) AS BIGINT) AS dist
        FROM cands WHERE levenshtein(typo, cand) <= 1
    ),
    ranked AS (
        SELECT typo, cand, cnt, dist,
               row_number() OVER (PARTITION BY typo
                   ORDER BY dist ASC, cnt DESC, cand ASC) AS rnk
        FROM verified
    )
    SELECT typo, CAST(rnk AS BIGINT) AS rnk, cand, dist, cnt
    FROM ranked WHERE rnk <= {SPELL_TOP_N}
"""


SPELL_ORACLE_SQL = _spell_oracle()


# --- prefix autocomplete index ------------------------------------------------

AC_PREFIX_LENS = (2, 3, 4)  # prefix lengths materialized in the index
AC_TOP_K = 3  # completions served per prefix
AC_MIN_CNT = 2  # hapax completions are noise, not suggestions


def search_autocomplete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full prefix→top-K completion index — the type-ahead artifact
    every retrieval stack serves next to spell suggestion (completion
    by corpus frequency is the classic QAC baseline; Bar-Yossef &
    Kraus, WWW'11 call it MostPopularCompletion). The OUTPUT is the
    index itself: every prefix of the materialized lengths with its
    top-K corpus completions, which is exactly what a production
    system precomputes and ships to the edge.

    Scale shape: the vocabulary is the one corpus-sized exchange (the
    same map-side-combined token aggregate the spell index builds);
    prefixes explode from the VOCABULARY (Heaps-law sublinear, ≤
    |AC_PREFIX_LENS| rows per distinct word — the corpus is never
    re-scanned); the per-prefix top-K compiles to WindowGroupLimit so
    each map task forwards ≤ K rows per prefix. At 10^12 docs the
    prefix table IS the stored autocomplete index, rebuilt by the same
    increment-merge path search_index_refresh proves.

    Determinism: rank by (count desc, token asc) — exact integers and
    strings on both engines; AC_MIN_CNT floors out hapax legomena so
    the suggestion list is stable under single-document edits.
    """
    docs, _ = _docs_and_stats(spark, sf_dir)
    toks = F.filter(TX.tokens(F.col("text")), lambda t: t != "")
    vocab = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= AC_MIN_CNT)
    )
    prefixes = F.filter(
        F.array(
            *[
                F.when(
                    F.length("token") >= p, F.substring("token", 1, p)
                )
                for p in AC_PREFIX_LENS
            ]
        ),
        lambda x: x.isNotNull(),
    )
    pref = vocab.select(
        F.explode(prefixes).alias("prefix"), "token", "cnt"
    )
    w = Window.partitionBy("prefix").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    return (
        pref.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= AC_TOP_K)
        .select("prefix", "rank", "token", "cnt")
    )


def _autocomplete_oracle() -> str:
    legs = "\n        UNION ALL\n".join(
        f"        SELECT substr(token, 1, {p}) AS prefix, token, cnt"
        f" FROM vocab WHERE length(token) >= {p}"
        for p in AC_PREFIX_LENS
    )
    return f"""
    WITH tok AS (
        SELECT unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt
        FROM tok WHERE token <> '' GROUP BY token
        HAVING count(*) >= {AC_MIN_CNT}
    ),
    pref AS (
{legs}
    ),
    ranked AS (
        SELECT prefix, token, cnt,
               CAST(row_number() OVER (PARTITION BY prefix
                   ORDER BY cnt DESC, token ASC) AS BIGINT) AS rank
        FROM pref
    )
    SELECT prefix, rank, token, cnt FROM ranked WHERE rank <= {AC_TOP_K}
"""


AUTOCOMPLETE_ORACLE_SQL = _autocomplete_oracle()
