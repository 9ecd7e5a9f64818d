"""Tokenizer-training corpus primitive: BPE merge-pair counting.

The one major LLM-data pipeline stage with no representative elsewhere
in this repo: byte-pair-encoding training is rounds of "count adjacent
symbol pairs across the corpus, merge the argmax". The corpus-side
primitive of every round is the pair count, and its scale shape is the
whole trick:

  corpus -> tokens -> WORD COUNTS            [one shuffle, map-side
                                              combine; the corpus is
                                              read exactly once]
  distinct words -> adjacent char pairs      [explode over the
                                              VOCABULARY, weighted by
                                              word count — corpus
                                              occurrences never re-
                                              explode]
  pair -> sum(weight) -> top-K               [vocabulary-sized agg +
                                              TakeOrderedAndProject]

At 10^12 documents the vocabulary (unique words) grows ~Heaps-law
sublinearly, so the pair explode runs over millions of rows while the
corpus holds trillions — counting pairs on the deduplicated vocabulary
instead of raw text is what makes distributed BPE tractable (same
observation Hugging Face tokenizers' trainer makes single-node:
word-count first, pairs over unique words after).

Outputs the first merge round's table: top pairs by corpus frequency
with a deterministic (count DESC, pair ASC) order — exact integer
counts, so the DuckDB twin is trivial. Later rounds re-run this op on
vocab with the winning pair merged; the per-round cost is vocabulary-
sized, which is why the op reports the vocab/corpus compression too.

The reference has no tokenizer stage (its LLM calls are hosted-API,
langchain_extractor.py); this op exists for the training-data engine
the north rule targets, stated on its own terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo
from ..functions import text as TX

BPE_TOP_K = 40


def tokenizer_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    # corpus pass ends here: everything below is vocabulary-sized.
    # 1-char words have no pairs — and MUST be filtered before the
    # sequence() below: Spark's sequence(1, 0) counts DOWN and would
    # fabricate a bogus self-pair per single-char word (the same
    # footgun functions/text.word_shingles guards).
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n")).filter(
        F.length("w") >= 2
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    counted = pairs.groupBy("pair").agg(F.sum("n").alias("cnt"))
    # TakeOrderedAndProject trims to K rows first; the rank window then
    # runs over K rows, not the full pair table
    top = counted.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(BPE_TOP_K)
    w = Window.orderBy(F.col("cnt").desc(), F.col("pair").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rnk"),
        "pair",
        F.col("cnt").cast("long").alias("cnt"),
    )


BPE_ORACLE_SQL = f"""
    WITH tok AS (
        SELECT unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    vocab AS (SELECT w, count(*) AS n FROM tok WHERE w <> '' GROUP BY w),
    pairs AS (
        SELECT unnest(list_transform(range(1, length(w)),
                      i -> substr(w, CAST(i AS INT), 2))) AS pair,
               n
        FROM vocab
    ),
    counted AS (SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
                FROM pairs GROUP BY pair)
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair ASC) AS BIGINT)
               AS rnk,
           pair, cnt
    FROM counted
    ORDER BY cnt DESC, pair ASC
    LIMIT {BPE_TOP_K}
"""


# --- iterative BPE training (multi-round merges) -----------------------------

BPE_ROUNDS = 4


def _fold_merge(sym, left: str, right: str):
    """Greedy left-to-right non-overlapping merge of (left, right) into
    one symbol, as a JVM-side left fold over a symbol array — standard
    BPE merge semantics, property-pinned equal to replace-first
    iteration in tests/test_property.py."""
    lm, rm, mm = F.lit(left), F.lit(right), F.lit(left + right)
    return F.aggregate(
        sym,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == lm) & (x == rm),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(mm)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _train_merges(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, str, str, int]]:
    """The BPE_ROUNDS training loop shared by tokenizer_bpe_train (which
    returns the merge table) and tokenizer_bpe_encode (which applies it).
    One corpus shuffle builds the word-frequency vocabulary; every round
    after that is vocabulary-sized, and the only driver traffic is ONE
    argmax row per round."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("w") >= 2)
        .select(
            # initial symbol sequence: one char per symbol, space-joined
            F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("ws"),
            "n",
        )
        .persist()
    )
    vocab.count()  # materialize once; every round reads the cache

    merges: list[tuple[int, str, str, int]] = []
    cur = vocab
    for rnd in range(1, BPE_ROUNDS + 1):
        arr = F.split(F.col("ws"), " ")
        pairs = cur.select(
            F.explode(
                F.when(
                    F.size(arr) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda i: F.concat(
                            F.element_at(arr, i),
                            F.lit(" "),
                            F.element_at(arr, i + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
            "n",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split(" ")
        merges.append((rnd, left, right, int(top[0]["cnt"])))
        folded = _fold_merge(F.split(F.col("ws"), " "), left, right)
        cur = cur.select(F.array_join(folded, " ").alias("ws"), "n")

    vocab.unpersist()
    return merges


def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING, not just round one: BPE_ROUNDS greedy merge rounds
    over the word-frequency vocabulary, returning the learned merge
    table (round, left symbol, right symbol, corpus pair count) — the
    artifact a tokenizer trainer actually emits.

    Distributed shape per round (everything after the first aggregate
    is VOCABULARY-sized; the corpus is read exactly once, like
    tokenizer_bpe_pairs):

      vocab(word -> freq, persisted)            [the one corpus shuffle]
      explode adjacent SYMBOL pairs, weight n   [vocab-sized]
      argmax (count DESC, pair ASC)             [TakeOrderedAndProject,
                                                 ONE row to the driver
                                                 per round — the same
                                                 bounded collect the
                                                 pagerank loop makes]
      fold-merge the winner into every word     [F.aggregate: JVM-side
                                                 left fold, greedy
                                                 left-to-right non-
                                                 overlapping — standard
                                                 BPE semantics; no
                                                 Python, no shuffle]

    The DuckDB twin recomputes every round INDEPENDENTLY (its own
    argmax CTEs; Spark's collected winners never leak into the oracle
    text), replaying each merge with a replace-first recursive CTE —
    leftmost-first single replacement iterated to fixpoint is provably
    the same greedy non-overlapping merge as the left fold.

    At real tokenizer scale (30k+ merges) trainers keep incremental
    pair-delta structures instead of recounting; the per-round recount
    here is the honest distributed baseline and each round is bounded
    by Heaps-law vocabulary size, not corpus size.

    The reference has no tokenizer stage (hosted-API LLM calls,
    langchain_extractor.py); this exists for the training-data engine
    the north rule targets.
    """
    merges = _train_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rnd long, left_sym string, right_sym string, cnt long"
    ).orderBy("rnd")


def _bpe_train_oracle_sql() -> str:
    """Unrolled DuckDB twin: per round, an argmax CTE + a replace-first
    recursive rewrite CTE. Static text — nothing from the Spark run.

    Every non-recursive CTE is MATERIALIZED: the scalar subqueries on
    t{k} inside each recursive rw{k} otherwise re-derive the entire
    upstream chain per recursion step — measured 558s -> 0.3s on the
    encode twin at sf0.01."""
    parts = [
        f"""
    WITH RECURSIVE tok AS MATERIALIZED (
        SELECT unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    v0 AS MATERIALIZED (
        SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '
                   AS pws,
               count(*) AS n
        FROM tok WHERE w <> '' AND length(w) >= 2
        GROUP BY w
    )"""
    ]
    for k in range(1, BPE_ROUNDS + 1):
        prev, pk, tk, rwk, vk = (
            f"v{k - 1}",
            f"p{k}",
            f"t{k}",
            f"rw{k}",
            f"v{k}",
        )
        parts.append(
            f""",
    {pk} AS MATERIALIZED (
        SELECT unnest(list_transform(
                   range(1, length(string_split(trim(pws), ' '))),
                   i -> string_split(trim(pws), ' ')[i] || ' ' ||
                        string_split(trim(pws), ' ')[i + 1])) AS pair,
               n
        FROM {prev}
        WHERE length(string_split(trim(pws), ' ')) >= 2
    ),
    {tk} AS MATERIALIZED (
        SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
        FROM {pk} GROUP BY pair
        ORDER BY cnt DESC, pair ASC LIMIT 1
    ),
    {rwk} AS (
        SELECT pws, n FROM {prev}
        UNION ALL
        SELECT substr(pws, 1, strpos(pws, (SELECT ' ' || pair || ' '
                                           FROM {tk})) - 1)
               || (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM {tk})
               || substr(pws, strpos(pws, (SELECT ' ' || pair || ' '
                                           FROM {tk}))
                              + length((SELECT ' ' || pair || ' '
                                        FROM {tk}))),
               n
        FROM {rwk}
        WHERE strpos(pws, (SELECT ' ' || pair || ' ' FROM {tk})) > 0
    ),
    {vk} AS MATERIALIZED (
        SELECT pws, n FROM {rwk}
        WHERE strpos(pws, (SELECT ' ' || pair || ' ' FROM {tk})) = 0
    )"""
        )
    selects = [
        f"""SELECT CAST({k} AS BIGINT) AS rnd,
               split_part(pair, ' ', 1) AS left_sym,
               split_part(pair, ' ', 2) AS right_sym, cnt
        FROM t{k}"""
        for k in range(1, BPE_ROUNDS + 1)
    ]
    return "".join(parts) + "\n    " + "\n    UNION ALL\n    ".join(selects)


BPE_TRAIN_ORACLE_SQL = _bpe_train_oracle_sql()


# --- applying the trained tokenizer (encode the corpus) ----------------------

# Broadcast head size for the encoded-vocabulary join-back. The corpus
# token stream is Zipf-distributed, so the hottest ENC_HEAD_K words ride
# a broadcast map and never enter the shuffled join.
ENC_HEAD_K = 256


def _encoded_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared encode machinery: (doc_id, lang, w, c, ntok) — per-doc
    word counts with each DISTINCT word's token length under the
    trained merges folded once (Heaps-law sublinear), joined back
    through the Zipf-skew split (hot ENC_HEAD_K words broadcast, cold
    tail shuffles). Both tokenizer_bpe_encode (per-doc budgets) and
    tokenizer_vocab_coverage (per-lang fertility) aggregate this frame;
    lang rides the explode for free (functionally dependent on
    doc_id, so adding it to the groupBy key changes nothing).

    Memoized per (session, sf_dir) through the shared cache: the two
    driver queries consuming this frame (tokenizer_bpe_encode and
    tokenizer_vocab_coverage) would otherwise EACH re-run the full
    BPE training loop and leak a fresh persisted copy."""

    def build() -> tuple:
        merges = _train_merges(spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        tok = docs.select(
            "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("w")
        ).filter(F.col("w") != "")
        dw = tok.groupBy("doc_id", "lang", "w").agg(F.count(F.lit(1)).alias("c"))

        vocab = dw.groupBy("w").agg(F.sum("c").alias("n"))
        sym = F.split(F.trim(F.regexp_replace(F.col("w"), "(.)", "$1 ")), " ")
        for _, left, right, _ in merges:
            sym = _fold_merge(sym, left, right)
        enc = vocab.select("w", "n", F.size(sym).cast("long").alias("ntok"))

        # Zipf-skew split (the _skew_left_join shape, head keyed by corpus
        # frequency): hot words broadcast, cold tail shuffles.
        head = enc.orderBy(F.col("n").desc(), "w").limit(ENC_HEAD_K).select(
            "w", "ntok"
        )
        with_head = dw.join(F.broadcast(head), "w", "left")
        hot = with_head.filter(F.col("ntok").isNotNull())
        cold = (
            with_head.filter(F.col("ntok").isNull())
            .drop("ntok")
            .join(enc.select("w", "ntok"), "w", "left")
        )
        # Both frames are memoized: a bare `enc` persist would survive
        # clear_caches() and strand one copy per cold-bench cycle (enc
        # must stay persisted while the joined frame is alive — the
        # skew-split tail join re-reads it on every consumer execution).
        return enc, hot.unionByName(cold)

    return memo(spark, sf_dir, "bpe-encoded", build)[-1]


def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the BPE_ROUNDS-trained merge table to the corpus — the
    missing half of the tokenizer story (train -> ENCODE): per document,
    the token count under the learned tokenizer, next to the raw word
    and character counts, plus the chars-per-token compression the
    mixture planner budgets with (sample_token_budget /
    sample_mix_epochs count whitespace words today; this op is the
    measured bridge to real-tokenizer budgets).

    Distributed shape — encode the VOCABULARY once, never the corpus:

      corpus -> (doc_id, word) counts          [one shuffle, map-side
                                                combine]
      distinct words -> fold-merge chain       [vocabulary-sized
                                                projection: BPE_ROUNDS
                                                unrolled JVM-side folds,
                                                no Python, no shuffle]
      join encoded lengths back to (doc,word)  [Zipf-skew split: the
                                                ENC_HEAD_K hottest words
                                                by corpus frequency join
                                                as a BROADCAST map; only
                                                the de-skewed tail takes
                                                the shuffled equi-join]
      per-doc integer sums                     [doc_id agg]

    At 10^12 documents with a real 30k-merge tokenizer, re-folding every
    corpus occurrence would be prohibitive; folding each DISTINCT word
    once (Heaps-law sublinear) and joining the length back is the same
    trick tokenizer_bpe_train's pair counting uses. All outputs are
    exact integers (compression scaled by 1e4 through DIV), so the
    DuckDB twin — which re-trains the merges independently and replays
    them with replace-first recursive CTEs — is bit-identical.

    The reference has no tokenizer stage (hosted-API LLM calls,
    langchain_extractor.py); stated on the engine's own terms.
    """
    joined = _encoded_word_counts(spark, sf_dir)
    out = (
        joined.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("ntok")).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "chars_per_token_e4",
            F.expr("(n_chars * 10000L) DIV n_tokens"),
        )
        .orderBy("doc_id")
    )
    return out


def _bpe_encode_oracle_sql(final: str | None = None, with_lang: bool = False) -> str:
    """Independent DuckDB twin: re-trains the BPE_ROUNDS merges from the
    corpus (its own argmax CTEs — Spark's collected winners never leak
    in), replays them over the DISTINCT-word table with replace-first
    recursive CTEs carrying the original word, then joins the encoded
    lengths back to per-(doc, word) counts. Static SQL text.

    v0 here includes 1-char words (they must encode to one token) while
    the train twin's v0 excludes them; the argmax CTEs are unaffected
    because a 1-symbol word contributes no adjacent pairs."""
    lang_col = " lang," if with_lang else ""
    parts = [
        """
    WITH RECURSIVE tok AS MATERIALIZED (
        SELECT doc_id,{LANG_COL}
               unnest(string_split(trim(regexp_replace(
                   lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
    ),
    dw AS MATERIALIZED (
        SELECT doc_id,{LANG_COL} w, CAST(count(*) AS BIGINT) AS c
        FROM tok WHERE w <> '' GROUP BY doc_id,{LANG_COL} w
    ),
    v0 AS MATERIALIZED (
        SELECT w,
               ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '
                   AS pws,
               CAST(sum(c) AS BIGINT) AS n
        FROM dw
        GROUP BY w
    )""".replace("{LANG_COL}", lang_col)
    ]
    for k in range(1, BPE_ROUNDS + 1):
        prev, pk, tk, rwk, vk = (
            f"v{k - 1}",
            f"p{k}",
            f"t{k}",
            f"rw{k}",
            f"v{k}",
        )
        parts.append(
            f""",
    {pk} AS MATERIALIZED (
        SELECT unnest(list_transform(
                   range(1, length(string_split(trim(pws), ' '))),
                   i -> string_split(trim(pws), ' ')[i] || ' ' ||
                        string_split(trim(pws), ' ')[i + 1])) AS pair,
               n
        FROM {prev}
        WHERE length(string_split(trim(pws), ' ')) >= 2
    ),
    {tk} AS MATERIALIZED (
        SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
        FROM {pk} GROUP BY pair
        ORDER BY cnt DESC, pair ASC LIMIT 1
    ),
    {rwk} AS (
        SELECT w, pws, n FROM {prev}
        UNION ALL
        SELECT w,
               substr(pws, 1, strpos(pws, (SELECT ' ' || pair || ' '
                                           FROM {tk})) - 1)
               || (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM {tk})
               || substr(pws, strpos(pws, (SELECT ' ' || pair || ' '
                                           FROM {tk}))
                              + length((SELECT ' ' || pair || ' '
                                        FROM {tk}))),
               n
        FROM {rwk}
        WHERE strpos(pws, (SELECT ' ' || pair || ' ' FROM {tk})) > 0
    ),
    {vk} AS MATERIALIZED (
        SELECT w, pws, n FROM {rwk}
        WHERE strpos(pws, (SELECT ' ' || pair || ' ' FROM {tk})) = 0
    )"""
        )
    default_final = f""",
    enc AS MATERIALIZED (
        SELECT w,
               CAST(length(string_split(trim(pws), ' ')) AS BIGINT) AS ntok
        FROM v{BPE_ROUNDS}
    ),
    perdoc AS MATERIALIZED (
        SELECT dw.doc_id,
               CAST(sum(dw.c) AS BIGINT) AS n_words,
               CAST(sum(dw.c * length(dw.w)) AS BIGINT) AS n_chars,
               CAST(sum(dw.c * enc.ntok) AS BIGINT) AS n_tokens
        FROM dw JOIN enc ON dw.w = enc.w
        GROUP BY dw.doc_id
    )
    SELECT doc_id, n_words, n_chars, n_tokens,
           (n_chars * 10000) // n_tokens AS chars_per_token_e4
    FROM perdoc
    ORDER BY doc_id"""
    parts.append(final if final is not None else default_final)
    return "".join(parts)


BPE_ENCODE_ORACLE_SQL = _bpe_encode_oracle_sql()


# --- per-language tokenizer fertility / coverage ------------------------------


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language report of how the trained tokenizer treats the
    corpus — the acceptance gate tokenizer training actually ships
    with: fertility (tokens per word), compression (chars per token)
    and the share of word occurrences still fragmented into >=2 tokens
    after the learned merges. Multilingual pipelines read this table to
    decide whether the merge budget under-serves a language (high
    fertility = that language pays more sequence length per word —
    the classic under-tokenization signal for non-Latin scripts).

    Same distributed shape as tokenizer_bpe_encode (the shared
    _encoded_word_counts: one corpus shuffle, vocabulary-sized fold,
    Zipf-skew join-back) with the rollup keyed by lang instead of
    doc_id — |langs| output rows, all integer fixed-point (e4 via DIV),
    so the DuckDB twin re-trains + replays independently and matches
    bit-for-bit.

    The reference has no tokenizer stage (hosted-API LLM calls,
    langchain_extractor.py); stated on the engine's own terms.
    """
    joined = _encoded_word_counts(spark, sf_dir)
    return (
        joined.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("ntok")).cast("long").alias("n_tokens"),
            F.sum(
                F.when(F.col("ntok") >= 2, F.col("c")).otherwise(F.lit(0))
            ).cast("long").alias("frag_words"),
        )
        .select(
            "lang",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("(n_chars * 10000L) DIV n_tokens").alias(
                "chars_per_token_e4"
            ),
            F.expr("(n_tokens * 10000L) DIV n_words").alias("fertility_e4"),
            F.expr("(frag_words * 10000L) DIV n_words").alias(
                "frag_share_e4"
            ),
        )
        .orderBy("lang")
    )


BPE_COVERAGE_ORACLE_SQL = _bpe_encode_oracle_sql(
    with_lang=True,
    final=f""",
    enc AS MATERIALIZED (
        SELECT w,
               CAST(length(string_split(trim(pws), ' ')) AS BIGINT) AS ntok
        FROM v{BPE_ROUNDS}
    ),
    cov AS MATERIALIZED (
        SELECT dw.lang,
               CAST(sum(dw.c) AS BIGINT) AS n_words,
               CAST(sum(dw.c * length(dw.w)) AS BIGINT) AS n_chars,
               CAST(sum(dw.c * enc.ntok) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN enc.ntok >= 2 THEN dw.c ELSE 0 END)
                    AS BIGINT) AS frag_words
        FROM dw JOIN enc ON dw.w = enc.w
        GROUP BY dw.lang
    )
    SELECT lang, n_words, n_chars, n_tokens,
           (n_chars * 10000) // n_tokens AS chars_per_token_e4,
           (n_tokens * 10000) // n_words AS fertility_e4,
           (frag_words * 10000) // n_words AS frag_share_e4
    FROM cov
    ORDER BY lang""",
)
