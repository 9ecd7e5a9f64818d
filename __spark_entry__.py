"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the full extraction pipeline over pages
                synthesized from sf0.001 documents.
OPS           — the operator registry: one row per operator with its
                builder, its exact DuckDB twin and its bench role.
queries()     — every operator's builder by name, derived from OPS.
oracle_sql()  — every operator's DuckDB twin by name, derived from OPS.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ai_ocr_spark.operators import curation as CU  # noqa: E402
from ai_ocr_spark.operators import dedup as D  # noqa: E402
from ai_ocr_spark.operators import graph as G  # noqa: E402
from ai_ocr_spark.operators import links as LNK  # noqa: E402
from ai_ocr_spark.operators import multimodal as MM  # noqa: E402
from ai_ocr_spark.operators import oracles as ORC  # noqa: E402
from ai_ocr_spark.operators import quality_lm as QL  # noqa: E402
from ai_ocr_spark.operators import relational as R  # noqa: E402
from ai_ocr_spark.operators import roundtrip as RT  # noqa: E402
from ai_ocr_spark.operators import roundtrip_docx as RDX  # noqa: E402
from ai_ocr_spark.operators import roundtrip_fields as RF  # noqa: E402
from ai_ocr_spark.operators import roundtrip_pdf as RP  # noqa: E402
from ai_ocr_spark.operators import roundtrip_xls as RXL  # noqa: E402
from ai_ocr_spark.operators import roundtrip_xlsx as RX  # noqa: E402
from ai_ocr_spark.operators import search as SRCH  # noqa: E402
from ai_ocr_spark.operators import similarity as SIM  # noqa: E402
from ai_ocr_spark.operators import sketch as SK  # noqa: E402
from ai_ocr_spark.operators import temporal as TP  # noqa: E402
from ai_ocr_spark.operators import textstats as TS  # noqa: E402
from ai_ocr_spark.operators import tokenizer as TOK  # noqa: E402
from ai_ocr_spark.sources import pages as PG  # noqa: E402
from ai_ocr_spark.streaming import ingest as SI  # noqa: E402
from ai_ocr_spark.streaming import stateful as SS  # noqa: E402
from ai_ocr_spark.streaming import windows as SW  # noqa: E402


def _stream_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SW.stream_events_daily(spark, sf_dir)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: pages -> fused kernel extraction -> extractions."""
    from ai_ocr_spark.pipeline import extract_pages, pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    out = extract_pages(pages, run_id="entry", num_partitions=8)
    return out.select(
        "url", "content_kind", "doc_type", "lang", "valid", "confidence", "main_text"
    )


def _pipeline_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark pipeline main_text vs SQL-reconstructable expectation:
    strip(wrap(text)) == whitespace-canonical text.

    The comparison column is `nonempty` (main_text <> ''), NOT the
    pipeline's `valid`: valid folds in schema validation, which SQL
    cannot reconstruct — a fixture that happened to contain an
    invoice/report keyword would make an equality oracle on `valid`
    report a spurious mismatch. The real valid semantics are pinned by
    tests/test_pipeline_parity.py against the kernel oracle."""
    from pyspark.sql import functions as F

    from ai_ocr_spark.pipeline import extract_pages, pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    return extract_pages(pages, run_id="oracle", num_partitions=8).select(
        "url", "main_text", (F.col("main_text") != "").alias("nonempty")
    )


class Op(NamedTuple):
    """One operator. `builder(spark, sf_dir)` returns its frame and
    `oracle_sql` is its exact DuckDB twin over the same parquet views.
    `bench` is its role in bench.py:
      None     — not timed;
      "warm"   — headline: median of 3 warm runs, inside the total;
      "cold"   — "warm", plus one run straight after clear_caches that
                 prices the memoized index build with the first probe;
      "stream" — a streaming drain, timed warm in its own section,
                 outside the batch total (most of it is micro-batch
                 startup)."""

    builder: Callable[[SparkSession, str], DataFrame]
    oracle_sql: str
    bench: str | None = None


OPS: dict[str, Op] = {
    # Word documents: zip sniff -> word/document.xml paragraphs +
    # body tables + core props with byte spans (fills the
    # reference's pinned-but-unused python-docx branch)
    "pipeline_docx_roundtrip": Op(RDX.pipeline_docx_roundtrip, RDX.ORACLE_SQL),
    # full BM25 (k1/b + Lucene idf) via the integer-log table trick
    # proven in sketch_distinct_hll — length normalization with a
    # bit-exact DuckDB twin, zero extra shuffles
    "search_bm25_topk": Op(SRCH.search_bm25_topk, SRCH.BM25_ORACLE_SQL, "warm"),
    # reciprocal-rank fusion of the tf-idf and BM25 top-K lists —
    # integer-scaled RRF, consensus count per doc
    "search_rrf_fusion": Op(SRCH.search_rrf_fusion, SRCH.RRF_ORACLE_SQL, "cold"),
    # hybrid retrieval: BM25 lexical list fused with the PQ-ADC
    # ANN list through the same integer RRF — the 100-TB shape
    # search_rrf_fusion's docstring promised
    "ann_rrf_hybrid": Op(SRCH.ann_rrf_hybrid, SRCH.HYBRID_ORACLE_SQL, "warm"),
    # incremental inverted-index refresh: persisted base postings +
    # increment-only scan, merged df/N, top-K under the refreshed
    # idf == batch rebuild (the twin IS the rebuild)
    "search_index_refresh": Op(
        SRCH.search_index_refresh, SRCH.IDX_REFRESH_ORACLE_SQL, "cold"
    ),
    # exact-phrase retrieval over a memoized positional index:
    # anchor-join (pos - offset) match, phrase tf * integer idf
    "search_phrase_topk": Op(SRCH.search_phrase_topk, SRCH.PHRASE_ORACLE_SQL, "cold"),
    # result-page snippet generation: token window around the first
    # exact phrase occurrence, broadcast hit-list doc-store lookup
    "search_snippet_topk": Op(
        SRCH.search_snippet_topk, SRCH.SNIPPET_ORACLE_SQL, "warm"
    ),
    # proximity "near" operator: term-pair co-occurrence within a
    # token window over the same positional postings, ranked by
    # in-window pair count then tightest distance
    "search_proximity_topk": Op(
        SRCH.search_proximity_topk, SRCH.PROX_ORACLE_SQL, "warm"
    ),
    # pseudo-relevance-feedback query expansion: BM25 top-K as the
    # feedback set, expansion terms by feedback-tf x integer idf,
    # everything past the ranker feedback-bounded
    "search_query_expansion": Op(
        SRCH.search_query_expansion, SRCH.EXPANSION_ORACLE_SQL, "warm"
    ),
    # SymSpell spell suggestion: deletion-neighborhood equi-join
    # over the Heaps-bounded vocab index, levenshtein verify on
    # candidates only
    "search_spell_suggest": Op(
        SRCH.search_spell_suggest, SRCH.SPELL_ORACLE_SQL, "warm"
    ),
    # tokenizer-training corpus primitive: BPE merge-pair counts
    # over the deduplicated vocabulary, corpus read once
    "tokenizer_bpe_pairs": Op(TOK.tokenizer_bpe_pairs, TOK.BPE_ORACLE_SQL, "warm"),
    # full iterative BPE training: BPE_ROUNDS greedy merge rounds,
    # fold-merge JVM-side, twin replays merges with replace-first
    # recursive CTEs
    "tokenizer_bpe_train": Op(
        TOK.tokenizer_bpe_train, TOK.BPE_TRAIN_ORACLE_SQL, "warm"
    ),
    # the encode half of the tokenizer story: the trained merge
    # table applied per document — distinct words fold once
    # (Heaps-law sublinear), lengths join back Zipf-skew-split,
    # per-doc token counts + chars/token compression
    "tokenizer_bpe_encode": Op(
        TOK.tokenizer_bpe_encode, TOK.BPE_ENCODE_ORACLE_SQL, "cold"
    ),
    # per-language fertility/compression/fragmentation report under
    # the trained tokenizer — the multilingual merge-budget
    # acceptance gate
    "tokenizer_vocab_coverage": Op(
        TOK.tokenizer_vocab_coverage, TOK.BPE_COVERAGE_ORACLE_SQL
    ),
    # mergeable log-binned quantile sketch — the constant-state
    # percentile path next to the exact agg_length_percentiles;
    # bit-exact integer binning both engines
    "sketch_quantiles_logbin": Op(
        SK.sketch_quantiles_logbin, SK.QSKETCH_ORACLE_SQL, "warm"
    ),
    # Dolma-style Bloom-filter dedup membership: crawl increment
    # probes a mergeable bit_or bitmap over the base corpus'
    # fingerprints, exact leg measures the FPR
    "dedup_bloom_probe": Op(SK.dedup_bloom_probe, SK.BLOOM_ORACLE_SQL, "cold"),
    # HLL mergeability as a value-checked witness: per-shard
    # registers merged by max must equal the direct single-pass
    # registers exactly
    "sketch_hll_merge_shards": Op(
        SK.sketch_hll_merge_shards, SK.HLL_MERGE_ORACLE_SQL, "warm"
    ),
    # theta-sketch set intersection over per-source shingle sets —
    # KMV algebra with the exact intersection as the measured
    # witness
    "sketch_kmv_intersect": Op(
        SK.sketch_kmv_intersect, SK.KMV_INTERSECT_ORACLE_SQL, "cold"
    ),
    # the rest of the theta algebra: union + both aNotB estimates
    # over the same sketches, exact sample-count identity emitted
    # as a checked bit
    "sketch_kmv_setops": Op(SK.sketch_kmv_setops, SK.KMV_SETOPS_ORACLE_SQL, "warm"),
    # k-core decomposition of the link graph — Batagelj-Zaversnik
    # peel as bounded localCheckpoint rounds; fixed-depth
    # MATERIALIZED-CTE twin
    "graph_kcore": Op(G.graph_kcore, G.KCORE_ORACLE_SQL, "warm"),
    # robust daily-volume anomaly detection — nearest-rank
    # median/MAD Hampel rule, integer e6 z-scores
    "events_anomaly_mad": Op(TP.events_anomaly_mad, TP.ANOMALY_MAD_ORACLE_SQL, "warm"),
    # measured IVF recall@K vs the exact baseline — the number the
    # 100x-scale N_PROBE tuning conversation needs
    "ann_ivf_recall": Op(SIM.ann_ivf_recall, ORC.ann_ivf_recall(), "warm"),
    # binary sign-quantization ANN: integer XOR+popcount Hamming
    # scan over the memoized 8-byte code table, exact-cosine rerank
    # of BQ_CAND candidates — the memory tier below PQ
    "ann_hamming_topk": Op(SIM.ann_hamming_topk, ORC.ann_hamming_topk(), "cold"),
    # the BQ honesty number, mirroring ann_ivf_recall
    "ann_hamming_recall": Op(SIM.ann_hamming_recall, ORC.ann_hamming_recall()),
    # real Lloyd k-means: driver-side bounded centroids, map-only
    # assignment, integer floor-div updates, per-round inertia
    "embedding_kmeans": Op(SIM.embedding_kmeans, SIM.KMEANS_ORACLE_SQL, "warm"),
    # product-quantization ANN: Lloyd-trained per-subspace
    # codebooks, map-only encoding, broadcast ADC lookup tables,
    # order-free integer distance sums
    "ann_pq_topk": Op(SIM.ann_pq_topk, SIM.PQ_ORACLE_SQL, "cold"),
    # PQ's honesty number as a driver-checked value, mirroring
    # ann_ivf_recall
    "ann_pq_recall": Op(SIM.ann_pq_recall, ORC.ann_pq_recall()),
    # IVFADC: the IVF coarse quantizer prunes to the probed lists,
    # PQ/ADC scores only those lists' codes — the production
    # trillion-vector composition of the two paths above; the
    # memoized lists frame is FAISS's IVFPQ storage layout
    "ann_ivf_pq_topk": Op(SIM.ann_ivf_pq_topk, SIM.IVFPQ_ORACLE_SQL, "cold"),
    # IVFADC's measured recall@K vs exact — per-query bounded above
    # by the coarse path's recall, pinned by test
    "ann_ivf_pq_recall": Op(SIM.ann_ivf_pq_recall, ORC.ann_ivf_pq_recall()),
    # CCNet-style unigram-LM perplexity gate: hash-stable 20% train
    # slice, integer-ln cross-entropy, exact nearest-rank tertile
    # head/middle/tail buckets
    "quality_perplexity_unigram": Op(
        QL.quality_perplexity_unigram, QL.PERPLEXITY_ORACLE_SQL, "warm"
    ),
    # bigram-LM cross-entropy — one Markov order closer to CCNet's
    # KenLM; both Zipf-keyed join-backs skew-split
    "quality_perplexity_bigram": Op(
        QL.quality_perplexity_bigram, QL.BIGRAM_ORACLE_SQL, "warm"
    ),
    # interpolated Kneser-Ney on the same bigram tables — KenLM-
    # grade smoothing as exact integer fractions (d=3/4 rational),
    # absolute discount + continuation backoff
    "quality_perplexity_kn": Op(QL.quality_perplexity_kn, QL.KN_ORACLE_SQL, "warm"),
    # within-doc unigram entropy (Gopher/Dolma degenerate-text
    # signal), bit-exact via the same integer-ln table
    "text_token_entropy": Op(QL.text_token_entropy, QL.ENTROPY_ORACLE_SQL, "warm"),
    # DCLM-style LEARNED quality classifier: multinomial NB trained
    # on provenance labels, integer log-likelihood-ratio score, no
    # truncating division on negatives
    "quality_classifier_nb": Op(QL.quality_classifier_nb, QL.NB_ORACLE_SQL),
    # PMI collocation mining over the one-scan bigram pair table —
    # the phrase-vocabulary-induction pass (integer-ln PMI, support
    # floor, survivors-only marginal joins)
    "collocations_pmi": Op(QL.collocations_pmi, QL.PMI_ORACLE_SQL, "cold"),
    # per-source Zipf exponent by integer-exact OLS over the
    # top-64 rank/frequency log-log points
    "text_zipf_fit": Op(QL.text_zipf_fit, QL.ZIPF_ORACLE_SQL, "warm"),
    # per-document TF-IDF keyphrase top-K — skew-split tf⋈df
    # join-back, WindowGroupLimit per doc
    "text_keyphrases": Op(QL.text_keyphrases, QL.KEYPHRASE_ORACLE_SQL, "warm"),
    # trained-langid confusion matrix with integer-exact per-cell
    # precision/recall against gold labels
    "langid_eval_confusion": Op(
        TS.langid_eval_confusion, TS.LANGID_CONFUSION_ORACLE_SQL, "warm"
    ),
    # prefix→top-K completion index over the vocabulary (the
    # MostPopularCompletion QAC baseline)
    "search_autocomplete": Op(
        SRCH.search_autocomplete, SRCH.AUTOCOMPLETE_ORACLE_SQL, "warm"
    ),
    # MOSS winnowing fingerprints — per-window rightmost-min over
    # k-gram hashes, zero-shuffle array plan
    "text_winnow_fingerprints": Op(
        TS.text_winnow_fingerprints, TS.WINNOW_ORACLE_SQL, "warm"
    ),
    # local-similarity near-dup pairs via shared winnowing
    # fingerprints with the MOSS stop-fingerprint cap
    "dedup_winnow_pairs": Op(D.dedup_winnow_pairs, D.WINNOW_PAIRS_ORACLE_SQL, "cold"),
    # in-degree power-law exponent over the pinned link graph —
    # the graph-side sibling of text_zipf_fit
    "graph_degree_powerlaw": Op(
        G.graph_degree_powerlaw, G.DEGREE_POWERLAW_ORACLE_SQL, "warm"
    ),
    # shot-boundary detection over the Y4M frame walk — adjacent-
    # frame SAD with a measured threshold
    "mm_video_scene_cut": Op(MM.mm_video_scene_cut_q, ORC.mm_video_scene_cut(), "warm"),
    # energy-VAD segmentation over the WAV PCM — windows, rising-
    # edge segment count, measured threshold
    "mm_audio_vad": Op(MM.mm_audio_vad_q, ORC.mm_audio_vad(), "warm"),
    # ordered view→click→purchase conversion funnel with
    # strictly-after semantics
    "events_funnel": Op(R.events_funnel, R.FUNNEL_ORACLE_SQL, "warm"),
    # weekly retention cohort matrix — ISO-week cohorts, exact
    # day-diff offsets, e6 retention vs week-0 size
    "events_retention": Op(R.events_retention, R.RETENTION_ORACLE_SQL, "warm"),
    # event-type transition matrix — one user-keyed lag window,
    # |types|²-bounded aggregate, e6 row probabilities
    "events_markov_transitions": Op(
        R.events_markov_transitions, R.MARKOV_ORACLE_SQL, "warm"
    ),
    # RFM quintile segmentation over the orders fact table — the
    # warehouse customer-value rollup; rank-based tie-sharing
    # scores, integer quintile arithmetic
    "rfm_customer_segments": Op(R.rfm_customer_segments, R.RFM_ORACLE_SQL, "warm"),
    # held-out PR/F1 sweep over a fixed threshold grid — the
    # measured operating curve for the learned gate
    "classifier_eval_pr": Op(QL.classifier_eval_pr, QL.EVAL_PR_ORACLE_SQL),
    # DSIR-shaped selection: hashed n-gram buckets make the whole
    # model a broadcast DSIR_B-row table — shuffle-free scoring,
    # exact tie-broken keep quota
    "sample_dsir_select": Op(QL.sample_dsir_select, QL.DSIR_ORACLE_SQL),
    # per-source kept fraction + target-enrichment factor — the
    # measured number that says the resampling moved the mixture
    # toward the target
    "dsir_eval_report": Op(QL.dsir_eval_report, QL.DSIR_EVAL_ORACLE_SQL),
    # TRAINED Cavnar-Trenkle n-gram language ID over all five gold
    # labels, integer rank distances
    "text_langid_ngram": Op(TS.text_langid_ngram, TS.LANGID_NGRAM_ORACLE_SQL, "cold"),
    # ftfy-style mojibake detect+repair: UTF-8-read-as-latin-1
    # signature, byte-exact inverse transcode
    "text_fix_mojibake": Op(TS.text_fix_mojibake, TS.MOJIBAKE_ORACLE_SQL, "warm"),
    # registrable-domain (eTLD+1) extraction under PSL longest-match
    # semantics — the unit C4/RefinedWeb cap and mix by; pure
    # codegen projection, suffix table as broadcast-able literal
    "url_domain_etld1": Op(TS.url_domain_etld1, TS.URL_ETLD1_ORACLE_SQL, "warm"),
    # Unicode NFC canonicalization — Spark has no normalize
    # builtin, so this is a sanctioned Arrow-batched mapInPandas
    # (stdlib unicodedata) vs DuckDB's utf8proc nfc_normalize;
    # decomposed fixture prefixes make every class fire
    "text_nfc_normalize": Op(TS.text_nfc_normalize, TS.NFC_ORACLE_SQL),
    # the data-repetition schedule (epochs per source under a
    # smoothed token budget, LLaMA-table shape)
    "sample_mix_epochs": Op(CU.sample_mix_epochs, CU.MIX_EPOCHS_ORACLE_SQL),
    # native Structured Streaming session windows, append-drained
    # with a sentinel flush; twin is the independent islands
    # construction
    "stream_session_windows": Op(
        SW.stream_session_windows, SW.SESSION_WINDOWS_ORACLE_SQL
    ),
    # stream-stream interval join (the attribution shape) — the
    # last Structured Streaming join surface
    "stream_join_attribution": Op(
        SW.stream_join_attribution, SW.ATTRIBUTION_ORACLE_SQL
    ),
    # snapshot-atomic resume value-checked: three runs against a
    # growing pages dir — anti-join resume, idempotent no-op third
    # run, lineage run_ids through the manifest
    "pipeline_resume_snapshot": Op(
        RT.pipeline_resume_snapshot, RT.RESUME_SNAPSHOT_ORACLE_SQL
    ),
    # the publish side of the crawl loop: extraction exported as
    # WET conversion records (pure-SQL writer), re-ingested through
    # the kernel record walker, byte-identical canon
    "pipeline_wet_roundtrip": Op(RT.pipeline_wet_roundtrip, RT.WET_ORACLE_SQL, "warm"),
    # the CDX capture index over the WET export: per-record byte
    # offset + length via a bucket-keyed running sum — one ranged
    # read per page instead of a stream scan
    "warc_cdx_index": Op(RT.warc_cdx_index, RT.CDX_ORACLE_SQL, "warm"),
    # the WAT side: passive anchor recorder in the HTML kernel —
    # every href form resolved RFC-3986-style against the page url,
    # chrome links included
    "extract_outlinks": Op(LNK.extract_outlinks, LNK.OUTLINKS_ORACLE_SQL),
    # per-target in-link volume + dominant anchor text — the WAT
    # aggregation behind anchor-text retrieval
    "anchor_text_index": Op(LNK.anchor_text_index, LNK.ANCHOR_INDEX_ORACLE_SQL, "warm"),
    # robots.txt politeness gate over the discovered frontier:
    # generic parse + Google-spec longest-match, broadcast rules,
    # shuffle-free probe; twin rebuilds verdicts by arithmetic
    "filter_robots_gate": Op(LNK.filter_robots_gate, LNK.ROBOTS_ORACLE_SQL, "warm"),
    # re-crawl change detection: fingerprint-keyed full outer
    # join over two crawl snapshots -> unchanged/changed/gone/new
    # verdicts that decide which fraction re-runs the kernels
    "crawl_delta_report": Op(D.crawl_delta_report, ORC.crawl_delta_report(), "warm"),
    # the crawl-loop capstone: discovered targets -> robots gate ->
    # seen anti-join -> in-link-ranked next wave; composes three
    # oracle-checked ops, composition itself value-checked
    "crawl_frontier_topk": Op(LNK.crawl_frontier_topk, LNK.FRONTIER_ORACLE_SQL, "warm"),
    # politeness scheduling: gated unseen candidates assigned fetch
    # waves capped at WAVE_PER_HOST per host per wave — one window
    # PARTITIONED BY HOST, no global sort
    "crawl_schedule_waves": Op(
        LNK.crawl_schedule_waves, LNK.SCHEDULE_ORACLE_SQL, "warm"
    ),
    # the other discovery channel: per-source sitemap urlsets built
    # from the corpus and parsed back (roundtrip contract), new
    # URLs flagged, recrawl ranked by lastmod recency
    "sitemap_discover": Op(LNK.sitemap_discover, LNK.SITEMAP_ORACLE_SQL, "warm"),
    # snapshot compaction (small-files maintenance): N incremental
    # appends rewritten to one snapshot in one atomic commit,
    # lineage preserved, content + resume backlog value-checked
    "catalog_compact_roundtrip": Op(
        RT.catalog_compact_roundtrip, RT.COMPACT_ORACLE_SQL
    ),
    # the north rule's lineage/metrics table value-checked: metrics
    # keyed on the log2 payload-size bucket x content kind, two
    # injected fault families
    "pipeline_metrics_report": Op(
        RT.pipeline_metrics_report, RT.METRICS_REPORT_ORACLE_SQL, "warm"
    ),
    # multimodal: decode real containers (BMP 8bpp palettized incl.
    # bottom-up rows, RIFF/WAV PCM with junk chunks, YUV4MPEG2)
    "mm_image_features": Op(MM.mm_image_features_q, ORC.mm_image_features(), "warm"),
    # perceptual image near-dup: integer average-hash over the
    # decoded pixel grid, exact-bucket collapse with a canonical
    # keep/drop verdict — dedup_exact's shape on the multimodal
    # column
    "mm_image_ahash": Op(MM.mm_image_ahash, ORC.mm_image_ahash(), "warm"),
    "mm_frame_sample": Op(MM.mm_frame_sample_q, ORC.mm_frame_sample()),
    "mm_audio_stats": Op(MM.mm_audio_stats_q, ORC.mm_audio_stats()),
    # image -> TEXT recovery: the reference's declared-never-built
    # OCR branch filled — 5x7 bitmap-font render into the real
    # BMP/PNG containers, decoded back by template matching; the
    # recovered text must hash-match the source
    "mm_ocr_text": Op(MM.mm_ocr_text_q, ORC.mm_ocr_text(), "warm"),
    # near-dup clusters: pointer-doubling min-label components over
    # the banded MinHash-LSH pair graph
    "dedup_connected_components": Op(
        D.dedup_connected_components, ORC.dedup_connected_components()
    ),
    "dedup_minhash_lsh": Op(D.dedup_minhash_lsh, ORC.dedup_minhash_lsh(), "cold"),
    # the honesty number for the LSH family (same play as
    # ann_ivf_recall): measured recall vs the exhaustive
    # inverted-index ground truth + candidate precision
    "dedup_lsh_recall": Op(D.dedup_lsh_recall, ORC.dedup_lsh_recall()),
    "pagerank_link_graph": Op(G.pagerank_link_graph, G.PAGERANK_ORACLE_SQL, "warm"),
    # SALSA hub/authority (degree-normalized HITS): per-edge
    # integer DIV is the normalization, mass bounded forever,
    # two-sided Pregel co-partition pin
    "graph_salsa": Op(G.graph_salsa, G.SALSA_ORACLE_SQL, "cold"),
    # Newman degree-mixing coefficient in its rational symmetric
    # form — integer sums, sign-split e6 division, no sqrt
    "graph_assortativity": Op(
        G.graph_assortativity, G.ASSORTATIVITY_ORACLE_SQL, "warm"
    ),
    # host-graph compression: doc edges -> (src_host, dst_host)
    # weights + distinct linking docs
    "graph_host_edges": Op(G.graph_host_edges, G.HOST_EDGES_ORACLE_SQL, "warm"),
    # personalized PageRank — seed-only teleport over the same
    # pinned edges; rank concentrates near seeds, non-reachable
    # nodes stay at exact 0
    "graph_ppr_seeds": Op(G.graph_ppr_seeds, G.PPR_ORACLE_SQL, "warm"),
    # per-node triangle counts + clustering coefficient via the
    # degree-oriented closure: exchange-free wedge self-join on the
    # cached lo-pinned orientation, O(m^1.5) wedges
    "graph_triangle_count": Op(G.graph_triangle_count, G.TRIANGLE_ORACLE_SQL, "warm"),
    "dedup_minhash_keep_canonical": Op(
        CU.dedup_minhash_keep_canonical, ORC.dedup_minhash_keep_canonical()
    ),
    "search_keyword_topk": Op(SRCH.search_keyword_topk, SRCH.SEARCH_ORACLE_SQL, "warm"),
    # nbsp (chr(160)) replaced before the \\s collapse to mirror the
    # kernel's collapse_ws exactly (RE2's \\s is ASCII-only)
    "pipeline_main_text": Op(_pipeline_main_text, """
            SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
                   trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                        '\\s+', ' ', 'g')) AS main_text,
                   trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                        '\\s+', ' ', 'g')) <> '' AS nonempty
            FROM documents
        """),
    "pipeline_xlsx_roundtrip": Op(RX.pipeline_xlsx_roundtrip, RX.ORACLE_SQL),
    "dedup_embedding_keep_canonical": Op(
        CU.dedup_embedding_keep_canonical, ORC.dedup_embedding_keep_canonical()
    ),
    "pipeline_invoice_roundtrip": Op(RF.pipeline_invoice_roundtrip, RF.ORACLE_SQL),
    # the quantile sketch maintained as streaming state (3 arrival
    # files, complete-mode bin histogram), decode == the batch
    # sketch, SAME oracle SQL; pytest-pinned equal to the batch op
    "stream_quantiles_logbin": Op(SW.stream_quantiles_logbin, SK.QSKETCH_ORACLE_SQL),
    # the MAD anomaly rule over a continuously-maintained
    # complete-mode daily count — batch==stream equality is the
    # checked contract: the oracle is the batch twin's SQL
    # verbatim
    "stream_anomaly_mad": Op(
        SW.stream_anomaly_mad, TP.ANOMALY_MAD_ORACLE_SQL, "stream"
    ),
    # the hot-bucket graduation path
    # (exact dedup first, LSH over one rep per exact group, star
    # edges restored) — labeling proven equal to plain
    # LSH+components, so its oracle IS the components twin
    "dedup_lsh_exact_reps": Op(
        D.dedup_lsh_exact_reps, ORC.dedup_connected_components()
    ),
    # the eTLD+1 suffix table as a broadcast DIMENSION (the
    # full-PSL plan shape); output row-identical to the literal
    # variant, so its oracle IS the literal variant's twin
    "url_domain_etld1_dim": Op(TS.url_domain_etld1_dim, TS.URL_ETLD1_ORACLE_SQL),
    "pipeline_pdf_roundtrip": Op(RP.pipeline_pdf_roundtrip, RP.ORACLE_SQL),
    "pipeline_warc_roundtrip": Op(RT.pipeline_warc_roundtrip, RT.WARC_ORACLE_SQL),
    "pipeline_gzip_roundtrip": Op(RT.pipeline_gzip_roundtrip, RT.GZIP_ORACLE_SQL),
    "pipeline_sections": Op(RT.pipeline_sections, RT.SECTIONS_ORACLE_SQL),
    "pipeline_table_roundtrip": Op(RT.pipeline_table_roundtrip, RT.ORACLE_SQL),
    "stream_events_daily": Op(_stream_events_daily, SW.STREAM_EVENTS_DAILY_ORACLE),
    "dedup_exact": Op(D.dedup_exact, ORC.dedup_exact(), "warm"),
    "dedup_simhash": Op(D.dedup_simhash, ORC.dedup_simhash(), "cold"),
    "text_dup_fraction": Op(D.text_dup_fraction, ORC.text_dup_fraction()),
    "dedup_ngram_jaccard": Op(D.dedup_ngram_jaccard, ORC.dedup_ngram_jaccard(), "cold"),
    # the O(n^2) exact ground-truth oracle for the LSH path, left out
    # of the bench by design: timed at full n it would publish a
    # nested-loop join as a headline number
    "dedup_embedding_cosine": Op(
        D.dedup_embedding_cosine, ORC.dedup_embedding_cosine()
    ),
    "dedup_embedding_lsh": Op(
        SIM.dedup_embedding_lsh, ORC.dedup_embedding_lsh(), "cold"
    ),
    "ann_cosine_topk": Op(SIM.ann_cosine_topk, ORC.ann_cosine_topk(), "warm"),
    "ann_ivf_topk": Op(SIM.ann_ivf_topk, ORC.ann_ivf_topk(), "cold"),
    "q1_pricing_summary": Op(R.q1_pricing_summary, """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_disc_price,
                   round(CAST(sum(CAST(l_quantity AS DECIMAL(28,8))) AS DOUBLE) / count(l_quantity), 4) AS avg_qty,
                   round(CAST(sum(CAST(l_discount AS DECIMAL(28,8))) AS DOUBLE) / count(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """, "warm"),
    "agg_keyword_score_argmax": Op(R.agg_keyword_score_argmax, """
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'invoice') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'total|vendor|due') THEN 1 ELSE 0 END AS s_invoice,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'report|sales') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'summary|quarter') THEN 1 ELSE 0 END AS s_report,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'inventory|catalog') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'stock|sku') THEN 1 ELSE 0 END AS s_inventory,
                       CASE WHEN regexp_matches(lower(coalesce(text,'')), 'form|application') THEN 2 ELSE 0 END
                     + CASE WHEN regexp_matches(lower(coalesce(text,'')), 'field|signature') THEN 1 ELSE 0 END AS s_form
                FROM documents
            )
            SELECT doc_id,
                   CAST(s_invoice AS BIGINT) AS s_invoice,
                   CAST(s_report AS BIGINT) AS s_report,
                   CAST(s_inventory AS BIGINT) AS s_inventory,
                   CAST(s_form AS BIGINT) AS s_form,
                   CASE
                     WHEN greatest(s_invoice, s_report, s_inventory, s_form) = 0 THEN 'generic'
                     WHEN s_invoice = greatest(s_invoice, s_report, s_inventory, s_form) THEN 'invoice'
                     WHEN s_report = greatest(s_invoice, s_report, s_inventory, s_form) THEN 'report'
                     WHEN s_inventory = greatest(s_invoice, s_report, s_inventory, s_form) THEN 'inventory'
                     ELSE 'form'
                   END AS detected_type
            FROM s
        """),
    "window_running_spend": Op(R.window_running_spend, """
            SELECT user_id, event_id,
                   row_number() OVER w AS rn,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS running_value
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """),
    "window_sessionize": Op(R.window_sessionize, """
            WITH s AS (
                -- floor(epoch) truncates sub-second fractions, matching
                -- Spark's unix_timestamp; a bare CAST rounds to nearest
                -- and shifts ~half the epochs by 1s (spurious boundary
                -- flips for gaps straddling 1800s)
                SELECT user_id, event_id, ts, value,
                       CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                              OR CAST(floor(epoch(ts)) AS BIGINT)
                                 - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            t AS (
                SELECT *, CAST(sum(new_session) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS session_seq
                FROM s
            )
            SELECT user_id, session_seq,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE)
                       AS session_value
            FROM t GROUP BY user_id, session_seq
        """),
    "join_nation_region_rollup": Op(R.join_nation_region_rollup, """
            SELECT r_name,
                   count(*) AS n_customers,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """),
    "join_customer_orders": Op(R.join_customer_orders, """
            SELECT c_custkey, c_mktsegment,
                   count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_mktsegment
        """, "warm"),
    "agg_order_totals": Op(R.agg_order_totals, """
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_qty,
                   CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """),
    "events_daily_metrics": Op(R.events_daily_metrics, """
            SELECT event_type, date_trunc('day', ts) AS day,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   CAST(round(sum(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS sum_value
            FROM events GROUP BY event_type, date_trunc('day', ts)
        """, "warm"),
    "agg_bool_checks": Op(R.agg_bool_checks, """
            SELECT l_returnflag,
                   bool_and(l_quantity >= 0) AS all_qty_nonneg,
                   bool_and(l_discount >= 0 AND l_discount <= 1) AS all_disc_in_range,
                   bool_and(l_shipdate IS NOT NULL) AS all_dates_present,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """),
    "join_semi_orders_with_items": Op(R.join_semi_orders_with_items, """
            SELECT o_orderstatus, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
            GROUP BY o_orderstatus
        """),
    "join_anti_customers_without_orders": Op(R.join_anti_customers_without_orders, """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """, "warm"),
    "topk_parts_by_price": Op(R.topk_parts_by_price, """
            SELECT p_partkey, p_name, p_brand, p_retailprice
            FROM part ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 10
        """),
    "window_top3_events_per_user": Op(R.window_top3_events_per_user, """
            SELECT user_id, event_id, event_type, value, rk FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id
                       ORDER BY value DESC, event_id ASC) AS rk
                FROM events
            ) WHERE rk <= 3
        """, "warm"),
    "filter_events_window": Op(R.filter_events_window, """
            SELECT event_id, ts, user_id, event_type, value
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
              AND ts < TIMESTAMP '2024-01-15 00:00:00'
              AND value > 50.0
        """),
    "filter_keyword_headers": Op(R.filter_keyword_headers, """
            SELECT p_brand, count(*) AS n_colored
            FROM part
            WHERE regexp_matches(p_name, '(green|blue|red)')
            GROUP BY p_brand
        """),
    "f_date_normalize": Op(R.f_date_normalize, """
            WITH raw AS (
                SELECT o_orderkey,
                       CASE o_orderkey % 3
                         WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                         WHEN 1 THEN strftime(o_orderdate, '%m/%d/%Y')
                         ELSE strftime(o_orderdate, '%d.%m.%Y')
                       END AS raw_date
                FROM orders
            )
            SELECT o_orderkey, raw_date,
                   strftime(coalesce(
                       try_strptime(raw_date, '%Y-%m-%d'),
                       try_strptime(raw_date, '%m/%d/%Y'),
                       try_strptime(raw_date, '%d.%m.%Y')), '%Y-%m-%d') AS norm_date
            FROM raw
        """),
    "f_amount_normalize": Op(R.f_amount_normalize, """
            WITH raw AS (
                SELECT o_orderkey,
                       '$' || CASE WHEN o_orderkey % 2 = 0
                         THEN format('{:,}', CAST(floor(o_totalprice) AS BIGINT))
                              || '.' ||
                              lpad(CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 100
                                   AS VARCHAR), 2, '0')
                         ELSE printf('%.2f', o_totalprice)
                       END AS raw_amount
                FROM orders
            )
            SELECT o_orderkey, raw_amount,
                   CAST(regexp_replace(raw_amount, '[^0-9.\\-]', '', 'g') AS DOUBLE)
                       AS amount
            FROM raw
        """),
    "f_lang_detect": Op(R.f_lang_detect, """
            SELECT doc_id,
                   CASE WHEN regexp_matches(text, '[぀-ヿ一-鿿]')
                        THEN 'ja' ELSE 'en' END AS detected_lang
            FROM documents
        """),
    "f_json_parse_fallback": Op(R.f_json_parse_fallback, """
            WITH raw AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 3 < 2
                         THEN '{"key": ' || o_orderkey || ', "status": "' || o_orderstatus || '"}'
                         ELSE '{"key": broken'
                       END AS payload
                FROM orders
            )
            SELECT o_orderkey,
                   CASE WHEN json_valid(payload)
                        THEN CAST(json_extract(payload, '$.key') AS BIGINT) END AS parsed_key,
                   coalesce(
                       CASE WHEN json_valid(payload)
                            THEN json_extract_string(payload, '$.status') END,
                       'raw_extraction') AS parsed_status,
                   NOT json_valid(payload) AS parse_failed
            FROM raw
        """),
    "agg_first3_events_per_user": Op(R.agg_first3_events_per_user, """
            SELECT user_id,
                   array_to_string(
                       list_transform(
                           (list(event_id ORDER BY ts, event_id))[1:3],
                           e -> CAST(e AS VARCHAR)),
                       ',') AS first3_event_ids,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """),
    "f_clamp_score": Op(R.f_clamp_score, """
            SELECT c_custkey,
                   round(least(1.0, greatest(0.0, c_acctbal / 5000.0)), 6) AS clamped
            FROM customer
        """),
    "f_doc_type_case": Op(R.f_doc_type_case, """
            SELECT doc_id,
                   CASE
                     WHEN contains(lower(coalesce(text, '')), 'table') THEN 'tabular'
                     WHEN contains(lower(coalesce(text, '')), 'stream') THEN 'streaming'
                     WHEN contains(lower(coalesce(text, '')), 'vector') THEN 'vector'
                     ELSE 'other'
                   END AS doc_type
            FROM documents
        """),
    "union_head_tail": Op(R.union_head_tail, """
            (SELECT l_orderkey, l_linenumber, l_quantity
             FROM lineitem ORDER BY l_orderkey ASC, l_linenumber ASC LIMIT 500)
            UNION ALL
            (SELECT l_orderkey, l_linenumber, l_quantity
             FROM lineitem ORDER BY l_orderkey DESC, l_linenumber DESC LIMIT 500)
        """),
    "orders_page2": Op(R.orders_page2, """
            SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
            FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC
            LIMIT 20 OFFSET 10
        """),
    "text_token_stats": Op(TS.text_token_stats, ORC.text_token_stats()),
    "text_quality_scores": Op(
        TS.text_quality_scores, ORC.text_quality_scores(), "warm"
    ),
    # Flesch-Kincaid readability as exact e4 fixed-point (per-term
    # integer floors, DIV == //), scan-speed projection
    "text_readability": Op(TS.text_readability, ORC.text_readability(), "warm"),
    "text_langid": Op(TS.text_langid, ORC.text_langid(), "warm"),
    "text_fingerprint": Op(TS.text_fingerprint, ORC.text_fingerprint()),
    "text_pii_scrub": Op(TS.text_pii_scrub, ORC.text_pii_scrub(), "warm"),
    "text_line_dedup": Op(TS.text_line_dedup, ORC.text_line_dedup()),
    "url_canonicalize": Op(TS.url_canonicalize, ORC.url_canonicalize(), "warm"),
    "quality_filter_gopher": Op(
        TS.quality_filter_gopher, ORC.quality_filter_gopher(), "warm"
    ),
    # FineWeb custom filters (Penedo et al. 2024 §3.5) — the three
    # line-structural rules on top of C4/Gopher
    "quality_filter_fineweb": Op(
        TS.quality_filter_fineweb, ORC.quality_filter_fineweb(), "warm"
    ),
    "agg_column_profile": Op(R.agg_column_profile, """
            SELECT lang,
                   count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
                   round(CAST(sum(CAST(n_chars AS DECIMAL(28,8))) AS DOUBLE) / count(n_chars), 4) AS avg_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """),
    "agg_rollup_category": Op(R.agg_rollup_category, """
            SELECT p_brand,
                   count(*) AS n_parts,
                   round(CAST(sum(CAST(p_retailprice AS DECIMAL(28,8))) AS DOUBLE) / count(p_retailprice), 4) AS avg_price,
                   CAST(sum(p_size) AS BIGINT) AS sum_size
            FROM part GROUP BY ROLLUP(p_brand)
        """),
    "sniff_roundtrip": Op(PG.sniff_roundtrip, """
            WITH base AS (
                SELECT doc_id,
                       CAST(floor(doc_id / 4) AS BIGINT) % 4 AS bm,
                       doc_id % 53 = 0 AS is_empty,
                       CASE doc_id % 4 WHEN 0 THEN ',' WHEN 1 THEN ';'
                            WHEN 2 THEN chr(9) ELSE '|' END AS d,
                       source, coalesce(lang, '') AS lang0,
                       substr(coalesce(text, ''), 1, 120) AS sample
                FROM documents
            ),
            built AS (
                SELECT doc_id, bm, is_empty,
                       CASE WHEN is_empty THEN '' ELSE
                           'id' || d || 'status' || d || 'label' || chr(10) ||
                           CAST(doc_id AS VARCHAR) || d || source || d || lang0 || chr(10) ||
                           sample || chr(10) ||
                           repeat(',', CAST(doc_id % 5 AS INT)) ||
                           repeat(';', CAST(doc_id % 7 AS INT)) ||
                           repeat('|', CAST(doc_id % 3 AS INT))
                       END AS body
                FROM base
            ),
            counted AS (
                SELECT doc_id, bm, is_empty,
                       length(body) - length(replace(body, ',', '')) AS cc,
                       length(body) - length(replace(body, ';', '')) AS cs,
                       length(body) - length(replace(body, chr(9), '')) AS ct,
                       length(body) - length(replace(body, '|', '')) AS cp
                FROM built
            )
            SELECT doc_id,
                   CASE WHEN is_empty THEN 'utf-8'
                        WHEN bm = 0 THEN 'utf-8-sig'
                        WHEN bm = 1 THEN 'utf-16-le'
                        WHEN bm = 2 THEN 'utf-16-be'
                        ELSE 'utf-8' END AS encoding,
                   CASE WHEN cc = greatest(cc, cs, ct, cp) THEN ','
                        WHEN cs = greatest(cc, cs, ct, cp) THEN ';'
                        WHEN ct = greatest(cc, cs, ct, cp) THEN chr(9)
                        ELSE '|' END AS delimiter,
                   NOT is_empty AS accepted,
                   CASE WHEN is_empty THEN 'empty payload' END AS skip_reason
            FROM counted
        """),
    "stream_events_daily_append": Op(
        SW.stream_events_daily_append, SW.STREAM_EVENTS_DAILY_APPEND_ORACLE
    ),
    "pipeline_xls_roundtrip": Op(RXL.pipeline_xls_roundtrip, RXL.ORACLE_SQL),
    "stream_stateful_domain_counts": Op(
        SS.stream_stateful_domain_counts, SS.stateful_oracle_sql()
    ),
    "text_unigram_rarity": Op(TS.text_unigram_rarity, ORC.text_unigram_rarity()),
    "quality_filter_c4": Op(TS.quality_filter_c4, ORC.quality_filter_c4()),
    "dedup_url_keep_first": Op(D.dedup_url_keep_first, ORC.dedup_url_keep_first()),
    "stream_dedup_urls": Op(SI.stream_dedup_urls, SI.STREAM_DEDUP_URLS_ORACLE),
    "dedup_substring_spans": Op(
        D.dedup_substring_spans, ORC.dedup_substring_spans(), "cold"
    ),
    "agg_domain_stats": Op(TS.agg_domain_stats, ORC.agg_domain_stats()),
    "quality_filter_gopher_rep": Op(
        TS.quality_filter_gopher_rep, ORC.quality_filter_gopher_rep()
    ),
    "decontam_ngram_overlap": Op(
        CU.decontam_ngram_overlap, ORC.decontam_ngram_overlap(), "warm"
    ),
    # the fuzzy decontamination leg: near-dup matching against the
    # benchmark slice through the shared MinHash/LSH band index —
    # catches paraphrased eval leakage exact windows miss
    "decontam_minhash": Op(CU.decontam_minhash, ORC.decontam_minhash(), "warm"),
    # the composed 3-leg contamination verdict
    "decontam_report": Op(CU.decontam_report, ORC.decontam_report()),
    # the EMBEDDING decontamination leg: cosine against the
    # broadcast benchmark slice — catches rewritten eval items that
    # share no surface n-grams
    "decontam_embedding": Op(CU.decontam_embedding, ORC.decontam_embedding(), "warm"),
    # SemDeDup: semantic dedup scoped to the memoized IVF clusters —
    # within-cluster pairs only, min-id keep-first verdict per
    # vector
    "dedup_semdedup": Op(SIM.dedup_semdedup, ORC.dedup_semdedup(), "cold"),
    "sample_domain_cap": Op(CU.sample_domain_cap, ORC.sample_domain_cap(), "warm"),
    "dedup_lines_global": Op(CU.dedup_lines_global, ORC.dedup_lines_global(), "cold"),
    "sample_token_budget": Op(CU.sample_token_budget, ORC.sample_token_budget()),
    "curation_funnel": Op(CU.curation_funnel, ORC.curation_funnel()),
    "filter_bloom_blocklist": Op(
        CU.filter_bloom_blocklist, ORC.filter_bloom_blocklist(), "cold"
    ),
    "agg_length_percentiles": Op(
        SK.agg_length_percentiles, SK.PERCENTILE_ORACLE_SQL, "warm"
    ),
    "sample_stratified_split": Op(
        SK.sample_stratified_split, SK.SPLIT_ORACLE_SQL, "warm"
    ),
    "sketch_distinct_hll": Op(SK.sketch_distinct_hll, SK.HLL_ORACLE_SQL, "warm"),
    "sample_temperature_mix": Op(
        CU.sample_temperature_mix, CU.TEMPERATURE_MIX_ORACLE_SQL, "warm"
    ),
    "dedup_incremental_lsh": Op(
        D.dedup_incremental_lsh, ORC.dedup_incremental_lsh(), "cold"
    ),
    "sketch_heavy_hitters_cms": Op(
        SK.sketch_heavy_hitters_cms, SK.CMS_ORACLE_SQL, "cold"
    ),
    "pipeline_domain_report": Op(
        RT.pipeline_domain_report, RT.DOMAIN_REPORT_ORACLE_SQL
    ),
    "sample_pack_sequences": Op(
        CU.sample_pack_sequences, ORC.sample_pack_sequences(), "warm"
    ),
    "embedding_label_outliers": Op(
        SIM.embedding_label_outliers, ORC.embedding_label_outliers(), "warm"
    ),
    "text_chunk_windows": Op(TS.text_chunk_windows, ORC.text_chunk_windows(), "warm"),
    "agg_cube_status_priority": Op(R.agg_cube_status_priority, """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE) AS total_price
            FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """),
    "join_asof_orders": Op(TP.join_asof_orders, TP.ASOF_ORACLE_SQL, "warm"),
    "range_join_event_pairs": Op(
        TP.range_join_event_pairs, TP.RANGE_ORACLE_SQL, "warm"
    ),
    "sketch_distinct_kmv": Op(SK.sketch_distinct_kmv, SK.KMV_ORACLE_SQL, "warm"),
    "sample_hash_stable": Op(SK.sample_hash_stable, SK.SAMPLE_ORACLE_SQL),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every driver query by name: fn(spark, sf_dir) -> DataFrame."""
    return {name: op.builder for name, op in OPS.items()}


def oracle_sql() -> dict[str, str]:
    """Every query's exact DuckDB twin, under the same name."""
    return {name: op.oracle_sql for name, op in OPS.items()}
