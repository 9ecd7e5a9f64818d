"""End-to-end table-extraction round-trip, oracle-checkable.

Builds an HTML page per order from lineitem rows (pure JVM string
expressions), runs it through the REAL extraction pipeline (sniff ->
DOM parse -> table recorder -> header heuristic), explodes the
recovered table rows, and emits them as flat columns. The DuckDB oracle
reconstructs the same rows straight from lineitem — so the equality gate
covers the whole kernel path: tokenizer, cell capture, whitespace canon,
header split, row order.

Cell values are chosen to be string-stable in both engines (ints and
plain strings — no float formatting divergence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..pipeline import extract_pages

N_ORDERS = 50  # first N orderkeys make one synthetic page each
SIZE_BUCKETS = 8  # log2 payload-size buckets pipeline_metrics_report keys on


def _order_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keys = (
        li.select("l_orderkey").distinct().orderBy("l_orderkey").limit(N_ORDERS)
    )
    li = li.join(F.broadcast(keys), "l_orderkey")
    cell_qty = F.col("l_quantity").cast("bigint").cast("string")
    row_html = F.concat(
        F.lit("<tr><td>"), F.col("l_linenumber").cast("string"),
        F.lit("</td><td>"), cell_qty,
        F.lit("</td><td>"), F.col("l_returnflag"),
        F.lit("</td></tr>"),
    )
    # linenumbers are NOT unique per order in this synthetic lineitem —
    # the sort key must be a full deterministic tiebreak (mirrored
    # lexicographically in the oracle's ORDER BY)
    sort_key = F.struct(
        F.col("l_linenumber"), cell_qty.alias("q"), F.col("l_returnflag")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(sort_key.alias("k"), row_html.alias("h")))
                ),
                lambda s: s["h"],
            ),
            "",
        ).alias("rows_html")
    )
    html = F.concat(
        F.lit(
            "<html><body><table>"
            "<tr><td>linenumber</td><td>quantity</td><td>flag</td></tr>"
        ),
        F.col("rows_html"),
        F.lit("</table></body></html>"),
    )
    return per_order.select(
        F.concat(F.lit("synthetic://order/"), F.col("l_orderkey").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1740787200) + F.col("l_orderkey")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").cast("string").alias("lang"),
    )


def pipeline_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(orderkey, row_idx, linenumber, quantity, flag) recovered from
    HTML through the full kernel path."""
    pages = _order_pages(spark, sf_dir)
    out = extract_pages(pages, run_id="roundtrip", num_partitions=8)
    t0 = F.col("tables")[0]
    rows = out.select(
        F.regexp_extract("url", r"order/(\d+)$", 1).cast("long").alias("l_orderkey"),
        F.posexplode(t0["rows"]).alias("row_idx", "cells"),
    )
    return rows.select(
        "l_orderkey",
        F.col("row_idx").cast("long").alias("row_idx"),
        F.col("cells")[0].alias("linenumber"),
        F.col("cells")[1].alias("quantity"),
        F.col("cells")[2].alias("flag"),
    )


# --- gzip transport-compression round-trip -----------------------------------


def pipeline_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl reality: payloads arrive gzip-compressed. The same
    chrome-wrapped pages as pipeline_main_text, but gzipped before the
    pipeline — extraction must transparently inflate (bounded, zip-bomb
    guarded) and produce the identical main_text with the INNER content
    kind. Oracle: the raw-text canon, exactly like pipeline_main_text."""
    from ..pipeline import PAGES_SCHEMA, extract_pages, pages_from_documents

    pages = pages_from_documents(spark, sf_dir)

    def gz(batches):
        import gzip

        for pdf in batches:
            pdf = pdf.copy()
            pdf["html"] = [
                gzip.compress(bytes(b), mtime=0) if b is not None else b
                for b in pdf["html"]
            ]
            yield pdf

    gz_pages = pages.mapInPandas(gz, PAGES_SCHEMA)
    out = extract_pages(gz_pages, run_id="gzip", num_partitions=8)
    return out.select(
        "url",
        "content_kind",
        "main_text",
        (F.col("main_text") != "").alias("nonempty"),
    )


GZIP_ORACLE_SQL = """
    SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
           'html' AS content_kind,
           trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                '\\s+', ' ', 'g')) AS main_text,
           trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                '\\s+', ' ', 'g')) <> '' AS nonempty
    FROM documents
"""


# --- WARC container round-trip -----------------------------------------------


def pipeline_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payloads wrapped as single-record WARC response streams (the
    Common-Crawl container): the kernel must unwrap the HTTP body and
    extract the identical main_text with the inner content kind."""
    from ..kernels.warc import emit_warc
    from ..pipeline import PAGES_SCHEMA, extract_pages, pages_from_documents

    pages = pages_from_documents(spark, sf_dir)

    def wrap(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["html"] = [
                emit_warc([(u, "2025-03-01T00:00:00Z", bytes(b))])
                if b is not None
                else b
                for u, b in zip(pdf["url"], pdf["html"])
            ]
            yield pdf

    warc_pages = pages.mapInPandas(wrap, PAGES_SCHEMA)
    out = extract_pages(warc_pages, run_id="warc", num_partitions=8)
    return out.select(
        "url",
        "content_kind",
        "main_text",
        (F.col("main_text") != "").alias("nonempty"),
    )


# same reconstruction as the gzip/plain pipelines — the container must
# be invisible to the extracted text
WARC_ORACLE_SQL = """
    SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
           'html' AS content_kind,
           trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                '\\s+', ' ', 'g')) AS main_text,
           trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                '\\s+', ' ', 'g')) <> '' AS nonempty
    FROM documents
"""


# --- heading-delimited sections (report `sections` shape) --------------------


def _sectioned_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-section page per document: h1-titled body + h2-titled stats."""
    from ..datagen import _CHROME_FOOT, _CHROME_HEAD

    from ..pipeline import html_escape_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit(_CHROME_HEAD.format(title="Doc") + "<h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        html_escape_col(F.coalesce(F.col("text"), F.lit(""))),
        F.lit("</p><h2>Stats</h2><p>chars "),
        F.col("n_chars").cast("string"),
        F.lit("</p>" + _CHROME_FOOT),
    )
    return docs.select(
        F.concat(F.lit("synthetic://sections/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1740787200) + F.col("doc_id")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def pipeline_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-segmented sections recovered through the full kernel path
    (reference report shape: sections array<struct{title, content}>,
    excel_validator.py:455-474). The oracle rebuilds both sections per
    document straight from the documents table."""
    pages = _sectioned_pages(spark, sf_dir)
    out = extract_pages(pages, run_id="sections", num_partitions=8)
    rows = out.select(
        F.regexp_extract("url", r"sections/(\d+)$", 1).cast("long").alias("doc_id"),
        F.posexplode("sections").alias("sec_idx", "sec"),
    )
    return rows.select(
        "doc_id",
        F.col("sec_idx").cast("long").alias("sec_idx"),
        F.col("sec")["title"].alias("title"),
        F.col("sec")["content"].alias("content"),
    )


# nbsp replaced before the \s collapse — same canon as pipeline_main_text
_CANON = (
    "trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '), "
    "'\\s+', ' ', 'g'))"
)

SECTIONS_ORACLE_SQL = f"""
    SELECT doc_id, CAST(0 AS BIGINT) AS sec_idx,
           'Doc ' || doc_id AS title,
           {_CANON} AS content
    FROM documents
    UNION ALL
    SELECT doc_id, CAST(1 AS BIGINT) AS sec_idx,
           'Stats' AS title,
           'chars ' || n_chars AS content
    FROM documents
"""


ORACLE_SQL = f"""
    WITH keys AS (
        SELECT DISTINCT l_orderkey FROM lineitem
        ORDER BY l_orderkey LIMIT {N_ORDERS}
    )
    SELECT li.l_orderkey,
           CAST(row_number() OVER (PARTITION BY li.l_orderkey
                ORDER BY li.l_linenumber,
                         CAST(CAST(li.l_quantity AS BIGINT) AS VARCHAR),
                         li.l_returnflag) - 1 AS BIGINT) AS row_idx,
           CAST(li.l_linenumber AS VARCHAR) AS linenumber,
           CAST(CAST(li.l_quantity AS BIGINT) AS VARCHAR) AS quantity,
           li.l_returnflag AS flag
    FROM lineitem li JOIN keys USING (l_orderkey)
"""


def pipeline_domain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain extraction health rollup over the FULL kernel path —
    the report a crawl operator reads after a run: page volume,
    non-empty extraction rate, text mass, and language mix, keyed on
    the url's host. The DuckDB twin reconstructs every number straight
    from documents via the pipeline's oracle invariant (main_text ==
    nbsp-aware whitespace collapse; lang == JA-codepoint probe of the
    first 2000 chars, kernels/fields.py language_of), so the rollup
    value-checks the kernel composition end to end.

    Scale shape: scan -> one size-dealt exchange -> ONE
    MapInPandas -> partial+final hash aggregate on the domain key. The
    aggregate input is already the narrow projection (binary column
    pruned before the kernel's output leaves the stage).
    """
    from ..pipeline import pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    ex = extract_pages(pages, run_id="domain-report", num_partitions=8)
    domain = F.regexp_extract(F.col("url"), r"https://([^.]+)\.", 1)
    nonempty = F.when(F.col("main_text") != "", 1).otherwise(0)
    is_ja = F.when(F.col("lang") == "ja", 1).otherwise(0)
    return (
        ex.select(domain.alias("domain"), "main_text", "lang")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pages"),
            F.sum(nonempty).cast("long").alias("n_nonempty"),
            F.sum(F.length("main_text")).cast("long").alias("sum_chars"),
            F.max(F.length("main_text")).cast("long").alias("max_chars"),
            F.sum(is_ja).cast("long").alias("n_ja"),
        )
    )


DOMAIN_REPORT_ORACLE_SQL = """
    WITH m AS (
        SELECT source AS domain,
               trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                    '\\s+', ' ', 'g')) AS mt
        FROM documents
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_pages,
           CAST(sum(CASE WHEN mt <> '' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonempty,
           CAST(sum(length(mt)) AS BIGINT) AS sum_chars,
           CAST(max(length(mt)) AS BIGINT) AS max_chars,
           CAST(sum(CASE WHEN regexp_matches(substr(mt, 1, 2000),
                '[぀-ヿ一-鿿]') THEN 1 ELSE 0 END) AS BIGINT) AS n_ja
    FROM m GROUP BY domain
"""


def pipeline_metrics_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's lineage/metrics table, value-checked: run the
    fused extraction over pages with two DETERMINISTIC fault families
    (doc_id % 13 == 0 -> empty payload, doc_id % 17 == 0 -> a payload
    undecodable in both utf-8 and cp932, so the sniffer lands on
    'binary') and roll the metrics up on a deterministic key — the
    log2 payload-size bucket, folded into SIZE_BUCKETS buckets —
    crossed with the sniffed content kind.

    This is `pipeline.metrics_of` minus the two columns no cross-engine
    twin can reconstruct (partition_id is task placement, wall_ms is a
    clock); every other metrics/lineage column — run_id, the lineage
    struct's kernel_version and attempt carried through the Arrow
    boundary, n_docs, n_ok, n_err, bytes_in — is recomputed by DuckDB
    from the documents table and the page-construction rules. n_err is
    checked AT ZERO: the kernels' never-raise contract is part of the
    invariant (a kernel regression that starts throwing flips the row).

    The size bucket uses the bit-length identity
    floor(log2(x)) == length(bin(x)) - 1 (exact integer arithmetic on
    both engines) rather than double log2.
    """
    from ..pipeline import doc_page_exprs, extract_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url, warc_ts, html_ok = doc_page_exprs()  # the pipeline's page shape
    payload = (
        F.when(F.col("doc_id") % 13 == 0, F.lit(b""))
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(
                F.lit(b"\x81\x00\x81\x00"),
                F.encode(
                    F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 40),
                    "UTF-8",
                ),
            ),
        )
        .otherwise(html_ok)
    )
    pages = docs.select(
        url.alias("url"), warc_ts.alias("warc_ts"), payload.alias("html")
    )
    ex = extract_pages(pages, run_id="metrics-report", num_partitions=8)
    bucket = (F.length(F.bin(F.col("bytes_in") + 2)) - 1) % SIZE_BUCKETS
    return (
        ex.groupBy(
            bucket.cast("long").alias("size_bucket"), "content_kind"
        )
        .agg(
            F.max("lineage.run_id").alias("run_id"),
            F.max("lineage.kernel_version").alias("kernel_version"),
            F.max("lineage.attempt").cast("long").alias("attempt"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("valid").cast("long")).cast("long").alias("n_ok"),
            F.sum(F.col("error").isNotNull().cast("long")).cast("long").alias(
                "n_err"
            ),
            F.sum("bytes_in").cast("long").alias("bytes_in"),
        )
    )


def _metrics_report_oracle_sql() -> str:
    from ..pipeline import _CHROME_FOOT, _DOC_CHROME_HEAD, KERNEL_VERSION

    chrome = len(_DOC_CHROME_HEAD) + len("<article><p>") + len(
        "</p></article>"
    ) + len(_CHROME_FOOT)
    esc = (
        "replace(replace(replace(coalesce(text, ''), '&', '&amp;'),"
        " '<', '&lt;'), '>', '&gt;')"
    )
    collapsed = (
        "trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),"
        " '\\s+', ' ', 'g'))"
    )
    return f"""
    WITH base AS (
        SELECT CASE WHEN doc_id % 13 = 0 THEN 0
                    WHEN doc_id % 17 = 0
                        THEN 4 + octet_length(encode(substr(
                                 coalesce(text, ''), 1, 40)))
                    ELSE {chrome} + octet_length(encode({esc}))
               END AS bytes_in,
               CASE WHEN doc_id % 13 = 0 THEN 'empty'
                    WHEN doc_id % 17 = 0 THEN 'binary'
                    ELSE 'html' END AS content_kind,
               CASE WHEN doc_id % 13 <> 0 AND doc_id % 17 <> 0
                         AND {collapsed} <> '' THEN 1 ELSE 0
               END AS ok
        FROM documents
    )
    SELECT CAST((length(bin(bytes_in + 2)) - 1) % {SIZE_BUCKETS} AS BIGINT)
               AS size_bucket,
           content_kind,
           'metrics-report' AS run_id,
           '{KERNEL_VERSION}' AS kernel_version,
           CAST(0 AS BIGINT) AS attempt,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ok) AS BIGINT) AS n_ok,
           CAST(0 AS BIGINT) AS n_err,
           CAST(sum(bytes_in) AS BIGINT) AS bytes_in
    FROM base
    GROUP BY size_bucket, content_kind
"""


METRICS_REPORT_ORACLE_SQL = _metrics_report_oracle_sql()


def pipeline_resume_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's "resumes idempotently from the last committed
    snapshot" as a VALUE-CHECKED query, not just a pytest: three full
    `run_extraction_job` invocations against a growing pages directory,
    with the committed snapshot manifest as the checked output.

      run-a   batch A only (doc_id % 3 != 0) -> commits snapshot 1
      run-b   batch B arrives (the remaining third); the resume
              anti-join (catalog.SnapshotTable.pending, J5) must
              process ONLY the new urls -> snapshot 2. If the
              anti-join leaked, run-b's counts would include batch A
              again and the hash would flip.
      run-c   nothing pending; the job must commit NO snapshot (the
              empty-append removal path). If it wrongly committed, a
              third run_id group (or inflated counts) appears.

    Output: per committed run_id (carried through the kernel's lineage
    struct), document count, non-empty extraction count and total
    extracted chars — each reconstructed by the DuckDB twin from the
    doc_id % 3 split and the pipeline's collapse-whitespace oracle
    invariant. Exercises the snapshot-atomic append, the url anti-join
    and the crash-reconciled metrics backfill (run_extraction_job
    returns only after metrics parity) on the driver's hash-checked
    surface.
    """
    import os
    import shutil
    import tempfile

    from ..pipeline import doc_page_exprs, run_extraction_job
    from ..streaming.util import write_ordered_file

    stage = tempfile.mkdtemp(prefix="resume_snap_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        url, warc_ts, html = doc_page_exprs()
        pages = docs.select(
            F.col("doc_id"),
            url.alias("url"),
            warc_ts.alias("warc_ts"),
            html.alias("html"),
            "text",
            "lang",
        )
        in_dir = os.path.join(stage, "pages")
        os.makedirs(in_dir)
        cols = ["url", "warc_ts", "html", "text", "lang"]
        write_ordered_file(
            pages.filter(F.col("doc_id") % 3 != 0).select(*cols),
            os.path.join(in_dir, "batchA.parquet"),
            1_700_000_000,
        )
        out_root = os.path.join(stage, "out")
        run_extraction_job(spark, in_dir, out_root, run_id="run-a")
        # batch B lands; resume must process ONLY the new urls
        write_ordered_file(
            pages.filter(F.col("doc_id") % 3 == 0).select(*cols),
            os.path.join(in_dir, "batchB.parquet"),
            1_700_000_100,
        )
        run_extraction_job(spark, in_dir, out_root, run_id="run-b")
        # idempotency: nothing pending -> no third snapshot
        run_extraction_job(spark, in_dir, out_root, run_id="run-c")

        from ..catalog import SnapshotTable

        snap = SnapshotTable(f"{out_root}/extractions")
        table = snap.read(spark)
        # the manifest snapshot count rides every row: run-c committing
        # a spurious EMPTY snapshot adds zero table rows (the grouped
        # counts would not notice), but it would bump this to 3 and
        # flip the hash against the twin's literal 2
        n_snaps = len(snap.snapshots())
        nonempty = F.when(F.col("main_text") != "", 1).otherwise(0)
        out = (
            table.groupBy(F.col("lineage.run_id").alias("run_id"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(nonempty).cast("long").alias("n_nonempty"),
                F.sum(F.length("main_text")).cast("long").alias("sum_chars"),
            )
            .withColumn("n_snapshots", F.lit(n_snaps).cast("long"))
        )
        # materialize before the staging dir vanishes
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


RESUME_SNAPSHOT_ORACLE_SQL = """
    WITH m AS (
        SELECT doc_id,
               trim(regexp_replace(replace(coalesce(text, ''), chr(160), ' '),
                    '\\s+', ' ', 'g')) AS mt
        FROM documents
    )
    SELECT CASE WHEN doc_id % 3 <> 0 THEN 'run-a' ELSE 'run-b' END AS run_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN mt <> '' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonempty,
           CAST(sum(length(mt)) AS BIGINT) AS sum_chars,
           CAST(2 AS BIGINT) AS n_snapshots
    FROM m
    GROUP BY 1
"""


# --- WET export + re-ingest round-trip ----------------------------------------

WET_BUCKET = 32  # pages per WET stream file

# WET record layout, shared by the writer and the CDX index twin:
# rec = WET_HDR1 + url + WET_HDR2 + digits(content_length) + CRLF2
#       + main_text + CRLF2
WET_HDR1 = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
WET_HDR2 = (
    "\r\nWARC-Date: 2025-03-01T00:00:00Z"
    "\r\nContent-Type: text/plain\r\nContent-Length: "
)


def _wet_record_expr(url, main_text):
    """The WET conversion record as ONE JVM string expression —
    Content-Length is the UTF-8 byte count of the text."""
    return F.concat(
        F.lit(WET_HDR1),
        url,
        F.lit(WET_HDR2),
        F.length(F.encode(main_text, "UTF-8")).cast("string"),
        F.lit("\r\n\r\n"),
        main_text,
        F.lit("\r\n\r\n"),
    )


def pipeline_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publish side of the crawl loop: extraction output exported as
    WET (WARC/1.0 `conversion` records — the text extracts Common Crawl
    actually ships), then re-ingested and verified against the raw-text
    canon.

    The WRITER is a pure SQL projection — the WET record is assembled
    with JVM concat/encode expressions (Content-Length is the UTF-8
    byte count via length(encode(...))), records are grouped into
    WET_BUCKET-page streams with one doc_id-ordered collect_list per
    bucket (bounded: WET_BUCKET pages per group). No Python writes a
    byte. The READER is kernels.warc.parse_wet in one mapInPandas pass,
    so the re-ingest exercises the same length-delimited record walker
    the WARC response path uses — payloads whose text contains
    'WARC/' lookalikes cannot confuse it.

    At 100 TB the bucket key is the shard the export writes (one
    stream per output file); the single shuffle here is that exact
    exchange. Oracle: recovered (rec_idx, url, text) must equal the
    whitespace-canonical documents text — byte-identical through
    extract -> serialize -> parse."""
    from pyspark.sql import types as T

    from ..pipeline import extract_pages, pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, run_id="wet", num_partitions=8)
    doc_id = F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long")
    rec = _wet_record_expr(F.col("url"), F.col("main_text"))
    streams = (
        out.select(
            F.floor(doc_id / WET_BUCKET).cast("long").alias("bucket"),
            F.struct(doc_id.alias("doc_id"), rec.alias("rec")).alias("r"),
        )
        .groupBy("bucket")
        .agg(
            F.encode(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list("r")), lambda s: s["rec"]
                    ),
                    "",
                ),
                "UTF-8",
            ).alias("stream")
        )
    )

    schema = T.StructType(
        [
            T.StructField("rec_idx", T.LongType()),
            T.StructField("url", T.StringType()),
            T.StructField("wet_text", T.StringType()),
        ]
    )

    def reingest(batches):
        import pandas as pd

        from ai_ocr_spark.kernels.warc import parse_wet

        for pdf in batches:
            rows = []
            for stream in pdf["stream"]:
                for k, r in enumerate(parse_wet(bytes(stream))):
                    rows.append(
                        {"rec_idx": k, "url": r["url"], "wet_text": r["text"]}
                    )
            yield pd.DataFrame(rows, columns=["rec_idx", "url", "wet_text"])

    back = streams.select("stream").mapInPandas(reingest, schema)
    return back.select(
        F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long").alias("doc_id"),
        F.col("rec_idx"),
        "url",
        "wet_text",
        (F.col("wet_text") != "").alias("nonempty"),
    )


WET_ORACLE_SQL = f"""
    WITH c AS (
        SELECT doc_id,
               CAST(floor(doc_id / {WET_BUCKET}) AS BIGINT) AS bucket,
               'https://' || source || '.example.com/doc/' || doc_id AS url,
               {_CANON} AS canon
        FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1
                AS BIGINT) AS rec_idx,
           url,
           canon AS wet_text,
           canon <> '' AS nonempty
    FROM c
"""


# --- snapshot compaction (small-files maintenance) round-trip -----------------

COMPACT_SPLITS = 5  # incremental appends before the maintenance pass


def catalog_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot compaction value-checked: the small-files maintenance
    pass a 10^12-row table needs after thousands of incremental
    appends (Iceberg rewrite_data_files + expire_snapshots; here the
    SnapshotTable equivalent, catalog.py compact()).

    COMPACT_SPLITS doc_id-sliced appends build a snapshot-per-run
    table; compact() rewrites them into one snapshot in a single
    atomic manifest commit and records the source run_ids as lineage.
    The checked output is the per-source content aggregate AFTER
    compaction plus the measured manifest state (snapshots before /
    after, lineage count, post-compaction resume backlog) — a
    compaction that lost or duplicated ONE row, dropped a lineage id,
    or broke the resume anti-join flips the hash against the twin's
    reconstruction straight from documents."""
    import os
    import shutil
    import tempfile

    from ..catalog import SnapshotTable

    stage = tempfile.mkdtemp(prefix="compact_snap_")
    try:
        from ..pipeline import doc_url_expr

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            "source",
            doc_url_expr().alias("url"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        tbl = SnapshotTable(os.path.join(stage, "docs"))
        for k in range(COMPACT_SPLITS):
            tbl.append(
                docs.filter(F.col("doc_id") % COMPACT_SPLITS == k),
                run_id=f"inc-{k}",
            )
        n_before = len(tbl.snapshots())
        entry = tbl.compact(spark, run_id="maint")
        n_after = len(tbl.snapshots())
        n_lineage = len(entry.get("compacted_from", []))
        # resume must see a fully-committed table after the rewrite
        n_pending = tbl.pending(spark, docs).count()
        out = (
            tbl.read(spark)
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.min("doc_id").cast("long").alias("min_doc"),
                F.max("doc_id").cast("long").alias("max_doc"),
            )
            .withColumn("n_snapshots_before", F.lit(n_before).cast("long"))
            .withColumn("n_snapshots_after", F.lit(n_after).cast("long"))
            .withColumn("n_compacted_from", F.lit(n_lineage).cast("long"))
            .withColumn("n_pending_after", F.lit(n_pending).cast("long"))
        )
        rows = out.collect()  # materialize before the staging dir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


COMPACT_ORACLE_SQL = f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc,
           CAST({COMPACT_SPLITS} AS BIGINT) AS n_snapshots_before,
           CAST(1 AS BIGINT) AS n_snapshots_after,
           CAST({COMPACT_SPLITS} AS BIGINT) AS n_compacted_from,
           CAST(0 AS BIGINT) AS n_pending_after
    FROM documents
    GROUP BY source
"""


# --- CDX index over the WET export ---------------------------------------------


def warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDX capture index — Common Crawl's fourth artifact next to
    WARC/WAT/WET: per record, the (filename, byte offset, record
    length) triple that makes a multi-GB stream randomly accessible
    (fetch ONE page = one ranged read, never a stream scan).

    Offsets come from a running byte sum over the records of each
    bucket stream in doc_id order — the same distributed
    prefix-sum-within-shard shape as sample_pack_sequences, one
    bucket-keyed window, no global exchange. Record byte lengths are
    computed from the shared WET record layout (WET_HDR1/WET_HDR2), so
    the DuckDB twin reconstructs every offset arithmetically; the
    random-access property itself (slice stream[offset : offset+len],
    parse exactly that record) is pinned by
    tests/test_sources_streaming.py."""
    from ..pipeline import extract_pages, pages_from_documents

    pages = pages_from_documents(spark, sf_dir)
    out = extract_pages(pages, run_id="cdx", num_partitions=8)
    doc_id = F.regexp_extract("url", r"doc/(\d+)$", 1).cast("long")
    rec = _wet_record_expr(F.col("url"), F.col("main_text"))
    rows = out.select(
        F.floor(doc_id / WET_BUCKET).cast("long").alias("bucket"),
        doc_id.alias("doc_id"),
        "url",
        F.length(F.encode(rec, "UTF-8")).cast("long").alias("rec_len"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return rows.select(
        # %09d pads but NEVER truncates (lpad would silently truncate a
        # >9-digit bucket onto a colliding filename at 10^12-doc scale)
        F.format_string("wet-%09d.warc", F.col("bucket")).alias("filename"),
        "doc_id",
        "url",
        F.coalesce(F.sum("rec_len").over(w), F.lit(0))
        .cast("long")
        .alias("offset"),
        "rec_len",
    )


CDX_ORACLE_SQL = f"""
    WITH c AS (
        SELECT doc_id,
               CAST(floor(doc_id / {WET_BUCKET}) AS BIGINT) AS bucket,
               'https://' || source || '.example.com/doc/' || doc_id AS url,
               {_CANON} AS canon
        FROM documents
    ),
    r AS (
        SELECT bucket, doc_id, url,
               CAST({len(WET_HDR1)} + strlen(url) + {len(WET_HDR2)}
                    + length(CAST(strlen(canon) AS VARCHAR))
                    + 4 + strlen(canon) + 4 AS BIGINT) AS rec_len
        FROM c
    )
    SELECT printf('wet-%09d.warc', bucket) AS filename,
           doc_id, url,
           CAST(coalesce(sum(rec_len) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS offset,
           rec_len
    FROM r
"""
