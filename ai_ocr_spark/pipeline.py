"""The fused extraction pipeline: pages -> extractions, Spark-first.

One lazy DataFrame plan (SURVEY.md §3 E1 Spark equivalent):

    read pages
      -> anti-join against committed urls (idempotent resume, J5)
      -> size-dealt repartition (explicit skew handling)
      -> ONE mapInPandas stage fusing parse+extract+validate kernels
         (crosses the JVM<->Python Arrow boundary exactly once)
      -> snapshot-atomic append + per-partition metrics

Replaces the reference's seven-network-hop per-document path
(src/processor/app/main.py:59-163) with two process-boundary crossings
per partition.
"""

from __future__ import annotations

import gc
import sys
import time
import zipimport
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark import TaskContext
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import KERNEL_VERSION

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

FIELD_TYPE = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("span_start", T.IntegerType()),
        T.StructField("span_end", T.IntegerType()),
    ]
)

VALIDATION_TYPE = T.StructType(
    [
        T.StructField("schema_type", T.StringType()),
        T.StructField(
            "errors",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("message", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("warnings", T.ArrayType(T.StringType())),
        T.StructField(
            "checks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("name", T.StringType()),
                        T.StructField("passed", T.BooleanType()),
                        T.StructField("severity", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

LINEAGE_TYPE = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("attempt", T.IntegerType()),
        T.StructField("kernel_version", T.StringType()),
    ]
)

TABLE_TYPE = T.StructType(
    [
        T.StructField("table_index", T.IntegerType()),
        T.StructField("headers", T.ArrayType(T.StringType())),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
    ]
)

SECTION_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)

# the WAT triple: raw href, absolute resolution vs the page url, anchor text
LINK_TYPE = T.StructType(
    [
        T.StructField("href", T.StringType()),
        T.StructField("resolved", T.StringType()),
        T.StructField("anchor", T.StringType()),
    ]
)

EXTRACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("content_kind", T.StringType()),
        T.StructField("main_text", T.StringType()),
        T.StructField("tables", T.ArrayType(TABLE_TYPE)),
        T.StructField("sections", T.ArrayType(SECTION_TYPE)),
        T.StructField("links", T.ArrayType(LINK_TYPE)),
        T.StructField("doc_type", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("fields", T.ArrayType(FIELD_TYPE)),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("valid", T.BooleanType()),
        T.StructField("validation", VALIDATION_TYPE),
        T.StructField("error", T.StringType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("lineage", LINEAGE_TYPE),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_ok", T.LongType()),
        T.StructField("n_err", T.LongType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Skew handling (north_rule: explicit, not AQE — AQE cannot rebalance a
# UDF-heavy map stage)
# ---------------------------------------------------------------------------

TASKS_PER_CORE = 2  # fused-stage tasks per core: the cap on num_partitions


def skew_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Deal pages to min(num_partitions, TASKS_PER_CORE x cores)
    partitions, balanced by payload bytes.

    Each input partition sorts its rows by payload length (largest
    first, url breaking ties) and deals them snake-wise: round 0 goes
    to partitions 0..n-1, round 1 to n-1..0, and so on, so every
    partition gets one row from each size rank. The deal starts at an
    offset of the input partition's index, so small input partitions
    do not all fill partition 0 first. A hot domain's pages spread
    like any others, since the deal ignores the url beyond the tie.

    The task count is capped because each Python task has a fixed cost
    (worker hand-off, the daemon's gc.collect, pyspark's per-task
    import-cache reset); once tasks are balanced by bytes, more of them
    only add that cost. On 4 cores the fused pass ran fastest near two
    tasks per core.

    All JVM-side expressions, and no work beyond each input partition:
    no global window, no sampling job, no Python.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = min(num_partitions, TASKS_PER_CORE * cores)
    # monotonically_increasing_id() is (partition index << 33) + row index;
    # this turns it into row index + partition index
    slot = F.monotonically_increasing_id() - F.spark_partition_id() * ((1 << 33) - 1)
    turn = F.pmod(F.col("_slot"), F.lit(2 * n))
    return (
        df.sortWithinPartitions(F.length("html").desc(), "url")
        .withColumn("_slot", slot)
        .repartitionById(n, F.least(turn, F.lit(2 * n - 1) - turn).cast("int"))
        .drop("_slot")
    )


# ---------------------------------------------------------------------------
# The fused kernel stage
# ---------------------------------------------------------------------------


def _task_prologue() -> None:
    """Prepare a Python worker for the task about to run; call it first
    in a task's function.

    1. Delete every zipimporter from sys.path_importer_cache. Spark puts
       its jar and pyspark.zip on the workers' sys.path, and pyspark
       calls importlib.invalidate_caches() at the start of every task.
       On CPython 3.11 each cached zipimporter then re-reads its
       archive's whole central directory: 26,672 entries, ~250 ms per
       task on a 4-core host, before the UDF starts. Python rebuilds a
       deleted finder from sys.path_hooks when an import next needs it,
       and workers are reused, so every later task's invalidate_caches()
       is nearly free. This also drops any finder a lazy import brought
       back.
    2. Inside a Spark task only, gc.freeze() the heap. pyspark's daemon
       runs a full gc.collect() after every task on a reused worker, and
       it walked the ~75k objects pandas, pyarrow and the kernels leave
       alive (20-110 ms a call). Frozen objects are skipped; what a task
       allocates after the freeze is still collected. In-process callers
       (tests, single-process passes) keep an unfrozen heap."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    if TaskContext.get() is not None:
        gc.freeze()


def _extract_batches(run_id: str):
    """Build the mapInPandas function. All kernels are fused into this one
    stage so each row crosses the Arrow boundary once (SURVEY.md §4
    codegen row). Kernel modules import at worker startup, not per batch
    (the reference caches its LLM clients the same way,
    langchain_extractor.py:143-181)."""

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        _task_prologue()
        import pandas as pd

        from ai_ocr_spark.kernels.oracle import extract_one

        tc = TaskContext.get()
        pid = tc.partitionId() if tc else -1
        attempt = tc.attemptNumber() if tc else 0
        t0 = time.monotonic()
        for pdf in batches:
            rows = []
            for url, warc_ts, payload in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"]
            ):
                payload = bytes(payload) if payload is not None else b""
                try:
                    r = extract_one(url, payload)
                    err = None
                except Exception as e:  # per-doc capture, never abort
                    r = {
                        "content_kind": "error",
                        "main_text": "",
                        "tables": [],
                        "sections": [],
                        "links": [],
                        "doc_type": "generic",
                        "lang": "en",
                        "fields": [],
                        "valid": False,
                        "validation": {
                            "schema_type": "generic",
                            "errors": [
                                {"path": "$", "message": f"{type(e).__name__}: {e}"}
                            ],
                            "warnings": [],
                            "checks": [],
                        },
                        "confidence": 0.0,
                    }
                    err = f"{type(e).__name__}: {e}"
                rows.append(
                    {
                        "url": url,
                        "warc_ts": warc_ts,
                        "content_kind": r["content_kind"],
                        "main_text": r["main_text"],
                        "tables": r.get("tables", []),
                        "sections": r.get("sections", []),
                        "links": r.get("links", []),
                        "doc_type": r["doc_type"],
                        "lang": r["lang"],
                        "fields": r["fields"],
                        "confidence": float(r["confidence"]),
                        "valid": bool(r["valid"]),
                        "validation": r["validation"],
                        "error": err,
                        "bytes_in": len(payload),
                        "partition_id": pid,
                        "wall_ms": int((time.monotonic() - t0) * 1000),
                        "lineage": {
                            "run_id": run_id,
                            "attempt": attempt,
                            "kernel_version": KERNEL_VERSION,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return fn


def extract_pages(
    df: DataFrame, run_id: str = "run-0", num_partitions: int | None = None
) -> DataFrame:
    """pages DataFrame -> extractions DataFrame (lazy).

    num_partitions is an upper bound: skew_repartition runs
    min(num_partitions, TASKS_PER_CORE x cores) tasks. None keeps the
    input's partitioning."""
    if num_partitions:
        df = skew_repartition(df, num_partitions)
    return df.select("url", "warc_ts", "html").mapInPandas(
        _extract_batches(run_id), schema=EXTRACTIONS_SCHEMA
    )


def metrics_of(extractions: DataFrame, run_id: str = "run-0") -> DataFrame:
    """Per-partition lineage counters (≙ the reference's job progress rows,
    main.py:72-142): derived from the extraction output, no mutable state."""
    return extractions.groupBy("partition_id").agg(
        F.lit(run_id).alias("run_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("valid").cast("long")).alias("n_ok"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("n_err"),
        F.sum("bytes_in").alias("bytes_in"),
        F.max("wall_ms").alias("wall_ms"),
    ).select("run_id", "partition_id", "n_docs", "n_ok", "n_err", "bytes_in", "wall_ms")


# ---------------------------------------------------------------------------
# end-to-end job runner (SURVEY §3 E1 equivalent)
# ---------------------------------------------------------------------------


def run_extraction_job(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    run_id: str | None = None,
    num_partitions: int | None = None,
) -> dict:
    """The whole flagship path as one idempotent job:

        read pages -> anti-join committed urls (resume, J5)
                   -> size-dealt repartition
                   -> fused kernel stage
                   -> snapshot-atomic append (extractions + metrics)

    Re-running after a crash processes only missing urls; a completed
    run is a no-op. Returns the commit entry (or {} when nothing was
    pending). Replaces the reference's seven-hop job lifecycle
    (src/processor/app/main.py:59-163) with one lazy plan and one commit.

    Every Spark job the run submits is tagged with the run_id as its
    job group, so an in-flight run is cancelable by id via cancel_run
    — mirroring the reference's job-cancel endpoint
    (src/processor/app/main.py:207-243). A cancel mid-write aborts
    before the manifest commit, so no snapshot becomes visible
    (atomic-append guarantee in catalog.py).
    """
    import uuid as _uuid

    from .catalog import SnapshotTable

    run_id = run_id or _uuid.uuid4().hex[:12]
    extractions = SnapshotTable(f"{out_root}/extractions")
    metrics = SnapshotTable(f"{out_root}/metrics")

    sc = spark.sparkContext
    prior_group = sc.getLocalProperty("spark.jobGroup.id")
    prior_desc = sc.getLocalProperty("spark.job.description")
    prior_interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    sc.setJobGroup(run_id, f"extraction run {run_id}", interruptOnCancel=True)
    try:
        pages = spark.read.schema(PAGES_SCHEMA).parquet(pages_path)
        pending = extractions.pending(spark, pages)
        out = extract_pages(
            pending,
            run_id=run_id,
            num_partitions=num_partitions or TASKS_PER_CORE * sc.defaultParallelism,
        )
        # ONE pass over the input: extract+write, then decide from the
        # written snapshot (an isEmpty() pre-check would run the scan and
        # the anti-join twice — a full extra pass at 10^12 rows)
        entry = extractions.append(out, run_id=run_id)
        snap_df = spark.read.parquet(f"{extractions.root}/{entry['dir']}")
        if snap_df.isEmpty():
            extractions.remove_snapshot(entry["dir"])
            entry = {}

        # metrics reconcile (idempotent): backfill for every committed
        # extraction snapshot missing its metrics rows — heals a crash
        # between the two appends instead of assuming they were atomic
        have = {s["run_id"] for s in metrics.snapshots()}
        for s in extractions.snapshots():
            if s["run_id"] not in have:
                sdf = spark.read.parquet(f"{extractions.root}/{s['dir']}")
                metrics.append(metrics_of(sdf, run_id=s["run_id"]), run_id=s["run_id"])
        return entry
    finally:
        # restore, not clear: a caller running inside its own job group
        # (e.g. a scheduler wrapping several runs) keeps its tagging —
        # including interruptOnCancel, which defaults to false for a
        # reason (thread interrupts can wedge HDFS clients) and must
        # not leak true into the caller's thread
        sc.setLocalProperty("spark.jobGroup.id", prior_group)
        sc.setLocalProperty("spark.job.description", prior_desc)
        sc.setLocalProperty("spark.job.interruptOnCancel", prior_interrupt)


def cancel_run(spark: SparkSession, run_id: str) -> None:
    """Cancel every in-flight Spark job belonging to run_id (the job
    group run_extraction_job sets). Tasks are interrupted
    (interruptOnCancel), the driver-side writer raises, and because the
    snapshot manifest commit happens only after a successful write, a
    canceled run leaves NO committed snapshot — the next run resumes
    from the last committed state as if the canceled one never started."""
    spark.sparkContext.cancelJobGroup(run_id)


# ---------------------------------------------------------------------------
# pages synthesis from the driver's documents table (for entry/bench paths)
# ---------------------------------------------------------------------------

from .datagen import _CHROME_FOOT, _CHROME_HEAD  # noqa: E402

_DOC_CHROME_HEAD = _CHROME_HEAD.format(title="Doc")


def html_escape_col(c):
    """&/</> escaped for embedding raw text in synthetic HTML. The
    kernel decodes entities exactly once, so strip(wrap(escape(text)))
    round-trips to the raw text — without this, a document containing
    markup characters would parse as markup and silently diverge from
    the raw-text oracles."""
    c = F.replace(c, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    return F.replace(c, F.lit(">"), F.lit("&gt;"))


def doc_url_expr() -> "Column":
    """The synthetic page url over a documents frame — the ONE
    definition every consumer (pages, outlink pages, crawl-delta urls,
    compaction roundtrip, frontier seen-set) must share, so a url
    format change cannot leave one of them silently building a
    different url space than the pipeline produces."""
    return F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
        F.col("doc_id").cast("string"),
    )


def doc_ts_expr() -> "Column":
    """The synthetic page warc_ts over a documents frame."""
    return F.timestamp_seconds(F.lit(1740787200) + F.col("doc_id"))


def doc_page_exprs() -> "tuple[Column, Column, Column]":
    """(url, warc_ts, html) expressions over a documents frame — the
    ONE definition of the synthetic page shape. Shared by
    pages_from_documents and the metrics-report fault injector so a
    chrome/url change can't leave a consumer silently measuring a page
    shape the pipeline no longer produces."""
    url = doc_url_expr()
    warc_ts = doc_ts_expr()
    html_str = F.concat(
        F.lit(_DOC_CHROME_HEAD + "<article><p>"),
        html_escape_col(F.coalesce(F.col("text"), F.lit(""))),
        F.lit("</p></article>" + _CHROME_FOOT),
    )
    return url, warc_ts, F.encode(html_str, "UTF-8")


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap /root/testdata documents.text in deterministic page chrome.

    Pure JVM-side expressions (concat/encode) — the inverse relationship
    `strip(wrap(text)) == collapse_ws(text)` is the oracle-checkable
    invariant for the Spark pipeline.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    url, warc_ts, html = doc_page_exprs()
    return docs.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )
