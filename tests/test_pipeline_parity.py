"""Tier-2: Spark pipeline parity vs the single-doc oracle.

The north_rule invariant: the distributed pipeline's per-url output is
byte-identical to ``extract_one`` (main_text bytes, field spans, all
verdict fields).
"""

import pyarrow.parquet as pq
import pytest

from ai_ocr_spark.kernels.oracle import extract_one
from ai_ocr_spark.pipeline import extract_pages, metrics_of, pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def extracted(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    out = extract_pages(pages, run_id="t2", num_partitions=6)
    rows = {r["url"]: r for r in out.collect()}
    return rows


@pytest.fixture(scope="module")
def oracle_rows(pages_parquet):
    t = pq.read_table(pages_parquet)
    return {
        url: extract_one(url, payload if payload is not None else b"")
        for url, payload in zip(t["url"].to_pylist(), t["html"].to_pylist())
    }


def test_row_counts(extracted, oracle_rows):
    assert len(extracted) == len(oracle_rows) == 240


def test_main_text_byte_identical(extracted, oracle_rows):
    for url, g in oracle_rows.items():
        spark_text = extracted[url]["main_text"]
        assert spark_text.encode("utf-8") == g["main_text"].encode("utf-8"), url


def test_fields_and_spans_identical(extracted, oracle_rows):
    for url, g in oracle_rows.items():
        got = [
            (f["name"], f["value"], f["span_start"], f["span_end"])
            for f in extracted[url]["fields"]
        ]
        want = [
            (f["name"], f["value"], f["span_start"], f["span_end"])
            for f in g["fields"]
        ]
        assert got == want, url


def test_verdicts_identical(extracted, oracle_rows):
    for url, g in oracle_rows.items():
        row = extracted[url]
        assert row["doc_type"] == g["doc_type"], url
        assert row["lang"] == g["lang"], url
        assert row["valid"] == g["valid"], url
        assert row["confidence"] == pytest.approx(g["confidence"]), url
        assert row["validation"]["schema_type"] == g["validation"]["schema_type"], url


def test_no_kernel_errors(extracted):
    errs = [u for u, r in extracted.items() if r["error"] is not None]
    assert errs == []


def test_lineage_populated(extracted):
    for r in extracted.values():
        assert r["lineage"]["run_id"] == "t2"
        assert r["lineage"]["kernel_version"] == "k1"
        assert r["partition_id"] >= 0


def test_metrics_cover_all_docs(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    out = extract_pages(pages, run_id="m1", num_partitions=6)
    m = metrics_of(out, run_id="m1").collect()
    assert sum(r["n_docs"] for r in m) == 240
    assert all(r["run_id"] == "m1" for r in m)
    assert sum(r["n_ok"] for r in m) > 100


def test_skew_repartition_spreads_hot_domain(spark, pages_parquet):
    """Zipf head domain must land on >1 partition (salting works)."""
    from pyspark.sql import functions as F

    from ai_ocr_spark.pipeline import skew_repartition

    pages = spark.read.parquet(pages_parquet)
    parts = (
        skew_repartition(pages, 8)
        .select(
            F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("domain"),
            F.spark_partition_id().alias("pid"),
        )
        .groupBy("domain")
        .agg(F.countDistinct("pid").alias("n_parts"), F.count("*").alias("n"))
        .orderBy(F.desc("n"))
        .collect()
    )
    head = parts[0]
    assert head["n"] > 20  # Zipf head exists
    assert head["n_parts"] > 1  # and is salted across partitions


def test_skew_repartition_deals_two_byte_balanced_tasks_per_core(spark, tmp_path):
    """num_partitions is a cap: the deal runs TASKS_PER_CORE x cores
    partitions, loses and repeats no page, and evens out payload bytes
    across a heavy-tailed Zipf page mix."""
    import statistics

    from pyspark.sql import functions as F

    from ai_ocr_spark.datagen import write_pages_parquet
    from ai_ocr_spark.pipeline import skew_repartition

    path = str(tmp_path / "pages.parquet")
    write_pages_parquet(path, 2000, seed=3)  # make_page(i, 3), i < 2,000
    dealt = skew_repartition(spark.read.parquet(path), 64)
    n = 2 * spark.sparkContext.defaultParallelism
    assert dealt.rdd.getNumPartitions() == n

    rows = dealt.select(
        "url", F.spark_partition_id().alias("p"), F.length("html").alias("b")
    ).collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls)) == 2000

    per_part = [0] * n
    for r in rows:
        per_part[r["p"]] += r["b"]
    assert max(per_part) / statistics.median(per_part) <= 1.1, per_part


def test_pages_from_documents_inverse(spark):
    """strip(wrap(text)) == collapse_ws(text) — the oracle invariant the
    driver checks at sf0.01."""
    from ai_ocr_spark.kernels.html import collapse_ws

    pages = pages_from_documents(spark, SF_DIR).limit(50)
    out = extract_pages(pages, run_id="inv").select("url", "main_text")
    texts = {r["url"]: r["main_text"] for r in out.collect()}
    src = {
        f"https://{r['source']}.example.com/doc/{r['doc_id']}": r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50).collect()
    }
    assert len(texts) == 50
    for url, main_text in texts.items():
        assert main_text == collapse_ws(src[url] or ""), url
