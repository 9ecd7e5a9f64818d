"""Physical-plan shape of the flagship pipeline — the properties that
decide 100-TB viability, asserted instead of eyeballed (SURVEY §4)."""

import re

from pyspark.sql import functions as F

from ai_ocr_spark.pipeline import extract_pages, metrics_of
from ai_ocr_spark.plans.audit import count_exchanges, formatted_plan


def test_pipeline_crosses_python_boundary_exactly_once(spark, pages_parquet):
    """All kernels are fused into ONE mapInPandas stage: exactly one
    Python-eval node in the plan (two boundary crossings per partition)."""
    from ai_ocr_spark.plans.audit import count_nodes

    pages = spark.read.parquet(pages_parquet)
    out = extract_pages(pages, run_id="plan", num_partitions=8)
    n_python = count_nodes(out, "MapInPandas|ArrowEvalPython|BatchEvalPython")
    assert n_python == 1, formatted_plan(out)[:1500]


def test_pipeline_has_exactly_one_shuffle(spark, pages_parquet):
    """The only exchange is the explicit size-dealt
    repartition — no accidental extra shuffles around the kernel stage."""
    pages = spark.read.parquet(pages_parquet)
    out = extract_pages(pages, run_id="plan", num_partitions=8)
    assert count_exchanges(out) == 1


def test_metrics_aggregation_adds_one_shuffle_only(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    out = extract_pages(pages, run_id="plan", num_partitions=8)
    m = metrics_of(out, run_id="plan")
    assert count_exchanges(m) == 2  # repartition + groupBy(partition_id)


def test_resume_antijoin_prunes_payload_from_committed_side(
    spark, pages_parquet, tmp_path
):
    """The anti-join's committed side must read only the url column —
    deserializing html from the committed snapshot would make resume
    as expensive as reprocessing."""
    from ai_ocr_spark.catalog import SnapshotTable
    from ai_ocr_spark.plans.audit import scan_read_schemas

    tbl = SnapshotTable(str(tmp_path / "t"))
    pages = spark.read.parquet(pages_parquet)
    tbl.append(extract_pages(pages.limit(20), run_id="a"), run_id="a")
    pending = tbl.pending(spark, pages)
    plan = formatted_plan(pending)
    schemas = scan_read_schemas(plan)
    # exactly two scans: the input side carries the payload; the
    # committed-snapshot side is pruned to url only (no main_text, no
    # validation structs) — otherwise resume costs a full deserialize
    assert len(schemas) == 2, schemas
    input_side = [s for s in schemas if "html" in s]
    committed_side = [s for s in schemas if s == "struct<url:string>"]
    assert len(input_side) == 1 and len(committed_side) == 1, schemas


def test_q1_filter_pushed_to_lineitem_scan(spark):
    from ai_ocr_spark.operators.relational import q1_pricing_summary
    from ai_ocr_spark.plans.audit import pushed_filters

    q = q1_pricing_summary(spark, "/root/testdata/sf0.001")
    assert any("l_shipdate" in pf for pf in pushed_filters(formatted_plan(q)))
