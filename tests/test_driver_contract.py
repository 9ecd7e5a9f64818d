"""Driver-contract hygiene: the exact invariants the round driver's
correctness gate depends on."""

import ast
import pathlib

import __spark_entry__ as em
from ai_ocr_spark.parity import TABLES

ROOT = pathlib.Path(em.__file__).parent


def test_every_oracle_key_has_a_query():
    qs, oracles = em.queries(), em.oracle_sql()
    orphans = set(oracles) - set(qs)
    assert not orphans, f"oracle_sql entries without queries: {orphans}"


def test_every_query_has_an_oracle():
    """No rows-only fallbacks left: every driver query has an exact
    DuckDB twin (the mm ops gained theirs once the synthetic payloads
    were made SQL-reconstructable from documents.text)."""
    qs, oracles = em.queries(), em.oracle_sql()
    rows_only = set(qs) - set(oracles)
    assert rows_only == set(), f"queries without an oracle: {rows_only}"


def test_entry_runs_and_has_stable_schema(spark):
    df = em.entry(spark)
    cols = df.columns
    assert cols == [
        "url", "content_kind", "doc_type", "lang", "valid", "confidence", "main_text"
    ]
    assert df.count() > 0


def test_oracle_sql_strings_are_wellformed():
    """Every oracle runs in DuckDB against EMPTY tables with the REAL
    parquet schemas (derived via LIMIT 0, so the DDL can never drift
    from the fixtures) — catches syntax and column-reference errors
    without the full data compare."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE TABLE {t} AS "
            f"SELECT * FROM '/root/testdata/sf0.001/{t}.parquet' LIMIT 0"
        )
    for name, sql in em.oracle_sql().items():
        con.execute(sql)  # raises on syntax/semantic errors


def test_registry_is_the_only_operator_list():
    """bench.py and tools/ derive their operator sets from OPS; a
    hand-kept list there would drift from the registry unnoticed."""
    names = set(em.OPS)
    offenders = [
        f"{path.relative_to(ROOT)}:{node.lineno}: {node.value}"
        for path in [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant) and node.value in names
    ]
    assert not offenders, offenders
