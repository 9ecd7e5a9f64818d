"""Every registry operator equals its DuckDB twin at sf0.001: row count,
sorted columns, dtype kinds and the repr-exact value hash
(`ai_ocr_spark.parity.canon_df`, the same canon tools/check_oracle.py
applies)."""

import pytest

import __spark_entry__ as em
from ai_ocr_spark.parity import canon_df, duckdb_views, first_diff

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb_views(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(em.OPS))
def test_matches_duckdb_twin(spark, duck, name):
    op = em.OPS[name]
    sdf = op.builder(spark, SF).toPandas()
    odf = duck.execute(op.oracle_sql).df()
    got, want = canon_df(sdf), canon_df(odf)
    if got != want:
        diff = first_diff(sdf, odf) if got[:2] == want[:2] else None
        pytest.fail(f"spark {got} vs duckdb {want}; first differing rows: {diff}")
