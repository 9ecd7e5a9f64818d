"""Spark-vs-DuckDB parity sweep over the operator registry.

Runs every ``queries()[name]`` on Spark and its ``oracle_sql()[name]``
on DuckDB over the same sf dir, and compares them with
``ai_ocr_spark.parity.canon_df``: row count, sorted column names, dtype
kinds and an order-insensitive canonical value hash.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_ocr_spark.parity import canon_df, duckdb_views, first_diff  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]

    import __spark_entry__ as entrymod
    from ai_ocr_spark.session import get_spark

    spark = get_spark(app="oracle_check")
    con = duckdb_views(sf_dir)

    n_pass = n_fail = 0
    for name, op in entrymod.OPS.items():
        if filters and not any(f in name for f in filters):
            continue
        t0 = time.time()
        try:
            sdf = op.builder(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            n_fail += 1
            continue
        try:
            odf = con.execute(op.oracle_sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error {e}")
            n_fail += 1
            continue
        sn, sc, sk, sh = canon_df(sdf)
        on, oc, ok_, oh = canon_df(odf)
        if (sn, sc, sk, sh) == (on, oc, ok_, oh):
            n_pass += 1
            print(f"PASS {name}: {sn} rows ({time.time()-t0:.1f}s)")
            continue
        n_fail += 1
        print(f"FAIL {name}: spark({sn},{sc},{sk},{sh}) vs duck({on},{oc},{ok_},{oh})")
        diff = first_diff(sdf, odf) if (sn, sc) == (on, oc) else None
        if diff:
            print(f"  spark: {diff[0][:200]}\n  duck : {diff[1][:200]}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
