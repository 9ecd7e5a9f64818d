"""Benchmark entry for the driver: runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the `noop` sink (full execution, no
driver collect). The flagship number is the fused extraction pipeline's
docs/sec, reported alongside per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def compact_line(timings, total, sf, docs_per_sec) -> str:
    """The one stdout JSON line, guaranteed under the driver's 2000-char
    tail capture (BENCH_r04.json came back parsed:null when the r4 line
    overran it and lost its head, including "value"). The full line if
    it fits; otherwise the largest slowest-K set of queries that fits,
    and the metric says so. Medians keep two decimals either way — the
    full set always lives in BENCH/HEADLINE.json. Pure function so tests
    can pin the budget without Spark.
    """

    def _line(metric, qdict):
        return json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": {k: round(v, 2) for k, v in qdict.items()},
                "sf": sf,
                "docs_per_sec": round(docs_per_sec, 2),
            },
            separators=(",", ":"),
        )

    line = _line("median warm wall sec; detail in BENCH/HEADLINE.json", timings)
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    k = len(slowest)
    while len(line) >= 1900:
        k -= 1
        line = _line(
            f"slowest {k} of {len(slowest)}; full set in BENCH/HEADLINE.json",
            dict(slowest[:k]),
        )
    return line


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entrymod
    from ai_ocr_spark.pipeline import extract_pages, pages_from_documents
    from ai_ocr_spark.session import get_spark

    spark = get_spark(app="bench")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    def _timed_samples(run) -> list[float]:
        """Warm once (codegen/JIT + persisted intermediates), then time
        THREE executions and report the median with [min, max] spread.
        A single warm run still swings 2-4x under shared-host noise
        (BENCH_r03 driver read 38.1s vs 17.75s builder on identical
        code); the median of three gives the driver's one invocation a
        stable number, and the spread makes residual noise visible."""
        run()
        samples = []
        for _ in range(3):
            t0 = time.monotonic()
            run()
            samples.append(time.monotonic() - t0)
        samples.sort()
        return samples

    # --- flagship: fused extraction pipeline (docs/sec) -----------------
    pages = pages_from_documents(spark, sf_dir)
    n_docs = pages.count()
    samples = _timed_samples(
        lambda: _materialize(
            extract_pages(pages, run_id="bench", num_partitions=cpus * 2)
        )
    )
    pipe_s = samples[1]
    timings["pipeline_extract"] = round(pipe_s, 3)
    spread["pipeline_extract"] = [round(samples[0], 3), round(samples[2], 3)]
    docs_per_sec = n_docs / pipe_s if pipe_s > 0 else 0.0

    # --- headline queries: the registry rows with a bench role ----------
    # Each timed run re-invokes the builder, so driver-side iteration
    # loops (BPE rounds, k-means rounds) are inside the timed section.
    def role(*roles: str) -> list[str]:
        return [n for n, op in entrymod.OPS.items() if op.bench in roles]

    def time_into(out: dict[str, float], name: str) -> None:
        fn = entrymod.OPS[name].builder
        samples = _timed_samples(lambda: _materialize(fn(spark, sf_dir)))
        out[name] = round(samples[1], 3)
        spread[name] = [round(samples[0], 3), round(samples[2], 3)]

    for name in role("warm", "cold"):
        time_into(timings, name)
    total = round(sum(timings.values()), 3)

    # Streaming drains: mostly micro-batch startup, so they are timed in
    # their own section and kept out of the batch total.
    stream: dict[str, float] = {}
    for name in role("stream"):
        time_into(stream, name)

    # --- cold-build column ----------------------------------------------
    # The steady-state numbers above price the PROBE with the memoized
    # persisted intermediates (shingle/digest/SRP-signature/IVF-index
    # tables) already hot — defensible because an index is built once
    # and probed many times, but it hides the index-build cost. For
    # each cache-backed operator, one timed run straight after
    # clear_caches() prices build + probe together, reported as
    # "<name>_cold" ALONGSIDE (not inside) the steady-state total.
    from ai_ocr_spark.cache import clear_caches

    cold = {}
    for name in role("cold"):
        clear_caches(spark)
        t0 = time.monotonic()
        _materialize(entrymod.OPS[name].builder(spark, sf_dir))
        cold[f"{name}_cold"] = round(time.monotonic() - t0, 3)
    clear_caches(spark)

    # --- emit: compact stdout line + full committed detail file ---------
    # The driver records only the LAST 2000 chars of bench output
    # (BENCH_r04.json came back parsed:null because the r4 line — long
    # metric string + inline spread/cold dicts — overran that window and
    # lost its head, including "value"). The stdout line therefore stays
    # COMPACT and asserted < 1900 chars: short metric, median-only
    # queries dict, tight separators. Spread, cold column, n_docs, cpus
    # and the full methodology note live in BENCH/HEADLINE.json,
    # written here and committed in-repo.
    detail = {
        "metric": (
            "total steady-state headline query wall time, per-query MEDIAN"
            " of 3 warm runs (spread = [min,max] per query), memoized index"
            " tables hot (flagship: fused extraction pipeline docs/sec at"
            " the median); queries_cold = same op timed once immediately"
            " after clear_caches, pricing index build + probe;"
            " queries_stream = streaming drains, same protocol, outside"
            " the total"
        ),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "queries_cold": cold,
        "queries_stream": stream,
        "sf": sf,
        "docs_per_sec": round(docs_per_sec, 2),
        "n_docs": n_docs,
        "cpus": cpus,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "HEADLINE.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass  # read-only checkout must not kill the bench line

    line = compact_line(timings, total, sf, docs_per_sec)
    assert len(line) < 1900, f"bench line {len(line)} chars >= 1900"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
