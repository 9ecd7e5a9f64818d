"""The bench stdout line must stay under the driver's 2000-char tail
capture at every realistic query-list size — BENCH_r04.json was lost to
this (parsed:null). The rule: the full line if it fits, otherwise the
largest slowest-K set that fits. Pure-function pins, no Spark."""

import json

from bench import compact_line


def _fake_timings(n):
    # realistic name lengths (the current list averages ~19 chars) and
    # mixed magnitudes
    return {
        f"operator_family_{i:02d}_variant_name": 0.123 + (i % 7) * 1.234
        for i in range(n)
    }


def test_line_under_budget_at_current_and_future_sizes():
    for n in (60, 78, 90, 104, 120, 200):
        t = _fake_timings(n)
        line = compact_line(t, round(sum(t.values()), 3), 0.1, 4321.09)
        assert len(line) < 1900, (n, len(line))


def test_line_is_parseable_json_with_contract_keys():
    t = _fake_timings(78)
    d = json.loads(compact_line(t, 99.9, 0.1, 1234.5))
    for key in ("metric", "value", "unit", "queries", "sf", "docs_per_sec"):
        assert key in d
    assert d["unit"] == "sec" and d["value"] == 99.9
    assert len(d["queries"]) > 0


def test_full_line_when_it_fits():
    t = _fake_timings(20)
    d = json.loads(compact_line(t, 12.3, 0.1, 1000.0))
    assert d["queries"] == {k: round(v, 2) for k, v in t.items()}
    assert "slowest" not in d["metric"]


def test_emergency_tier_keeps_the_slowest_and_says_so():
    """Past the budget the line keeps the largest slowest-K set that
    fits: the K slowest queries, named as such, and K + 1 would not fit."""
    for n in (104, 200):
        t = _fake_timings(n)
        d = json.loads(compact_line(t, 123.4, 0.1, 1000.0))
        k = len(d["queries"])
        assert 0 < k < n
        assert d["metric"].startswith(f"slowest {k} of {n};")
        ranked = sorted(t.items(), key=lambda kv: -kv[1])
        assert set(d["queries"]) == {name for name, _ in ranked[:k]}

        bigger = dict(d, queries={name: round(v, 2) for name, v in ranked[: k + 1]})
        bigger["metric"] = f"slowest {k + 1} of {n};" + d["metric"].split(";", 1)[1]
        assert len(json.dumps(bigger, separators=(",", ":"))) >= 1900
