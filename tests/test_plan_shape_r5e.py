"""graph_triangle_count invariants: the degree-oriented closure must
(a) equal an independent Python brute-force triangle count per node,
(b) run without any cartesian/nested-loop join (the oriented self-join
columns are renamed, so the shared-lineage equality keys survive), and
(c) read the orientation from the memoized cached index."""

from ai_ocr_spark.plans.audit import formatted_plan

SF = "/root/testdata/sf0.001"


def _fresh(spark):
    from ai_ocr_spark.cache import clear_caches

    clear_caches()
    return spark


def _python_triangles(spark, sf):
    """Brute-force per-node triangle counts over the same arithmetic
    edge rule, orientation-free (set intersection over neighbor sets)."""
    from ai_ocr_spark.operators.graph import PR_FANOUT

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    n = len(ids)
    nbrs = {i: set() for i in ids}
    for src in ids:
        for j in range(1, PR_FANOUT + 1):
            dst = (src * src + 31 * j + 7) % n
            if dst != src:
                nbrs[src].add(dst)
                nbrs.setdefault(dst, set()).add(src)
    tri = {}
    for v in nbrs:
        cnt = 0
        for a in nbrs[v]:
            cnt += len(nbrs[v] & nbrs.get(a, set()))
        tri[v] = cnt // 2  # each triangle at v counted once per other vertex
    deg = {v: len(s) for v, s in nbrs.items()}
    return deg, tri


def test_triangles_match_bruteforce(spark):
    from ai_ocr_spark.operators.graph import CC_SCALE, graph_triangle_count

    deg, tri = _python_triangles(spark, SF)
    expected = set()
    for v in deg:
        d, t = deg[v], tri[v]
        cc = (2 * t * CC_SCALE) // (d * (d - 1)) if d >= 2 else None
        expected.add((v, d, t, cc))

    got = {
        (r.doc_id, r.deg, r.tri, r.cc_e6)
        for r in graph_triangle_count(_fresh(spark), SF).collect()
    }
    assert got == expected


def test_triangle_plan_shape(spark):
    from ai_ocr_spark.operators.graph import graph_triangle_count

    import re

    plan = formatted_plan(graph_triangle_count(_fresh(spark), SF))
    assert "CartesianProduct" not in plan, plan[:2000]
    # the only nested-loop joins allowed are the sanctioned one-row
    # n_docs count broadcasts inside the shared edge builder (each is
    # an IdentityBroadcastMode exchange); the wedge and closure
    # self-joins must be hash-keyed equi-joins. Count DISTINCT
    # numbered plan nodes — the tree rendering repeats cached subtrees.
    bnlj_nodes = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    ident_modes = plan.count("IdentityBroadcastMode [plan_id") or len(
        set(re.findall(r"IdentityBroadcastMode, \[plan_id=(\d+)\]", plan))
    )
    assert len(bnlj_nodes) == ident_modes, (bnlj_nodes, ident_modes)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan[:2000]


def test_triangle_counts_are_positive_somewhere(spark):
    """The quadratic edge rule must actually close triangles at test
    scale — otherwise the op is vacuously green."""
    from pyspark.sql import functions as F

    from ai_ocr_spark.operators.graph import graph_triangle_count

    total = (
        graph_triangle_count(_fresh(spark), SF)
        .agg(F.sum("tri").alias("s"))
        .collect()[0]
        .s
    )
    assert total > 0


def _lev(a, b):
    m, n = len(a), len(b)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        for j in range(1, n + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (a[i - 1] != b[j - 1]),
            )
        prev = cur
    return prev[n]


def test_spell_suggest_matches_bruteforce(spark):
    """The deletion-neighborhood join must find EXACTLY the vocab words
    within edit distance 1 of each typo (brute-force Levenshtein over
    the whole vocabulary is the ground truth), ranked (dist, -cnt,
    word)."""
    import re

    from ai_ocr_spark.operators.search import (
        SPELL_MIN_LEN,
        SPELL_TOP_N,
        _spell_typos,
        search_spell_suggest,
    )

    rows = (
        spark.read.parquet(f"{SF}/documents.parquet").select("text").collect()
    )
    cnt = {}
    for r in rows:
        for t in re.sub(r"\s+", " ", (r.text or "").lower()).strip().split(" "):
            if t and len(t) >= SPELL_MIN_LEN:
                cnt[t] = cnt.get(t, 0) + 1

    expected = set()
    for typo in _spell_typos():
        scored = sorted(
            (_lev(typo, w), -c, w)
            for w, c in cnt.items()
            if _lev(typo, w) <= 1
        )
        for i, (d, negc, w) in enumerate(scored[:SPELL_TOP_N], start=1):
            expected.add((typo, i, w, d, -negc))

    got = {
        (r.typo, r.rnk, r.cand, r.dist, r.cnt)
        for r in search_spell_suggest(_fresh(spark), SF).collect()
    }
    assert got == expected
    assert got, "no suggestions at all — vacuous"


def test_spell_suggest_plan_shape(spark):
    """Typo deletion keys broadcast into the vocab index (no shuffled
    join on the query side, no cartesian), per-typo ranking compiles to
    WindowGroupLimit."""
    from ai_ocr_spark.operators.search import search_spell_suggest

    plan = formatted_plan(search_spell_suggest(_fresh(spark), SF))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_hll_merge_witness_true_and_matches_python(spark):
    """merge_equals_direct must hold for every source (max is
    associative), and the merged registers/estimate must equal an
    independent Python HLL over the same md5-derived hashes."""
    import hashlib
    import math
    import re

    from ai_ocr_spark.operators.sketch import (
        HLL_LN_TABLE,
        HLL_M,
        HLL_NUM,
        HLL_REM_BITS,
        sketch_hll_merge_shards,
    )

    rows = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    regs = {}
    shards = {}
    for r in rows:
        norm = re.sub(r"\s+", " ", (r.text or "").lower()).strip()
        h = int(hashlib.md5(norm.encode()).hexdigest()[:15], 16)
        reg, rem = h >> HLL_REM_BITS, h & ((1 << HLL_REM_BITS) - 1)
        rho = (
            HLL_REM_BITS + 1
            if rem == 0
            else HLL_REM_BITS + 1 - rem.bit_length()
        )
        key = (r.source, reg)
        regs[key] = max(regs.get(key, 0), rho)
        shards.setdefault(r.source, set()).add(h % 8)

    expected = {}
    for src in {s for s, _ in regs}:
        mj = {reg: m for (s, reg), m in regs.items() if s == src}
        n_regs = len(mj)
        s_present = sum(1 << (HLL_REM_BITS + 1 - m) for m in mj.values())
        checksum = sum((reg + 1) * m for reg, m in mj.items())
        v = HLL_M - n_regs
        raw = HLL_NUM / (s_present + v * (1 << (HLL_REM_BITS + 1)))
        est = HLL_LN_TABLE[v - 1] if (v > 0 and raw <= 2.5 * HLL_M) else raw
        expected[src] = (
            len(shards[src]),
            n_regs,
            checksum,
            round(est, 4),
            True,
        )

    got = {
        r.source: (r.n_shards, r.n_regs, r.reg_checksum, r.estimate, r.merge_equals_direct)
        for r in sketch_hll_merge_shards(spark, SF).collect()
    }
    assert got == expected
