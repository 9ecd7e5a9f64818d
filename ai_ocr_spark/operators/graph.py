"""Link-graph centrality (PageRank) for crawl-frontier prioritization.

The second graph primitive next to dedup_connected_components: given a
directed link graph over the corpus, compute a fixed number of
PageRank power iterations and return per-document rank mass. Crawl
pipelines use exactly this to prioritize fetch frontiers and to
down-weight link-farm spam before training-data selection.

Determinism policy: rank mass is INTEGER-SCALED (PR_UNIT = 10^12 per
node at t=0) and each update is pure integer arithmetic —

    contrib(u->v) = (rank_u * 85) DIV (100 * outdeg_u)
    rank'_v       = (15 * PR_UNIT) DIV 100  +  SUM contrib(u->v)

so sums are order-independent and the DuckDB twin (the same five
iterations unrolled as chained CTEs) matches bit-for-bit; float
PageRank would diverge across engines on summation order alone.
Dangling mass (nodes whose fan-out collapses to self-loops only) is
dropped, identically on both sides.

The synthetic edge set is derived arithmetically from doc_id
(dst = (src^2 + 31j + 7) % N for j=1..FANOUT, self-loops removed —
quadratic, NOT affine: an affine rule with gcd(a, N)=1 is a
permutation per j, the in-degree comes out uniform, and PageRank
degenerates to a constant; the quadratic residues give a skewed
in-degree with genuine hubs, like a real web graph), so the
oracle can rebuild it without external data; swap in a real
(src, dst) edge table and nothing else changes.

Scale shape (Pregel co-partitioned, r5 lazy form): the edge table is
repartitioned on src ONCE, persisted, and never exchanged again; the
node table is pinned on doc_id. The rank vector is NEVER explicitly
exchanged: each round's update join output is hash-partitioned on
doc_id (the contrib aggregate's output partitioning meets the pinned
node table), and doc_id RENAMED to src satisfies the next round's
edge-join distribution — partitioning metadata propagates through the
alias, so the only per-iteration exchange is the contribution
aggregate itself, i.e. the irreducible Pregel message delivery
(plan-pinned in tests/test_plan_shape_r4.py: zero Exchange nodes on
the edge relation, one ENSURE_REQUIREMENTS exchange per round).
Locally AQE instead broadcasts the small rank vector into the edge
partitions — same zero-edge-movement shape.

r4 used localCheckpoint per round (dropping partitioning metadata,
hence an explicit rank re-pin exchange each iteration: 2.29s -> 4.1s
measured at sf0.1). That barrier is only needed when an iteration
references the previous frame MORE than once (3^k plan nesting — see
dedup_connected_components); here ranks feeds exactly ONE join per
round, the lineage grows linearly over the fixed PR_ITERS, and the
single lazy plan executes once — measured 4.14s -> 3.36s median-of-5
at sf0.1, values bit-identical (SCALE.md records the trade).

Reference parity: the reference has no graph stage (single-document
microservice); this extends SURVEY §2's dedup-graph family (pairs ->
components) with weighted centrality over the same edge machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo

PR_ITERS = 5
PR_UNIT = 10**12
PR_BASE = (15 * PR_UNIT) // 100
PR_FANOUT = 3


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n_row = docs.agg(F.count(F.lit(1)).alias("n"))
    fan = F.explode(F.array(*[F.lit(j) for j in range(1, PR_FANOUT + 1)])).alias("j")
    edges = (
        docs.crossJoin(F.broadcast(n_row))
        .select("doc_id", "n", fan)
        .select(
            F.col("doc_id").alias("src"),
            (
                (F.col("doc_id") * F.col("doc_id") + F.col("j") * 31 + 7)
                % F.col("n")
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    return edges.join(outdeg, "src")


def _graph_pins(spark: SparkSession, sf_dir: str) -> tuple:
    """The Pregel co-partition pin both link-analysis operators share:
    nodes hash-pinned on doc_id, edges (with outdeg) on src, both at
    the session's shuffle width, memoized through cache.memo (the r4
    shape persisted these inside each operator and unpersisted them
    before the caller's action ever ran, so every run rebuilt the edge
    table's distinct + outdeg join from the scan). At 10^12 edges this
    pair is the partitioned graph index a cluster checkpoints once and
    every power-iteration consumer (PageRank, SALSA, components)
    reuses."""

    def build() -> tuple:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id")
            .repartition(par, "doc_id")
        )
        return docs, _edges(spark, sf_dir).repartition(par, "src")

    return memo(spark, sf_dir, "graph-pins", build)


def pagerank_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pregel pin (see _graph_pins): every per-iteration join satisfies
    # its distribution from the cached pins, and only the rank vector
    # is exchanged per round. The per-round docs zero-fill join is
    # load-bearing here (unlike SALSA's): the PR_BASE teleport term
    # pays every node each round, contributors or not.
    docs, e = _graph_pins(spark, sf_dir)
    ranks = docs.select("doc_id", F.lit(PR_UNIT).cast("long").alias("rnk"))
    for _ in range(PR_ITERS):
        contrib = (
            e.join(ranks.select(F.col("doc_id").alias("src"), "rnk"), "src")
            .select(
                "dst",
                F.expr("CAST((rnk * 85) DIV (100 * outdeg) AS BIGINT)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = docs.join(
            contrib.withColumnRenamed("dst", "doc_id"), "doc_id", "left"
        ).select(
            "doc_id",
            (F.lit(PR_BASE) + F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("rnk"),
        )
    out = ranks.join(
        e.select("src", "outdeg").distinct().withColumnRenamed("src", "doc_id"),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        "rnk",
        F.coalesce(F.col("outdeg"), F.lit(0)).cast("long").alias("outdeg"),
    )
    return out


def _pagerank_oracle() -> str:
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    parts = [
        f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id FROM documents),
    edges0 AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
    e AS (SELECT src, dst, outdeg FROM edges0 JOIN outdeg USING (src)),
    r0 AS (SELECT doc_id, CAST({PR_UNIT} AS BIGINT) AS rnk FROM nodes)"""
    ]
    for k in range(1, PR_ITERS + 1):
        parts.append(
            f""",
    c{k} AS (
        SELECT e.dst AS doc_id,
               CAST(sum((r.rnk * 85) // (100 * e.outdeg)) AS BIGINT) AS c
        FROM e JOIN r{k - 1} r ON r.doc_id = e.src
        GROUP BY e.dst
    ),
    r{k} AS (
        SELECT nodes.doc_id,
               CAST({PR_BASE} + coalesce(c.c, 0) AS BIGINT) AS rnk
        FROM nodes LEFT JOIN c{k} c USING (doc_id)
    )"""
        )
    parts.append(
        f"""
    SELECT r.doc_id, r.rnk,
           CAST(coalesce(o.outdeg, 0) AS BIGINT) AS outdeg
    FROM r{PR_ITERS} r LEFT JOIN outdeg o ON o.src = r.doc_id"""
    )
    return "".join(parts)


PAGERANK_ORACLE_SQL = _pagerank_oracle()


# --- SALSA (degree-normalized HITS) ------------------------------------------

SALSA_ITERS = 4
SALSA_UNIT = 10**12


def graph_salsa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scores (Lempel & Moran 2000) — the
    degree-normalized HITS the link-analysis literature pairs with
    PageRank (and Twitter's WTF system ran at web scale): crawl
    frontiers blend an authority prior with rank mass, and hub scores
    expose link farms that PageRank's single score hides.

    Iteration (integer-exact, same policy as pagerank_link_graph):

        auth'_v = SUM over u->v of  hub_u  DIV outdeg_u
        hub'_u  = SUM over u->v of auth'_v DIV indeg_v

    Classic HITS renormalizes by a global vector norm each round —
    at BIGINT scale the (value * UNIT) numerator overflows, and a
    float norm is summation-order-dependent cross-engine. SALSA's
    per-edge degree division IS the normalization: each half-step
    redistributes (never amplifies) mass, so values stay bounded at
    ~UNIT * max_degree forever with no global reduction at all — the
    property that also keeps every round a plain join + sum.

    Scale shape: the Pregel co-partition pin in its two-sided form —
    the edge table persists TWICE (hash-pinned on src for the
    auth-step join, on dst with indeg attached for the hub-step join),
    nodes pin on doc_id, and the score vectors are never explicitly
    exchanged: each aggregate's output partitioning carries through
    the doc_id rename into the next join (the pagerank_link_graph
    lazy-rewrite property). Each frame feeds exactly one join per
    half-round, so lineage grows linearly — EXCEPT the final-round
    auth vector, which has TWO consumers (the last hub half-step and
    the output join): left bare, the whole 2*SALSA_ITERS-join chain
    executed twice per action (measured 8.2s median / 14s max at
    sf0.1). It is therefore persisted and materialized eagerly: the
    pins + final auth are memoized through cache.memo like every
    other index artifact (the r4 shape unpersisted the pins before
    the caller's action ever ran, so all three were no-ops and every
    run rebuilt the edge tables from the scan). At 10^12 edges the
    cached tuple IS the partitioned graph index a cluster would
    checkpoint; a probe recomputes only the final hub half-step.

    The DuckDB twin unrolls the same SALSA_ITERS rounds as chained
    CTEs over the identical arithmetic edge set — bit-for-bit."""
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs, e_src = _graph_pins(spark, sf_dir)

    def build() -> tuple:
        # dst-pinned twin derives FROM the cached src pin (indeg
        # aggregate included), never re-running the edge build's
        # distinct + outdeg join from the scan
        indeg = e_src.groupBy("dst").agg(
            F.count(F.lit(1)).cast("long").alias("indeg")
        )
        e_dst = (
            e_src.select("src", "dst")
            .join(indeg, "dst")
            .repartition(par, "dst")
        )
        # intermediate rounds skip the zero-fill docs join: a node
        # absent from an aggregate carries exactly the mass its 0-fill
        # row would (nothing), so the sums are identical and each
        # aggregate's dst/src partitioning feeds the next join with no
        # re-pin — only the FINAL auth/hub get the docs left-join so
        # the output covers every node like the oracle's
        hub = docs.select(
            F.col("doc_id").alias("src"),
            F.lit(SALSA_UNIT).cast("long").alias("v"),
        )
        a_raw = None
        for i in range(SALSA_ITERS):
            a_raw = (
                e_src.join(hub, "src")
                .select("dst", F.expr("v DIV outdeg").alias("c"))
                .groupBy("dst")
                .agg(F.sum("c").alias("c"))
            )
            if i == SALSA_ITERS - 1:
                break  # final hub half-step runs below, off cached auth
            h_raw = (
                e_dst.join(a_raw.select("dst", F.col("c").alias("v")), "dst")
                .select("src", F.expr("v DIV indeg").alias("c"))
                .groupBy("src")
                .agg(F.sum("c").alias("c"))
            )
            hub = h_raw.select("src", F.col("c").alias("v"))
        auth = (
            docs.join(
                a_raw.withColumnRenamed("dst", "doc_id"), "doc_id", "left"
            )
            .select(
                "doc_id",
                F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("v"),
            )
        )
        return e_dst, auth

    e_dst, auth = memo(spark, sf_dir, "salsa", build)
    h_raw = (
        e_dst.join(auth.select(F.col("doc_id").alias("dst"), "v"), "dst")
        .select("src", F.expr("v DIV indeg").alias("c"))
        .groupBy("src")
        .agg(F.sum("c").alias("c"))
    )
    hub = docs.join(
        h_raw.withColumnRenamed("src", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("v")
    )
    return (
        auth.withColumnRenamed("v", "auth")
        .join(hub.withColumnRenamed("v", "hub"), "doc_id")
        .select("doc_id", "auth", "hub")
    )


def _salsa_oracle() -> str:
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    parts = [
        f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id FROM documents),
    edges0 AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
    indeg AS (SELECT dst, count(*) AS indeg FROM edges0 GROUP BY dst),
    es AS (SELECT src, dst, outdeg FROM edges0 JOIN outdeg USING (src)),
    ed AS (SELECT src, dst, indeg FROM edges0 JOIN indeg USING (dst)),
    h0 AS (SELECT doc_id, CAST({SALSA_UNIT} AS BIGINT) AS v FROM nodes)"""
    ]
    for k in range(1, SALSA_ITERS + 1):
        parts.append(
            f""",
    ar{k} AS (
        SELECT es.dst AS doc_id, CAST(sum(h.v // es.outdeg) AS BIGINT) AS c
        FROM es JOIN h{k - 1} h ON h.doc_id = es.src
        GROUP BY es.dst
    ),
    a{k} AS (
        SELECT nodes.doc_id, CAST(coalesce(c, 0) AS BIGINT) AS v
        FROM nodes LEFT JOIN ar{k} USING (doc_id)
    ),
    hr{k} AS (
        SELECT ed.src AS doc_id, CAST(sum(a.v // ed.indeg) AS BIGINT) AS c
        FROM ed JOIN a{k} a ON a.doc_id = ed.dst
        GROUP BY ed.src
    ),
    h{k} AS (
        SELECT nodes.doc_id, CAST(coalesce(c, 0) AS BIGINT) AS v
        FROM nodes LEFT JOIN hr{k} USING (doc_id)
    )"""
        )
    parts.append(
        f"""
    SELECT a.doc_id, a.v AS auth, h.v AS hub
    FROM a{SALSA_ITERS} a JOIN h{SALSA_ITERS} h USING (doc_id)"""
    )
    return "".join(parts)


SALSA_ORACLE_SQL = _salsa_oracle()


# --- triangle counting / clustering coefficient -------------------------------

CC_SCALE = 10**6


def _tri_oriented(spark: SparkSession, sf_dir: str) -> tuple:
    """Degree-oriented undirected edge index for triangle counting,
    memoized like the other graph pins: symmetrize the directed crawl
    edges into {a<b} pairs, compute undirected degree, then orient
    every edge from the (deg, id)-smaller endpoint to the larger.
    Orientation is THE triangle-counting scale trick (Chiba-Nishizeki;
    Suri & Vassilvitskii's MR-friendly form): the oriented out-degree
    is bounded by O(sqrt(m)), so wedge generation is O(m^1.5) total
    instead of sum(deg^2) — the difference between feasible and not on
    a power-law web graph whose max degree is ~N."""

    def build() -> tuple:
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
        _, e_src = _graph_pins(spark, sf_dir)
        und = (
            e_src.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .distinct()
        )
        deg = (
            und.select(F.col("a").alias("node"))
            .unionAll(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .repartition(par, "node")
        )
        o = (
            und.join(
                deg.select(F.col("node").alias("a"), F.col("deg").alias("dega")), "a"
            )
            .join(
                deg.select(F.col("node").alias("b"), F.col("deg").alias("degb")), "b"
            )
            .select(
                F.when(F.col("dega") <= F.col("degb"), F.col("a"))
                .otherwise(F.col("b"))
                .alias("lo"),
                F.when(F.col("dega") <= F.col("degb"), F.col("b"))
                .otherwise(F.col("a"))
                .alias("hi"),
            )
            .repartition(par, "lo")
        )
        return deg, o

    return memo(spark, sf_dir, "tri-oriented", build)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient — the
    third classical link-graph primitive next to PageRank/SALSA:
    triangle density separates genuine topical communities from
    link-farm stars (a farm hub has huge degree but near-zero
    clustering), and the coefficient is the standard spam/community
    feature in web-graph curation.

    Algorithm: degree-oriented closure (see _tri_oriented). Each
    triangle x≺y≺z (in (deg,id) order) is found EXACTLY once as the
    wedge (x→y, x→z) closed by the oriented edge y→z, so the count is
    a plain join cardinality — no post-hoc division by 3/6, which
    keeps the per-node explode exact.

    Scale shape: the wedge self-join keys on the oriented source `lo`
    and BOTH sides are the same cached frame hash-pinned on lo, so
    wedge generation is exchange-free (plan-pinned: the only Exchanges
    past the pins belong to the closure join and the two bounded
    aggregates); wedge volume is bounded by sum(outdeg^2) = O(m^1.5)
    under orientation; the closure join and per-node count shuffle
    triangle-sized frames, never corpus-sized ones. Self-join columns
    are RENAMED before joining (shared-lineage equality keys would
    otherwise collapse to one attribute — CLAUDE.md).

    Determinism: counts and degrees are exact integers; the
    coefficient is reported as cc_e6 = (2·tri·10^6) DIV (deg·(deg−1))
    (NULL below deg 2) so both engines emit identical BIGINTs.
    """
    deg, o = _tri_oriented(spark, sf_dir)
    docs, _ = _graph_pins(spark, sf_dir)
    e1 = o.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    e2 = o.select(F.col("lo").alias("u2"), F.col("hi").alias("w"))
    e3 = o.select(F.col("lo").alias("v3"), F.col("hi").alias("w3"))
    wedges = (
        e1.join(e2, (F.col("u") == F.col("u2")) & (F.col("v") != F.col("w")))
        .select("u", "v", "w")
    )
    tris = wedges.join(
        e3, (F.col("v") == F.col("v3")) & (F.col("w") == F.col("w3"))
    ).select("u", "v", "w")
    pernode = (
        tris.select(
            F.explode(F.array(F.col("u"), F.col("v"), F.col("w"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("tri"))
    )
    return (
        docs.join(deg.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(pernode.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("deg"),
            F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
            F.when(
                F.coalesce(F.col("deg"), F.lit(0)) >= 2,
                F.expr(
                    f"CAST((2 * coalesce(tri, 0) * {CC_SCALE})"
                    " DIV (deg * (deg - 1)) AS BIGINT)"
                ),
            ).alias("cc_e6"),
        )
    )


def _triangle_oracle() -> str:
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    return f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges0 AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges0
    ),
    deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
        ) GROUP BY node
    ),
    o AS (
        SELECT CASE WHEN da.deg <= db.deg THEN u.a ELSE u.b END AS lo,
               CASE WHEN da.deg <= db.deg THEN u.b ELSE u.a END AS hi
        FROM und u
        JOIN deg da ON da.node = u.a
        JOIN deg db ON db.node = u.b
    ),
    tri AS (
        SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
        FROM o e1
        JOIN o e2 ON e2.lo = e1.lo AND e1.hi <> e2.hi
        JOIN o e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
    ),
    pernode AS (
        SELECT node, count(*) AS tri FROM (
            SELECT u AS node FROM tri
            UNION ALL SELECT v AS node FROM tri
            UNION ALL SELECT w AS node FROM tri
        ) GROUP BY node
    )
    SELECT d.doc_id,
           CAST(coalesce(g.deg, 0) AS BIGINT) AS deg,
           CAST(coalesce(p.tri, 0) AS BIGINT) AS tri,
           CASE WHEN coalesce(g.deg, 0) >= 2
                THEN CAST((2 * coalesce(p.tri, 0) * {CC_SCALE})
                          // (g.deg * (g.deg - 1)) AS BIGINT)
                ELSE NULL END AS cc_e6
    FROM documents d
    LEFT JOIN deg g ON g.node = d.doc_id
    LEFT JOIN pernode p ON p.node = d.doc_id
"""


TRIANGLE_ORACLE_SQL = _triangle_oracle()


# --- in-degree power-law fit --------------------------------------------------

DEG_DOWN = 4096  # iln downscale (same bound proof as text_zipf_fit)
DEG_OUT = 1_000_000  # slope reported as slope_e6


def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree power-law fit over the link graph — the classic
    web-graph health diagnostic (Broder et al., WWW'00 measure the web's
    in-degree exponent at ≈2.1; a crawl whose exponent drifts is
    link-farmed or mis-sampled): OLS of ln(#nodes with in-degree d)
    against ln(d) over every occupied degree, the graph-side sibling of
    text_zipf_fit and the same integer-exact machinery — x/y points
    ride the shared 256-entry integer-ln table (via the BM25 iln SQL),
    downscaled by DEG_DOWN so all regression products stay far inside
    int64, the slope division's numerator is made non-negative before
    the truncating DIV with the sign applied after.

    Scale shape: the in-degree aggregate rides the memoized co-
    partitioned edge pin (one map-side-combined count per dst); the
    degree HISTOGRAM collapses node-sized data to ≤ max-degree rows
    (bounded by the graph's hub size, not the corpus), and the OLS is
    a single constant-state global aggregate. Nothing after the
    in-degree count is node-sized.
    """
    from .search import _iln_sql
    from .search import BM25_PREC as PREC

    _, e = _graph_pins(spark, sf_dir)
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    hist = indeg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    pts = hist.select(
        "deg",
        "n_nodes",
        F.expr(
            f"CAST({_iln_sql(f'(deg * {PREC})', 'spark')}"
            f" DIV {DEG_DOWN} AS BIGINT)"
        ).alias("x"),
        F.expr(
            f"CAST({_iln_sql(f'(n_nodes * {PREC})', 'spark')}"
            f" DIV {DEG_DOWN} AS BIGINT)"
        ).alias("y"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("n_nodes").cast("long").alias("n_linked"),
        F.max("deg").cast("long").alias("max_deg"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n_points") * F.col("sxy") - F.col("sx") * F.col("sy")
    q = F.expr(
        f"CAST(({DEG_OUT} * abs(n_points * sxy - sx * sy))"
        " DIV (n_points * sxx - sx * sx) AS BIGINT)"
    )
    return agg.filter(F.col("n_points") >= 2).select(
        "n_points",
        "n_linked",
        "max_deg",
        F.when(num < 0, -q).otherwise(q).cast("long").alias("slope_e6"),
    )


def _degree_powerlaw_oracle() -> str:
    from .search import _iln_sql
    from .search import BM25_PREC as PREC

    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    return f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges0 AS (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    indeg AS (
        SELECT dst, CAST(count(*) AS BIGINT) AS deg
        FROM edges0 GROUP BY dst
    ),
    hist AS (
        SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
        FROM indeg GROUP BY deg
    ),
    pts AS (
        SELECT deg, n_nodes,
               CAST({_iln_sql(f'(deg * {PREC})', 'duckdb')}
                    // {DEG_DOWN} AS BIGINT) AS x,
               CAST({_iln_sql(f'(n_nodes * {PREC})', 'duckdb')}
                    // {DEG_DOWN} AS BIGINT) AS y
        FROM hist
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(n_nodes) AS BIGINT) AS n_linked,
               CAST(max(deg) AS BIGINT) AS max_deg,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n_points, n_linked, max_deg,
           CAST(CASE WHEN n_points * sxy - sx * sy < 0
                THEN -(({DEG_OUT} * abs(n_points * sxy - sx * sy))
                       // (n_points * sxx - sx * sx))
                ELSE (({DEG_OUT} * abs(n_points * sxy - sx * sy))
                      // (n_points * sxx - sx * sx)) END AS BIGINT)
               AS slope_e6
    FROM agg WHERE n_points >= 2
"""


DEGREE_POWERLAW_ORACLE_SQL = _degree_powerlaw_oracle()


# --- k-core decomposition (iterative peel) ------------------------------

KCORE_K = 4  # core order: calibrated so the fixture graph keeps a
# non-empty 4-core (304 nodes at sf0.01, 1917 at sf0.1) while a third
# of the nodes peel away — both verdict branches exercised at every SF.
KCORE_ROUNDS = 6  # fixed unroll depth shared with the DuckDB twin; the
# peel reaches its fixpoint in <= 3 rounds at every shipped SF
# (measured: 2 at sf0.01, 3 at sf0.1) and extra rounds are exact
# no-ops, so Spark's early-exit and the oracle's full unroll agree.


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the undirected link graph — the graph
    pre-filter crawl/spam pipelines run before centrality: iteratively
    peel every node whose (remaining) degree is < k until the k-core
    fixpoint; link-farm tendrils and orphan chains peel away in the
    first rounds, the densely linked core survives. Batagelj-Zaversnik
    peel expressed as bounded dataframe rounds.

    Output per node: peel_round (1-based round that removed it; 0 for
    core survivors), deg_at_peel (degree when flagged, which is the
    node's REMAINING degree at that round — for survivors the final
    in-core degree, >= k by the fixpoint), in_core.

    Determinism: pure integer degree counting — no scores, no floats;
    the DuckDB twin unrolls the same KCORE_ROUNDS peels as chained
    CTEs and matches exactly. Spark exits the loop early at the
    fixpoint (one scalar count per round crosses to the driver); the
    skipped rounds are no-ops by definition, so the fixed-depth twin
    is value-identical.

    Scale shape: each round is ONE map-side-combined degree aggregate
    over the remaining edges plus two anti-joins keyed on the peeled
    set — no corpus-sized state beyond the edge table itself, and the
    edge table only SHRINKS. Rounds are localCheckpoint-ed: the edge
    frame feeds three consumers per round (degree count twice through
    the union, two anti-joins), the dedup_connected_components
    multi-consumer lineage rule, not the pagerank single-consumer one.
    At 10^12 edges the peel depth grows slowly (web-graph shells are
    shallow); full coreness (all k at once) graduates to the
    bin-by-degree delta-peel, noted here, same per-round plan.

    Reference parity: the reference has no graph stage (single-document
    microservice, src/api/app/services/extraction_service.py); this
    extends the repo's link-graph family (components, PageRank, SALSA,
    triangles) with the subgraph-density filter, over the same pinned
    edge machinery (_graph_pins).
    """
    _, e_src = _graph_pins(spark, sf_dir)
    und = (
        e_src.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        und.select(F.col("a").alias("doc_id"))
        .union(und.select(F.col("b").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    alive = nodes
    removed: DataFrame | None = None
    for r in range(1, KCORE_ROUNDS + 1):
        deg = _kcore_degrees(alive, und)
        bad = deg.filter(F.col("deg") < KCORE_K).localCheckpoint()
        if bad.count() == 0:
            break  # fixpoint — the twin's remaining unrolled rounds no-op
        rem_r = bad.select(
            "doc_id",
            F.lit(r).cast("long").alias("peel_round"),
            F.col("deg").cast("long").alias("deg_at_peel"),
            F.lit(False).alias("in_core"),
        )
        removed = rem_r if removed is None else removed.union(rem_r)
        bad_ids = bad.select("doc_id")
        alive = alive.join(bad_ids, "doc_id", "left_anti").localCheckpoint()
        und = (
            und.join(
                bad_ids.withColumnRenamed("doc_id", "a"), "a", "left_anti"
            )
            .join(bad_ids.withColumnRenamed("doc_id", "b"), "b", "left_anti")
            .localCheckpoint()
        )
    else:
        # every round peeled: unless the graph is now at its fixpoint,
        # returning would silently truncate the peel (and diverge from
        # the fixed-depth twin, which stops at the same depth)
        if _kcore_degrees(alive, und).filter(F.col("deg") < KCORE_K).count():
            raise RuntimeError(
                f"k-core peel did not converge within {KCORE_ROUNDS} rounds"
            )
    core = _kcore_degrees(alive, und).select(
        "doc_id",
        F.lit(0).cast("long").alias("peel_round"),
        F.col("deg").cast("long").alias("deg_at_peel"),
        F.lit(True).alias("in_core"),
    )
    return core if removed is None else core.unionByName(removed)


def _kcore_degrees(alive: DataFrame, und: DataFrame) -> DataFrame:
    """(doc_id, deg): each alive node's degree in the remaining
    undirected edge set, 0 for nodes with no edge left."""
    dege = (
        und.select(F.col("a").alias("doc_id"))
        .union(und.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return alive.join(dege, "doc_id", "left").select(
        "doc_id", F.coalesce("deg", F.lit(0)).alias("deg")
    )


def _kcore_oracle() -> str:
    """Fixed-depth unroll of the same peel. Every per-round CTE is AS
    MATERIALIZED: each round references the previous round's frames
    more than once, and DuckDB's default CTE inlining re-expands the
    whole chain per reference — the SQL twin of the 3^k logical-plan
    nesting the Spark side localCheckpoints away (first attempt blew
    the process fd limit re-opening the parquet scan exponentially)."""
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    parts = [
        f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    u0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges0
    ),
    a0 AS MATERIALIZED (
        SELECT DISTINCT doc_id FROM (
            SELECT a AS doc_id FROM u0 UNION ALL SELECT b AS doc_id FROM u0
        )
    )"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        parts.append(
            f""",
    de{r} AS MATERIALIZED (
        SELECT doc_id, count(*) AS deg FROM (
            SELECT a AS doc_id FROM u{p}
            UNION ALL SELECT b AS doc_id FROM u{p}
        ) GROUP BY doc_id
    ),
    dg{r} AS MATERIALIZED (
        SELECT a{p}.doc_id, coalesce(de{r}.deg, 0) AS deg
        FROM a{p} LEFT JOIN de{r} USING (doc_id)
    ),
    bad{r} AS MATERIALIZED (SELECT doc_id, deg FROM dg{r} WHERE deg < {KCORE_K}),
    a{r} AS MATERIALIZED (
        SELECT doc_id FROM a{p}
        WHERE doc_id NOT IN (SELECT doc_id FROM bad{r})
    ),
    u{r} AS MATERIALIZED (
        SELECT a, b FROM u{p}
        WHERE a NOT IN (SELECT doc_id FROM bad{r})
          AND b NOT IN (SELECT doc_id FROM bad{r})
    )"""
        )
    R = KCORE_ROUNDS
    removed_union = "\n    UNION ALL ".join(
        f"SELECT doc_id, CAST({r} AS BIGINT) AS peel_round,"
        f" CAST(deg AS BIGINT) AS deg_at_peel, FALSE AS in_core"
        f" FROM bad{r}"
        for r in range(1, R + 1)
    )
    parts.append(
        f""",
    degf AS MATERIALIZED (
        SELECT doc_id, count(*) AS deg FROM (
            SELECT a AS doc_id FROM u{R}
            UNION ALL SELECT b AS doc_id FROM u{R}
        ) GROUP BY doc_id
    ),
    core AS (
        SELECT a{R}.doc_id, CAST(0 AS BIGINT) AS peel_round,
               CAST(coalesce(degf.deg, 0) AS BIGINT) AS deg_at_peel,
               TRUE AS in_core
        FROM a{R} LEFT JOIN degf USING (doc_id)
    )
    SELECT * FROM core
    UNION ALL {removed_union}"""
    )
    return "".join(parts)


KCORE_ORACLE_SQL = _kcore_oracle()


# --- degree assortativity (Newman mixing coefficient) --------------------


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected link graph — Newman's
    mixing coefficient (Pearson correlation of endpoint degrees over
    edges; PRL 89, 208701): the web measures slightly DISASSORTATIVE
    (hubs link to leaves, r ≈ −0.05 in classic crawls), and a crawl
    whose r drifts positive is community-captured or link-farmed. The
    fixture graph measures r ≈ −0.10..−0.17 across SFs — genuine
    hub-leaf structure, both verdict signs reachable by construction.

    Exactness: with BOTH orientations of every undirected edge counted
    (the symmetric form), Σx = Σy and Σx² = Σy², so Newman's
    sqrt-denominator collapses and r is RATIONAL:

        r = (2M·Σxy − (Σx)²) / (2M·Σx² − (Σx)²)

    — no libm, no float sums; the single float-free output is
    r_e6 = sign · (10^6·|num|) DIV den (truncating division on
    non-negative operands, the graph_degree_powerlaw sign-split). The
    symmetric sums fold in ONE pass over the single-orientation edge
    list (Σx = Σ(da+db), Σxy = 2Σ(da·db), Σx² = Σ(da²+db²)) — no
    orientation union materializes. At fixture scale every product
    stays far inside int64 (|num| ≈ 2·10^10 at sf0.1; 10^6·|num| ≈
    2·10^16). The products 2M·Σxx and 10^6·|num| grow like E²·deg², so
    extrapolating sf0.1 (~1.5·10^4 edges) they pass int64 somewhere
    around 10^6–10^7 edges; before that scale the sums must graduate to
    DECIMAL(38,0), same note as the k-means centroid sums.

    Scale shape: degree aggregate (map-side combined) + one edge⋈deg
    join per endpoint + a constant-state global sum. Nothing after the
    degree count is edge-sized except the two hash joins that attach
    endpoint degrees — co-partitioned on the pinned edge table's key.

    Reference parity: no graph stage in the reference; completes the
    link-graph diagnostic family (powerlaw exponent = the degree
    DISTRIBUTION, assortativity = the degree CORRELATION).
    """
    _, e = _graph_pins(spark, sf_dir)
    und = (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("doc_id"))
        .union(und.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    joined = (
        und.join(
            deg.select(F.col("doc_id").alias("a"), F.col("d").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("doc_id").alias("b"), F.col("d").alias("db")),
            "b",
        )
    )
    s = joined.agg(
        (F.count(F.lit(1)) * 2).cast("long").alias("m2"),
        F.sum(F.col("da") + F.col("db")).cast("long").alias("sx"),
        (F.sum(F.col("da") * F.col("db")) * 2).cast("long").alias("sxy"),
        F.sum(F.col("da") * F.col("da") + F.col("db") * F.col("db"))
        .cast("long")
        .alias("sxx"),
    )
    num = F.col("m2") * F.col("sxy") - F.col("sx") * F.col("sx")
    q = F.expr(
        "CAST((1000000 * abs(m2 * sxy - sx * sx))"
        " DIV (m2 * sxx - sx * sx) AS BIGINT)"
    )
    return s.select(
        (F.col("m2") / 2).cast("long").alias("n_edges"),
        "sx",
        "sxy",
        "sxx",
        F.when(num < 0, -q).otherwise(q).cast("long").alias("r_e6"),
    )


def _assortativity_oracle() -> str:
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    return f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    und AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges0
    ),
    deg AS MATERIALIZED (
        SELECT doc_id, count(*) AS d FROM (
            SELECT a AS doc_id FROM und UNION ALL SELECT b AS doc_id FROM und
        ) GROUP BY doc_id
    ),
    joined AS (
        SELECT da.d AS da, db.d AS db
        FROM und
        JOIN deg da ON da.doc_id = und.a
        JOIN deg db ON db.doc_id = und.b
    ),
    s AS (
        SELECT CAST(2 * count(*) AS BIGINT) AS m2,
               CAST(sum(da + db) AS BIGINT) AS sx,
               CAST(2 * sum(da * db) AS BIGINT) AS sxy,
               CAST(sum(da * da + db * db) AS BIGINT) AS sxx
        FROM joined
    )
    SELECT CAST(m2 / 2 AS BIGINT) AS n_edges, sx, sxy, sxx,
           CAST(CASE WHEN m2 * sxy - sx * sx < 0
                THEN -((1000000 * abs(m2 * sxy - sx * sx))
                       // (m2 * sxx - sx * sx))
                ELSE ((1000000 * abs(m2 * sxy - sx * sx))
                      // (m2 * sxx - sx * sx)) END AS BIGINT) AS r_e6
    FROM s
"""


ASSORTATIVITY_ORACLE_SQL = _assortativity_oracle()


# --- host-level graph rollup --------------------------------------------


def graph_host_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph compression — the rollup every crawl pipeline runs
    before host-level analysis (host PageRank, politeness budgeting,
    spam-neighborhood detection): collapse the document link graph to
    a (src_host, dst_host) edge list with link weights and distinct
    linking-document counts. 10^12 document edges become ~10^6 host
    edges — the compression step that makes host-level centrality a
    laptop-sized problem — and the host attribute here is the
    documents table's `source` (the corpus' host-ish provenance key).

    Scale shape: two co-partitioned hash joins attach the host
    attribute to each edge endpoint (doc_id-keyed, riding the pinned
    node table's partitioning), then ONE map-side-combined aggregate
    collapses to |hosts|² at most. countDistinct(src) inside that
    aggregate is exact per host pair — at 10^12 edges it graduates to
    a two-level (pair, src) pre-aggregate, same result, noted here.

    Reference parity: no graph stage in the reference; this is the
    links.py crawl family's bridge into graph.py (schedule_waves keys
    politeness on exactly this host attribute).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    _, e = _graph_pins(spark, sf_dir)
    hosted = (
        e.select("src", "dst")
        .join(
            docs.select(
                F.col("doc_id").alias("src"), F.col("source").alias("src_host")
            ),
            "src",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("dst"), F.col("source").alias("dst_host")
            ),
            "dst",
        )
    )
    return (
        hosted.groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_links"),
            F.countDistinct("src").cast("long").alias("n_src_docs"),
        )
        .select(
            "src_host",
            "dst_host",
            "n_links",
            "n_src_docs",
            (F.col("src_host") == F.col("dst_host")).alias("self_loop"),
        )
    )


def _host_edges_oracle() -> str:
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    return f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    edges0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    hosted AS (
        SELECT ds.source AS src_host, dd.source AS dst_host, e.src
        FROM edges0 e
        JOIN documents ds ON ds.doc_id = e.src
        JOIN documents dd ON dd.doc_id = e.dst
    )
    SELECT src_host, dst_host,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT src) AS BIGINT) AS n_src_docs,
           src_host = dst_host AS self_loop
    FROM hosted GROUP BY 1, 2
"""


HOST_EDGES_ORACLE_SQL = _host_edges_oracle()


# --- personalized PageRank (seed-set expansion) --------------------------

PPR_SEED_MOD = 97  # doc_id % 97 == 0 marks the seed set (~1% of nodes:
# 6 seeds at sf0.01, 52 at sf0.1) — sparse enough that personalized
# mass visibly concentrates near seeds instead of re-deriving global
# PageRank, dense enough that every SF has several seeds.


def graph_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a seed set — the seed-expansion
    primitive of topic-focused crawling (Haveliwala's topic-sensitive
    PageRank, WWW'02) and local community detection (Andersen-Chung-
    Lang): identical power iteration to pagerank_link_graph except the
    teleport mass returns ONLY to the seeds, so rank concentrates in
    the seeds' neighborhoods and ranks the frontier by topical
    proximity instead of global importance.

    Integer-exact like its global sibling: seed teleport is
    (15·PPR_UNIT) DIV 100 per seed per round, contributions are
    (rnk·85) DIV (100·outdeg), all sums order-independent BIGINTs; the
    twin unrolls the same iterations. The seed indicator is an
    arithmetic predicate (doc_id % PPR_SEED_MOD == 0) — no seed-table
    join, the teleport term is a codegen expression.

    Scale shape: the pagerank r5 lazy-lineage shape verbatim — pinned
    edges never move, ranks feed exactly ONE join per round (linear
    lineage, no checkpoint), the per-round docs join carries the
    seed-teleport term (load-bearing for seeds; non-seeds keep their
    aggregate row or a 0-fill). Non-seed nodes with zero in-mass stay
    at exact 0 and cost nothing semantically — at a real 10^12-edge
    graph a production PPR prunes zero-rank rows per round (push-style
    ACL forward-push); noted, same per-round plan.

    Reference parity: no graph stage in the reference; completes the
    centrality family (global PageRank -> personalized) on the same
    pinned edge machinery.
    """
    docs, e = _graph_pins(spark, sf_dir)
    seed = (F.col("doc_id") % PPR_SEED_MOD == 0).cast("long")
    ranks = docs.select(
        "doc_id", (seed * F.lit(PR_UNIT)).cast("long").alias("rnk")
    )
    for _ in range(PR_ITERS):
        contrib = (
            e.join(ranks.select(F.col("doc_id").alias("src"), "rnk"), "src")
            .select(
                "dst",
                F.expr("CAST((rnk * 85) DIV (100 * outdeg) AS BIGINT)").alias(
                    "c"
                ),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("c"))
        )
        ranks = docs.join(
            contrib.withColumnRenamed("dst", "doc_id"), "doc_id", "left"
        ).select(
            "doc_id",
            (seed * F.lit(PR_BASE) + F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("rnk"),
        )
    return ranks.select(
        "doc_id",
        "rnk",
        (F.col("doc_id") % PPR_SEED_MOD == 0).alias("is_seed"),
    )


def _ppr_oracle() -> str:
    fanout_values = ", ".join(f"({j})" for j in range(1, PR_FANOUT + 1))
    parts = [
        f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    nodes AS (SELECT doc_id FROM documents),
    edges0 AS MATERIALIZED (
        SELECT DISTINCT doc_id AS src,
               (doc_id * doc_id + j * 31 + 7) % n.n AS dst
        FROM documents CROSS JOIN n
        CROSS JOIN (VALUES {fanout_values}) AS t(j)
        WHERE (doc_id * doc_id + j * 31 + 7) % n.n <> doc_id
    ),
    outdeg AS (SELECT src, count(*) AS outdeg FROM edges0 GROUP BY src),
    e AS MATERIALIZED (
        SELECT src, dst, outdeg FROM edges0 JOIN outdeg USING (src)
    ),
    p0 AS (
        SELECT doc_id,
               CAST(CASE WHEN doc_id % {PPR_SEED_MOD} = 0
                    THEN {PR_UNIT} ELSE 0 END AS BIGINT) AS rnk
        FROM nodes
    )"""
    ]
    for k in range(1, PR_ITERS + 1):
        parts.append(
            f""",
    pc{k} AS MATERIALIZED (
        SELECT e.dst AS doc_id,
               CAST(sum((r.rnk * 85) // (100 * e.outdeg)) AS BIGINT) AS c
        FROM e JOIN p{k - 1} r ON r.doc_id = e.src
        GROUP BY e.dst
    ),
    p{k} AS MATERIALIZED (
        SELECT nodes.doc_id,
               CAST(CASE WHEN nodes.doc_id % {PPR_SEED_MOD} = 0
                    THEN {PR_BASE} ELSE 0 END
                    + coalesce(pc{k}.c, 0) AS BIGINT) AS rnk
        FROM nodes LEFT JOIN pc{k} USING (doc_id)
    )"""
        )
    parts.append(
        f"""
    SELECT doc_id, rnk,
           doc_id % {PPR_SEED_MOD} = 0 AS is_seed
    FROM p{PR_ITERS}"""
    )
    return "".join(parts)


PPR_ORACLE_SQL = _ppr_oracle()
