"""Graph analytics over relations: exact fixed-point PageRank, triangle
counting, degree distribution.

The graphs are DERIVED from the warehouse — customers and suppliers are
nodes, co-occurrence in an order's lineitems is a (weighted, symmetric)
edge — so the operators are self-contained and oracle-checkable like every
other query. The dedup pair graph (operators/components.py) handles
connectivity; this adds centrality, local clustering (triangles), and the
degree histogram, the other classic distributed graph workloads.

Determinism across engines is the whole design: ranks live on a 1e12
fixed-point integer grid, every transfer is integer arithmetic
(p·w DIV W, 85·x DIV 100), so summation order cannot perturb a single
bit and the chained-CTE DuckDB oracle reproduces the iterations exactly
— same approach as ss_kmeans.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table, session_artifact
from ..queries.registry import register
from ..session import ensure_analytics_conf

PR_SCALE = 1_000_000_000_000  # 1e12 fixed-point rank grid
PR_ROUNDS = 3
PR_TOP = 20

# The rank family (gr_pagerank, gr_pagerank_convergence,
# gr_personalized_pagerank, gr_katz_centrality) walks one graph,
# ``_bipartite_edges``, in one of two ways (``_rank_walk``):
# - below PR_CSR_MAX_BYTES of CSR (8 bytes per node id and indptr slot,
#   24 per edge: src position, w, outw) the graph is collected ONCE per
#   session and per content of orders + lineitem into a driver-side CSR,
#   and every round runs on the driver (``_csr_walk``); 128 MB is also
#   the NSW vector broadcast's cap;
# - above it each round is one ``_rank_round`` join (the 100 TB path).
# PR_BCAST_MAX_NODES may only lower the cap: above that many nodes the
# CSR is not built. It also decides the join loop's rank-side broadcast
# (a 16-byte (node, p) row → ~160 MB of broadcast at the default):
# without the explicit hint the post-checkpoint rank scan has no size
# stats, so every round paid a SortMergeJoin exchange+sort of the FULL
# edge relation (measured at sf0.1: 986k edge rows re-shuffled per round;
# 3 rounds 2.10 s → 0.94 s with the hint, identical integer ranks).
# Env-overridable so a cluster deployment can tune it to executor memory.
import os as _os

PR_CSR_MAX_BYTES = 128 << 20
# The other driver-side working set: dedup._minhash_relation signs a batch
# on the driver when its parquet footers hold at most DOCS_PER_TASK rows
# and less than this many uncompressed bytes.
MINHASH_DRIVER_MAX_BYTES = 16 << 20
PR_BCAST_MAX_NODES = int(
    _os.environ.get("SPARK_GRAFT_PR_BCAST_MAX_NODES", str(10_000_000))
)


def _bipartite_ctes() -> list[str]:
    """DuckDB twin of ``_bipartite_edges``: ``raw`` (customer 2c →
    supplier 2s+1, w orders), ``e`` (raw symmetrized) and ``deg`` (src,
    weighted degree W) — the graph PageRank, personalized PageRank and
    Katz walk."""
    return [
        """raw AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst, COUNT(*) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_custkey * 2, l_suppkey * 2 + 1
    )""",
        """e AS (
        SELECT src, dst, w FROM raw
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM raw
    )""",
        "deg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS W FROM e GROUP BY src)",
    ]


def _pr_ctes() -> list[str]:
    """The p0..p{PR_ROUNDS} chained-CTE PageRank replay — composable so
    gr_pagerank_convergence can difference consecutive rounds."""
    base = f"(3 * {PR_SCALE} // 20) // nn.n"  # floor(0.15 * SCALE) / n
    ctes = _bipartite_ctes() + [
        "nn AS (SELECT COUNT(*) AS n FROM deg)",
        f"p0 AS (SELECT src AS node, {PR_SCALE} // nn.n AS p FROM deg, nn)",
    ]
    for k in range(PR_ROUNDS):
        ctes.append(
            f"""p{k + 1} AS (
        SELECT e.dst AS node,
               CAST({base}
                    + (85 * SUM((p{k}.p * e.w) // deg.W)) // 100 AS BIGINT) AS p
        FROM e
        JOIN p{k} ON p{k}.node = e.src
        JOIN deg ON deg.src = e.src, nn
        GROUP BY e.dst, nn.n
    )"""
        )
    return ctes


def _pr_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_pr_ctes())
        + f"""
    SELECT node, p FROM p{PR_ROUNDS}
    ORDER BY p DESC, node LIMIT {PR_TOP}
    """
    )


@register(
    "gr_pagerank",
    oracle=_pr_oracle(),
    tags=("graph", "pagerank", "iterative"),
)
def gr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 rounds) on the symmetric
    customer↔supplier co-purchase graph; returns the top-20 nodes.

    Plan shape: one ``_rank_walk``. Below the CSR cap (PR_CSR_MAX_BYTES)
    the edge list is built and collected once per session and per
    content of orders + lineitem, and all rounds run on the driver over
    its CSR; a warm call is one job (TakeOrderedAndProject over the
    walk's ranks, with no Python worker). Above the cap (100
    TB) it is the canonical distributed PageRank: the edge list (with
    out-degree attached) is built and materialized once per call (a
    cluster job would persist and co-partition edges and ranks by src so
    each round's join is shuffle-free on the edge side), each round is
    one equi-join (ranks are |V|-sized, edges |E|-sized) plus one
    map-side-combined aggregation by dst, and ranks are re-checkpointed
    per round to truncate lineage — rank state never leaves the cluster.

    Symmetrized edges mean no dangling nodes, so no mass-redistribution
    term is needed and the integer mass argument stays simple:
    p ≤ SCALE, w ≤ W ⇒ every product stays far below 2⁶³.
    """
    return (
        _rank_walk(spark, sf_dir, _pagerank_walk)
        .select(F.col("src").alias("node"), "p")
        .orderBy(F.desc("p"), F.asc("node"))
        .limit(PR_TOP)
    )


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric customer↔supplier co-purchase edge relation
    ``(src, dst, w, outw)`` with weighted degree attached, lazily
    checkpointed — the one build behind gr_pagerank,
    gr_pagerank_convergence, gr_personalized_pagerank and
    gr_katz_centrality (the oracle-side twin is ``_bipartite_ctes()``)."""
    ensure_analytics_conf(spark)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # No materialization barrier here: both union branches project the
    # IDENTICAL aggregate subplan, so ReuseExchange computes the groupBy
    # shuffle once (verified — an eager checkpoint measured slower). The
    # SCALE.md signature-reuse rule applies when consumer projections
    # differ; here they do not.
    raw = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    rev = raw.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
    )
    e = raw.unionByName(rev)
    deg = e.groupBy("src").agg(F.sum("w").cast("long").alias("outw"))
    return e.join(deg, "src").localCheckpoint(eager=False)


def _uniform_ranks(edges: DataFrame, p: int) -> DataFrame:
    """Rank ``p`` on every node of ``edges``: the (src, p) start of the
    global rank iterations."""
    return (
        edges.select("src")
        .distinct()
        .select("src", F.lit(p).cast("long").alias("p"))
    )


def _rank_round(
    edges: DataFrame, ranks: DataFrame, agg: str, n_nodes: int | None = None
) -> DataFrame:
    """One rank-propagation round of the join loop, the step PageRank,
    personalized PageRank and Katz share above the CSR cap: ``edges``
    (src, dst, w, outw) ⋈ ``ranks`` (src, p) on src, grouped by dst, with
    ``agg`` as the one integer aggregate (SQL over ``E.w``, ``E.outw``
    and ``P.p``; ``_Walk.agg``). Returns the next (src, p), not
    checkpointed: each caller picks its eagerness.

    The rank side is broadcast when ``n_nodes`` (|V|) is at most
    PR_BCAST_MAX_NODES; None marks a seed-frontier rank side (PPR), which
    is broadcast without a count. Integer sums are
    join-strategy-independent, so ranks are bit-identical either way.
    """
    # Qualified aliases keep the self-referential join resolvable, and
    # the out-degree column is 'outw' rather than the conventional 'W'
    # because Spark SQL name resolution is case-INSENSITIVE: `E.w`
    # would match both the edge weight and the degree column.
    r = ranks.select(F.col("src").alias("node"), "p").alias("P")
    if n_nodes is None or n_nodes <= PR_BCAST_MAX_NODES:
        r = F.broadcast(r)
    return (
        edges.alias("E")
        .join(r, F.col("E.src") == F.col("P.node"))
        .groupBy(F.col("E.dst").alias("nxt"))
        .agg(F.expr(agg).cast("long").alias("p"))
        .select(F.col("nxt").alias("src"), "p")
    )


class _Walk(NamedTuple):
    """One rank walk, as both paths replay it. Every node of ``seeds``
    (every graph node when None) starts at rank ``p0``. Each round, a
    node's next rank is ``add + (mul · Σ t) DIV div`` over its incoming
    edges, with t = (p·w) DIV outw when ``norm`` and p·w otherwise, plus
    ``teleport`` on each seed. A node that receives no mass leaves the
    rank relation (the join loop's GROUP BY dst) unless it is a seed;
    "receives" means an edge from a ranked node, even one that moves 0.
    ``bound`` is at least every rank of every round (the query's mass
    or geometric-series argument)."""

    rounds: int
    p0: int
    norm: bool
    mul: int
    div: int
    add: int
    bound: int
    seeds: tuple[int, ...] | None = None
    teleport: int = 0

    @property
    def agg(self) -> str:
        """The round as a ``_rank_round`` aggregate."""
        t = "(P.p * E.w) DIV E.outw" if self.norm else "P.p * E.w"
        s = f"SUM({t})" if self.mul == 1 else f"({self.mul} * SUM({t}))"
        s = f"{s} DIV {self.div}"
        return f"{self.add} + {s}" if self.add else s

    def fits(self, max_outw: int) -> bool:
        """Every int64 the CSR kernel computes stays below 2⁶³: a product
        p·w and a per-dst sum are at most bound·max_outw (on the
        symmetric graph a node's in-weight is its out-weight). Where
        this fails the join loop runs, so an overflow raises there
        exactly as it always has."""
        top = self.mul * self.bound * max_outw + self.add + self.teleport
        return top < 2**63


def _pagerank_walk(g: _RankGraph) -> _Walk:
    """Global PageRank: uniform start, teleport share floor(0.15·SCALE)/n
    added inside the aggregate. Ranks stay ≤ PR_SCALE: a round moves at
    most 85% of the mass (each src splits p over its out-weight, every
    DIV truncates) and adds at most 15%."""
    share = max(g.n_nodes, 1)  # an empty graph has no rank rows
    return _Walk(
        rounds=PR_ROUNDS,
        p0=PR_SCALE // share,
        norm=True,
        mul=85,
        div=100,
        add=(3 * PR_SCALE // 20) // share,
        bound=PR_SCALE,
    )


class _RankGraph(NamedTuple):
    """The gate statistics of ``_bipartite_edges`` and, within the cap,
    its CSR ``(ids, indptr, src, w, outw)`` as driver-side numpy arrays:
    node ids sorted, then the edges grouped by dst position, src as a
    position in ids."""

    n_nodes: int
    max_outw: int
    nbytes: int
    csr: tuple | None

    def within_cap(self) -> bool:
        return (
            self.nbytes <= PR_CSR_MAX_BYTES and self.n_nodes <= PR_BCAST_MAX_NODES
        )


def _rank_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[_RankGraph, DataFrame | None]:
    """The session's ``_RankGraph`` for the current orders + lineitem,
    plus the checkpointed edges when this call built it (None when it
    was cached).

    One aggregate job over the checkpointed edges gives |E|, |V| and the
    largest weighted degree. Within the cap a second job collects the
    edges for the CSR, which stays on the driver (no broadcast: the walk
    runs there); above it no CSR is kept and each call's join loop
    builds its own edges."""
    built = []

    def build() -> _RankGraph:
        import numpy as np

        from .csr import csr

        edges = _bipartite_edges(spark, sf_dir)
        built.append(edges)
        n_edges, n_nodes, max_outw = edges.agg(
            F.count("*"), F.countDistinct("src"), F.max("outw")
        ).collect()[0]
        nbytes = 8 * (3 * n_edges + 2 * n_nodes + 1)
        g = _RankGraph(n_nodes, max_outw or 0, nbytes, None)
        if not g.within_cap():
            return g
        e = edges.toPandas()
        src, dst, w, outw = (
            e[c].to_numpy(dtype="int64") for c in ("src", "dst", "w", "outw")
        )
        # symmetric edges: every dst is a src, so ids covers both ends
        ids = np.unique(src)
        arrays = csr(
            np.searchsorted(ids, dst), len(ids), np.searchsorted(ids, src), w, outw
        )
        return g._replace(csr=(ids, *arrays))

    g = session_artifact(spark, sf_dir, ("orders", "lineitem"), "rank_csr", build)
    return g, (built[0] if built else None)


def _csr_walk(csr: tuple, walk: _Walk, keep_prev: bool):
    """Every round of ``walk`` over the CSR of ``_RankGraph``, on the join
    loop's int64 grid: per-dst sums are ``np.add.reduceat`` over the
    dst-grouped edges (exact integers — never a float64 bincount), and
    ``_Walk.fits`` has proven that nothing overflows. Returns the Arrow
    table (src, p) of the last round, with ``prev`` (the round before) on
    the nodes ranked in both when ``keep_prev``."""
    import numpy as np
    import pyarrow as pa

    ids, indptr, src, w, outw = csr
    seeds = np.array(walk.seeds or (), dtype="int64")
    # seeds outside the graph hold rank too; `at` maps graph positions
    # into the node list
    nodes = np.union1d(ids, seeds)
    at = np.searchsorted(nodes, ids)
    src_at = at[src]
    rows = np.flatnonzero(np.diff(indptr))  # dsts with incoming edges
    starts, dst_at = indptr[rows], at[rows]
    seed_at = np.searchsorted(nodes, seeds)
    p = np.zeros(len(nodes), dtype="int64")
    live = np.zeros(len(nodes), dtype=bool)
    first = at if walk.seeds is None else seed_at
    p[first], live[first] = walk.p0, True
    prev, prev_live = p, live
    for _ in range(walk.rounds):
        prev, prev_live = p, live
        t = p[src_at] * w  # p is 0 off the rank relation
        if walk.norm:
            t //= outw
        s = np.add.reduceat(t, starts)
        hit = np.logical_or.reduceat(live[src_at], starts)
        p = np.zeros_like(prev)
        live = np.zeros_like(prev_live)
        p[dst_at[hit]] = walk.add + walk.mul * s[hit] // walk.div
        live[dst_at[hit]] = True
        p[seed_at] += walk.teleport
        live[seed_at] = True
    out = live & prev_live if keep_prev else live
    rank = {"src": nodes[out], "p": p[out]}
    if keep_prev:
        rank["prev"] = prev[out]
    return pa.table(rank)


def _rank_walk(
    spark: SparkSession,
    sf_dir: str,
    walk_for: Callable[[_RankGraph], _Walk],
    keep_prev: bool = False,
) -> DataFrame:
    """(src, p) after the last round of ``walk_for(graph)`` on
    ``_bipartite_edges`` — plus ``prev``, the rank one round earlier, on
    the nodes ranked in both when ``keep_prev`` — the one driver of
    gr_pagerank, gr_pagerank_convergence, gr_personalized_pagerank and
    gr_katz_centrality.

    Within the cap (and where ``_Walk.fits``) every round runs on the
    driver over the session's CSR, and the ranks enter Spark as an
    Arrow-backed relation (no Python worker: a Python task costs a few
    tenths of a CPU second however little it does, SCALE.md); a cap
    lowered after the build takes effect at once. Otherwise each round
    is one ``_rank_round`` over this call's checkpointed edges. Both
    paths give identical rows."""
    g, edges = _rank_graph(spark, sf_dir)
    walk = walk_for(g)
    if g.csr is not None and g.within_cap() and walk.fits(g.max_outw):
        schema = "src long, p long" + (", prev long" if keep_prev else "")
        return spark.createDataFrame(_csr_walk(g.csr, walk, keep_prev), schema)

    if edges is None:
        edges = _bipartite_edges(spark, sf_dir)
    if walk.seeds is None:
        ranks, n_nodes = _uniform_ranks(edges, walk.p0), g.n_nodes
    else:
        # PPR: the rank side starts seed-sized and grows only along the
        # reachable frontier, so it is broadcast without a count
        seeds = spark.createDataFrame([(s,) for s in walk.seeds], "src long")
        ranks = seeds.select("src", F.lit(walk.p0).cast("long").alias("p"))
        teleport = seeds.select("src", F.lit(walk.teleport).cast("long").alias("p"))
        n_nodes = None
    prev = ranks
    for k in range(walk.rounds):
        prev = ranks
        ranks = _rank_round(edges, ranks, walk.agg, n_nodes)
        if walk.seeds is not None:
            ranks = (
                ranks.unionByName(teleport)
                .groupBy("src")
                .agg(F.sum("p").cast("long").alias("p"))
            )
        # Lazy for the global walks: fixed rounds, no driver read in the
        # loop, so the caller's one action materializes every round in
        # dependency order (lineage still truncated). PPR's rounds that
        # feed the NEXT round's broadcast are EAGER: the all-lazy variant
        # (build the broadcast by computing the un-materialized round
        # inside the exchange) measured +47% isolated at sf0.1; its last
        # round feeds only the final action, so it fuses into it.
        eager = walk.seeds is not None and k < walk.rounds - 1
        ranks = ranks.localCheckpoint(eager=eager)
    if keep_prev:
        return ranks.join(prev.withColumnRenamed("p", "prev"), "src")
    return ranks


TRI_TOP = 20
# One order-month of co-service: the synthetic full-history co-occurrence
# graph is ~91% dense at sf0.1 (every supplier eventually co-serves every
# other), where triangle counting degenerates to ~n³ regardless of
# algorithm. A time-windowed subgraph is both the analytical question a
# user would actually ask ("which suppliers cluster together THIS month")
# and a 3%-density graph where the orientation bound does real work.
TRI_MONTH_LO = "1995-01-01"
TRI_MONTH_HI = "1995-02-01"


def _coservice_ctes() -> list[str]:
    """DuckDB twin of ``_coservice_pairs``: ``os`` (January order,
    supplier), ``p`` (pairs x < y with w shared orders) and ``edges`` (p
    symmetrized)."""
    return [
        f"""os AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderdate >= TIMESTAMP '{TRI_MONTH_LO}'
          AND o_orderdate <  TIMESTAMP '{TRI_MONTH_HI}'
    )""",
        """p AS (
        SELECT a.s AS x, b.s AS y, COUNT(*) AS w
        FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
        GROUP BY a.s, b.s
    )""",
        "edges AS (SELECT x, y, w FROM p UNION ALL SELECT y, x, w FROM p)",
    ]


def _tri_ctes(upto: str = "pn") -> list[str]:
    """DuckDB twin of ``_tri_relations``, the CTE chain from ``os``
    through ``upto``: co-service edges → degrees → oriented edges →
    triangles → per-node triangle counts."""
    ctes = [
        _coservice_ctes()[0],
        """e AS (
        SELECT DISTINCT a.s AS x, b.s AS y
        FROM os a JOIN os b ON a.ok = b.ok AND a.s < b.s
    )""",
        "sym AS (SELECT x, y FROM e UNION ALL SELECT y AS x, x AS y FROM e)",
        "deg AS (SELECT x AS node, COUNT(*) AS d FROM sym GROUP BY x)",
        """oe AS (
        SELECT CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.x ELSE e.y END AS u,
               CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.y ELSE e.x END AS v,
               CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN dy.d ELSE dx.d END AS dv
        FROM e
        JOIN deg dx ON dx.node = e.x
        JOIN deg dy ON dy.node = e.y
    )""",
        """tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM oe e1
        JOIN oe e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
        JOIN oe e3 ON e3.u = e1.v AND e3.v = e2.v
    )""",
        """pn AS (
        SELECT node, COUNT(*) AS tri_cnt FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )""",
    ]
    names = [c.split(" ", 1)[0] for c in ctes]
    return ctes[: names.index(upto) + 1]


def _tri_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_tri_ctes())
        + f"\n    SELECT node, tri_cnt FROM pn ORDER BY tri_cnt DESC, node LIMIT {TRI_TOP}"
    )


@register(
    "gr_triangles",
    oracle=_tri_oracle(),
    tags=("graph", "triangles"),
)
def gr_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting on the supplier co-service graph of one
    order-month (suppliers joined by serving the same January-1995
    order); returns the top-20 nodes by triangle participation.

    Plan shape (100 TB): the degree-orientation algorithm (Cohen's
    MapReduce triangle counting / Latapy's compact-forward). Every
    undirected edge is oriented from its (degree, id)-smaller endpoint
    to its larger one, which makes the orientation acyclic and counts
    each triangle exactly once as a wedge (u→v, u→w) closed by v→w.
    The orientation bounds every out-neighborhood by O(sqrt(|E|)) on
    arbitrary graphs (arboricity bound), so the wedge join — the only
    super-linear step — generates O(|E|^1.5) candidates worst-case
    instead of the naive sum of deg² blowup that a hub node causes on
    an unoriented wedge join. All three joins are hash equi-joins on
    node ids (AQE-skew-splittable); no driver state, no iteration.
    The month predicate pushes to the orders scan and prunes lineitem
    through the join — the graph is built from the filtered fact, never
    filtered after pair explosion.
    """
    tri, _ed, _deg = _tri_relations(spark, sf_dir)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
        .orderBy(F.desc("tri_cnt"), F.asc("node"))
        .limit(TRI_TOP)
    )


def _supplier_pairs(os_: DataFrame) -> DataFrame:
    """(x, y, w): supplier pairs x < y that share w orders of ``os_``
    (ok, s) — the weighted co-service edges."""
    return (
        os_.alias("a")
        .join(
            os_.alias("b"),
            (F.col("a.ok") == F.col("b.ok")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("x"), F.col("b.s").alias("y"))
        .agg(F.count("*").alias("w"))
    )


def _coservice_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-month co-service graph (x, y, w), x < y — the one build
    every January consumer projects and checkpoints from (DuckDB twin:
    ``_coservice_ctes()``)."""
    ensure_analytics_conf(spark)
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= TRI_MONTH_LO)
            & (F.col("o_orderdate") < TRI_MONTH_HI)
        )
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")
    )
    return _supplier_pairs(
        li.join(o, li["ok"] == o["o_orderkey"]).select("ok", "s").distinct()
    )


def _symmetric(df: DataFrame) -> DataFrame:
    """``df`` plus ``df`` with x and y swapped; other columns ride along."""
    rest = [c for c in df.columns if c not in ("x", "y")]
    return df.unionByName(
        df.select(F.col("y").alias("x"), F.col("x").alias("y"), *rest)
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, d): the degree of every node of the undirected pairs ``e``
    (x, y)."""
    return (
        _symmetric(e)
        .groupBy("x")
        .agg(F.count("*").alias("d"))
        .select(F.col("x").alias("node"), "d")
    )


def _tri_relations(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(triangles (a, b, c), edges with end degrees (x, y, dx, dy),
    degree (node, d)) on the one-month co-service graph — the shared core
    of gr_triangles, gr_clustering_coeff and gr_edge_jaccard; see
    gr_triangles' docstring for the orientation-bound plan argument."""
    e = _coservice_pairs(spark, sf_dir).select("x", "y")
    deg = _degrees(e)
    # ed feeds the three wedge-join sides and gr_edge_jaccard's final
    # edge list — materialize it once (SCALE.md signature-reuse rule) so
    # the edge build is not replayed per consumer branch.
    ed = (
        e.join(deg.select(F.col("node").alias("x"), F.col("d").alias("dx")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("d").alias("dy")), "y")
        .localCheckpoint(eager=False)
    )
    # Orientation by the strict total order (degree, node id). Struct
    # comparison is positional and lexicographic in Spark, matching
    # DuckDB's row-value comparison; field names are normalized so both
    # sides of `<` have an identical struct type.
    lower_first = F.struct(
        F.col("dx").alias("d"), F.col("x").alias("n")
    ) < F.struct(F.col("dy").alias("d"), F.col("y").alias("n"))
    oe = ed.select(
        F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(lower_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(lower_first, F.col("dy")).otherwise(F.col("dx")).alias("dv"),
    )
    wedge_ord = F.struct(
        F.col("e1.dv").alias("d"), F.col("e1.v").alias("n")
    ) < F.struct(F.col("e2.dv").alias("d"), F.col("e2.v").alias("n"))
    tri = (
        oe.alias("e1")
        .join(oe.alias("e2"), (F.col("e1.u") == F.col("e2.u")) & wedge_ord)
        .join(
            oe.alias("e3"),
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    return tri, ed, deg


def _deg_hist_oracle() -> str:
    full_history_os = """os AS (
        SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
    )"""
    return (
        "\n    WITH "
        + ",\n    ".join([full_history_os] + _tri_ctes("deg")[1:])
        + """
    SELECT CAST(LENGTH(BIN(d)) AS BIGINT) AS bucket,
           COUNT(*) AS n_nodes,
           MIN(d) AS min_deg,
           MAX(d) AS max_deg
    FROM deg
    GROUP BY bucket
    ORDER BY bucket
    """
    )


@register(
    "gr_degree_hist",
    oracle=_deg_hist_oracle(),
    tags=("graph", "degree"),
)
def gr_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree histogram of the supplier co-occurrence graph
    (the power-law diagnostic plot behind every skew decision).

    The bucket is the BIT LENGTH of the degree (length of its binary
    representation = floor(log2 d)+1) — pure integer arithmetic, so the
    bucket boundary can never disagree between engines the way a float
    log2 could at exact powers of two. One distinct + one groupBy after
    the edge build; the histogram itself is at most 64 rows.
    """
    ensure_analytics_conf(spark)
    os_ = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = _degrees(_supplier_pairs(os_).select("x", "y"))
    return (
        deg.groupBy(
            F.length(F.bin(F.col("d"))).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
        .orderBy("bucket")
    )


EJ_TOP = 20


def _edge_jaccard_oracle() -> str:
    return (
        "\n    WITH "
        + ",\n    ".join(_tri_ctes("tri"))
        + f""",
    common AS (
        SELECT LEAST(p, q) AS x, GREATEST(p, q) AS y, COUNT(*) AS cm
        FROM (
            SELECT a AS p, b AS q FROM tri
            UNION ALL SELECT a AS p, c AS q FROM tri
            UNION ALL SELECT b AS p, c AS q FROM tri
        ) GROUP BY LEAST(p, q), GREATEST(p, q)
    )
    SELECT e.x, e.y,
           COALESCE(common.cm, 0) AS common_neighbors,
           dx.d + dy.d - 2 - COALESCE(common.cm, 0) AS union_neighbors,
           (1000 * COALESCE(common.cm, 0))
               // (dx.d + dy.d - 2 - COALESCE(common.cm, 0)) AS jaccard_milli
    FROM e
    JOIN deg dx ON dx.node = e.x
    JOIN deg dy ON dy.node = e.y
    LEFT JOIN common ON common.x = e.x AND common.y = e.y
    WHERE dx.d + dy.d - 2 - COALESCE(common.cm, 0) > 0
    ORDER BY jaccard_milli DESC, e.x, e.y
    LIMIT {EJ_TOP}
    """
    )


@register(
    "gr_edge_jaccard",
    oracle=_edge_jaccard_oracle(),
    tags=("graph", "similarity", "triangles"),
)
def gr_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard similarity of every CONNECTED supplier pair
    (edge embeddedness) on the January-1995 co-service graph; top-20
    most-embedded pairs.

    Node-similarity over arbitrary pairs is the deg²-wedge blowup that
    kills collaborative-filtering jobs on hub nodes; restricting to
    connected pairs (the graph-sparsification / local-clustering form)
    makes common-neighbor counting exactly per-edge triangle counting,
    which the degree orientation bounds at O(|E|^1.5) total. The
    triangle enumeration is reused verbatim: each triangle contributes
    its three edges, LEAST/GREATEST canonicalization puts the count on
    the undirected edge, and Jaccard = common / (d(u)+d(v)−2−common)
    stays on an exact integer milli-grid (no float division).

    Plan shape (100 TB): the triangle pipeline (three hash equi-joins)
    plus one map-side-combined group count and a left join back to the
    edge list — no new shuffle classes beyond gr_triangles.
    """
    tri, ed, _deg = _tri_relations(spark, sf_dir)
    pairs = (
        tri.select(F.col("a").alias("p"), F.col("b").alias("q"))
        .unionByName(tri.select(F.col("a").alias("p"), F.col("c").alias("q")))
        .unionByName(tri.select(F.col("b").alias("p"), F.col("c").alias("q")))
    )
    common = (
        pairs.groupBy(
            F.least("p", "q").alias("x"), F.greatest("p", "q").alias("y")
        )
        .agg(F.count("*").alias("cm"))
    )
    cm = F.coalesce(F.col("cm"), F.lit(0)).cast("long")
    union_n = (F.col("dx") + F.col("dy") - 2 - cm).cast("long")
    return (
        ed.join(common, ["x", "y"], "left")
        .select(
            "x",
            "y",
            cm.alias("common_neighbors"),
            union_n.alias("union_neighbors"),
            F.expr(
                "(1000 * CAST(coalesce(cm, 0) AS BIGINT))"
                " DIV (dx + dy - 2 - CAST(coalesce(cm, 0) AS BIGINT))"
            ).alias("jaccard_milli"),
        )
        .filter(F.col("union_neighbors") > 0)
        .orderBy(F.desc("jaccard_milli"), F.asc("x"), F.asc("y"))
        .limit(EJ_TOP)
    )


# --- k-core decomposition -----------------------------------------------------

KC_K = 15  # core order: dense-cluster membership on the co-service graph
KC_PEELS = 8  # oracle replays this many peels; peeling a stable core is a no-op


def _kcore_oracle() -> str:
    # Every peel CTE references its predecessor TWICE (once per join side),
    # so without MATERIALIZED DuckDB's CTE inlining re-evaluates the chain
    # 2^KC_PEELS times — measured 462 s vs 0.06 s at sf0.01, identical
    # results (var/kcore_oracle_probe.log). MATERIALIZED pins each peel to
    # one evaluation, the same shape the Spark side's per-round
    # localCheckpoint gives.
    ctes = [
        c.replace(" AS (", " AS MATERIALIZED (", 1) for c in _tri_ctes("sym")
    ] + ["n0 AS MATERIALIZED (SELECT DISTINCT x AS node FROM sym)"]
    for i in range(KC_PEELS):
        ctes.append(
            f"""n{i + 1} AS MATERIALIZED (
        SELECT s.x AS node FROM sym s
        JOIN n{i} a ON a.node = s.x
        JOIN n{i} b ON b.node = s.y
        GROUP BY s.x HAVING COUNT(*) >= {KC_K}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT s.x AS node, COUNT(*) AS core_deg
    FROM sym s
    JOIN n{KC_PEELS} a ON a.node = s.x
    JOIN n{KC_PEELS} b ON b.node = s.y
    GROUP BY s.x
    ORDER BY node
    """
    )


@register(
    "gr_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "kcore", "iterative"),
)
def gr_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KC_K(=15)-core of the January-1995 supplier co-service graph: the
    maximal subgraph where every surviving node keeps >= KC_K surviving
    neighbors, with each survivor's within-core degree. The classic
    dense-community / influence-zone extraction (Seidman's k-core;
    distributed peeling as in Montresor et al.).

    Iterative peeling: drop all nodes of degree < k, recompute degrees on
    the survivors, repeat to fixpoint. Exact and deterministic — only
    integer degrees and set membership — so the DuckDB oracle replays
    KC_PEELS peels as chained CTEs (extra peels past the fixpoint are
    no-ops) and the result is value-checked like every other query.

    Plan shape (100 TB): per round, two hash semi-joins of the (static,
    checkpointed) symmetric edge list against the shrinking survivor set
    and one map-side-combined degree count — all keyed on node id, so AQE
    coalesces them onto one exchange profile; survivor sets only shrink,
    so per-round cost is monotonically decreasing. The convergence probe
    is a single count() per round (no data leaves the cluster), and the
    loop raises past KC_PEELS rounds rather than silently diverging
    from the oracle's replay depth. Peeling rounds on real graphs are
    O(max coreness) — tens, not thousands; for full coreness
    decomposition (every k at once) swap the constant threshold for the
    current minimum degree, same plan per round.
    """
    # the static edge list feeds every peel round — materialize once
    sym = _symmetric(
        _coservice_pairs(spark, sf_dir).select("x", "y")
    ).localCheckpoint(eager=False)

    def _core_degrees(nodes: DataFrame) -> DataFrame:
        return (
            sym.join(nodes.select(F.col("node").alias("x")), "x")
            .join(nodes.select(F.col("node").alias("y")), "y")
            .groupBy("x")
            .agg(F.count("*").alias("core_deg"))
        )

    nodes = (
        sym.select(F.col("x").alias("node")).distinct().localCheckpoint(eager=False)
    )
    prev = nodes.count()  # materializes the lazy checkpoint in the same job
    for _ in range(KC_PEELS):
        # one checkpointed relation per round carries BOTH the survivor set
        # and its degrees: when the confirming round removes nobody, these
        # degrees are already the final core degrees (they were computed
        # against the identical survivor set) — no closing recount pass.
        degs = (
            _core_degrees(nodes)
            .filter(F.col("core_deg") >= KC_K)
            .select(F.col("x").alias("node"), "core_deg")
            .localCheckpoint(eager=False)  # fused with the count below:
            # one Spark job per peel instead of materialize + count
        )
        nodes = degs.select("node")
        cur = degs.count()
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"gr_kcore: no fixpoint within {KC_PEELS} peels — raise KC_PEELS "
            "(and the oracle replay depth) for this graph"
        )
    return degs.orderBy("node")


# --- link prediction (Adamic-Adar) --------------------------------------------

AA_TOP = 20
AA_SCALE = 1_000_000  # fixed-point grid for the 1/ln(degree) hub damping
# Per-center neighbor-list cap applied BEFORE the wedge join: bounds the
# candidate pairs at CAP^2 * |V| regardless of degree distribution (the
# power-law guard production link-prediction systems use). 128 exceeds the
# max co-service degree at every test scale (45 @ sf0.01, 68 @ sf0.1,
# measured), so the cap is non-binding there and the DuckDB oracle stays
# exact; on a hub-skewed 100x graph it is the difference between
# Sigma deg(z)^2 (quadratic in the hub) and a constant per center.
AA_NEIGHBOR_CAP = 128


def _aa_oracle() -> str:
    return (
        "\n    WITH "
        + ",\n    ".join(_tri_ctes("deg"))
        + f""",
    w AS (
        SELECT node,
               CAST(floor({AA_SCALE}.0 / ln(d) + 0.5) AS BIGINT) AS wi
        FROM deg WHERE d >= 2
    ),
    wedge AS (
        SELECT a.y AS u, b.y AS v, a.x AS z
        FROM sym a JOIN sym b ON a.x = b.x AND a.y < b.y
    ),
    sc AS (
        SELECT u, v, COUNT(*) AS common, CAST(SUM(w.wi) AS BIGINT) AS aa_micro
        FROM wedge JOIN w ON w.node = wedge.z
        GROUP BY u, v
    )
    SELECT u, v, common, aa_micro
    FROM sc ANTI JOIN e ON e.x = sc.u AND e.y = sc.v
    ORDER BY aa_micro DESC, u, v LIMIT {AA_TOP}
    """
    )


@register(
    "gr_linkpred_adamic_adar",
    oracle=_aa_oracle(),
    tags=("graph", "link-prediction"),
)
def gr_linkpred_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the January-1995 co-service graph: the top-20
    NON-adjacent supplier pairs by Adamic-Adar score
    (Σ over common neighbors z of 1/ln(deg z)) — "which suppliers will
    co-serve next month", the collaborative-filtering primitive.

    Determinism: the 1/ln(d) hub damping snaps to a fixed-point 1e6 grid
    per NODE (floor(1e6/ln(d)+0.5) — ln of an exact small integer, the
    same cross-engine argument as tx_unigram_logprob's grid), so the
    per-pair sum is an exact BIGINT and top-k ties break on (u, v).

    Plan shape (100 TB): candidate generation is the center-wedge join
    (sym ⋈ sym on the center) — naively Σ deg(z)² pairs, quadratic in a
    hub's degree on a power-law graph. The guard is IMPLEMENTED here:
    each center's neighbor list is truncated to its AA_NEIGHBOR_CAP
    strongest edges (by shared-order weight, neighbor-id tie-break — one
    row_number window on the same center key the wedge join shuffles on,
    so the cap adds no exchange) BEFORE the wedge join, bounding
    candidates at CAP²·|V| whatever the degree distribution. The cap
    exceeds the max degree at every test scale (measured; see
    AA_NEIGHBOR_CAP), so the oracle comparison is exact; deg(z) for the
    1/ln damping is the TRUE degree from the uncapped adjacency — the
    cap prunes candidates, never the weight function. Everything else is
    map-side-combined aggregation and one broadcast-able anti-join
    against the (much smaller) edge list. The 1/ln damping means
    truncated hubs cost the score almost nothing — the reason the cap is
    standard practice.
    """
    # feeds sym/deg/weights AND the closing anti-join
    ew = _coservice_pairs(spark, sf_dir).localCheckpoint(eager=False)
    e = ew.select("x", "y")
    sym = _symmetric(ew)
    deg = sym.groupBy("x").agg(F.count("*").alias("d"))
    w = deg.filter(F.col("d") >= 2).select(
        F.col("x").alias("z"),
        F.floor(F.lit(float(AA_SCALE)) / F.log(F.col("d")) + F.lit(0.5))
        .cast("bigint")
        .alias("wi"),
    )
    # the power-law guard: per-center top-CAP neighbors by edge weight
    # (shared-order count), neighbor-id tie-break — bounds the wedge join
    # below at CAP^2 * |V| candidate pairs
    nb_rank = F.row_number().over(
        Window.partitionBy("x").orderBy(F.desc("w"), F.asc("y"))
    )
    capped = (
        sym.withColumn("nb_rank", nb_rank)
        .filter(F.col("nb_rank") <= AA_NEIGHBOR_CAP)
        .select("x", "y")
    )
    wedge = (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") < F.col("b.y")),
        )
        .select(
            F.col("a.y").alias("u"), F.col("b.y").alias("v"), F.col("a.x").alias("z")
        )
    )
    sc = (
        wedge.join(w, "z")
        .groupBy("u", "v")
        .agg(F.count("*").alias("common"), F.sum("wi").alias("aa_micro"))
    )
    return (
        sc.join(
            e,
            (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
            "left_anti",
        )
        .orderBy(F.desc("aa_micro"), F.asc("u"), F.asc("v"))
        .limit(AA_TOP)
    )


# --- supplier market segmentation via thresholded connectivity ----------------

SEG_MIN_W = 3  # repeated co-service: edges with >= 3 shared January orders


@register(
    "gr_supplier_segments",
    oracle="\n    WITH RECURSIVE "
    + ",\n    ".join(_coservice_ctes()[:2])
    + f""",
    e AS (SELECT x, y FROM p WHERE w >= {SEG_MIN_W}),
    edges AS (SELECT x AS a, y AS b FROM e UNION SELECT y, x FROM e),
    reach(node, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e2.b, r.lbl FROM reach r JOIN edges e2 ON e2.a = r.node
    ),
    comp AS (
        SELECT node, MIN(lbl) AS segment_id FROM reach GROUP BY node
    )
    SELECT c.segment_id, c.node AS supplier,
           CAST(COUNT(*) OVER (PARTITION BY c.segment_id) AS BIGINT)
               AS segment_size
    FROM comp c
    ORDER BY segment_id, supplier
    """,
    tags=("graph", "connected-components", "segmentation"),
)
def gr_supplier_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier market segmentation: connected components of the
    REPEATED-co-service graph (pairs sharing >= SEG_MIN_W January
    orders) — thresholding the edge weight is what turns the near-clique
    co-occurrence blob into meaningful groups, the standard recipe for
    co-occurrence clustering (same reason association rules use a
    support threshold).

    Exercises the shared `connected_components` operator (auto mode:
    min-label propagation, star-contraction fallback) through a SECOND
    registered surface on a graph with a different shape than the
    near-dup pair graph — many small components rather than a few
    near-cliques. The weight threshold prunes BEFORE the distinct/
    symmetrize steps, so the CC input is the already-small segment
    graph.

    Plan shape (100 TB): the weighted pair aggregation is one
    map-side-combined shuffle (bounded by co-occurring pairs, already
    required by gr_triangles' edge build); components run rounds of
    keyed join+min-agg on the THRESHOLDED edge list — orders of
    magnitude smaller than the raw graph, which is the practical answer
    to CC's iteration cost at scale: segment graphs are sparse by
    construction.
    """
    from .components import connected_components

    e = (
        _coservice_pairs(spark, sf_dir)
        .filter(F.col("w") >= SEG_MIN_W)
        .select("x", "y")
    )
    comp = connected_components(e, src="x", dst="y")
    wseg = Window.partitionBy("segment_id")
    return (
        comp.select(
            F.col("component").alias("segment_id"),
            F.col("node").alias("supplier"),
        )
        .withColumn("segment_size", F.count("*").over(wseg).cast("bigint"))
        .orderBy("segment_id", "supplier")
    )


# --- community detection: weighted label propagation --------------------------

LPA_ROUNDS = 3


def _lpa_ctes() -> list[str]:
    """Chained per-round CTEs (the gr_pagerank replay pattern): each round
    re-labels every node with the weight-majority label among its
    neighbors, ties broken by the smaller label. Composable (no WITH, no
    final SELECT) so gr_modularity can score the identical label state."""
    ctes = _coservice_ctes() + [
        "l0 AS (SELECT DISTINCT x AS node, x AS lbl FROM edges)"
    ]
    for r in range(LPA_ROUNDS):
        ctes.append(
            f"""l{r + 1} AS (
        SELECT node, lbl FROM (
            SELECT e.x AS node, l.lbl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.x
                       ORDER BY SUM(e.w) DESC, l.lbl
                   ) AS rn
            FROM edges e JOIN l{r} l ON l.node = e.y
            GROUP BY e.x, l.lbl
        ) WHERE rn = 1
    )"""
        )
    return ctes


def _lpa_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_lpa_ctes())
        + f"""
    SELECT lbl AS community, node,
           CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS community_size
    FROM l{LPA_ROUNDS}
    ORDER BY community, node
    """
    )


@register(
    "gr_labelprop_communities",
    oracle=_lpa_oracle(),
    tags=("graph", "community-detection", "iterative"),
)
def gr_labelprop_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the January co-service graph via weighted
    label propagation (Raghavan et al. 2007), made fully deterministic:
    SYNCHRONOUS rounds (every round reads only the previous round's
    labels), the weight-majority neighbor label with a (weight DESC,
    label ASC) tie-break, and a FIXED round count — so both engines walk
    identical label states and the oracle replays each round as a CTE.
    Communities are finer than gr_supplier_segments' connected components
    (which merge everything reachable); LPA splits a dense blob along
    its weighted structure — the cheap first-cut community operator
    production graph stacks run before anything Louvain-shaped.

    Plan shape (100 TB): per round one equi-join of the static
    (checkpointed) edge list against the |V|-row label relation + one
    map-side-combined (node, label) weight sum + one per-node argmax
    window — the label relation is broadcast-sized here and
    hash-co-partitioned at scale; rounds are Θ(diameter)-bounded like
    every fixed-point operator in this repo.
    """
    edges, labels = _coservice_lpa(spark, sf_dir)
    wsz = Window.partitionBy("lbl")
    return (
        labels.select(
            F.col("lbl").alias("community"),
            "node",
            F.count("*").over(wsz).cast("long").alias("community_size"),
        )
        .orderBy("community", "node")
    )


def _coservice_lpa(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(edges, final LPA labels) — the synchronous weighted-majority loop
    gr_labelprop_communities documents, factored so gr_modularity scores
    the IDENTICAL label state the communities query reports."""
    # the symmetrized weighted edges (x, y, w) feed every round
    edges = _symmetric(_coservice_pairs(spark, sf_dir)).localCheckpoint(
        eager=False
    )
    labels = edges.select(F.col("x").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(LPA_ROUNDS):
        scored = (
            edges.alias("E")
            .join(labels.alias("L"), F.col("E.y") == F.col("L.node"))
            .groupBy(F.col("E.x").alias("node"), F.col("L.lbl").alias("lbl"))
            .agg(F.sum("E.w").alias("wsum"))
        )
        rn = F.row_number().over(
            Window.partitionBy("node").orderBy(F.desc("wsum"), F.asc("lbl"))
        )
        labels = (
            scored.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=False)  # lazy: fixed rounds, one action
        )
    return edges, labels


# --- bipartite projection (market-basket co-purchase) -------------------------

COPURCHASE_TOP = 50
COPURCHASE_MIN_ORDERS = 2


def _copurchase_oracle() -> str:
    return f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    )
    SELECT a.pk AS part_a, b.pk AS part_b, COUNT(*) AS n_orders
    FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
    GROUP BY part_a, part_b
    HAVING COUNT(*) >= {COPURCHASE_MIN_ORDERS}
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {COPURCHASE_TOP}
    """


@register(
    "gr_bipartite_projection",
    oracle=_copurchase_oracle(),
    tags=("graph", "bipartite"),
)
def gr_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the bipartite order—part purchase graph onto part—part
    co-purchase edges (weight = number of shared orders), top-50 pairs.

    The market-basket building block: the projected graph feeds
    recommendation ("frequently bought together"), substitution analysis,
    and the other gr_* operators (the co-purchase graph is itself a valid
    input to PageRank / communities).

    Plan shape (100 TB): distinct (order, part) first — one shuffle with
    map-side combine — then a self-equi-join on the order key. The
    candidate volume is Σ basket(o)², bounded because baskets are small by
    construction (TPC-H caps lineitems per order at 7; real carts are tens)
    — the quadratic term is per-BASKET, never per-catalog. For pathological
    baskets the same top-N-per-center truncation used by
    gr_linkpred_adamic_adar applies before the self-join. The pair
    aggregate shuffles on (part_a, part_b): high cardinality, low skew.
    No crossJoin anywhere; the oracle is the brute-force same-shape SQL.
    """
    ensure_analytics_conf(spark)
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    pairs = (
        op.alias("a")
        .join(op.alias("b"), (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("part_a"), F.col("b.pk").alias("part_b"))
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= COPURCHASE_MIN_ORDERS)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(COPURCHASE_TOP)
    )


# --- local clustering coefficient ---------------------------------------------

CC_TOP = 20


@register(
    "gr_clustering_coeff",
    oracle="WITH "
    + ",\n    ".join(_tri_ctes())
    + f""",
    cc AS (
        SELECT d.node,
               CAST(d.d AS BIGINT) AS deg,
               CAST(COALESCE(pn.tri_cnt, 0) AS BIGINT) AS tri_cnt,
               CAST((2000 * COALESCE(pn.tri_cnt, 0)) // (d.d * (d.d - 1))
                    AS BIGINT) AS coeff_milli
        FROM deg d LEFT JOIN pn ON pn.node = d.node
        WHERE d.d >= 2
    )
    SELECT node, deg, tri_cnt, coeff_milli
    FROM cc
    ORDER BY coeff_milli DESC, tri_cnt DESC, node
    LIMIT {CC_TOP}
    """,
    tags=("graph", "clustering"),
)
def gr_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node on the one-month co-service
    graph: 2·T(v) / (deg(v)·(deg(v)−1)) in exact milli units, top-20.

    Watts–Strogatz local clustering — the standard "is this node inside a
    tight community or a broker between communities" signal; near-1000
    nodes sit in cliques (supplier cartels / mirror crawl sites when run
    on a doc-similarity graph), near-0 high-degree nodes are hubs.

    Reuses the degree-oriented triangle relation of ``gr_triangles``
    verbatim (one shared helper on both engines), so the only new work on
    top of the O(|E|^1.5) wedge join is a LEFT JOIN of the |V|-row degree
    relation onto the |V|-row triangle counts and an integer division —
    nothing here adds a scale term. Nodes with deg < 2 are excluded (the
    coefficient is undefined); triangle-free nodes keep coefficient 0 via
    the COALESCE, not by dropping out.
    """
    tri, _ed, deg = _tri_relations(spark, sf_dir)
    pn = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(pn, "node", "left")
        .select(
            "node",
            F.col("d").cast("long").alias("deg"),
            F.coalesce(F.col("tri_cnt"), F.lit(0)).cast("long").alias("tri_cnt"),
            F.expr(
                "CAST((2000 * COALESCE(tri_cnt, 0)) DIV (d * (d - 1)) AS BIGINT)"
            ).alias("coeff_milli"),
        )
        .orderBy(F.desc("coeff_milli"), F.desc("tri_cnt"), F.asc("node"))
        .limit(CC_TOP)
    )


# --- degree assortativity -------------------------------------------------------


@register(
    "gr_assortativity",
    oracle="WITH "
    + ",\n    ".join(_tri_ctes())
    + """,
    de AS (
        SELECT dx.d AS x, dy.d AS y
        FROM sym e
        JOIN deg dx ON dx.node = e.x
        JOIN deg dy ON dy.node = e.y
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM de
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           ROUND((n * sxy - sx * sy)::DOUBLE
                 / nullif(sqrt((n * sxx - sx * sx)::DOUBLE)
                          * sqrt((n * syy - sy * sy)::DOUBLE), 0), 6)
               AS assortativity
    FROM m
    """,
    tags=("graph", "assortativity"),
)
def gr_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the one-month co-service
    graph: the Pearson correlation between the degrees at the two ends of
    every edge. r > 0 = hubs attach to hubs (social-network shape);
    r < 0 = hubs attach to leaves (star/internet shape) — which end of
    the spectrum a graph sits on decides whether hub-capping guards
    (gr_linkpred's per-center cap) matter in practice.

    Exactness: over the symmetric edge list every moment (Σx, Σxy, Σx²…)
    is an exact integer sum — order-independent — and the Pearson rewrite
    n·Σxy − Σx·Σy needs no fractional means; floats enter only in the
    final one-row sqrt/division, identical IEEE ops on both engines.

    Plan shape (100 TB): two broadcast-eligible joins attach endpoint
    degrees to edges (the degree relation is |V| rows), then ONE
    map-side-combined scalar aggregate over 2·|E| rows — no shuffle wider
    than the six-moment vector. Reuses gr_triangles' edge/degree
    relations verbatim. Degrees d ≤ |V| keep n·Σx² inside int64 through
    sf1; at extreme |E| pre-scale degrees (d DIV 16) — Pearson is
    scale-invariant.
    """
    e = _coservice_pairs(spark, sf_dir).select("x", "y")
    deg = _degrees(e)
    de = _symmetric(e).join(
        F.broadcast(deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))), "x"
    ).join(
        F.broadcast(deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))), "y"
    )
    m = de.agg(
        F.count("*").alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.nullif(
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
                F.lit(0.0),
            ),
            6,
        ).alias("assortativity"),
    )


# --- personalized PageRank -------------------------------------------------------

PPR_SEED_CUSTKEYS = (1, 2)  # seed set S: customer nodes 2·k
PPR_ROUNDS = 3
PPR_TOP = 20


def _ppr_oracle() -> str:
    seeds = ", ".join(str(2 * k) for k in PPR_SEED_CUSTKEYS)
    ns = len(PPR_SEED_CUSTKEYS)
    base = f"(3 * {PR_SCALE} // 20) // {ns}"  # teleport mass per seed
    ctes = _bipartite_ctes() + [
        f"seeds AS (SELECT UNNEST([{seeds}]) AS node)",
        f"p0 AS (SELECT node, CAST({PR_SCALE} // {ns} AS BIGINT) AS p FROM seeds)",
    ]
    for k in range(PPR_ROUNDS):
        ctes.append(
            f"""p{k + 1} AS (
        SELECT node, CAST(SUM(v) AS BIGINT) AS p FROM (
            SELECT e.dst AS node,
                   (85 * SUM((p{k}.p * e.w) // deg.W)) // 100 AS v
            FROM e
            JOIN p{k} ON p{k}.node = e.src
            JOIN deg ON deg.src = e.src
            GROUP BY e.dst
            UNION ALL
            SELECT node, {base} FROM seeds
        ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, p FROM p{PPR_ROUNDS}
    ORDER BY p DESC, node LIMIT {PPR_TOP}
    """
    )


@register(
    "gr_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("graph", "pagerank", "personalized", "iterative"),
)
def gr_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 2-customer seed set on the symmetric
    co-purchase graph (damping 0.85, 3 rounds, top-20) — the
    recommendation/related-entities primitive: teleport mass returns to
    the SEEDS instead of spreading uniformly, so ranks measure proximity
    to the seed set rather than global centrality (gr_pagerank).

    Two structural differences from global PageRank, both load-bearing at
    scale: (1) the rank relation starts SEEDS-sized and grows only along
    reachable frontier — on a power-law graph most nodes never hold mass,
    so the per-round join is frontier×edges, not |V|×edges; (2) the seed
    base term applies only to S, implemented as a union-then-reaggregate
    so a seed with no incoming mass still keeps its teleport share (the
    bipartite co-purchase graph makes this real: seeds receive nothing in
    round 1).

    Exactness: same 1e12 fixed-point integer grid and truncating-DIV
    arithmetic as gr_pagerank — bit-identical across engines, oracle
    replays every round.

    Plan shape: gr_pagerank's ``_rank_walk`` with the seed-frontier
    start. Below the CSR cap every round runs on the driver over the
    session's CSR (the kernel keeps the frontier and the seed-teleport
    union); above it each round is one ``_rank_round``
    whose frontier rank side is broadcast without a count, then the
    union-reaggregate, eagerly checkpointed for every round that feeds
    the next round's broadcast.
    """
    return (
        _rank_walk(spark, sf_dir, _ppr_walk)
        .select(F.col("src").alias("node"), "p")
        .orderBy(F.desc("p"), F.asc("node"))
        .limit(PPR_TOP)
    )


def _ppr_walk(_g: _RankGraph) -> _Walk:
    """Personalized PageRank: the seeds start with the mass split evenly
    and get floor(0.15·SCALE)/|S| each round. Ranks stay ≤ PR_SCALE, by
    gr_pagerank's mass argument."""
    ns = len(PPR_SEED_CUSTKEYS)
    return _Walk(
        rounds=PPR_ROUNDS,
        p0=PR_SCALE // ns,
        norm=True,
        mul=85,
        div=100,
        add=0,
        bound=PR_SCALE,
        seeds=tuple(2 * k for k in PPR_SEED_CUSTKEYS),
        teleport=(3 * PR_SCALE // 20) // ns,
    )


# --- HITS (hubs & authorities) ----------------------------------------------------

HITS_ROUNDS = 2
HITS_SCALE = 1_000_000
HITS_TOP = 10


def _hits_oracle() -> str:
    ctes = [
        """be AS (
        SELECT o_custkey AS c, l_suppkey AS s, CAST(COUNT(*) AS BIGINT) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        GROUP BY o_custkey, l_suppkey
    )""",
        f"""h0 AS (
        SELECT DISTINCT c, CAST({HITS_SCALE} AS BIGINT) AS h FROM be
    )""",
    ]
    for k in range(HITS_ROUNDS):
        ctes.append(
            f"""ar{k} AS (
        SELECT be.s, CAST(SUM(h{k}.h * be.w) AS BIGINT) AS a
        FROM be JOIN h{k} ON h{k}.c = be.c GROUP BY be.s
    )""",
        )
        ctes.append(
            f"""a{k + 1} AS (
        SELECT s, a // greatest(
                   1, (SELECT MAX(a) FROM ar{k}) // {HITS_SCALE}
               ) AS a
        FROM ar{k}
    )""",
        )
        ctes.append(
            f"""hr{k} AS (
        SELECT be.c, CAST(SUM(a{k + 1}.a * be.w) AS BIGINT) AS h
        FROM be JOIN a{k + 1} ON a{k + 1}.s = be.s GROUP BY be.c
    )""",
        )
        ctes.append(
            f"""h{k + 1} AS (
        SELECT c, h // greatest(
                   1, (SELECT MAX(h) FROM hr{k}) // {HITS_SCALE}
               ) AS h
        FROM hr{k}
    )""",
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT side, node, score, rnk FROM (
        SELECT 'authority' AS side, s AS node, a AS score,
               ROW_NUMBER() OVER (ORDER BY a DESC, s) AS rnk
        FROM a{HITS_ROUNDS}
        UNION ALL
        SELECT 'hub', c, h, ROW_NUMBER() OVER (ORDER BY h DESC, c)
        FROM h{HITS_ROUNDS}
    ) WHERE rnk <= {HITS_TOP}
    ORDER BY side, rnk
    """
    )


@register(
    "gr_hits",
    oracle=_hits_oracle(),
    tags=("graph", "hits", "iterative"),
)
def gr_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hubs & authorities on the directed bipartite
    customer→supplier purchase graph: authority(s) = Σ hub(c)·w and
    hub(c) = Σ authority(s)·w, alternating — on a two-sided market this
    separates "customers whose purchases concentrate on important
    suppliers" from "suppliers bought by important customers", the
    ranking PageRank's single score conflates.

    Exactness: instead of the float L2 normalization of textbook HITS,
    each half-round re-quantizes by score DIV max(1, max(score) DIV
    HITS_SCALE) — truncating integer division on both engines — which is
    a positive per-round rescale and therefore preserves the ranking
    HITS converges to while keeping every value an exact BIGINT. The
    oracle replays all rounds.

    Plan shape (100 TB): the weighted bipartite edge relation is built
    once and checkpointed; each half-round is one equi-join of edges
    against the (|side|-sized) score relation plus one map-side-combined
    aggregation — identical iteration profile to gr_pagerank, with the
    scalar max re-scale as a broadcast 1-row join.
    """
    ensure_analytics_conf(spark)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    be = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.count("*").cast("long").alias("w"))
        .localCheckpoint(eager=True)
    )

    def _rescale(df: DataFrame, col: str) -> DataFrame:
        m = df.agg(
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"MAX({col}) DIV {HITS_SCALE}"),
            ).alias("m")
        )
        return df.crossJoin(F.broadcast(m)).select(
            *[c for c in df.columns if c != col],
            F.expr(f"{col} DIV m").cast("long").alias(col),
        )

    h = be.select("c").distinct().select(
        "c", F.lit(HITS_SCALE).cast("long").alias("h")
    )
    # The score relations are one-bipartite-side-sized (|C| and |S|) and
    # never grow: inner joins keep the node sets fixed across rounds. One
    # pair of counts up front gates the same broadcast choice as
    # PR_BCAST_MAX_NODES; without it, the post-checkpoint score scans
    # carry no stats and all four half-round joins re-shuffled the full
    # checkpointed edge relation (SortMergeJoin at sf0.1). Integer sums
    # are join-strategy-independent.
    side_counts = be.agg(
        F.countDistinct("c").alias("nc"), F.countDistinct("s").alias("ns")
    ).collect()[0]
    bcast_scores = (
        max(int(side_counts["nc"]), int(side_counts["ns"]))
        <= PR_BCAST_MAX_NODES
    )

    def _score_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast_scores else df

    a = None
    for _ in range(HITS_ROUNDS):
        a = _rescale(
            be.join(_score_side(h), "c")
            .groupBy("s")
            .agg(F.sum(F.col("h") * F.col("w")).cast("long").alias("a")),
            "a",
        ).localCheckpoint(eager=True)
        h = _rescale(
            be.join(_score_side(a), "s")
            .groupBy("c")
            .agg(F.sum(F.col("a") * F.col("w")).cast("long").alias("h")),
            "h",
        ).localCheckpoint(eager=True)
    wa = Window.orderBy(F.desc("score"), F.asc("node"))
    auth = a.select(
        F.lit("authority").alias("side"),
        F.col("s").alias("node"),
        F.col("a").alias("score"),
    ).withColumn("rnk", F.row_number().over(wa).cast("long"))
    hub = h.select(
        F.lit("hub").alias("side"),
        F.col("c").alias("node"),
        F.col("h").alias("score"),
    ).withColumn("rnk", F.row_number().over(wa).cast("long"))
    return (
        auth.unionByName(hub)
        .filter(F.col("rnk") <= HITS_TOP)
        .orderBy("side", "rnk")
    )


# --- hierarchy transitive closure (recursive-CTE equivalent) ----------------------

CLOSURE_MAX_DEPTH = 8  # safety bound; the region→nation→customer tree is depth 2


@register(
    "gr_hierarchy_closure",
    oracle=f"""
    WITH RECURSIVE edges AS (
        SELECT r_regionkey * 1000000 AS parent,
               100000 + n_nationkey * 1000000 AS child
        FROM region JOIN nation ON n_regionkey = r_regionkey
        UNION ALL
        SELECT 100000 + n_nationkey * 1000000,
               200000 + c_custkey * 1000000
        FROM nation JOIN customer ON c_nationkey = n_nationkey
    ),
    roots AS (SELECT r_regionkey * 1000000 AS node FROM region),
    closure(root, node, depth) AS (
        SELECT node, node, 0 FROM roots
        UNION ALL
        SELECT c.root, e.child, c.depth + 1
        FROM closure c JOIN edges e ON e.parent = c.node
        WHERE c.depth < {CLOSURE_MAX_DEPTH}
    )
    SELECT CAST(root // 1000000 AS BIGINT) AS root_region,
           CAST(depth AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM closure
    GROUP BY root_region, depth
    ORDER BY root_region, depth
    """,
    tags=("graph", "hierarchy", "recursive", "iterative"),
)
def gr_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the region→nation→customer hierarchy from
    every region root, reported as node counts per (root, depth) — the
    recursive-CTE workload (org charts, BOM explosion, category trees)
    Spark SQL famously lacks. The distributed equivalent is exactly this
    operator's shape: an iterative frontier expansion — per round ONE
    equi-join of the checkpointed edge list against the current frontier
    — terminating when the frontier empties, bounded by
    CLOSURE_MAX_DEPTH against cyclic inputs. The DuckDB oracle IS the
    recursive CTE, proving the loop computes the textbook semantics.

    Node ids from different levels are disambiguated by a typed encoding
    (level tag + key·10⁶), so the operator is a GENERIC closure over any
    heterogeneous parent-child edge relation, not a hardcoded 3-way
    join.

    Plan shape (100 TB): rounds = hierarchy depth (tiny for real
    hierarchies); each round shuffles only the frontier against the
    edge list's join key — with edges bucketed by parent the frontier
    side is the only exchange, and lineage is truncated per round
    exactly like the connected-components loop.
    """
    ensure_analytics_conf(spark)
    r = load_table(spark, sf_dir, "region").select("r_regionkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    enc_r = F.col("r_regionkey") * 1_000_000
    edges = (
        r.join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            enc_r.alias("parent"),
            (100_000 + F.col("n_nationkey") * 1_000_000).alias("child"),
        )
        .unionByName(
            n.join(c, F.col("c_nationkey") == F.col("n_nationkey")).select(
                (100_000 + F.col("n_nationkey") * 1_000_000).alias("parent"),
                (200_000 + F.col("c_custkey") * 1_000_000).alias("child"),
            )
        )
        .localCheckpoint(eager=False)  # materialized by round 1's isEmpty
    )
    frontier = r.select(enc_r.alias("root"), enc_r.alias("node"))
    closure = frontier.withColumn("depth", F.lit(0))
    depth = 0
    while depth < CLOSURE_MAX_DEPTH:
        depth += 1
        frontier = (
            frontier.join(edges, F.col("node") == F.col("parent"))
            .select("root", F.col("child").alias("node"))
            .localCheckpoint(eager=False)  # fused with isEmpty below
        )
        if frontier.isEmpty():
            break
        closure = closure.unionByName(
            frontier.withColumn("depth", F.lit(depth))
        )
    return (
        closure.groupBy(
            F.expr("root DIV 1000000").alias("root_region"),
            F.col("depth").cast("long").alias("depth"),
        )
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("root_region", "depth")
    )


# --- partition quality: weighted modularity of the LPA communities -------------

MOD_PPM = 1_000_000


@register(
    "gr_modularity",
    oracle=f"""
    WITH {{lpa_ctes}},
    deg AS (SELECT x AS node, CAST(SUM(w) AS BIGINT) AS deg FROM edges GROUP BY x),
    dtot AS (SELECT CAST(SUM(w) AS BIGINT) AS d FROM edges),
    lab AS (SELECT node, lbl FROM l{{rounds}}),
    win AS (
        SELECT la.lbl AS lbl, CAST(SUM(e.w) AS BIGINT) AS win_c
        FROM edges e
        JOIN lab la ON la.node = e.x
        JOIN lab lb ON lb.node = e.y
        WHERE la.lbl = lb.lbl
        GROUP BY la.lbl
    ),
    degc AS (
        SELECT la.lbl, CAST(SUM(d.deg) AS BIGINT) AS deg_c
        FROM deg d JOIN lab la ON la.node = d.node
        GROUP BY la.lbl
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           dtot.d AS d_total,
           CAST(SUM(COALESCE(win.win_c, 0) * dtot.d
                    - degc.deg_c * degc.deg_c) AS BIGINT) AS q_num,
           CAST((SUM(COALESCE(win.win_c, 0) * dtot.d
                     - degc.deg_c * degc.deg_c) * {MOD_PPM})
                // (dtot.d * dtot.d) AS BIGINT) AS q_ppm
    FROM degc
    LEFT JOIN win ON win.lbl = degc.lbl, dtot
    GROUP BY dtot.d
    """.replace("{lpa_ctes}", ",\n    ".join(_lpa_ctes())).replace(
        "{rounds}", str(LPA_ROUNDS)
    ),
    tags=("graph", "community-detection", "modularity"),
)
def gr_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted modularity (Newman Q) of the EXACT label state
    gr_labelprop_communities produces — the standard "was this community
    structure better than chance?" score a graph pipeline reports next to
    its partition: Q = Σ_c (win_c/D − (deg_c/D)²) where D = total directed
    edge weight, win_c = intra-community directed weight, deg_c = summed
    weighted degree of community c.

    Exactness: Q is kept as the exact integer pair (q_num = Σ_c(win_c·D −
    deg_c²), d_total = D) plus the derived q_ppm = q_num·1e6 DIV D² —
    integer arithmetic end to end, so summation order cannot perturb it
    and the oracle replays the identical LPA rounds (shared CTE chain)
    before scoring. Overflow headroom: q_ppm's product needs |q_num|·1e6 <
    2^63, i.e. D ≲ 3e6; beyond that report (q_num, d_total) and divide in
    the consumer (documented here because a 100 TB co-occurrence graph
    crosses it — the exact pair is the scale-safe contract, q_ppm the
    convenience).

    Plan shape (100 TB): label relation joined twice onto the edge list
    (both equi-joins on node id, co-partitioned with the LPA loop's own
    shuffles), then two map-side-combined aggregations over |C| rows and
    one scalar reduce. Adds one pass over the edges beyond LPA itself.
    """
    edges, labels = _coservice_lpa(spark, sf_dir)
    la = labels.select(F.col("node").alias("x"), F.col("lbl").alias("la"))
    lb = labels.select(F.col("node").alias("y"), F.col("lbl").alias("lb"))
    d_total = edges.agg(F.sum("w").cast("long").alias("d")).select("d")
    deg = edges.groupBy("x").agg(F.sum("w").cast("long").alias("deg"))
    win = (
        edges.join(la, "x")
        .join(lb, "y")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.sum("w").cast("long").alias("win_c"))
    )
    degc = (
        deg.join(la, "x")
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.sum("deg").cast("long").alias("deg_c"))
    )
    percom = degc.join(win, "lbl", "left").select(
        "lbl",
        F.coalesce(F.col("win_c"), F.lit(0)).alias("win_c"),
        "deg_c",
    )
    return (
        percom.crossJoin(F.broadcast(d_total))
        .groupBy("d")
        .agg(
            F.count("*").cast("long").alias("n_communities"),
            F.sum(
                F.col("win_c") * F.col("d") - F.col("deg_c") * F.col("deg_c")
            )
            .cast("long")
            .alias("q_num"),
        )
        .select(
            "n_communities",
            F.col("d").alias("d_total"),
            "q_num",
            F.expr(f"(q_num * {MOD_PPM}) DIV (d_total * d_total)")
            .cast("long")
            .alias("q_ppm"),
        )
    )


# --- multi-source BFS hop distance ---------------------------------------------

BFS_SEED_MOD = 25  # seeds: supplier ids ≡ 0 (mod 25)
BFS_MAX_HOPS = 4


@register(
    "gr_bfs_distance",
    oracle="\n    WITH RECURSIVE "
    + ",\n    ".join(_coservice_ctes())
    + f""",
    walk(node, d) AS (
        SELECT DISTINCT x, 0 FROM edges WHERE x % {BFS_SEED_MOD} = 0
        UNION
        SELECT e.y, w.d + 1
        FROM walk w JOIN edges e ON e.x = w.node
        WHERE w.d < {BFS_MAX_HOPS}
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """,
    tags=("graph", "bfs", "iterative"),
)
def gr_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the co-service graph: every
    node's minimum hop count from the seed set (supplier ids ≡ 0 mod
    {BFS_SEED_MOD}), capped at BFS_MAX_HOPS — the reachability-with-
    distance primitive under influence radius, blast-radius, and
    "how far is every record from a trusted set" analyses (the hop-cap is
    the production norm: beyond a few hops the signal is noise).

    Spark runs textbook frontier iteration: the frontier joins the static
    checkpointed edge list, already-labeled nodes are anti-joined away,
    survivors get distance h — each hop is ONE equi-join + one anti-join,
    both on node id, and the frontier only shrinks. The oracle's
    recursive CTE enumerates (node, d ≤ cap) pairs and takes MIN(d);
    BFS's layer-by-layer discovery provably equals that min, and the
    fixed cap makes both sides finite. Distances are integers — nothing
    to round.

    Plan shape (100 TB): per hop the shuffle is |frontier ⋈ edges|, not
    |V|; the known-set anti-join is the same broadcast/hash pattern the
    dedup keeper join uses; BFS_MAX_HOPS bounds the rounds independent of
    graph size (same argument as every fixed-point operator here).
    """
    edges = (
        _symmetric(_coservice_pairs(spark, sf_dir))
        .localCheckpoint(eager=False)
        .select("x", "y")
    )
    seeds = (
        edges.select("x")
        .filter(F.col("x") % BFS_SEED_MOD == 0)
        .distinct()
        .select(F.col("x").alias("node"), F.lit(0).alias("d"))
    )
    known = seeds.localCheckpoint(eager=True)
    frontier = known
    for h in range(1, BFS_MAX_HOPS + 1):
        nbrs = (
            frontier.join(edges, frontier["node"] == edges["x"])
            .select(F.col("y").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(known.select("node"), "node", "left_anti")
            .withColumn("d", F.lit(h))
            .localCheckpoint(eager=True)
        )
        if new.isEmpty():
            break
        known = known.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return known.select("node", F.col("d").cast("long").alias("dist")).orderBy(
        "node"
    )


# --- PageRank convergence diagnostic ---------------------------------------------

PR_CONV_EPS = PR_SCALE // 1_000_000  # "converged" = |Δp| ≤ 1e-6 of total mass


@register(
    "gr_pagerank_convergence",
    oracle=f"""
    WITH {{pr_ctes}},
    delta AS (
        SELECT a.node, abs(a.p - b.p) AS d
        FROM p{PR_ROUNDS} a JOIN p{PR_ROUNDS - 1} b USING (node)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(d) AS BIGINT) AS l1_residual,
           CAST(MAX(d) AS BIGINT) AS max_residual,
           (COUNT(*) FILTER (WHERE d <= {PR_CONV_EPS}) * 1000000) // COUNT(*)
               AS converged_ppm
    FROM delta
    """.replace("{pr_ctes}", ",\n    ".join(_pr_ctes())),
    tags=("graph", "pagerank", "convergence", "diagnostics"),
)
def gr_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank convergence report: the L1/L∞ residual between the last
    two iterations and the fraction of nodes whose rank moved ≤1e-6 of
    total mass — the stopping-criterion diagnostic every iterative graph
    job needs (fixed round counts are a budget, not a proof; this row
    says whether the budget sufficed, and at 100 TB it is what decides
    "run two more rounds" without anyone eyeballing rank dumps).

    Ranks live on gr_pagerank's exact 1e12 integer grid, so residuals
    are exact BIGINTs and both engines difference identical trajectories
    (the oracle replays the chained-CTE rounds and joins the last two).

    Plan shape: gr_pagerank's ``_rank_walk``, keeping the round before
    the last. Below the CSR cap the driver-side walk emits both ranks per
    node and only the scalar aggregate runs in Spark; above it (100 TB)
    the walk is identical to gr_pagerank through round R−1, plus one
    extra |V|-row equi-join (node-partitioned, same key as the rank
    relation already shuffles on) and the scalar aggregate. Rank state never
    leaves the executors.
    """
    delta = _rank_walk(spark, sf_dir, _pagerank_walk, keep_prev=True).select(
        F.abs(F.col("p") - F.col("prev")).alias("d")
    )
    return delta.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("d").cast("long").alias("l1_residual"),
        F.max("d").cast("long").alias("max_residual"),
        # NULL on an empty graph, as the oracle's `// 0` (ANSI DIV raises)
        F.expr(
            f"(count_if(d <= {PR_CONV_EPS}) * 1000000) DIV nullif(count(*), 0)"
        ).alias("converged_ppm"),
    )


# --- two-hop reach (friends-of-friends) ---------------------------------------------

REACH_TOP = 20


@register(
    "gr_two_hop_reach",
    oracle="\n    WITH "
    + ",\n    ".join(_tri_ctes())
    + f""",
    two AS (
        SELECT p.x AS u, q.y AS w
        FROM sym p JOIN sym q ON p.y = q.x
        WHERE p.x != q.y
    ),
    reach AS (
        SELECT u, w FROM two
        UNION
        SELECT x AS u, y AS w FROM sym
    )
    SELECT u AS node, COUNT(*) AS reach2
    FROM reach GROUP BY u
    ORDER BY reach2 DESC, node
    LIMIT {REACH_TOP}
    """,
    tags=("graph", "two-hop", "reach"),
)
def gr_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach per node — |N(u) ∪ N²(u)|, the distinct suppliers
    reachable within two co-service hops on the one-month graph; top-20.
    The classic audience-estimation / influence-radius primitive
    (friends-of-friends), and the direct input to "how far does a bad
    batch propagate in two steps".

    Plan shape (100 TB): one wedge equi-join on the shared middle node
    (the same join profile as the triangle wedge but WITHOUT needing the
    closing edge), then a distinct on (u, w) — the dedup shuffle is the
    dominant exchange and is exactly the |2-hop pair| relation, bounded
    by the windowed graph's density (the month filter pushes to the
    orders scan; the graph is built from the filtered fact). Hub middle
    nodes inflate wedges quadratically in their degree — the AQE
    skew-join split applies to the wedge join's middle key, and the
    zipf-variant graph exercises exactly that. Top-k via
    TakeOrderedAndProject; no driver state.
    """
    sym = _symmetric(_coservice_pairs(spark, sf_dir).select("x", "y"))
    p = sym.select(F.col("x").alias("u"), F.col("y").alias("m"))
    q = sym.select(F.col("x").alias("m"), F.col("y").alias("w"))
    two = p.join(q, "m").filter(F.col("u") != F.col("w")).select("u", "w")
    reach = two.unionByName(
        sym.select(F.col("x").alias("u"), F.col("y").alias("w"))
    ).distinct()
    return (
        reach.groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("reach2"))
        .orderBy(F.desc("reach2"), F.asc("node"))
        .limit(REACH_TOP)
    )


# --- Katz centrality -------------------------------------------------------------

KATZ_SCALE = PR_SCALE  # same 1e12 fixed-point grid as PageRank
KATZ_ROUNDS = 3
KATZ_TOP = 20


def _katz_oracle() -> str:
    # The identical raw/e/deg edge-build CTEs as the PageRank oracle, so
    # the two centralities provably walk the same graph.
    ctes = _bipartite_ctes()
    ctes.append("mx AS (SELECT 2 * MAX(W) AS d FROM deg)")
    ctes.append(f"x0 AS (SELECT src AS node, CAST({KATZ_SCALE} AS BIGINT) AS x FROM deg)")
    for k in range(KATZ_ROUNDS):
        ctes.append(
            f"""x{k + 1} AS (
        SELECT e.dst AS node,
               CAST({KATZ_SCALE} + SUM(x{k}.x * e.w) // mx.d AS BIGINT) AS x
        FROM e
        JOIN x{k} ON x{k}.node = e.src, mx
        GROUP BY e.dst, mx.d
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, x AS katz FROM x{KATZ_ROUNDS}
    ORDER BY katz DESC, node LIMIT {KATZ_TOP}
    """
    )


@register(
    "gr_katz_centrality",
    oracle=_katz_oracle(),
    tags=("graph", "centrality", "iterative"),
)
def gr_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (3 rounds, β = KATZ_SCALE) on the symmetric
    customer↔supplier co-purchase graph; top-20 nodes.

    Unlike PageRank, Katz does NOT normalize by out-degree — mass flows
    along raw edge weights, so hubs accumulate influence from volume,
    not just connectivity. Convergence and integer bounds come from the
    attenuation factor: α = 1/(2·maxW) with maxW the maximum weighted
    degree guarantees α < 1/λ_max (λ_max ≤ maxW for non-negative
    symmetric matrices), and caps every rank at 2·KATZ_SCALE (geometric
    series), keeping all products far below 2^63 through sf100.

    Determinism: ranks on the exact 1e12 integer grid; the single DIV
    lands AFTER the neighbor sum, so summation order cannot perturb a
    bit and the chained-CTE DuckDB oracle replays the identical
    trajectory. maxW is a deterministic data statistic both engines
    compute from the same edge relation.

    Plan shape: gr_pagerank's ``_rank_walk`` — below the CSR cap every
    round runs on the driver over the session's CSR;
    above it (100 TB) edges (with degree attached) are built and
    checkpointed once per call, each round is one equi-join of the
    |V|-rank relation against co-partitioned edges plus one
    map-side-combined agg by dst, and ranks are re-checkpointed per round
    to truncate lineage. The only driver-side state is the maxW scalar,
    which the CSR gate's one aggregate job already collects.
    """
    return (
        _rank_walk(spark, sf_dir, _katz_walk)
        .select(F.col("src").alias("node"), F.col("p").alias("katz"))
        .orderBy(F.desc("katz"), F.asc("node"))
        .limit(KATZ_TOP)
    )


def _katz_walk(g: _RankGraph) -> _Walk:
    """Katz: every node starts at KATZ_SCALE and each round adds
    ``SUM(p·w) DIV 2·maxW`` to it; ranks stay below 2·KATZ_SCALE (the
    geometric series, since a node's in-weight is at most maxW)."""
    return _Walk(
        rounds=KATZ_ROUNDS,
        p0=KATZ_SCALE,
        norm=False,
        mul=1,
        # an empty graph has no rank rows, so any nonzero divisor serves it
        div=2 * (g.max_outw or 1),
        add=KATZ_SCALE,
        bound=2 * KATZ_SCALE,
    )
