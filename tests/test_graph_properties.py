"""Property tests: graph operators vs pure-Python replays and oracles.

gr_pagerank, gr_pagerank_convergence, gr_personalized_pagerank and
gr_hits are exact fixed-point iterations; here an independent Python
model replays the identical integer arithmetic over RANDOM small
purchase graphs — seed customers missing from the graph,
single-supplier stars, disconnected components — the shapes the fixed
corpus never produces. Every gr_* query also meets its DuckDB oracle on
empty tables, and the January co-service family on one hand-shaped
graph (clique, chain, hub, repeated edge, isolated pair). The four rank
queries return identical rows from the broadcast-CSR kernel and from
the per-round join loop (the CSR cap forced to zero).
"""

from __future__ import annotations

import datetime as dt
import os
from collections import defaultdict

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from .conftest import SF_DIR, slow_full
from .oracle_harness import run_case

from harvard_artifacts_collection_data_engineering_analytics_app_spark.catalog import (
    TABLES,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators import (
    graph,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.graph import (
    HITS_ROUNDS,
    HITS_SCALE,
    HITS_TOP,
    KC_K,
    PPR_ROUNDS,
    PPR_SEED_CUSTKEYS,
    PPR_TOP,
    PR_CONV_EPS,
    PR_ROUNDS,
    PR_SCALE,
    PR_TOP,
    SEG_MIN_W,
    gr_hits,
    gr_pagerank,
    gr_pagerank_convergence,
    gr_personalized_pagerank,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.plans import (
    explain as X,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    registry,
)

SPECS = registry.all_specs()
GRAPH_QUERIES = sorted(n for n in SPECS if n.startswith("gr_"))


@st.composite
def purchase_graph(draw):
    """orders (o_orderkey, o_custkey) + lineitem (l_orderkey, l_suppkey)
    with lineitems referencing real orders."""
    n_orders = draw(st.integers(min_value=1, max_value=10))
    orders = [
        (ok, draw(st.integers(min_value=1, max_value=5)))
        for ok in range(1, n_orders + 1)
    ]
    lineitem = draw(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=n_orders),
                st.integers(min_value=1, max_value=4),
            ),
            min_size=1,
            max_size=25,
        )
    )
    return orders, lineitem


def _write(spark, path, orders, lineitem):
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        lineitem, "l_orderkey long, l_suppkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


def _weighted_edges(orders, lineitem):
    cust = dict(orders)
    w = defaultdict(int)
    for ok, sk in lineitem:
        if ok in cust:
            w[(cust[ok] * 2, sk * 2 + 1)] += 1
    return w


def _symmetric_edges(orders, lineitem):
    """(edges {(src, dst): w} both ways, weighted degree {src: W})."""
    edges = defaultdict(int)
    for (s, d), w in _weighted_edges(orders, lineitem).items():
        edges[(s, d)] += w
        edges[(d, s)] += w
    deg = defaultdict(int)
    for (s, _), w in edges.items():
        deg[s] += w
    return edges, deg


def _model_ppr(orders, lineitem):
    edges, deg = _symmetric_edges(orders, lineitem)
    ns = len(PPR_SEED_CUSTKEYS)
    seeds = [2 * k for k in PPR_SEED_CUSTKEYS]
    base = (3 * PR_SCALE // 20) // ns
    p = {n: PR_SCALE // ns for n in seeds}
    for _ in range(PPR_ROUNDS):
        spread = defaultdict(int)
        for (s, d), w in edges.items():
            if s in p:
                spread[d] += (p[s] * w) // deg[s]
        nxt = defaultdict(int)
        for d, v in spread.items():
            nxt[d] += (85 * v) // 100
        for n in seeds:
            nxt[n] += base
        p = dict(nxt)
    ranked = sorted(p.items(), key=lambda kv: (-kv[1], kv[0]))[:PPR_TOP]
    return ranked


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(purchase_graph())
@slow_full  # heavy model replay; see conftest (VERDICT r15 #2)
def test_personalized_pagerank_matches_model(spark, tmp_path_factory, g):
    orders, lineitem = g
    path = str(tmp_path_factory.mktemp("ppr"))
    _write(spark, path, orders, lineitem)
    got = [
        (r["node"], r["p"])
        for r in gr_personalized_pagerank(spark, path).collect()
    ]
    assert got == _model_ppr(orders, lineitem)


def _model_hits(orders, lineitem):
    be = _weighted_edges(orders, lineitem)
    # undo the node-id encoding: be keys are (2c, 2s+1) — recover (c, s)
    edges = {((s - 0) // 2, (d - 1) // 2): w for (s, d), w in be.items()}
    h = {c: HITS_SCALE for c, _ in edges}
    a = {}
    for _ in range(HITS_ROUNDS):
        ar = defaultdict(int)
        for (c, s), w in edges.items():
            if c in h:
                ar[s] += h[c] * w
        m = max(1, max(ar.values()) // HITS_SCALE) if ar else 1
        a = {s: v // m for s, v in ar.items()}
        hr = defaultdict(int)
        for (c, s), w in edges.items():
            if s in a:
                hr[c] += a[s] * w
        m = max(1, max(hr.values()) // HITS_SCALE) if hr else 1
        h = {c: v // m for c, v in hr.items()}
    out = []
    for side, scores in (("authority", a), ("hub", h)):
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        out.extend(
            (side, n, v, i + 1)
            for i, (n, v) in enumerate(ranked[:HITS_TOP])
        )
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(purchase_graph())
@slow_full  # heavy model replay; see conftest (VERDICT r15 #2)
def test_hits_matches_model(spark, tmp_path_factory, g):
    orders, lineitem = g
    path = str(tmp_path_factory.mktemp("hits"))
    _write(spark, path, orders, lineitem)
    got = [
        (r["side"], r["node"], r["score"], r["rnk"])
        for r in gr_hits(spark, path).collect()
    ]
    assert got == _model_hits(orders, lineitem)


def _model_pagerank(orders, lineitem):
    """Every rank state p0..p{PR_ROUNDS} of the integer power iteration."""
    edges, deg = _symmetric_edges(orders, lineitem)
    n = len(deg)
    base = (3 * PR_SCALE // 20) // n
    p = {v: PR_SCALE // n for v in deg}
    states = [p]
    for _ in range(PR_ROUNDS):
        acc = defaultdict(int)
        for (s, d), w in edges.items():
            acc[d] += (p[s] * w) // deg[s]
        p = {v: base + (85 * a) // 100 for v, a in acc.items()}
        states.append(p)
    return states


@settings(
    max_examples=4,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(purchase_graph())
def test_pagerank_and_convergence_match_model(spark, tmp_path_factory, g):
    """The two PageRank queries on the benchmark path: the top-20 ranks
    and the last-round residual row equal the Python replay."""
    orders, lineitem = g
    path = str(tmp_path_factory.mktemp("pagerank"))
    _write(spark, path, orders, lineitem)
    states = _model_pagerank(orders, lineitem)
    ranked = sorted(states[-1].items(), key=lambda kv: (-kv[1], kv[0]))
    got = [(r["node"], r["p"]) for r in gr_pagerank(spark, path).collect()]
    assert got == ranked[:PR_TOP]
    d = [abs(p - states[-2][v]) for v, p in states[-1].items()]
    want = (
        len(d),
        sum(d),
        max(d),
        sum(x <= PR_CONV_EPS for x in d) * 1_000_000 // len(d),
    )
    assert tuple(gr_pagerank_convergence(spark, path).collect()[0]) == want


def _with_reference_tables(path):
    """Link every table ``path`` lacks from the test scale factor, so the
    DuckDB oracle's views (one per table) resolve."""
    for t in TABLES:
        dst = os.path.join(path, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), dst)
    return path


@pytest.fixture(scope="module")
def empty_purchase_dir(tmp_path_factory):
    """orders and lineitem with their real schemas and no rows."""
    path = str(tmp_path_factory.mktemp("empty_graph"))
    for t in ("orders", "lineitem"):
        src = os.path.join(SF_DIR, f"{t}.parquet")
        pq.write_table(
            pq.read_schema(src).empty_table(),
            os.path.join(path, f"{t}.parquet"),
        )
    return _with_reference_tables(path)


@pytest.mark.parametrize("name", GRAPH_QUERIES)
def test_graph_query_on_empty_tables_matches_oracle(
    spark, empty_purchase_dir, name
):
    spec = SPECS[name]
    errs = run_case(spark, empty_purchase_dir, name, spec.builder, spec.oracle)
    assert not errs, f"{name}: " + "; ".join(errs)


def _write_coservice_graph(spark, path, edges, off_month=()):
    """Synthesize orders+lineitem so the January co-service graph is
    ``edges``: each item is one January order's supplier set (a pair is
    one edge; a longer tuple is a clique), so repeating an item repeats
    its edges over several orders. ``off_month`` items become February
    orders, which no January query may see."""
    orders, lineitems = [], []
    items = [(e, dt.datetime(1995, 1, 2 + i % 20)) for i, e in enumerate(edges)]
    items += [(e, dt.datetime(1995, 2, 3)) for e in off_month]
    for ok, (suppliers, day) in enumerate(items, start=1):
        orders.append((ok, day))
        lineitems.extend((ok, s) for s in suppliers)
    spark.createDataFrame(
        orders, "o_orderkey long, o_orderdate timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/orders.parquet")
    spark.createDataFrame(
        lineitems, "l_orderkey long, l_suppkey long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/lineitem.parquet")


COSERVICE_QUERIES = (
    "gr_assortativity",
    "gr_bfs_distance",
    "gr_clustering_coeff",
    "gr_edge_jaccard",
    "gr_kcore",
    "gr_labelprop_communities",
    "gr_linkpred_adamic_adar",
    "gr_modularity",
    "gr_supplier_segments",
    "gr_triangles",
    "gr_two_hop_reach",
)


@pytest.fixture(scope="module")
def shaped_coservice_dir(spark, tmp_path_factory):
    clique = tuple(range(100, 100 + KC_K + 1))  # the only KC_K-core
    hub = [(200, s) for s in range(201, 231)] + [(200, 101)]
    chain = [(s, s + 1) for s in range(300, 310)]  # 300 is a BFS seed
    heavy = [(401, 402)] * SEG_MIN_W + [(402, 403)] * (SEG_MIN_W + 1)
    edges = [clique, (101, 102), (101, 102), *hub, *chain, *heavy, (500, 501)]
    path = str(tmp_path_factory.mktemp("coservice_shapes"))
    # February orders would join the isolated pair to the clique and
    # make (500, 501) a segment if any query ignored the month
    _write_coservice_graph(
        spark, path, edges, off_month=[(500, 100)] + [(500, 501)] * SEG_MIN_W
    )
    return _with_reference_tables(path)


@pytest.mark.parametrize("name", COSERVICE_QUERIES)
def test_coservice_query_on_shaped_graph_matches_oracle(
    spark, shaped_coservice_dir, name
):
    spec = SPECS[name]
    errs = run_case(spark, shaped_coservice_dir, name, spec.builder, spec.oracle)
    assert not errs, f"{name}: " + "; ".join(errs)


RANK_QUERIES = (
    "gr_katz_centrality",
    "gr_pagerank",
    "gr_pagerank_convergence",
    "gr_personalized_pagerank",
)


def _assert_kernel_equals_loop(spark, path, names=RANK_QUERIES):
    """Each rank query's rows from the default gate (the CSR kernel on
    the driver, whose ranks Spark scans as a LocalTableScan) equal its
    rows with the CSR cap at zero (the ``_rank_round`` join loop)."""
    for name in names:
        builder = SPECS[name].builder
        kernel = builder(spark, path)
        assert X.has_operator(kernel, "LocalTableScan"), f"{name}: no kernel"
        got = kernel.collect()
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(graph, "PR_CSR_MAX_BYTES", 0)
            loop = builder(spark, path)
            assert not X.has_operator(loop, "LocalTableScan"), f"{name}: no loop"
            want = loop.collect()
        assert got == want, name


@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(purchase_graph())
def test_rank_kernel_equals_join_loop_on_random_graphs(spark, tmp_path_factory, g):
    orders, lineitem = g
    path = str(tmp_path_factory.mktemp("rank_kernel"))
    _write(spark, path, orders, lineitem)
    _assert_kernel_equals_loop(spark, path)


def test_rank_kernel_equals_join_loop_at_sf001(spark, oracle_sf_dir):
    _assert_kernel_equals_loop(spark, oracle_sf_dir)


def test_rank_kernel_equals_join_loop_on_empty_tables(spark, empty_purchase_dir):
    _assert_kernel_equals_loop(spark, empty_purchase_dir)


def test_ppr_seed_without_round_one_mass_kernel_equals_loop(spark, tmp_path):
    """Seed customer 1 buys from suppliers 1 and 2, so its mass leaves in
    round 1 and nothing comes back until round 2; seed customer 2 has no
    orders at all. Both keep their teleport share on both paths."""
    orders = [(1, 1), (2, 3)]
    lineitem = [(1, 1), (1, 2), (2, 1)]
    path = str(tmp_path)
    _write(spark, path, orders, lineitem)
    _assert_kernel_equals_loop(spark, path, ["gr_personalized_pagerank"])
    got = [
        (r["node"], r["p"])
        for r in gr_personalized_pagerank(spark, path).collect()
    ]
    assert got == _model_ppr(orders, lineitem)
    assert (4, (3 * PR_SCALE // 20) // len(PPR_SEED_CUSTKEYS)) in got
