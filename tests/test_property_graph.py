"""Property-based armor for the iterative graph operators.

The existing graph tests pin hand-built topologies (K4, paths, skewed
stars) and one real co-occurrence graph against a naive SQL count. These
tests add randomized coverage: for arbitrary small graphs, the
distributed algorithms must agree with slow-but-obviously-correct Python
references (union-find, brute-force triangle enumeration, dense-matrix
power iteration) — the failure modes they hunt are convergence-edge
cases (chains, rings, disconnected singletons) that curated fixtures
miss.
"""

from __future__ import annotations

from itertools import combinations
from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from api_log_iceberg_test_spark.operators import dedup, graph

# undirected edges over a small id space: self-loops dropped, (a, b)
# canonicalized a < b, deduplicated — ring/chain/star/disconnected shapes
# all arise naturally
_undirected_edges = (
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=16,
    )
    .map(
        lambda raw: sorted(
            {(min(a, b), max(a, b)) for a, b in raw if a != b}
        )
    )
    .filter(lambda es: len(es) > 0)
)


def _union_find_components(edge_list):
    """Reference: component label = min node id reachable (union-find)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots = {}
    for node in parent:
        roots.setdefault(find(node), []).append(node)
    out = {}
    for members in roots.values():
        label = min(members)
        for node in members:
            out[node] = label
    return out


def _components_both_paths(pairs):
    """connected_components' labels at the default edge gate (driver
    union-find) and with the gate at 0 (large-star/small-star rounds)."""
    out = {}
    for gate in (dedup._DRIVER_EDGE_LIMIT, 0):
        with mock.patch.object(dedup, "_DRIVER_EDGE_LIMIT", gate):
            out[gate] = {
                r["doc_id"]: r["component"]
                for r in dedup.connected_components(pairs).collect()
            }
    return out


@settings(max_examples=8, deadline=None, derandomize=True)
@given(_undirected_edges)
def test_cc_driver_and_star_match_union_find(spark, edge_list):
    """Both CC paths — the driver union-find and the O(log² n)
    large-star/small-star contraction — must produce the exact union-find
    partition on arbitrary topologies (rings and chains are the
    convergence stress cases the fixed fixtures don't generate)."""
    pairs = spark.createDataFrame(edge_list, "doc_a bigint, doc_b bigint")
    expect = _union_find_components(edge_list)
    for gate, got in _components_both_paths(pairs).items():
        assert got == expect, (gate, edge_list)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(_undirected_edges)
def test_triangle_counts_match_bruteforce(spark, edge_list):
    """Per-node triangle participation from the degree-oriented
    adjacency-intersect plan == brute-force enumeration of all C(V,3)
    triples."""
    es = set(edge_list)
    nodes = sorted({n for e in edge_list for n in e})
    expect: dict[int, int] = {}
    for u, v, w in combinations(nodes, 3):
        if (u, v) in es and (u, w) in es and (v, w) in es:
            for n in (u, v, w):
                expect[n] = expect.get(n, 0) + 1
    e = spark.createDataFrame(edge_list, "a bigint, b bigint")
    got = {
        r["node"]: r["n_triangles"] for r in graph.triangle_counts(e).collect()
    }
    assert got == expect, edge_list


# directed weighted edges; the fix-up below guarantees no dangling nodes
# (the documented contract of graph.pagerank)
_directed_edges = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7), st.integers(1, 3)),
    min_size=1,
    max_size=14,
).map(lambda raw: sorted({(u, v, float(w)) for u, v, w in raw if u != v}))


def _close_dangling(edge_list):
    """Give every sink node an out-edge (pagerank's no-dangling contract)."""
    if not edge_list:
        return edge_list
    nodes = {n for u, v, _ in edge_list for n in (u, v)}
    have_out = {u for u, _, _ in edge_list}
    anchor = min(nodes)
    extra = [
        (v, anchor if v != anchor else max(nodes), 1.0)
        for v in sorted(nodes - have_out)
    ]
    return sorted(set(edge_list) | set(extra))


def _numpy_pagerank(edge_list, k=5, damping=0.85):
    nodes = sorted({n for u, v, _ in edge_list for n in (u, v)})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out_total = np.zeros(n)
    for u, _, w in edge_list:
        out_total[idx[u]] += w
    frac = np.zeros((n, n))  # frac[u, v] = Σ w(u,v)/out(u) (parallel edges add)
    for u, v, w in edge_list:
        frac[idx[u], idx[v]] += w / out_total[idx[u]]
    rank = np.full(n, 1.0 / n)
    for _ in range(k):
        rank = (1.0 - damping) / n + damping * (rank @ frac)
    return {node: rank[i] for node, i in idx.items()}


@settings(max_examples=8, deadline=None, derandomize=True)
@given(_directed_edges.map(_close_dangling))
def test_pagerank_matches_dense_power_iteration(spark, edge_list):
    """Both pagerank paths — the driver power iteration at the default node
    gate and the lean-round distributed loop with the gate at 0 —
    must reproduce the dense power iteration exactly (same recurrence,
    same k): catches silent divergence in the join/agg update rule or the
    checkpoint cadence."""
    if not edge_list:
        return
    e = spark.createDataFrame(edge_list, "src bigint, dst bigint, w double")
    expect = _numpy_pagerank(edge_list, k=5)
    for gate in (graph._PAGERANK_DRIVER_NODE_LIMIT, 0):
        with mock.patch.object(graph, "_PAGERANK_DRIVER_NODE_LIMIT", gate):
            got = {r["node"]: r["rank"] for r in graph.pagerank(e, k=5).collect()}
        assert set(got) == set(expect), (gate, edge_list)
        for node, r in expect.items():
            assert abs(got[node] - r) < 1e-9, (gate, node, got[node], r, edge_list)


def test_cc_long_chain_converges(spark):
    """A 40-node chain: the diameter pathology the star contraction exists
    for — both CC paths must label it with the chain head."""
    chain = [(i, i + 1) for i in range(40)]
    pairs = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    for gate, got in _components_both_paths(pairs).items():
        assert got == {i: 0 for i in range(41)}, gate
