"""Graph operator tests: PageRank invariants, triangle-count exactness on
known graphs, and orientation/degeneracy edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from api_log_iceberg_test_spark.operators import graph
from tests.conftest import construction_jobs


def _edges(spark, rows):
    return spark.createDataFrame(rows, "a bigint, b bigint")


def _wedges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w bigint")


# --- pagerank ---------------------------------------------------------------


def _pagerank_both_paths(monkeypatch, edges, k):
    """(node -> rank) from the driver path and from the distributed loop
    (gate 0), which also reaches the src-only nodes and the k = 1 branch."""
    runs = []
    for gate in (graph._PAGERANK_DRIVER_NODE_LIMIT, 0):
        monkeypatch.setattr(graph, "_PAGERANK_DRIVER_NODE_LIMIT", gate)
        rows = graph.pagerank(edges, k=k).collect()
        runs.append({r["node"]: r["rank"] for r in rows})
    return runs


def test_pagerank_sums_to_one_without_dangling(spark, monkeypatch):
    """On a graph with no dangling nodes, total rank mass is conserved."""
    e = _wedges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    for ranks in _pagerank_both_paths(monkeypatch, e, k=10):
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_cycle_is_uniform(spark, monkeypatch):
    """A directed cycle is symmetric: every node gets rank 1/N exactly."""
    e = _wedges(spark, [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("d", "a", 1)])
    for ranks in _pagerank_both_paths(monkeypatch, e, k=15):
        assert len(ranks) == 4
        for rank in ranks.values():
            assert rank == pytest.approx(0.25, abs=1e-12)


def test_pagerank_sink_hub_ordering(spark, monkeypatch):
    """A node every other node points at must out-rank its pointers."""
    e = _wedges(
        spark,
        [("a", "hub", 1), ("b", "hub", 1), ("c", "hub", 1), ("hub", "a", 1)],
    )
    for ranks in _pagerank_both_paths(monkeypatch, e, k=20):
        assert ranks["hub"] > ranks["a"] > ranks["b"]  # a also gets hub's mass
        assert ranks["b"] == pytest.approx(ranks["c"], abs=1e-12)


def test_pagerank_weights_split_proportionally(spark, monkeypatch):
    """Out-mass splits by edge weight: a 3:1 weighted fork sends 3x the
    contribution to the heavy branch (checked after one iteration)."""
    e = _wedges(spark, [("s", "x", 3), ("s", "y", 1)])
    base = (1 - 0.85) / 3
    for ranks in _pagerank_both_paths(monkeypatch, e, k=1):
        assert ranks["x"] == pytest.approx(base + 0.85 * (1 / 3) * 0.75, abs=1e-12)
        assert ranks["y"] == pytest.approx(base + 0.85 * (1 / 3) * 0.25, abs=1e-12)
        assert ranks["s"] == pytest.approx(base, abs=1e-12)


def test_transition_edges_orders_by_time_and_id(spark):
    """Per-user edge extraction follows (ts, event_id) order — equal
    timestamps are tie-broken by id, so edges are deterministic."""
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "view"),
            (2, "2024-01-01 00:00:01", 10, "click"),
            (3, "2024-01-01 00:00:01", 10, "purchase"),  # same ts as id=2
            (4, "2024-01-01 00:00:00", 20, "view"),
        ],
        "event_id bigint, ts string, user_id bigint, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in graph.transition_edges(ev).collect()
    }
    assert got == {("view", "click"): 1, ("click", "purchase"): 1}


# --- triangles --------------------------------------------------------------


def test_triangle_counts_on_k4(spark):
    """K4 has 4 triangles; every vertex sits in exactly C(3,2)=3 of them."""
    e = _edges(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    )
    rows = graph.triangle_counts(e).collect()
    assert {r["node"]: r["n_triangles"] for r in rows} == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_path_has_none(spark):
    """A path graph is triangle-free — result is empty, not zero-rows-err."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert graph.triangle_counts(e).count() == 0


def test_triangle_counts_skewed_star_plus_one(spark):
    """Star + one rim edge: exactly one triangle regardless of hub degree —
    the orientation must not double count through the high-degree hub."""
    hub_edges = [(0, i) for i in range(1, 50)] + [(1, 2)]
    e = _edges(spark, hub_edges)
    rows = graph.triangle_counts(e).collect()
    assert {r["node"]: r["n_triangles"] for r in rows} == {0: 1, 1: 1, 2: 1}


def test_triangle_adjacency_broadcast_is_size_gated(spark, monkeypatch):
    """VERDICT r04 #4: the closure-join adjacency broadcast must be a
    size-gated branch, not an unconditional hint — |E| = 6 is under the
    default edge limit and broadcasts; a limit of 0 takes the shuffle
    shape. Both produce the identical triangle counts, and the shuffle
    shape really drops the adjacency BroadcastExchanges."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    expect = {1: 3, 2: 3, 3: 3, 4: 3}
    plans = {}
    for hinted, limit in ((True, graph._TRIANGLE_BROADCAST_ROW_LIMIT), (False, 0)):
        monkeypatch.setattr(graph, "_TRIANGLE_BROADCAST_ROW_LIMIT", limit)
        df = graph.triangle_counts(_edges(spark, k4))
        assert {r["node"]: r["n_triangles"] for r in df.collect()} == expect
        plans[hinted] = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
    # hinted shape: the two adjacency sides are broadcast
    assert plans[True].count("BroadcastHashJoin") >= 2
    # gated-off shape: strictly fewer broadcasts (AQE may still pick BHJ for
    # the tiny degree tables, but the explicit adjacency hints must be gone)
    assert plans[False].count("BroadcastExchange") < plans[True].count(
        "BroadcastExchange"
    )


def test_cooccurrence_edges_distinct_and_canonical(spark):
    """Repeat co-purchases collapse; edges come out with a < b."""
    li = spark.createDataFrame(
        [(100, 7), (100, 3), (100, 3), (200, 3), (200, 7), (300, 9)],
        "l_orderkey bigint, l_partkey bigint",
    )
    rows = graph.cooccurrence_edges(li).collect()
    assert sorted((r["a"], r["b"]) for r in rows) == [(3, 7)]


def test_triangle_matches_naive_on_testdata(spark, sf_dir):
    """Oriented count == naive a<b<c count on the real co-occurrence graph."""
    from api_log_iceberg_test_spark.schema import load_table

    edges = graph.cooccurrence_edges(load_table(spark, sf_dir, "lineitem")).cache()
    oriented_total = (
        graph.triangle_counts(edges).agg(F.sum("n_triangles")).collect()[0][0]
    )
    e1 = edges
    e2 = edges.select(F.col("a").alias("b2a"), F.col("b").alias("c"))
    naive = (
        e1.join(e2, e1.b == e2.b2a)
        .join(
            edges.select(F.col("a").alias("xa"), F.col("b").alias("xc")),
            (F.col("a") == F.col("xa")) & (F.col("c") == F.col("xc")),
        )
        .count()
    )
    edges.unpersist()
    assert oriented_total == naive * 3  # corner-sum counts each triangle 3x


def test_triangle_counts_random_graphs_match_naive(spark):
    """Oriented counting == naive a<b<c counting on seeded random graphs —
    broadens the K4/star/testdata cases to arbitrary topology."""
    import random

    for seed in (3, 17):
        rng = random.Random(seed)
        n = 30
        edges = sorted(
            {
                (a, b)
                for _ in range(120)
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        e = _edges(spark, edges)
        per_node = {
            r["node"]: r["n_triangles"] for r in graph.triangle_counts(e).collect()
        }
        # naive reference computed in Python
        adj = {i: set() for i in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        want = {i: 0 for i in range(n)}
        cnt = 0
        for a, b in edges:
            for c in adj[a] & adj[b]:
                if c > b:
                    want[a] += 1
                    want[b] += 1
                    want[c] += 1
                    cnt += 1
        want = {k: v for k, v in want.items() if v}
        assert per_node == want, f"seed {seed}"


def test_pagerank_mass_conserved_random_graph(spark, monkeypatch):
    """On a random graph with no dangling nodes, total rank mass stays 1."""
    import random

    rng = random.Random(11)
    n = 20
    rows = []
    for u in range(n):  # every node gets >= 1 out-edge: no dangling
        for v in rng.sample([x for x in range(n) if x != u], 3):
            rows.append((str(u), str(v), rng.randint(1, 5)))
    e = _wedges(spark, rows)
    for ranks in _pagerank_both_paths(monkeypatch, e, k=12):
        assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


# --- label propagation ------------------------------------------------------


def _sym(rows):
    """Symmetrize undirected (a, b) pairs into weighted directed edges."""
    return [(str(a), str(b), 1) for a, b in rows] + [
        (str(b), str(a), 1) for a, b in rows
    ]


def _lpa_ref(edges, k):
    """Python reference: synchronous weighted LPA, min-label tie-break."""
    nodes = {n for e in edges for n in e[:2]}
    labels = {n: n for n in nodes}
    for _ in range(k):
        weights = {}  # node -> label -> incoming weight
        for src, dst, w in edges:
            weights.setdefault(dst, {}).setdefault(labels[src], 0)
            weights[dst][labels[src]] += w
        labels = {
            n: (
                min(
                    lw, key=lambda lab: (-lw[lab], lab)
                )  # max weight, then min label
                if (lw := weights.get(n))
                else labels[n]
            )
            for n in nodes
        }
    return labels


def test_lpa_two_cliques_with_bridge(spark):
    """Two triangles joined by one bridge edge resolve to exactly the two
    clique communities — the bridge must not merge them in 3 rounds."""
    e = _wedges(spark, _sym([(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]))
    labels = {
        r["node"]: r["label"]
        for r in graph.label_propagation(e, k=3).collect()
    }
    communities = {}
    for node, lab in labels.items():
        communities.setdefault(lab, set()).add(node)
    assert sorted(sorted(c) for c in communities.values()) == [
        ["1", "2", "3"],
        ["4", "5", "6"],
    ]


def test_lpa_no_in_edges_keeps_own_label(spark):
    """A directed source node never receives a label — it keeps its own."""
    e = _wedges(spark, [("s", "x", 1), ("x", "y", 1), ("y", "x", 1)])
    labels = {
        r["node"]: r["label"]
        for r in graph.label_propagation(e, k=4).collect()
    }
    assert labels["s"] == "s"


def test_lpa_weight_beats_count(spark):
    """Label choice follows edge WEIGHT sums, not neighbor counts: one
    heavy edge outvotes two light ones after a single round."""
    e = _wedges(
        spark,
        [("h", "v", 5), ("a", "v", 1), ("b", "v", 1)],
    )
    labels = {
        r["node"]: r["label"]
        for r in graph.label_propagation(e, k=1).collect()
    }
    assert labels["v"] == "h"


def _random_digraph(seed, ids):
    """Seeded asymmetric random multigraph: nodes 0-3 only send, 4-7 only
    receive, one edge in five repeats an earlier one, and some weigh 0."""
    import random

    rng = random.Random(seed)
    n = 24
    senders = [v for v in range(n) if v not in range(4, 8)]
    receivers = list(range(4, n))
    rows = [(s, rng.choice(receivers)) for s in range(4)]  # each one sends
    rows += [(rng.choice(senders), d) for d in range(4, 8)]  # each one receives
    rows += [(rng.choice(senders), rng.choice(receivers)) for _ in range(60)]
    rows += rng.sample(rows, len(rows) // 5)
    return [(ids(a), ids(b), rng.choice([0, 1, 1, 2, 3])) for a, b in rows if a != b]


def test_lpa_matches_python_reference_random_graphs(spark, monkeypatch):
    """Full k-round label trajectory matches a Python reference, on seeded
    random undirected graphs and on asymmetric multigraphs with src-only
    and dst-only nodes, duplicate edges and zero weights — pins argmax +
    tie-break + keep-label semantics for every round count and checkpoint
    cadence, with long and with string node ids."""
    import random

    for seed in (5, 23):
        rng = random.Random(seed)
        n = 25
        und = sorted(
            {
                (a, b)
                for _ in range(60)
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        edges = _sym(und)
        got = {
            r["node"]: r["label"]
            for r in graph.label_propagation(_wedges(spark, edges), k=4).collect()
        }
        want = _lpa_ref(edges, k=4)
        assert got == want, f"seed {seed}"

    for k in (1, 2, 3, 4):
        for every in (1, 2, 3):
            # alternate the id type so each k and each cadence sees both
            ids, typ = (int, "bigint") if (k + every) % 2 else (str, "string")
            edges = _random_digraph(10 * k + every, ids)
            e = spark.createDataFrame(edges, f"src {typ}, dst {typ}, w bigint")
            monkeypatch.setattr(graph, "_LPA_CHECKPOINT_ROUNDS", every)
            got = {
                r["node"]: r["label"]
                for r in graph.label_propagation(e, k=k).collect()
            }
            assert got == _lpa_ref(edges, k=k), (k, every, typ)


def _cache_is_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _range_graph(spark):
    """120 edges over 42 nodes from ``spark.range``, so the planner knows
    the graph's size, as it does for a file-backed input, and broadcasts
    the round vectors."""
    return spark.range(120).select(
        (F.col("id") % 40).alias("src"),
        ((F.col("id") * 7 + 1) % 40 + 2).alias("dst"),
        (F.col("id") % 3).alias("w"),
    )


def test_lpa_job_count_pinned(spark):
    """label_propagation(k=3) launches at most 8 Spark jobs: the edges' dst
    exchange, two cache-stage jobs, the round-1 broadcast, the round-2
    checkpoint, the round-2 labels' broadcast, the src-only distinct, and
    the round-3 checkpoint. A re-introduced exchange over the edges, label
    join or cache adds jobs and fails here."""
    e = _range_graph(spark)
    assert construction_jobs(spark, "lpa", graph.label_propagation, e, k=3) <= 8
    assert _cache_is_empty(spark)


def test_pagerank_job_count_pinned(spark, monkeypatch):
    """The distributed pagerank(k=5) launches at most 17 Spark jobs: the |V|
    count, the out-weight window and dst exchange under the edge cache, one
    broadcast per looked-up rank vector, the src-only distinct and the
    round-4 and round-5 checkpoints. A per-round exchange over the edges
    or a re-introduced node cache adds jobs and fails here."""
    monkeypatch.setattr(graph, "_PAGERANK_DRIVER_NODE_LIMIT", 0)
    e = _range_graph(spark)
    assert construction_jobs(spark, "pagerank", graph.pagerank, e, k=5) <= 17
    assert _cache_is_empty(spark)


def test_graph_loops_reject_zero_rounds(spark):
    """k = 0 is an error in both loops, before any Spark job runs."""
    e = _wedges(spark, [("a", "b", 1)])
    with pytest.raises(ValueError, match="k >= 1"):
        graph.pagerank(e, k=0)
    with pytest.raises(ValueError, match="k >= 1"):
        graph.label_propagation(e, k=0)


def test_graph_loops_answer_rewritten_inputs(spark, tmp_path, monkeypatch):
    """Re-running the graph loops in one session after an input file is
    rewritten in place answers for the new file. Spark matches cached plans
    by input path, so a cache left by the first run would answer the second
    with the old rows: the loops must leave no cache behind."""
    import shutil

    import pyarrow.parquet as pq

    import __spark_entry__ as em
    from api_log_iceberg_test_spark.operators import registry
    from tests.conftest import SF0001
    from tests.oracle import TABLES, compare, duckdb_conn

    sf = str(tmp_path)
    for t in TABLES:
        shutil.copy(f"{SF0001}/{t}.parquet", sf)
    qs, osql = em.queries(), em.oracle_sql()
    spark.catalog.clearCache()

    def run():
        con = duckdb_conn(sf)
        for name in ("q_label_propagation", "q_pagerank_parts"):
            df = qs[name](spark, sf)
            assert _cache_is_empty(spark), name
            assert not compare(df, con.execute(osql[name]).fetchdf(), name)
        edges = registry._part_graph(spark, sf)
        monkeypatch.setattr(graph, "_PAGERANK_DRIVER_NODE_LIMIT", 0)
        loop = graph.pagerank(edges, k=5)
        assert _cache_is_empty(spark)
        monkeypatch.setattr(graph, "_PAGERANK_DRIVER_NODE_LIMIT", 1 << 30)
        driver = graph.pagerank(edges, k=5)
        want = {r.node: round(r.rank, 9) for r in driver.collect()}
        assert {r.node: round(r.rank, 9) for r in loop.collect()} == want

    run()
    path = tmp_path / "lineitem.parquet"
    li = pq.read_table(path)
    pq.write_table(li.slice(0, li.num_rows // 2), path)
    run()
