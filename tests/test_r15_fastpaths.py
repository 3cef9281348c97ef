"""Round-15 optimization parity tests.

Each r15 change keeps a declared query's output identical; these tests pin
the NEW internal path against the OLD one (reached by setting the module's
gate constant to 0) or against a python reference, so a future edit can't
silently diverge the fast path from the distributed semantics.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from api_log_iceberg_test_spark.operators import dedup, graph


def _rand_pairs(seed: int, n_nodes: int, n_edges: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    out = set()
    while len(out) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            out.add((min(a, b), max(a, b)))
    return sorted(out)


def test_components_driver_gate_matches_distributed(spark, monkeypatch):
    pairs = spark.createDataFrame(
        _rand_pairs(7, 40, 55), "doc_a long, doc_b long"
    )
    fast = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "_DRIVER_EDGE_LIMIT", 0)
    slow = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert fast == slow and fast


def test_components_driver_gate_string_ids(spark):
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "doc_a string, doc_b string"
    )
    got = {
        (r.doc_id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x"),
    }


def test_pagerank_driver_gate_matches_distributed(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(a, b, 1 + (a + b) % 3) for a, b in _rand_pairs(3, 25, 60)]
        + [(b, a, 1) for a, b in _rand_pairs(5, 25, 30)],
        "src long, dst long, w long",
    )
    fast = {
        r.node: round(r.rank, 9)
        for r in graph.pagerank(edges, k=6).collect()
    }
    monkeypatch.setattr(graph, "_PAGERANK_DRIVER_NODE_LIMIT", 0)
    slow = {
        r.node: round(r.rank, 9)
        for r in graph.pagerank(edges, k=6).collect()
    }
    assert fast.keys() == slow.keys()
    for node, rank in fast.items():
        # identical recurrence; only double summation ORDER differs, so the
        # two paths agree far inside the 6dp the queries round to
        assert abs(rank - slow[node]) < 1e-9, (node, rank, slow[node])


def test_cooccurrence_matches_bruteforce_self_join(spark):
    rng = random.Random(13)
    rows = [
        (basket, rng.randrange(20))
        for basket in range(60)
        for _ in range(rng.randrange(1, 6))
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {(r.a, r.b) for r in graph.cooccurrence_edges(li).collect()}
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    ref = {
        (r.a, r.b)
        for r in items.join(
            items.select("basket", F.col("item").alias("item_b")), "basket"
        )
        .filter(F.col("item") < F.col("item_b"))
        .select(F.col("item").alias("a"), F.col("item_b").alias("b"))
        .distinct()
        .collect()
    }
    assert got == ref and got


def test_lpa_argmax_aggregate_ties_to_smallest_label(spark):
    # node 9 receives label 1 (w=2) and label 2 (w=2): tie -> smaller label;
    # node 8 receives label 2 with more weight -> weight wins
    edges = spark.createDataFrame(
        [(1, 9, 2), (2, 9, 2), (1, 8, 1), (2, 8, 5)],
        "src long, dst long, w long",
    )
    got = {r.node: r.label for r in graph.label_propagation(edges, k=1).collect()}
    assert got[9] == 1 and got[8] == 2


def test_embed_fast_path_matches_nullable_path(spark):
    from api_log_iceberg_test_spark.operators import embed

    clean = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "gamma")], "doc_id long, text string"
    )
    withnull = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "gamma"), (4, None)],
        "doc_id long, text string",
    )
    fast = {r.doc_id: [r[f"d{d}"] for d in range(embed.DIM)]
            for r in embed.embed_documents(clean).collect()}
    mixed = {r.doc_id: [r[f"d{d}"] for d in range(embed.DIM)]
             for r in embed.embed_documents(withnull).collect()}
    for doc_id, vec in fast.items():
        assert vec == mixed[doc_id], doc_id  # same values both code paths
    assert all(v is None for v in mixed[4])  # NULL text stays NULL, not NaN
