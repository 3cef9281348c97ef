"""Iterative graph operators: PageRank, triangle counting, label propagation.

Completes the graph-primitive family next to connected components
(``dedup.connected_components``: a driver union-find under an edge-count
gate, large-star/small-star rounds above it): a data-curation pipeline
uses these for link analysis over duplicate graphs, co-occurrence graphs,
and reference graphs (PageRank-style quality priors are a standard
web-corpus curation signal — see the Common Crawl / CCNet lineage).

All operators are DataFrame compositions — no Python UDFs, no RDDs. Each
one picks its execution path from the size of its input, never from a
caller's flag; the gates and checkpoint cadences are module constants:

* :func:`pagerank` — fixed-iteration power method. Up to
  ``_PAGERANK_DRIVER_NODE_LIMIT`` nodes the graph is metadata-sized and
  the driver iterates a collected edge list; above it the iterations run
  as lean rounds (below), checkpointed every
  ``_PAGERANK_CHECKPOINT_ROUNDS`` rounds.
* :func:`label_propagation` — synchronous weighted LPA (Raghavan, Albert &
  Kumara 2007) with a deterministic smallest-label tie-break in place of
  the paper's random one, in lean rounds checkpointed every
  ``_LPA_CHECKPOINT_ROUNDS`` rounds — community detection at near-linear
  cost per round, the standard choice at web scale where modularity
  methods don't shard.
* :func:`triangle_counts` — degree-ordered edge orientation (each
  undirected edge directed from its lower-(degree, id) endpoint), then a
  neighbor-array intersection per oriented edge. Orientation bounds each
  node's out-degree by O(sqrt(m)), the standard trick that makes
  distributed triangle counting survive power-law degree skew (a
  celebrity node with 10M neighbors would otherwise emit 10M² wedges).
  Its joins broadcast up to ``_TRIANGLE_BROADCAST_ROW_LIMIT`` edges and
  shuffle past it.

Both iterative operators compute a recurrence in which a node's next value
is an aggregate over its in-edges of the sources' current values, and both
run it through one loop, :func:`_lean_rounds`: the edges are cached
hash-partitioned on ``dst``, and a round looks each source's value up in
the previous round's broadcast |V|-row vector and aggregates inside the
partitions, so no edge row crosses an exchange.

Oracle strategy: PageRank with FIXED k unrolls to a k-step CTE chain in
ANSI SQL (no recursive CTE needed — see ``registry._pagerank_oracle``);
the triangle set is orientation-independent, so the oracle counts triangles
with the simple a<b<c three-way join while Spark uses the oriented plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _pairs_from_buckets

#: Node count up to which :func:`pagerank` iterates on the driver.
_PAGERANK_DRIVER_NODE_LIMIT = 256
#: :func:`pagerank` checkpoints its rank vector every this many iterations.
_PAGERANK_CHECKPOINT_ROUNDS = 4
#: :func:`label_propagation` checkpoints its labels every this many rounds.
_LPA_CHECKPOINT_ROUNDS = 2
#: Edge count up to which :func:`triangle_counts` broadcasts its degree
#: table and adjacency (4M elements ≈ 64 MB serialized, inside a 1-2 GB
#: broadcast budget with room for the 2x both-sides copy).
_TRIANGLE_BROADCAST_ROW_LIMIT = 4_000_000


def transition_edges(events: DataFrame) -> DataFrame:
    """Weighted event-type transition graph from per-user event timelines.

    One window shuffle on ``user_id`` (lag over the user's ``ts`` timeline —
    ``event_id`` tie-breaks equal timestamps deterministically), then a
    map-side-combinable count per (src, dst). Output is |types|² rows max —
    tiny regardless of input scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        events.filter(F.col("event_type").isNotNull())
        .select("user_id", "ts", "event_id", F.col("event_type").alias("dst"))
        .withColumn("src", F.lag("dst").over(w))
        .filter(F.col("src").isNotNull())
    )
    return seq.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))


def _pagerank_driver(
    edges: DataFrame, n: int, k: int, damping: float
) -> DataFrame:
    """Power iteration on a COLLECTED edge list — the small-graph fast
    path of :func:`pagerank`.

    The event-type transition graph is |types|²-bounded at ANY corpus
    scale (its nodes are schema values, not data rows), yet the
    distributed loop pays a Spark job per broadcast and checkpoint to
    multiply a ≤256-node matrix. Guide §5: the driver should do no DATA
    work, but this is METADATA-sized (the gate bounds the collect at
    ``_PAGERANK_DRIVER_NODE_LIMIT``², 64 KB-class), like the repo's sketch
    blobs and boundary samples. Identical recurrence, same double
    arithmetic order per node (contributions accumulate in sorted (src,
    dst) order; every registered consumer rounds to 6dp, and the
    differential oracle pins equality at each SF).
    """
    from pyspark.sql import types as T

    rows = edges.select("src", "dst", "w").collect()
    out_total: dict = {}
    for s, d, w in rows:
        out_total[s] = out_total.get(s, 0) + w
    contribs = sorted(
        (s, d, w / out_total[s]) for s, d, w in rows
    )
    node_set = {s for s, _, _ in rows} | {d for _, d, _ in rows}
    rank = {v: 1.0 / n for v in node_set}
    base = (1.0 - damping) / n
    for _ in range(k):
        in_sum = {v: 0.0 for v in node_set}
        for s, d, frac in contribs:
            in_sum[d] += rank[s] * frac
        rank = {v: base + damping * in_sum[v] for v in node_set}
    node_t = edges.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_t, False),
            T.StructField("rank", T.DoubleType(), False),
        ]
    )
    # Arrow-batched local relation, not a pickled-row parallelize: the
    # latter forks defaultParallelism Python workers per downstream
    # action just to deserialize ≤256 rows (r15, guide §4).
    from ..schema import local_rows_df

    return local_rows_df(edges.sparkSession, list(rank.items()), schema)


def pagerank(edges: DataFrame, k: int = 10, damping: float = 0.85) -> DataFrame:
    """k-iteration power-method PageRank over a weighted edge list.

    ``edges`` must have columns (src, dst, w). Returns (node, rank).

    rank_{t+1}(v) = (1-d)/N + d · Σ_{(u,v)∈E} rank_t(u) · w(u,v)/out(u)

    This is the simplified variant WITHOUT dangling-mass redistribution
    (a node with no out-edges lets its rank mass decay); both the Spark
    plan and the SQL oracle implement the identical recurrence, and the
    transition graphs this repo builds have no dangling nodes.

    Scale: graphs of at most ``_PAGERANK_DRIVER_NODE_LIMIT`` nodes run on
    the driver (:func:`_pagerank_driver`). Above it each edge carries
    ``frac = w/out(src)`` and a :func:`_lean_rounds` round sums
    ``rank[src]·frac`` per ``dst``; nodes without in-edges hold ``(1-d)/N``.
    """
    if k < 1:
        raise ValueError(f"pagerank needs k >= 1 iterations, got {k}")
    edges = edges.select("src", "dst", "w")
    # driver-side scalar: |V| (bounded — node table)
    n = edges.select(F.explode(F.array("src", "dst"))).distinct().count()
    # r15 small-graph gate: |V| bounds |E| at |V|² — metadata-sized. One
    # collect replaces the k-round loop (see _pagerank_driver; parity with
    # the loop pinned in tests).
    if n <= _PAGERANK_DRIVER_NODE_LIMIT:
        return _pagerank_driver(edges, n, k, damping)
    # out(src) as a window over the edges: an out-weight aggregate joined
    # back would derive the edges twice under the edge cache
    from pyspark.sql import Window

    out_total = F.sum("w").over(Window.partitionBy("src"))
    frac = edges.select("src", "dst", (F.col("w") / out_total).alias("frac"))
    base = F.lit((1.0 - damping) / n)

    def step(votes, rank):
        in_sum = F.sum(rank * F.col("frac"))
        return votes.groupBy(F.col("dst").alias("node")).agg(
            (base + F.lit(damping) * in_sum).alias("rank")
        )

    return _lean_rounds(
        frac, k, _PAGERANK_CHECKPOINT_ROUNDS, F.lit(1.0 / n), base, step
    )


def cooccurrence_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct item co-occurrence edges (a < b) from a basket table.

    Market-basket graph: two parts (``l_partkey``) are linked iff they
    appear in the same order (``l_orderkey``). Pairs are generated per
    basket, so fan-out is bounded by basket size (≤7 lineitems per order
    in TPC-H), not table size; repeat co-purchases collapse to one
    undirected edge.
    """
    items = lineitem.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    )
    # r15 (guide §1.2): pairs come from ONE per-basket set aggregate +
    # in-row combination expansion (_pairs_from_buckets, the dedup
    # candidate generator) instead of a basket self-join — measured
    # 2.9 s → 1.7 s interleaved at sf0.1, same 1,196,000 edges. Per-basket
    # state is bounded by basket size (≤7 items in the TPC-H shape).
    return _pairs_from_buckets(items, ["basket"], id_col="item").select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over undirected edges (a<b).

    Plan (degree-ordered orientation, the distributed-standard algorithm):

    1. degree per node (one agg over the exploded endpoints);
    2. orient each edge from its lower-(degree, id) endpoint — out-degree
       is then O(sqrt(m)) even under power-law skew;
    3. wedge join: oriented ⋈ oriented on the shared source;
    4. close each wedge against the canonical (a<b) edge set.

    Each triangle is emitted exactly once (from its unique lowest-order
    vertex), then exploded to its three corners for per-node counts.
    Shuffles: degree agg, orientation join (broadcast — degree table is
    |V| rows, tiny vs |E|), wedge join on src, closure join on (a,b).

    One size gate covers every broadcast hint in this operator (VERDICT
    r04 #4) — the |V|-row degree table on the orientation joins and the
    adjacency on the closure joins, both of which scale with the graph:
    the adjacency holds exactly |E| total elements and the degree table
    |V| ≤ 2|E| rows. The operator counts the checkpointed edge list and
    broadcasts only when |E| ≤ ``_TRIANGLE_BROADCAST_ROW_LIMIT``. Past the
    limit the SAME plan runs without hints and the joins shuffle on their
    keys.

    NOTE (ADVICE r05): the edge count runs EAGERLY at DataFrame-
    construction time — building or explaining the plan triggers one
    edge-derivation job before any action on the result. Execution pays
    that job anyway (it materializes the lazy checkpoint both paths
    reuse), so the cost is only visible in plan-only contexts.
    """
    # The edge list feeds four plan branches (degrees, orientation, closure);
    # without lineage truncation Catalyst inlines the derivation subtree
    # (often a distinct over a self-join) once PER BRANCH — a 4x recompute
    # that only gets worse when the caller's edge derivation is expensive.
    # A lazy localCheckpoint materializes it once on first use.
    edges = edges.localCheckpoint(eager=False)
    # The same size gate covers BOTH broadcast families in this operator:
    # the degree table is |V| ≤ 2|E| rows and the adjacency totals exactly
    # |E| elements, so one edge count (an action the lazy checkpoint pays
    # anyway) decides both. Past the budget every hint drops and the same
    # plan shuffles on its join keys.
    small = edges.count() <= _TRIANGLE_BROADCAST_ROW_LIMIT
    hint = F.broadcast if small else (lambda df: df)
    deg = (
        edges.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        edges.join(hint(da), "a")
        .join(hint(db), "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
            )
            .otherwise(F.struct(F.col("b").alias("src"), F.col("a").alias("dst")))
            .alias("e")
        )
        .select("e.src", "e.dst")
        # r16: two consumers (adjacency aggregate + closure probe) would
        # each re-read the edge checkpoint and re-run both orientation
        # joins; one lazy checkpoint computes the oriented list once
        # (measured 1.94 → 1.81 s on the co-occurrence graph at sf0.1,
        # identical counts).
        .localCheckpoint(eager=False)
    )
    # Node-iterator closure via adjacency-list intersection, NOT an
    # exploded wedge join: materializing Σ outdeg² wedge rows and joining
    # them against the edge set measured 23s at sf0.1; intersecting two
    # oriented neighbor arrays per edge does the same element-comparisons
    # inside one codegen array_intersect and materializes only |E| + #tri
    # rows (~6x faster measured). Orientation makes it exact-once: in the
    # (deg, id) total order each triangle u<v<w has edges u→v, u→w, v→w,
    # so w ∈ N⁺(u)∩N⁺(v) surfaces it at edge (u,v) and nowhere else.
    # Neighbor sets are deduped arrays — orientation bounds them at
    # O(sqrt m) elements even under power-law skew.
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    # adjacency is |V| rows summing to exactly |E| elements — broadcastable
    # well past bench scale, but NOT unconditionally: gated above.
    au = hint(adj.select(F.col("src").alias("u"), F.col("nbrs").alias("nbrs_u")))
    av = hint(adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nbrs_v")))
    # r15 (guide §2): the per-edge neighbor-array intersection is this
    # operator's heaviest compute and — both closure joins being
    # broadcasts — runs at the checkpointed edge list's (coalesced-small)
    # partitioning. fan_out widens it to cluster parallelism when
    # narrower (no-op on wide inputs; measured 2.56 → 2.11 s at sf0.1,
    # identical counts — intersection sets don't depend on row layout).
    from ..schema import fan_out

    probe = fan_out(oriented)
    closed = (
        probe.join(au, probe.src == F.col("u"))
        .join(av, probe.dst == F.col("v"))
        .select(
            "src",
            "dst",
            F.explode(F.array_intersect("nbrs_u", "nbrs_v")).alias("third"),
        )
    )
    # one explode over the triangle set attributes all three corners
    corners = closed.select(
        F.explode(F.array("src", "dst", "third")).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def _lean_rounds(edges, k, every, first, missing, aggregate) -> DataFrame:
    """k lean rounds of a node-vector recurrence over ``edges`` (src, dst, …).

    Round 0 gives each edge the source value ``first``; later rounds look
    it up as ``coalesce(V[src], missing)`` in the previous round's vector
    V, which holds exactly the nodes with in-edges. ``aggregate(votes,
    value)`` maps the edges with their source values to the next vector
    (node, value), grouped on ``dst``. After the last round the nodes
    without in-edges join with ``missing``: the lookup misses exactly them
    (an anti-join finds them when k = 1). The edges are cached on ``dst``
    at cluster parallelism, not ``spark.sql.shuffle.partitions`` (a stock
    200-partition session would pay k times for empty tasks); the vector
    is checkpointed every ``every`` rounds and in the last one, and the
    cache is released before returning.
    """
    par = edges.sparkSession.sparkContext.defaultParallelism
    ed = edges.repartition(par, "dst").cache()
    prev = None
    for i in range(k):
        if prev is None:
            votes, value = ed, first
        else:
            looked_up = F.col(prev.columns[1])
            votes = ed.join(prev, ed.src == prev.node, "left")
            value = F.coalesce(looked_up, missing)
        vec = aggregate(votes, value)
        if i == k - 1:
            src_only = (
                votes.filter(looked_up.isNull())
                if prev is not None
                else ed.join(vec, ed.src == vec.node, "left_anti")
            ).select("src")
            vec = vec.union(src_only.distinct().select("src", missing))
        if (i + 1) % every == 0 or i == k - 1:
            vec = vec.localCheckpoint(eager=True)
        prev = vec
    ed.unpersist()
    return prev


def label_propagation(edges: DataFrame, k: int = 3) -> DataFrame:
    """k rounds of synchronous weighted label propagation over directed
    edges (src, dst, w); symmetrize first for undirected graphs. Returns
    (node, label).

    Every node starts labeled with itself; each round, node v adopts the
    label carrying the greatest incoming edge-weight sum among its
    neighbors' current labels, smallest label winning ties (Raghavan et
    al. 2007, de-randomized: the paper breaks ties uniformly at random,
    which would be oracle-hostile — the min-label rule makes the whole
    k-round trajectory deterministic in any engine). A node with no
    in-edges keeps its current label. Fixed-k semantics sidestep the
    known oscillation of synchronous LPA on bipartite structures: the
    result is well-defined whether or not the labeling has stabilized,
    and the SQL oracle unrolls the identical k rounds.

    Scale: :func:`_lean_rounds` runs the rounds; an edge's label is
    ``coalesce(L[src], src)`` in the previous label vector L.
    """
    if k < 1:
        raise ValueError(f"label_propagation needs k >= 1 rounds, got {k}")

    def vote(votes, label):
        # arg-max, ties to the smallest label, in hash aggregates only (a
        # struct min sorts): weight per label, min label per weight, top weight
        return (
            votes.groupBy("dst", label.alias("label"))
            .agg(F.sum("w").alias("c"))
            .groupBy("dst", "c")
            .agg(F.min("label").alias("label"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.max_by("label", "c").alias("label"))
        )

    src = F.col("src")
    return _lean_rounds(
        edges.select("src", "dst", "w"), k, _LPA_CHECKPOINT_ROUNDS, src, src, vote
    )
