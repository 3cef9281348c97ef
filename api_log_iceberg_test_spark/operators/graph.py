"""Iterative graph operators: PageRank, triangle counting, label propagation.

Completes the graph-primitive family next to connected components
(``dedup.connected_components``): a data-curation pipeline uses these for
link analysis over duplicate graphs, co-occurrence graphs, and reference
graphs (PageRank-style quality priors are a standard web-corpus curation
signal — see the Common Crawl / CCNet lineage).

All operators are pure DataFrame compositions — no Python UDFs, no RDDs:

* :func:`pagerank` — fixed-iteration power method. Each iteration joins
  the rank vector (one row per node) to the edge list, cached and
  partitioned on ``src``, and re-aggregates the contributions on ``dst``
  (one map-side-combined shuffle); lineage is cut with ``localCheckpoint``
  every few iterations so the plan does not grow exponentially with k.
* :func:`label_propagation` — synchronous weighted LPA (Raghavan, Albert &
  Kumara 2007) with a deterministic smallest-label tie-break in place of
  the paper's random one. Each round looks source labels up in the
  broadcast label vector and aggregates inside the ``dst`` partitions of the
  cached edge list — community detection at near-linear cost per round,
  the standard choice at web scale where modularity methods don't shard.
* :func:`triangle_counts` — degree-ordered edge orientation (each
  undirected edge directed from its lower-(degree, id) endpoint), then a
  wedge self-join closed against the edge set. Orientation bounds each
  node's out-degree by O(sqrt(m)), which bounds the wedge join's fan-out —
  the standard trick that makes distributed triangle counting survive
  power-law degree skew (a celebrity node with 10M neighbors would
  otherwise emit 10M² wedges).

Oracle strategy: PageRank with FIXED k unrolls to a k-step CTE chain in
ANSI SQL (no recursive CTE needed — see ``registry._pagerank_oracle``);
the triangle set is orientation-independent, so the oracle counts triangles
with the simple a<b<c three-way join while Spark uses the oriented plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    time_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Weighted event-type transition graph from per-user event timelines.

    One window shuffle on ``user_col`` (lag over the user's timeline —
    ``id_col`` tie-breaks equal timestamps deterministically), then a
    map-side-combinable count per (src, dst). Output is |types|² rows max —
    tiny regardless of input scale.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(time_col, id_col)
    seq = (
        events.filter(F.col(type_col).isNotNull())
        .select(user_col, time_col, id_col, F.col(type_col).alias("dst"))
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
    distributed loop pays k joins + aggregates + eager checkpoints —
    ~15 Spark jobs to multiply a ≤256-node matrix ten times. Guide §5:
    the driver should do no DATA work, but this is METADATA-sized (the
    gate bounds the collect at driver_max_nodes², 64 KB-class), like the
    repo's sketch blobs and boundary samples. Identical recurrence, same
    double arithmetic order per node (contributions accumulate in sorted
    (src, dst) order; every registered consumer rounds to 6dp, and the
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


def pagerank(
    edges: DataFrame,
    k: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
    driver_max_nodes: int | None = 256,
) -> DataFrame:
    """k-iteration power-method PageRank over a weighted edge list.

    ``edges`` must have columns (src, dst, w). Returns (node, rank).

    rank_{t+1}(v) = (1-d)/N + d · Σ_{(u,v)∈E} rank_t(u) · w(u,v)/out(u)

    This is the simplified variant WITHOUT dangling-mass redistribution
    (a node with no out-edges lets its rank mass decay); both the Spark
    plan and the SQL oracle implement the identical recurrence, and the
    transition graphs this repo builds have no dangling nodes.

    Scale: nodes/out-weights are computed once. Each iteration joins the
    rank vector (|V| rows) to the edge list on ``src`` and re-aggregates on
    ``dst`` — one shuffle of |V| rows plus one of |E| partial sums; the
    edge list itself is cached and its ``src`` partitioning reused across
    all k iterations. ``localCheckpoint`` every ``checkpoint_every``
    rounds truncates lineage so the optimizer never sees a k-deep plan
    (the classic iterative-algorithm failure mode on Spark).
    """
    edges = edges.select("src", "dst", "w")
    # cached: referenced in every iteration's left join — without the cache
    # each round would re-derive the distinct (and the caller's edge
    # extraction under it) from scratch
    nodes = (
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
        .cache()
    )
    n_nodes = nodes.count()  # driver-side scalar: |V| (bounded — node table)
    # r15 small-graph gate: |V| ≤ driver_max_nodes bounds |E| at |V|² —
    # metadata-sized. One collect replaces the k-round join/agg/checkpoint
    # loop (see _pagerank_driver). None forces the distributed loop
    # (parity pinned in tests).
    if driver_max_nodes is not None and n_nodes <= driver_max_nodes:
        nodes.unpersist()
        return _pagerank_driver(edges, n_nodes, k, damping)
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_total"))
    # contribution edge: src -> dst carrying w/out(src); cached + hash-
    # partitioned on src once so every iteration's join reuses the exchange.
    # Partition count pinned to cluster parallelism, NOT
    # spark.sql.shuffle.partitions: an iterative loop multiplies the
    # per-stage task overhead by k, and a stock 200-partition session
    # measured 8x slower on a 230k-edge graph purely from empty-task
    # scheduling (AQE coalescing doesn't apply to the cached layout).
    par = edges.sparkSession.sparkContext.defaultParallelism
    contrib_edges = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_total")).alias("frac"))
        .repartition(par, "src")
        .cache()
    )
    n = n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for i in range(k):
        contribs = (
            contrib_edges.join(ranks, contrib_edges.src == ranks.node)
            .select("dst", (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        new_ranks = nodes.join(
            contribs, nodes.node == contribs.dst, "left"
        ).select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 or i == k - 1:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        ranks = new_ranks
    nodes.unpersist()
    contrib_edges.unpersist()
    return ranks


def cooccurrence_edges(
    lineitem: DataFrame,
    basket_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Distinct item co-occurrence edges (a < b) from a basket table.

    Market-basket graph: two parts are linked iff they appear in the same
    order. The self-join is on the basket key, so fan-out is bounded by
    basket size (≤7 lineitems per order in TPC-H), not table size; the
    DISTINCT collapses repeat co-purchases to one undirected edge.
    """
    items = lineitem.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    )
    # r15 (guide §1.2): pairs come from ONE per-basket set aggregate +
    # in-row combination expansion instead of a basket self-join — the
    # join sorted/shuffled both sides and emitted n² rows per basket
    # before the a<b filter; this shuffles each item once (map-side
    # partial collect_set), then slices the sorted in-basket array for
    # the i<j combinations. Same edge set (verified row-for-row at sf0.1:
    # 1,196,000 edges both ways); measured 2.9 s → 1.7 s interleaved.
    # Per-basket state is bounded by basket size (≤7 items in the TPC-H
    # shape), so the collect_set group is O(1) — the same bound that
    # already capped the join fan-out.
    sets = items.groupBy("basket").agg(
        F.sort_array(F.collect_set("item")).alias("arr")
    )
    return (
        sets.select("arr", F.posexplode("arr").alias("i", "a"))
        .select(
            "a",
            F.explode(
                F.slice("arr", F.col("i") + F.lit(2), F.size("arr"))
            ).alias("b"),
        )
        .distinct()
    )


def triangle_counts(
    edges: DataFrame,
    broadcast_adjacency: bool | None = None,
    broadcast_budget_rows: int = 4_000_000,
) -> DataFrame:
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

    ``broadcast_adjacency`` gates every broadcast hint in this operator
    (VERDICT r04 #4) — the |V|-row degree table on the orientation joins
    and the adjacency on the closure joins, both of which scale with the
    graph: the adjacency holds exactly |E| total elements and the degree
    table |V| ≤ 2|E| rows. ``None`` (auto) counts the checkpointed edge
    list — an action the plan pays anyway to materialize the checkpoint —
    and broadcasts only when |E| ≤ ``broadcast_budget_rows`` (default 4M
    elements ≈ 64 MB serialized, inside a 1-2 GB driver/executor broadcast
    budget with room for the 2x both-sides copy). Past the budget the SAME
    plan runs without hints and the joins shuffle on their keys.

    NOTE (ADVICE r05): auto mode (``broadcast_adjacency=None``) runs the
    edge count EAGERLY at DataFrame-construction time — building or
    explaining the plan triggers one edge-derivation job before any action
    on the result. Execution pays that job anyway (it materializes the
    lazy checkpoint both paths reuse), so the cost is only visible in
    plan-only contexts; callers that need a fully lazy plan (explain
    fixtures, smoke checks) should pass an explicit ``broadcast_adjacency``
    flag.
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
    if broadcast_adjacency is None:
        broadcast_adjacency = edges.count() <= broadcast_budget_rows
    hint = F.broadcast if broadcast_adjacency else (lambda df: df)
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


def label_propagation(
    edges: DataFrame,
    k: int = 3,
    checkpoint_every: int = 2,
) -> DataFrame:
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

    Scale: the edge list is cached hash-partitioned on ``dst``, so each
    round's weight sum and arg-max run inside each partition, with no
    exchange over the edges. Later rounds look each edge's label up as
    ``coalesce(L[src], src)`` in the previous round's broadcast label
    vector L, which holds exactly the nodes with in-edges: no join back to
    the old labels; the others keep their own id and join after the last
    round. ``localCheckpoint`` every ``checkpoint_every`` rounds keeps the
    plan flat in k; the edge cache is released before returning.
    """
    if k < 1:
        raise ValueError(f"label_propagation needs k >= 1 rounds, got {k}")
    edges = edges.select("src", "dst", "w")
    par = edges.sparkSession.sparkContext.defaultParallelism
    ed = edges.repartition(par, "dst").cache()
    prev = None
    for i in range(k):
        votes = ed if prev is None else ed.join(prev, ed.src == prev.node, "left")
        label = F.col("src") if prev is None else F.coalesce("label", "src")
        # arg-max, ties to the smallest label, in hash aggregates only (a
        # struct min sorts): weight per label, min label per weight, top weight
        labels = (
            votes.groupBy("dst", label.alias("label"))
            .agg(F.sum("w").alias("c"))
            .groupBy("dst", "c")
            .agg(F.min("label").alias("label"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.max_by("label", "c").alias("label"))
        )
        if i == k - 1:  # add the nodes without in-edges, labelled by themselves
            src_only = (  # the lookup misses exactly them: no second broadcast
                votes.filter(F.col("label").isNull())
                if prev is not None
                else ed.join(labels, ed.src == labels.node, "left_anti")
            ).select("src")
            labels = labels.union(src_only.distinct().select("src", "src"))
        if (i + 1) % checkpoint_every == 0 or i == k - 1:
            labels = labels.localCheckpoint(eager=True)
        prev = labels
    ed.unpersist()
    return prev
