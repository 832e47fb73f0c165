"""Distributed graph analytics over the materialized entity graph.

The north-star pipeline materializes a weighted co-occurrence graph
(`kg_graph_nodes` / `kg_graph_edges`); these operators are the query
workloads a KG actually serves from that graph: centrality (PageRank,
HITS), local clustering (triangles, clustering coefficient, k-core,
k-truss), communities (label propagation, connected components,
bounded SCC) and neighborhood expansion (two-hop reach, BFS, bounded
hop distances).
The reference repo stops at frequency ranking
(scripts/analysis.py:61-104 ranks entities by mention count); these are
the graph-native generalizations of that ranking.

Every op reads an edge frame with ``src``/``dst`` columns.

Scale notes:
* every join is keyed on a node id — at production scale the edge table
  is written bucketed by ``src`` so each PageRank iteration and the
  triangle expansion shuffle only the (much smaller) rank/label side;
* shared steps exist once: :func:`_weighted_edges` /
  :func:`_endpoints` are the edge prep and node frame of pagerank and
  hits, and :func:`_expand_pairs` is the one frontier loop (bfs_hops,
  hop_distances, directed_reach_pairs);
* iterative loops keep lineage flat — per-round ``localCheckpoint``,
  or a lazy chain cut every ``PR_CHECKPOINT_EVERY`` rounds for the
  fixed-round PageRank;
* every convergence loop (k_core, k_truss, connected_components and
  the frontier loop) stops through :func:`_checkpoint_counting`: the
  round's stop count is read off its own checkpoint job, never from a
  separate count action;
* no step ever materializes a neighborhood list in one buffer, and no
  op drops hubs — size bounds belong upstream (stages/triples.py caps
  mentions per sentence before pairing; the contract backbone keeps
  only the top-K strongest edges).

Cross-engine determinism: PageRank runs in *scaled integer arithmetic*
(rank is a BIGINT in units of 1/SCALE) — integer division and integer
sums are exact and order-invariant, so Spark and DuckDB agree bit-for-
bit at any partition layout, which a float PageRank cannot guarantee.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

# rank unit = 1/PR_SCALE. Headroom: total rank mass is bounded by
# n_nodes * scale, and a single hub can in principle absorb almost all
# of it, so pick scale <= 2^62 / n_nodes (1e12 is good to ~4.6M nodes;
# use 1e6 for billion-node graphs). The in-sum and the 85*s product are
# computed in DECIMAL(38,0) (exact, order-invariant), so the only
# overflow surface is the final per-node rank itself — and under ANSI
# mode that fails loudly instead of wrapping.
PR_SCALE = 10**12
PR_DAMP_NUM = 85  # damping 0.85 as an exact rational (85/100)
PR_DAMP_DEN = 100
# fixed-iteration pagerank cuts its lazily-chained lineage every this
# many rounds (see the loop comment) — deep enough that contract-scale
# calls (≤ 5 rounds) run as one job, shallow enough that a 100-round
# call cannot overflow task serialization
PR_CHECKPOINT_EVERY = 8
# clustering_coefficient's cc unit: parts per million
CC_SCALE = 1_000_000


def _checkpoint_counting(df: DataFrame, cond: Column) -> tuple[DataFrame, int]:
    """``df`` localCheckpointed once, plus the number of its rows where
    ``cond`` holds. The count is an ``observe`` filled by the
    checkpoint's own job, so a loop's stop test adds no action."""
    obs = Observation()
    out = df.observe(obs, F.count(F.when(cond, 1)).alias("n")).localCheckpoint()
    return out, obs.get["n"]


def _weighted_edges(edges: DataFrame, weight: str | None) -> DataFrame:
    """The one edge prep of :func:`pagerank` and :func:`hits` →
    materialized (src, dst, w BIGINT). ``weight=None`` gives w = 1 per
    distinct edge; otherwise rows with w <= 0 are dropped (a zero-out-
    weight source would divide by zero; negative weights would
    floor/truncate differently across engines) and parallel edges are
    summed. Checkpointed: the per-source sum, the node frame and every
    round read it, and the upstream plan must run once."""
    if weight is None:
        e = edges.select("src", "dst").distinct().withColumn(
            "w", F.lit(1).cast("bigint")
        )
    else:
        e = (
            edges.select("src", "dst", F.col(weight).cast("bigint").alias("w"))
            .filter(F.col("w") > 0)
            .groupBy("src", "dst")
            .agg(F.sum("w").cast("bigint").alias("w"))
        )
    return e.localCheckpoint()


def _endpoints(e: DataFrame) -> DataFrame:
    """Distinct (node) frame of a (src, dst) edge frame, materialized —
    every round joins against it."""
    return (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = PR_SCALE,
    weight: str | None = None,
    restart: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank → (node, rank_scaled BIGINT).

    rank_scaled is the PageRank value times ``scale``, computed with
    integer division only: per edge the contribution is
    ``(rank * w) div wsum`` where wsum is the source node's total
    out-weight; per node the update is
    ``(15 * scale) div 100 + (85 * sum(contrib)) div 100``. Dangling-
    node mass is dropped (no redistribution) — documented semantics,
    identical in the SQL oracle. Self-loops should be removed by the
    caller.

    ``weight`` (optional column name): WEIGHTED PageRank over positive
    weights, parallel edges summed (see :func:`_weighted_edges`). With
    weight=None every distinct edge has w = 1, so wsum is the out-
    degree and the contribution is the classic ``rank div out_degree``.
    The rank × weight product is computed in DECIMAL(38,0) (cast
    BEFORE the multiply), so hub ranks × large weights cannot overflow
    int64; only the final per-node rank must fit a BIGINT (ANSI mode
    fails loudly otherwise).

    ``restart`` (optional one-column node frame): PERSONALIZED
    PageRank — the teleport mass lands only on the given seed nodes
    instead of uniformly: rank starts at ``scale`` on seeds / 0
    elsewhere, and the per-round base term ``(15·scale) div 100`` is
    added only to seeds. The result is the seed-biased relevance
    ranking behind "related entities" panels and topic-focused crawl
    ordering. Seeds not present in the graph are ignored (they have
    no edges to push mass through); with restart=None the classic
    uniform variant runs.

    Plan shape: the (src, dst, w, wsum) table is materialized once
    (localCheckpoint) and reused every round; each iteration is one
    hash-join edges⋈ranks on src plus one map-side-partial sum keyed by
    dst. With the edge table bucketed by src, only the rank table (one
    row per node) crosses the wire per round. The restart flag is one
    extra broadcast-sized left join folded into the materialized node
    frame — per-round cost is unchanged.
    """
    e = _weighted_edges(edges, weight)
    wsum = e.groupBy("src").agg(F.sum("w").cast("bigint").alias("wsum"))
    eo = e.join(wsum, "src").localCheckpoint()
    nodes = _endpoints(e)
    base = PR_DAMP_DEN - PR_DAMP_NUM  # 15
    base_term = base * scale // PR_DAMP_DEN
    if restart is None:
        ranks = nodes.withColumn("rank", F.lit(scale).cast("bigint"))
        base_expr = str(base_term)
    else:
        seeds = restart.select(
            F.col(restart.columns[0]).alias("node")
        ).distinct()
        nodes = nodes.join(
            seeds.withColumn("_seed", F.lit(1)), "node", "left"
        ).localCheckpoint()
        ranks = nodes.select(
            "node",
            F.when(F.col("_seed") == 1, F.lit(scale))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rank"),
        )
        base_expr = f"CASE WHEN _seed = 1 THEN {base_term} ELSE 0 END"
    # lineage cap: chain rounds lazily (each round's frame has ONE
    # consumer — the next round — and eo/nodes are already
    # materialized) but cut the plan every PR_CHECKPOINT_EVERY rounds
    # so a large iteration count cannot overflow task serialization.
    # Contract queries run ≤ 5 rounds → zero mid-loop checkpoints.
    for it in range(1, iterations + 1):
        # cast BEFORE multiplying: a hub's rank (~n_nodes × scale) times
        # a large bigint edge weight can exceed int64; the in-sum and
        # damping product also go through DECIMAL(38,0) (the DuckDB
        # oracle's SUM(BIGINT) is HUGEINT — same exact semantics)
        in_sum = (
            eo.join(ranks, eo["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    "CAST(CAST(rank AS DECIMAL(38,0)) * w div wsum"
                    " AS DECIMAL(38,0))"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(in_sum, "node", "left").select(
            "node",
            F.expr(
                f"CAST(({base_expr}) + floor({PR_DAMP_NUM}"
                f" * coalesce(s, CAST(0 AS DECIMAL(38,0)))"
                f" / {PR_DAMP_DEN}) AS BIGINT)"
            ).alias("rank"),
        )
        if it % PR_CHECKPOINT_EVERY == 0 and it < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", F.col("rank").alias("rank_scaled"))


def _undirected(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _adjacency(u: DataFrame) -> DataFrame:
    """Bidirectional (u, v) adjacency of an (a, b) undirected edge
    frame, localCheckpointed — every neighborhood op consumes it from
    multiple sides (self-joins, degree aggs, per-round keyed joins),
    and Catalyst does not dedupe identical logical subtrees across a
    fan-out."""
    return (
        u.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(u.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .localCheckpoint()
    )


def _degrees(u: DataFrame, node_col: str = "n", deg_col: str = "d") -> DataFrame:
    """Undirected degrees of an (a, b) edge frame — one map-side-partial
    agg over the unioned endpoints (union == UNION ALL in Spark, so
    each incident edge counts once per endpoint)."""
    return (
        u.select(F.col("a").alias(node_col))
        .union(u.select(F.col("b").alias(node_col)))
        .groupBy(node_col)
        .agg(F.count("*").alias(deg_col))
    )


def triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation → (node, n_triangles BIGINT).

    Edges are canonicalized to undirected (a < b, distinct); each
    triangle a<b<c is enumerated exactly once by the two-join wedge
    closure e(a,b)⋈e(b,c)⋈e(a,c), then exploded to its three corners.
    Nodes in no triangle are absent (join-reachable, not NULL-padded).

    Scale: this is the standard distributed triangle enumeration — the
    a<b<c orientation makes every wedge originate at its lowest-id
    corner, which bounds the join fan-out by the *oriented* degree
    (max out-degree under the ordering ≈ sqrt(m) after degree
    orientation), the same trick GraphX/GraphFrames use.
    """
    # materialize once BEFORE any reuse: the three-way self-join would
    # otherwise replicate the whole upstream plan per side (a
    # production run reads the already-materialized edge table instead)
    return _triangles_of(_undirected(edges).localCheckpoint())


def _triangle_corners(u: DataFrame) -> DataFrame:
    """Oriented wedge closure over an ALREADY canonical (a, b) frame →
    one row (x, y, z), x < y < z, per triangle. Shared by the per-node
    count (:func:`triangles`) and the per-edge support
    (:func:`k_truss`)."""
    e1, e2, e3 = u.alias("e1"), u.alias("e2"), u.alias("e3")
    return (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )


def _triangles_of(u: DataFrame) -> DataFrame:
    """Wedge-closure body of :func:`triangles` over an ALREADY
    canonical, materialized (a, b) frame — callers that have paid the
    distinct/checkpoint (clustering_coefficient) skip a redundant
    shuffle+materialization by entering here."""
    return (
        _triangle_corners(u)
        .select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient → (node, degree,
    n_triangles, cc_ppm), all BIGINT.

    cc = 2·triangles(n) / (deg(n)·(deg(n)−1)), emitted as the exact
    integer ``2 * n_triangles * CC_SCALE div (d * (d-1))`` (cross-engine
    float rule: quantize, never divide doubles). Degree-1 nodes have
    no possible wedge — cc_ppm = 0. Triangle-free nodes are kept
    (left join → 0), unlike ``triangles`` which omits them: the
    coefficient is a per-node profile, absence would read as NULL
    quality, not zero clustering.

    Scale: the wedge closure is the only quadratic piece and is
    inherited from ``triangles`` (lowest-corner orientation bounds
    fan-out by oriented degree); the degree agg is map-side partial
    and the final join is on node — both sides already keyed.

    Reference parity: EasyNER has no graph analytics; this extends
    the co-occurrence analysis family (reference scripts/analysis.py)
    the same way pagerank/k_core do.
    """
    u = _undirected(edges).localCheckpoint()
    tri = _triangles_of(u)  # u is already canonical + checkpointed
    deg = _degrees(u, node_col="node", deg_col="degree")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.col("degree").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
            # 2·tri·CC_SCALE in DECIMAL(38,0): a BIGINT product would
            # overflow past ~4.6e12 triangles/node under ANSI (same
            # guard as the pagerank contrib); the quotient is
            # ≤ CC_SCALE so the final BIGINT cast is always safe
            F.expr(
                f"CAST(CASE WHEN degree >= 2 THEN"
                f" CAST(2 AS DECIMAL(38,0)) * coalesce(n_triangles, 0)"
                f" * {CC_SCALE} div (degree * (degree - 1)) ELSE 0 END AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )


def node_jaccard(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Common-neighbor (Jaccard) node similarity →
    (ent_a, ent_b, n_common, deg_a, deg_b, jaccard_ppm BIGINT).

    The structural link-prediction score: two entities are similar if
    their co-occurrence neighborhoods overlap. Exact integer ppm
    (n_common * 1e6 div (deg_a + deg_b - n_common)) — no float.

    Plan: the undirected adjacency self-joins on the SHARED NEIGHBOR
    (equi join, never an all-pairs product), then two shuffled joins
    against the one-row-per-node degree dimension (unbounded at web
    scale, so no forced broadcast).

    Scale: fan-out of the shared-neighbor join is Σ deg(v)² over
    neighbors v — one stopword-like hub entity (degree 10⁶) generates
    ~10¹² candidate pairs, so run it over a degree-bounded graph.
    """
    adj = _adjacency(_undirected(edges).localCheckpoint())
    # deg fans out to both degree dimensions — materialize it once
    deg = (
        adj.groupBy("u")
        .agg(F.count("*").cast("bigint").alias("d"))
        .localCheckpoint()
    )
    l, r = adj.alias("l"), adj.alias("r")
    pairs = (
        l.join(r, (F.col("l.v") == F.col("r.v")) & (F.col("l.u") < F.col("r.u")))
        .groupBy(F.col("l.u").alias("ent_a"), F.col("r.u").alias("ent_b"))
        .agg(F.count("*").cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    da = deg.select(F.col("u").alias("ent_a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("u").alias("ent_b"), F.col("d").alias("deg_b"))
    return (
        pairs.join(da, "ent_a")
        .join(db, "ent_b")
        .select(
            "ent_a",
            "ent_b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                "CAST(n_common * 1000000 div (deg_a + deg_b - n_common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


def two_hop_reach(edges: DataFrame) -> DataFrame:
    """Distinct two-hop reach → (node, n_two_hop BIGINT).

    Counts nodes exactly two undirected hops away: reachable via a
    middle node, not the node itself, and not already a direct
    neighbor (left_anti against the adjacency). The
    friends-of-friends primitive behind KG link prediction and
    related-entity panels.

    Scale: adjacency⋈adjacency on the middle node is the one big
    shuffle; the anti-join reuses the adjacency partitioning. A hub
    middle node costs degree² paths, so run it over a degree-bounded
    graph.
    """
    u0 = _undirected(edges).localCheckpoint()  # upstream once
    adj = _adjacency(u0)  # reused by both self-join sides + anti-join
    l, r = adj.alias("l"), adj.alias("r")  # middle node is r.u (== l.v)
    paths = (
        l.join(r, F.col("l.v") == F.col("r.u"))
        .filter(F.col("l.u") != F.col("r.v"))
        .select(F.col("l.u").alias("u"), F.col("r.v").alias("w"))
        .distinct()
    )
    two = paths.join(
        adj.select(F.col("u"), F.col("v").alias("w")), ["u", "w"], "left_anti"
    )
    return two.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("n_two_hop")
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    snapshots: list | None = None,
) -> DataFrame:
    """Fixed-round SYNCHRONOUS label propagation → (node, community).

    The classic near-linear community detector (Raghavan et al. 2007)
    made deterministic: every node starts as its own label; each round
    EVERY node simultaneously adopts the most frequent label among its
    neighbors, ties broken by the MINIMUM label. Synchronous update +
    total tie order make the result a pure function of the graph — no
    vertex ordering, partitioning, or RNG enters — so a SQL oracle can
    replay the identical recursion (float-free: counts and string mins
    only). Fixed ``iterations`` is the contract (synchronous LPA can
    oscillate on bipartite structures; a bounded round count is the
    honest cross-engine semantic, as with pagerank/k_core above).

    Per round the plan is ONE shuffled hash join (adjacency ⋈ labels on
    the neighbor id) feeding a two-level aggregate: counts keyed by
    (node, label), then the argmax ((max count, min label)) as
    ``min(struct(-c, label))`` keyed by node — no window. Each level is
    partial+final, so the two post-join exchanges carry only combined
    partials (≤ one row per (node, label) resp. per node per map task),
    not the joined edge frame; that beats pre-aggregation
    ``repartition(node)`` (which would move every joined edge row to
    save the second, tiny exchange). localCheckpoint per round keeps
    lineage flat. With the adjacency bucketed by ``v`` only the
    one-row-per-node label frame crosses the wire each round.

    ``snapshots`` (optional list): receives the (node, label) frame
    after each round — already localCheckpointed, so consuming them
    later costs no recomputation. The contract query unions them into
    the full
    propagation trajectory, which pins every intermediate round
    cross-engine, not just the (often fully-converged) fixpoint.

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py:61-104); this is the
    graph-native grouping its entity lists hint at.
    """
    # reused every round + seeds the label frame
    adj = _adjacency(_undirected(edges).localCheckpoint())
    # nodes come from edges, so every node has >= 1 neighbor and the
    # per-round join covers every node — no coalesce branch needed
    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _ in range(iterations):
        cnt = (
            adj.join(labels, adj["v"] == labels["node"])
            .groupBy(F.col("u"), F.col("label"))
            .agg(F.count("*").alias("c"))
        )
        # argmax (max c, tie -> min label) in one agg: struct ordering
        # is field-lexicographic, so min(struct(-c, label)) selects the
        # highest count first, then the smallest label
        labels = (
            cnt.groupBy(F.col("u").alias("node"))
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
            .localCheckpoint()
        )
        if snapshots is not None:
            snapshots.append(labels)
    return labels.select("node", F.col("label").alias("community"))


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping → (node, component),
    run to fixpoint.

    component = lexicographic min node id in the component. Each round:
    label(n) := min(label(n), min label over neighbors), then one
    pointer-jump (label := label(label)) to halve chain depth, so a
    chain converges in O(log n) rounds. Labels only decrease, so the
    loop always ends. The jumped frame is checkpointed once per round
    and counts the nodes whose label moved
    (:func:`_checkpoint_counting`); a round with none is the last."""
    # own edge prep, not _adjacency(_undirected(...)): a node whose only
    # edge is a self-loop keeps its own component here
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    moved = 1
    while moved:
        nbr_min = (
            e.join(labels, e["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nlabel"))
        )
        merged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            # feeds BOTH sides of the pointer-jump join (parent is
            # merged re-keyed) and Catalyst does not dedupe the fan-out
            # — without this the neighbor-min join+agg ran twice a round
            .localCheckpoint()
        )
        # pointer jumping: label <- label's label
        parent = merged.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        labels, moved = _checkpoint_counting(
            merged.join(parent, "label", "left").select(
                "node", F.coalesce("plabel", "label").alias("label"), "old"
            ),
            F.col("label") != F.col("old"),
        )
    return labels.select("node", F.col("label").alias("component"))


def bfs_hops(
    edges: DataFrame, sources: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Multi-source BFS → (node, hops BIGINT): minimum undirected hop
    distance from ANY source node, up to ``max_hops``. The neighborhood
    primitive behind "entities within k hops of this seed set" panels
    and KG subgraph extraction; unreached nodes are absent (bounded
    output, never NULL-padded to the full node set).

    ``sources`` is a one-column frame (``node``); seeds not present in
    the graph still appear at hops 0 (distance to itself is 0 whether
    or not it has edges — documented semantics, mirrored in any SQL
    twin via the plain UNION seed).

    Plan: the shared :func:`_expand_pairs` frontier loop with every
    source under one constant seed (``lit(0)``), so the per-round
    anti-join on (seed, node) is the anti-join against the visited
    node set — per round ONE keyed hash join (frontier ⋈ adjacency on
    the frontier node) and ONE anti-join, localCheckpointed so lineage
    stays flat. The frontier (not the graph) crosses the wire each
    round; with the adjacency bucketed by ``u`` the join is
    co-located. Work is Σ frontier-degree per round — output-bounded,
    never quadratic; ``max_hops`` is the explicit web-scale bound (a
    3-hop ball on a small-world graph already touches most of it).

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py); this generalizes its
    entity-list lookups to neighborhood queries.
    """
    adj = _adjacency(_undirected(edges).localCheckpoint())
    start = sources.select(F.lit(0).alias("seed"), "node")
    return _expand_pairs(adj, start, max_hops).select("node", "hops")


def _edge_support(u: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical, materialized (a, b)
    frame → (a, b, support BIGINT): the number of triangles the edge
    participates in (|N(a) ∩ N(b)|). Triangle-free edges are KEPT at
    0 (left join) — the peel needs to see them to drop them. One
    wedge closure + one explode-to-edges partial agg + one keyed left
    join; fan-out bounded by oriented degree like :func:`triangles`."""
    tedges = _triangle_corners(u).select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
                F.struct(F.col("y").alias("a"), F.col("z").alias("b")),
                F.struct(F.col("x").alias("a"), F.col("z").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    sup = tedges.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("support")
    )
    return u.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).cast("bigint").alias("support")
    )


def k_truss(edges: DataFrame, t: int, max_iter: int | None = None) -> DataFrame:
    """k-truss peel → (a, b, support): edges of the maximal subgraph
    in which every edge participates in ≥ t triangles, with their
    support INSIDE that subgraph. The EDGE-level dense-core extractor
    (stricter than k-core: a hub with many triangle-free spokes keeps
    its k-core degree but loses every spoke here) — the standard
    community-core primitive for KG neighborhoods.

    Same peel discipline as :func:`k_core`: per round one support
    computation (wedge closure + partial agg + keyed left join),
    checkpointed once with its weak-edge count (``support < t``, via
    :func:`_checkpoint_counting`); the next round's graph is that
    checkpoint's strong edges. Rounds = peel depth; ``max_iter``
    bounds them explicitly (the result is then the well-defined
    "max_iter-round peel", which a bounded contract query can pin
    cross-engine; None runs to fixpoint). ``max_iter=0`` returns the
    input graph's own supports.

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py)."""
    u = _undirected(edges).localCheckpoint()
    rounds = 0
    while True:
        # ONE wedge closure per round: the same support frame drives
        # the stop test, the weak-edge drop, and (on the final round)
        # the returned result
        sup, n_weak = _checkpoint_counting(_edge_support(u), F.col("support") < t)
        if n_weak == 0 or (max_iter is not None and rounds >= max_iter):
            return sup
        rounds += 1
        u = sup.filter(F.col("support") >= t).select("a", "b")


HITS_SCALE = 10**9


def hits(
    edges: DataFrame,
    weight: str | None = None,
    iterations: int = 3,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """Weighted HITS → (node, hub_scaled BIGINT, auth_scaled BIGINT):
    Kleinberg hubs-and-authorities over a DIRECTED graph, the classic
    web-link-analysis dual of PageRank (a good hub points at good
    authorities; a good authority is pointed at by good hubs).

    All-integer, L1-normalized per half-step so Spark and a SQL oracle
    agree bit-for-bit at any partition layout:

    * round i: ``hub_raw[n] = Σ_{n→j} w · auth[j]`` then
      ``hub[n] = hub_raw · scale div Σ hub_raw``; the authority
      half-step mirrors it from the fresh hubs. Scores are BIGINTs in
      units of ``1/scale``; each half-step's scores sum to ``scale``
      minus flooring dust (< n_nodes), which is what keeps every
      quantity bounded: no float drift, no norm explosions.
    * products run in DECIMAL(38,0) (cast BEFORE multiplying, same
      overflow rule as :func:`pagerank`); exactness requires
      ``total_edge_weight · scale² < 10^38`` — at scale 1e9 that is
      Σw < 1e20, far past any real link graph.
    * self-loops are dropped, then the edge prep is pagerank's
      (:func:`_weighted_edges`): weights must be POSITIVE (w <= 0
      dropped, parallel edges summed); ``weight=None`` scores the
      unweighted graph (w = 1 per distinct edge).
    * nodes with no out-edges have hub 0; no in-edges, authority 0 —
      both KEPT in the output (LEFT JOIN + coalesce), since "pure
      sink" is exactly what a high-authority page looks like.
    * normalization never divides by zero on a non-empty edge set with
      n_nodes < scale: every positive-authority node has an in-edge,
      so some edge always carries positive mass into each half-step.

    Plan: per half-step ONE keyed hash join (edges ⋈ scores on the
    score key) + one map-side-partial sum + a 1-row L1 aggregate
    crossJoin-broadcast back; the edge frame is materialized once
    (localCheckpoint) and reused every round, each score frame is
    checkpointed before its two consumers (Catalyst does not dedupe
    fan-out subtrees). Only the (node, score) frame crosses the wire
    per round — same shape as pagerank, bucketable by src/dst.

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py)."""
    e = _weighted_edges(edges.filter(F.col("src") != F.col("dst")), weight)
    nodes = _endpoints(e)
    # lazy: derived from the checkpointed nodes frame and consumed once
    # (by the first half-step) — an eager checkpoint here paid a job
    # for nothing (r6 opt)
    auth = nodes.select(
        "node", F.lit(scale).cast("decimal(38,0)").alias("score")
    )
    hub = auth

    def _half(scores: DataFrame, key: str, out: str) -> DataFrame:
        """One half-step: pull mass across edges onto ``out`` endpoints
        (key = the endpoint scores live on), then L1-normalize."""
        raw = (
            e.join(scores.withColumnRenamed("node", key), key)
            .groupBy(F.col(out).alias("node"))
            .agg(
                F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * score")).alias("raw")
            )
            # two consumers (L1 total + the normalize join): Catalyst
            # does not dedupe fan-out subtrees — materialize once
            .localCheckpoint()
        )
        total = raw.agg(F.sum("raw").alias("_l1"))
        # lazy result: every input that fans out (raw) is checkpointed
        # above, and the normalized frame has exactly one consumer (the
        # next half-step, or the final hub⋈auth join) — the old eager
        # per-half checkpoint paid 2·iterations extra jobs (r6 opt)
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "node",
                F.expr(
                    f"CAST(coalesce(raw, 0) * {scale} div _l1"
                    " AS DECIMAL(38,0))"
                ).alias("score"),
            )
        )

    for _ in range(iterations):
        hub = _half(auth, "dst", "src")
        auth = _half(hub, "src", "dst")
    return (
        hub.select("node", F.col("score").cast("bigint").alias("hub_scaled"))
        .join(
            auth.select(
                "node", F.col("score").cast("bigint").alias("auth_scaled")
            ),
            "node",
        )
    )


def hop_distances(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """All-pairs bounded hop distance → (seed, node, hops BIGINT):
    for EVERY graph node, its undirected hop-ball up to ``max_hops``
    (the per-node generalization of :func:`bfs_hops`, which tracks one
    merged frontier for a fixed seed set). Includes the trivial
    (n, n, 0) rows — same seed-at-0 semantics as bfs_hops; callers
    computing reach/centrality filter ``hops >= 1``. Unreachable pairs
    are absent (bounded output, never NULL-padded to the n² grid).

    This is the primitive behind bounded closeness/harmonic centrality
    and "ego-network within k hops" extraction. Plan: the shared
    :func:`_expand_pairs` loop (the one bfs_hops runs) seeded with
    every node's trivial (n, n) pair — per round ONE keyed hash join
    (frontier ⋈ adjacency on the frontier node) and ONE anti-join
    against the visited pair set, localCheckpointed so lineage stays
    flat. Work per round is Σ over frontier pairs of the
    node's degree — i.e. total output is Σ per-node ball volume, which
    is what any exact all-pairs-bounded algorithm must write. At web
    scale run it over a bounded backbone (sparse by construction) with
    small ``max_hops``; on a small-world graph a 3-hop ball already
    touches most of a component, so the bound is the knob that keeps
    the output near-linear.

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py)."""
    adj = _adjacency(_undirected(edges).localCheckpoint())
    return _expand_pairs(adj, _self_pairs(adj), max_hops)


def _self_pairs(adj: DataFrame) -> DataFrame:
    """The trivial (seed, node) = (n, n) pair of every endpoint of a
    (u, v) adjacency frame — layer 0 of the all-pairs expansions."""
    n = adj.select(F.col("u").alias("node")).union(
        adj.select(F.col("v").alias("node"))
    )
    return n.select(F.col("node").alias("seed"), "node")


def _expand_pairs(adj: DataFrame, start: DataFrame, max_hops: int) -> DataFrame:
    """Bounded (seed, node) pair-frontier expansion over a (u, v)
    adjacency frame → (seed, node, hops BIGINT), the minimum hop count
    of each reached pair — the ONE frontier loop behind
    :func:`bfs_hops` (constant seed), :func:`hop_distances`
    (undirected, doubled adjacency) and :func:`directed_reach_pairs`
    (directed adjacency). ``start`` is layer 0 (deduplicated here);
    per round ONE keyed hash join (pair frontier ⋈ adjacency on the
    frontier node) + ONE anti-join against the visited pair set, each
    new layer localCheckpointed once, and the loop stops when that
    checkpoint counts no rows (:func:`_checkpoint_counting`). The
    visited set and the output stay lazy unions of the materialized
    layers — the full ball is the caller's OUTPUT, so a per-round
    re-checkpoint would re-write it max_hops times over. Work per round
    is Σ adjacency-degree over frontier pairs — total cost is the
    output volume itself."""
    frontier = start.distinct().localCheckpoint()
    visited = frontier
    out = frontier.withColumn("hops", F.lit(0).cast("bigint"))
    for h in range(1, max_hops + 1):
        nxt, n_new = _checkpoint_counting(
            adj.join(frontier.withColumnRenamed("node", "u"), "u")
            .select("seed", F.col("v").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti"),
            F.lit(True),
        )
        if n_new == 0:
            break
        out = out.union(nxt.withColumn("hops", F.lit(h).cast("bigint")))
        visited = visited.union(nxt)
        frontier = nxt
    return out


def k_core(edges: DataFrame, k: int, max_iter: int | None = None) -> DataFrame:
    """k-core peel → (node, core_degree): nodes of the maximal subgraph
    in which every node has undirected degree ≥ k, with their degree
    INSIDE that subgraph. The canonical dense-region extractor (the
    robust counterpart of a raw-degree cut: a node with many edges to
    peripheral nodes is peeled once its neighbors are).

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py); this follows the standard
    iterative peel: drop nodes with degree < k, recompute degrees on
    the induced subgraph, repeat to fixpoint. Each round is two keyed
    hash joins + one map-side-partial degree agg, localCheckpointed so
    lineage stays flat; the weak-node frame's checkpoint also counts
    its rows (:func:`_checkpoint_counting`), which is the stop test.
    Rounds needed = peel depth of the graph — O(log n) on typical web
    graphs, O(n) only on a pure chain; ``max_iter`` bounds the rounds
    explicitly (the result is then the well-defined "max_iter-round
    peel", which the bounded contract query pins cross-engine; None
    runs to fixpoint).
    """
    u = _undirected(edges).localCheckpoint()
    rounds = 0
    # max_iter <= 0 is the 0-round peel: the input graph's own degrees
    while max_iter is None or rounds < max_iter:
        weak, n_weak = _checkpoint_counting(
            _degrees(u).filter(F.col("d") < k).select("n"), F.lit(True)
        )
        rounds += 1
        if n_weak == 0:
            break
        u = (
            u.join(weak.withColumnRenamed("n", "a"), "a", "left_anti")
            .join(weak.withColumnRenamed("n", "b"), "b", "left_anti")
            .localCheckpoint()
        )
    return _degrees(u, "node", "core_degree").select(
        "node", F.col("core_degree").cast("bigint").alias("core_degree")
    )


def directed_reach_pairs(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """All-pairs bounded DIRECTED reachability → distinct (seed, node)
    pairs with node reachable from seed following edge direction in at
    most ``max_hops`` steps, including the trivial (n, n) pair for
    every graph node (same seed-at-0 semantics as
    :func:`hop_distances`, whose frontier loop this reuses minus the
    undirected fold — direction is the point here: an edge crawled
    src→dst says nothing about dst→src, and strongly-connected
    structure only emerges from asymmetric reach).

    Plan: :func:`_expand_pairs` over the DIRECTED adjacency (the same
    shared loop hop_distances runs over the doubled undirected one) —
    per round ONE keyed hash join + ONE pair anti-join,
    localCheckpointed layers, lazy-union output; work per round is
    Σ out-degree over frontier pairs, i.e. total cost is the output
    volume itself (what any exact bounded-reach algorithm must
    write). At web scale run it over a bounded backbone with small
    ``max_hops``.

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py)."""
    d = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    return _expand_pairs(d, _self_pairs(d), max_hops).select("seed", "node")


def scc_bounded(edges: DataFrame, max_hops: int = 3) -> DataFrame:
    """Bounded strongly-connected components over a directed edge
    frame → (node, component, scc_size, out_reach): two nodes share a
    component iff each reaches the other within ``max_hops`` directed
    steps; the component id is the minimum node id of the mutual set
    (every node is mutually reachable with itself at 0 hops, so the
    set is never empty). ``scc_size`` = |mutual set| (≥ 1),
    ``out_reach`` = nodes reachable within the bound EXCLUDING self.
    Unlike true SCC, bounded-mutual-reachability is not transitive, so
    this is the well-defined "max_hops-bounded SCC" — exact for any
    component whose internal cycle diameter is ≤ max_hops (true SCC as
    max_hops → graph diameter), and the cross-engine-pinnable variant
    (a recursive-CTE oracle can state the identical bound; Tarjan
    cannot be bounded-checked declaratively).

    Plan: :func:`directed_reach_pairs` (frontier expansion), then ONE
    self-join of the pair set against its own swap (keyed on the pair,
    so co-partitioned) + one keyed agg; out_reach is a second partial
    agg over the same checkpointed pair frame. Never materializes a
    per-node neighbor list.

    Reference has no graph ops (frequency ranking only,
    Aitslab/EasyNER scripts/analysis.py)."""
    rp = directed_reach_pairs(edges, max_hops).localCheckpoint()
    swapped = rp.select(
        F.col("node").alias("seed"), F.col("seed").alias("node")
    )
    mutual = rp.join(swapped, ["seed", "node"])
    comp = mutual.groupBy(F.col("seed").alias("node")).agg(
        F.min("node").alias("component"),
        F.count("*").cast("bigint").alias("scc_size"),
    )
    reach = (
        rp.filter(F.col("node") != F.col("seed"))
        .groupBy(F.col("seed").alias("node"))
        .agg(F.count("*").cast("bigint").alias("out_reach"))
    )
    return comp.join(reach, "node", "left").select(
        "node",
        "component",
        "scc_size",
        F.coalesce("out_reach", F.lit(0)).cast("bigint").alias("out_reach"),
    )
