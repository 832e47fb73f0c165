"""Hand-computed semantics for ops/graph.py on tiny known graphs."""

import pytest
from pyspark.sql import functions as F

from easyner_spark.ops.graph import (
    bfs_hops,
    connected_components,
    hop_distances,
    k_core,
    k_truss,
    node_jaccard,
    pagerank,
    scc_bounded,
    triangles,
    two_hop_reach,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_one_iteration_hand_computed(spark):
    # A->B, A->C, B->C, C->A; scale=100 so the integer math is checkable:
    # contribs: A sends 50 to B and C, B sends 100 to C, C sends 100 to A
    # new = 15 + 85*in_sum div 100 -> A:100, B:57, C:142
    e = _edges(spark, [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")])
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(e, iterations=1, scale=100).collect()
    }
    assert got == {"A": 100, "B": 57, "C": 142}


def test_pagerank_sink_keeps_base_rank(spark):
    # B is a sink (dangling): it receives but never sends; A receives
    # nothing so it decays to base + 0 after the first round.
    e = _edges(spark, [("A", "B")])
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(e, iterations=2, scale=10**6).collect()
    }
    assert got["A"] == 150_000  # base only
    # round1: B = 150000 + 85% of 1e6 = 1000000; round2: from A's 150000
    assert got["B"] == 150_000 + 85 * 150_000 // 100


def test_weighted_pagerank_hand_computed(spark):
    # A->B w=3, A->C w=1, scale=100: A's mass splits 75/25 by weight.
    # base = 15; B = 15 + 85*75//100 = 78; C = 15 + 85*25//100 = 36;
    # A receives nothing -> 15.
    e = spark.createDataFrame(
        [("A", "B", 3), ("A", "C", 1)], "src string, dst string, w long"
    )
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(e, iterations=1, scale=100, weight="w").collect()
    }
    assert got == {"A": 15, "B": 78, "C": 36}


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    """weight=1 on every edge must reproduce the classic uniform split
    bit-for-bit (same integer arithmetic path)."""
    pairs = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("C", "D")]
    e = _edges(spark, pairs)
    ew = spark.createDataFrame(
        [(s, d, 1) for s, d in pairs], "src string, dst string, w long"
    )
    base = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(e, iterations=3, scale=10**6).collect()
    }
    weighted = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(ew, iterations=3, scale=10**6, weight="w").collect()
    }
    assert weighted == base


def test_weighted_pagerank_sums_parallel_edges(spark):
    """Duplicate (src, dst) rows aggregate their weights before the
    split — A->B listed twice with w=1,w=2 behaves as one w=3 edge."""
    e1 = spark.createDataFrame(
        [("A", "B", 1), ("A", "B", 2), ("A", "C", 1)],
        "src string, dst string, w long",
    )
    e2 = spark.createDataFrame(
        [("A", "B", 3), ("A", "C", 1)], "src string, dst string, w long"
    )
    r1 = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(e1, iterations=2, scale=100, weight="w").collect()
    }
    r2 = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(e2, iterations=2, scale=100, weight="w").collect()
    }
    assert r1 == r2


def test_triangles_counts_each_corner_once(spark):
    # triangle A-B-C plus pendant edge C-D: each triangle corner counts 1,
    # D participates in none (absent from the result)
    e = _edges(spark, [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D")])
    got = {r["node"]: r["n_triangles"] for r in triangles(e).collect()}
    assert got == {"A": 1, "B": 1, "C": 1}


def test_triangles_direction_and_duplicates_ignored(spark):
    # same triangle expressed with reversed/duplicate edges: still one
    e = _edges(
        spark,
        [("B", "A"), ("A", "B"), ("C", "B"), ("A", "C"), ("C", "A")],
    )
    got = {r["node"]: r["n_triangles"] for r in triangles(e).collect()}
    assert got == {"A": 1, "B": 1, "C": 1}


def test_two_hop_excludes_self_and_direct(spark):
    # path A-B-C-D: two-hop pairs are exactly (A,C),(B,D) both ways
    e = _edges(spark, [("A", "B"), ("B", "C"), ("C", "D")])
    got = {r["node"]: r["n_two_hop"] for r in two_hop_reach(e).collect()}
    assert got == {"A": 1, "B": 1, "C": 1, "D": 1}


def test_two_hop_triangle_is_empty(spark):
    # complete triangle: every 2-path lands on a direct neighbor
    e = _edges(spark, [("A", "B"), ("B", "C"), ("C", "A")])
    assert two_hop_reach(e).count() == 0


def test_asof_join_semantics(spark):
    """Backward as-of: latest right at-or-before; equal ts matches;
    no prior right -> NULLs."""
    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "l0"), (1, 10, "l1"), (1, 25, "l2"), (2, 7, "l3")],
        "k int, ts int, lid string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 20, 2.0), (2, 99, 9.0)],
        "k int, ts int, val double",
    )
    got = {
        r["lid"]: (r["ts_r"], r["val_r"])
        for r in asof_join(left, right, on="k").collect()
    }
    assert got == {
        "l0": (None, None),  # nothing at or before ts=5
        "l1": (10, 1.0),  # equal ts matches (inclusive)
        "l2": (20, 2.0),  # latest preceding, not first
        "l3": (None, None),  # right exists but only in the future
    }


def test_interval_join_matches_naive(spark):
    """Binned rewrite == naive theta join on adversarial intervals:
    boundary touches, spans straddling many bins, nested intervals."""
    from easyner_spark.ops.rangejoin import interval_join

    lrows = [(1, 0, 10, "a"), (1, 31, 33, "b"), (1, 64, 64, "c"), (2, 5, 100, "d")]
    rrows = [(1, 10, 31, "x"), (1, 33, 63, "y"), (1, 65, 90, "z"), (2, 0, 4, "w")]
    left = spark.createDataFrame(lrows, "k int, start int, end int, lid string")
    right = spark.createDataFrame(rrows, "k int, start int, end int, rid string")
    for width in (1, 7, 32, 1000):
        got = {
            (r["lid"], r["rid_r"])
            for r in interval_join(left, right, on="k", bin_width=width).collect()
        }
        naive = {
            (l[3], r[3])
            for l in lrows
            for r in rrows
            if l[0] == r[0] and l[1] <= r[2] and r[1] <= l[2]
        }
        assert got == naive, f"bin_width={width}"
        # closed-interval semantics: touching endpoints DO match
        assert ("a", "x") in got and ("b", "x") in got and ("b", "y") in got
        # and 'c'@[64,64] must not match 'z'@[65,90]
        assert ("c", "z") not in got


def test_interval_join_no_duplicate_pairs(spark):
    """A pair sharing many bins must emit exactly once."""
    from easyner_spark.ops.rangejoin import interval_join

    left = spark.createDataFrame([(1, 0, 99, "l")], "k int, start int, end int, lid string")
    right = spark.createDataFrame([(1, 50, 999, "r")], "k int, start int, end int, rid string")
    rows = interval_join(left, right, on="k", bin_width=10).collect()
    assert len(rows) == 1


def test_asof_join_tied_right_rows_pick_greatest_payload(spark):
    """Right rows tied on (key, ts) must resolve deterministically to
    the greatest payload struct under any partition layout."""
    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame([(1, 10, "l")], "k int, ts int, lid string")
    right = spark.createDataFrame(
        [(1, 10, 7, 1.0), (1, 10, 9, 2.0), (1, 10, 8, 3.0)],
        "k int, ts int, rid int, val double",
    )
    for parts in (1, 5):
        row = asof_join(left, right.repartition(parts), on="k").collect()[0]
        assert (row["rid_r"], row["val_r"]) == (9, 2.0)


def test_node_jaccard_hand_computed(spark):
    # A and B share both neighbors {C, D}; C and D share {A, B} — two
    # perfect-overlap pairs, jaccard 2/(2+2-2) = 1.0 = 1e6 ppm.
    e = _edges(spark, [("A", "C"), ("B", "C"), ("A", "D"), ("B", "D")])
    got = {
        (r["ent_a"], r["ent_b"]): (
            r["n_common"], r["deg_a"], r["deg_b"], r["jaccard_ppm"]
        )
        for r in node_jaccard(e).collect()
    }
    assert got == {
        ("A", "B"): (2, 2, 2, 1_000_000),
        ("C", "D"): (2, 2, 2, 1_000_000),
    }


def test_node_jaccard_counts_hub_mediated_common_neighbors(spark):
    """A hub counts as a shared neighbor like any other node: pairs
    whose only common neighbor is the hub are still reported."""
    # A,B share C, D and hub H (deg 5: A,B,E,F,G)
    e = _edges(
        spark,
        [
            ("A", "C"), ("B", "C"), ("A", "D"), ("B", "D"),
            ("A", "H"), ("B", "H"), ("H", "E"), ("H", "F"), ("H", "G"),
        ],
    )
    full = {
        (r["ent_a"], r["ent_b"]): (r["n_common"], r["jaccard_ppm"])
        for r in node_jaccard(e, min_common=1).collect()
    }
    assert full[("A", "B")] == (3, 1_000_000)  # 3e6 div (3+3-3)
    assert full[("E", "F")] == (1, 1_000_000)  # only via H


def test_node_jaccard_matches_contract_query_shape(spark):
    """The registry query delegates to this op (uncapped, exact)."""
    from easyner_spark.queries import QUERIES

    df = QUERIES["kg_graph_node_jaccard"](spark, "/root/testdata/sf0.001")
    assert df.columns == [
        "ent_a", "ent_b", "n_common", "deg_a", "deg_b", "jaccard_ppm"
    ]


def test_asof_join_map_payload_with_tie_break_off(spark):
    """Map-typed payloads are not window-orderable; the operator then
    skips the payload tie-break and stays usable (right side unique per
    key/ts)."""
    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame([(1, 10, "l")], "k int, ts int, lid string")
    right = spark.createDataFrame(
        [(1, 5, {"a": "1"})], "k int, ts int, props map<string,string>"
    )
    row = asof_join(left, right, on="k").collect()[0]
    assert row["props_r"] == {"a": "1"}


def test_asof_join_salted_with_map_columns(spark):
    """salt=S must work when either side carries a MapType column —
    xxhash64 rejects maps, so the salt hash skips them (review
    regression: the full-row salt hash crashed on map-typed left
    frames)."""
    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, {"m": "x"}), (1, 20, {"m": "y"}), (2, 15, {"m": "z"})],
        "k int, ts int, attrs map<string,string>",
    )
    right = spark.createDataFrame(
        [(1, 5, 1.0), (1, 15, 2.0), (2, 1, 3.0)], "k int, ts int, val double"
    )
    got = {
        (r["k"], r["ts"]): r["val_r"]
        for r in asof_join(
            left, right, on="k", salt=4
        ).collect()
    }
    assert got == {(1, 10): 1.0, (1, 20): 2.0, (2, 15): 3.0}


def test_asof_join_rejects_reserved_and_colliding_names(spark):
    """Internal tag columns and suffixed outputs must not silently
    collide with caller columns — clear ValueError instead."""
    import pytest

    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame([(1, 5, 0)], "k int, ts int, __ts int")
    right = spark.createDataFrame([(1, 5, 1.0)], "k int, ts int, val double")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on="k")

    # right payload "val" suffixes to "val_r" which the left already has
    left2 = spark.createDataFrame([(1, 5, 9.0)], "k int, ts int, val_r double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left2, right, on="k")


def test_interval_join_rejects_reserved_and_colliding_names(spark):
    import pytest

    from easyner_spark.ops.rangejoin import interval_join

    left = spark.createDataFrame([(1, 0, 10, 3)], "k int, start int, end int, __bin int")
    right = spark.createDataFrame([(1, 5, 20)], "k int, start int, end int")
    with pytest.raises(ValueError, match="__bin"):
        interval_join(left, right, on="k", bin_width=8)

    left2 = spark.createDataFrame(
        [(1, 0, 10, 7)], "k int, start int, end int, start_r int"
    )
    with pytest.raises(ValueError, match="collide"):
        interval_join(left2, right, on="k", bin_width=8)


def _py_kcore(edges, k, max_iter=None):
    """Sequential peel oracle: undirected dedup, drop deg<k nodes per
    round, to fixpoint (or max_iter rounds)."""
    u = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    rounds = 0
    # mirrors ops/graph.py: max_iter <= 0 == the 0-round peel
    while max_iter is None or rounds < max_iter:
        deg = {}
        for a, b in u:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        weak = {n for n, d in deg.items() if d < k}
        rounds += 1
        if not weak:
            break
        u = {(a, b) for a, b in u if a not in weak and b not in weak}
    deg = {}
    for a, b in u:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return deg


def _run_kcore(spark, edges, k, max_iter=None):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = k_core(df, k, max_iter=max_iter).collect()
    return {r["node"]: r["core_degree"] for r in got}


def test_kcore_chain_dissolves(spark):
    """A pure chain has no 2-core: ends peel first, then the cascade
    eats inward — the case a raw degree cut gets wrong."""
    chain = [(i, i + 1) for i in range(1, 6)]
    assert _run_kcore(spark, chain, 2) == {}
    assert _py_kcore(chain, 2) == {}


def test_kcore_triangle_survives_pendants(spark):
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]  # triangle + tail
    expect = _py_kcore(edges, 2)
    assert expect == {1: 2, 2: 2, 3: 2}
    assert _run_kcore(spark, edges, 2) == expect


def test_kcore_bounded_peel_matches_oracle(spark):
    """max_iter semantics (the contract query's bounded mode): one peel
    round removes only the chain's current endpoints; the python oracle
    with the same bound agrees, and the unbounded run reaches the
    oracle fixpoint; max_iter=0 is the 0-round peel (input degrees,
    endpoints intact)."""
    chain = [(i, i + 1) for i in range(1, 8)]
    for mi in (0, 1, 2, None):
        assert _run_kcore(spark, chain, 2, max_iter=mi) == _py_kcore(
            chain, 2, max_iter=mi
        )


def test_kcore_k4_with_fringe_and_direction_dedup(spark):
    """K4 survives k=3; duplicate/reversed/self edges collapse; fringe
    nodes connected to the core but below k are peeled."""
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    noise = [(2, 1), (3, 3), (4, 3)]  # reversed dup, self loop, dup
    fringe = [(1, 9), (2, 9), (9, 10)]
    edges = k4 + noise + fringe
    expect = _py_kcore(edges, 3)
    assert expect == {1: 3, 2: 3, 3: 3, 4: 3}
    assert _run_kcore(spark, edges, 3) == expect


def _py_lpa(edges, iterations):
    """Sequential synchronous-LPA oracle: most frequent neighbor label,
    ties -> min label, ALL nodes updated simultaneously per round."""
    u = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in u:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(iterations):
        labels = {
            n: min(
                (
                    (label, sum(1 for v in nbrs if labels[v] == label))
                    for label in {labels[v] for v in nbrs}
                ),
                key=lambda kv: (-kv[1], kv[0]),
            )[0]
            for n, nbrs in adj.items()
        }
    return labels


def _run_lpa(spark, edges, iterations):
    from easyner_spark.ops.graph import label_propagation

    df = _edges(spark, [(str(a), str(b)) for a, b in edges])
    got = label_propagation(df, iterations=iterations).collect()
    return {r["node"]: r["community"] for r in got}


def test_lpa_two_triangles_bridge(spark):
    """Two triangles joined by one bridge edge settle into two
    communities labeled by each triangle's min node id."""
    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    for it in (1, 2, 4):
        expect = {str(k): str(v) for k, v in _py_lpa(edges, it).items()}
        assert _run_lpa(spark, edges, it) == expect
    final = _run_lpa(spark, edges, 4)
    # two communities; the right triangle's settled label is the bridge
    # endpoint 'c' (its label crosses the bridge in round 1 and wins
    # the x-side tie-breaks — hand-traced, matches the oracle)
    assert {final[n] for n in "abc"} == {"a"}
    assert {final[n] for n in "xyz"} == {"c"}


def test_lpa_single_edge_oscillates_deterministically(spark):
    """Synchronous LPA on one edge swaps labels every round — the
    bounded-round contract makes each depth well-defined; engine and
    oracle agree at every depth."""
    edges = [(1, 2)]
    for it in (1, 2, 3):
        expect = {str(k): str(v) for k, v in _py_lpa(edges, it).items()}
        assert _run_lpa(spark, edges, it) == expect
    assert _run_lpa(spark, edges, 1) == {"1": "2", "2": "1"}
    assert _run_lpa(spark, edges, 2) == {"1": "1", "2": "2"}


def test_lpa_direction_dedup(spark):
    """Reversed/duplicate/self edges collapse before propagation."""
    edges = [(1, 2), (2, 1), (1, 1), (1, 3), (1, 4), (1, 5)]
    expect = {str(k): str(v) for k, v in _py_lpa(edges, 2).items()}
    assert _run_lpa(spark, edges, 2) == expect


def test_lpa_snapshots_match_per_round_runs(spark):
    """The snapshots hook returns exactly the label frame each bounded
    run would produce — the trajectory the contract query unions."""
    from easyner_spark.ops.graph import label_propagation

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    df = _edges(spark, edges)
    snaps = []
    label_propagation(df, iterations=3, snapshots=snaps)
    assert len(snaps) == 3
    for i, s in enumerate(snaps):
        got = {r["node"]: r["label"] for r in s.collect()}
        assert got == _py_lpa(edges, i + 1)


def _py_bfs(edges, sources, max_hops):
    """Sequential multi-source BFS oracle on the undirected dedup."""
    u = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    adj = {}
    for a, b in u:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    for h in range(1, max_hops + 1):
        frontier = {
            v for n in frontier for v in adj.get(n, ()) if v not in dist
        }
        for v in frontier:
            dist[v] = h
        if not frontier:
            break
    return dist


def _run_bfs(spark, edges, sources, max_hops):
    e = _edges(spark, [(str(a), str(b)) for a, b in edges])
    s = spark.createDataFrame([(str(x),) for x in sources], "node string")
    got = bfs_hops(e, s, max_hops=max_hops).collect()
    return {r["node"]: r["hops"] for r in got}


def test_bfs_single_source_chain(spark):
    """Hop distances along a chain; max_hops truncates the reach."""
    chain = [(i, i + 1) for i in range(1, 7)]
    for mh in (1, 2, 3, 10):
        expect = {str(k): v for k, v in _py_bfs(chain, {1}, mh).items()}
        assert _run_bfs(spark, chain, {1}, mh) == expect
    assert _run_bfs(spark, chain, {1}, 2) == {"1": 0, "2": 1, "3": 2}


def test_bfs_multi_source_takes_min_distance(spark):
    """Two seeds on a chain: every node gets the min distance to ANY
    seed; the middle meets both frontiers."""
    chain = [(i, i + 1) for i in range(1, 8)]
    expect = {str(k): v for k, v in _py_bfs(chain, {1, 8}, 10).items()}
    got = _run_bfs(spark, chain, {1, 8}, 10)
    assert got == expect
    assert got["4"] == 3 and got["5"] == 3  # met in the middle


def test_bfs_isolated_seed_and_duplicate_edges(spark):
    """A seed absent from the graph still reports hops 0; reversed and
    duplicate edges collapse before expansion."""
    edges = [(1, 2), (2, 1), (2, 3), (3, 3)]
    expect = {str(k): v for k, v in _py_bfs(edges, {1}, 5).items()}
    expect["99"] = 0  # isolated seed: distance to itself
    assert _run_bfs(spark, edges, {1, 99}, 5) == expect


def test_clustering_coefficient_hand_computed(spark):
    """Kite graph: triangle A-B-C plus pendant edge C-D.
    deg A=2 B=2 C=3 D=1; tri A=B=C=1, D=0.
    cc = 2*tri*1e6 div d*(d-1): A,B -> 1e6; C -> 2e6 div 6 = 333333;
    D -> 0 (degree-1 nodes kept, not dropped)."""
    from easyner_spark.ops.graph import clustering_coefficient

    e = _edges(spark, [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D")])
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["cc_ppm"])
        for r in clustering_coefficient(e).collect()
    }
    assert got == {
        "A": (2, 1, 1_000_000),
        "B": (2, 1, 1_000_000),
        "C": (3, 1, 333_333),
        "D": (1, 0, 0),
    }


def test_clustering_coefficient_direction_dedup(spark):
    """Reversed/duplicate edges collapse before counting both the
    triangles and the degrees."""
    from easyner_spark.ops.graph import clustering_coefficient

    # H is a degree-4 hub closing triangles with (A,B) and (B,C)
    e = _edges(
        spark,
        [("A", "B"), ("B", "A"), ("B", "C"),
         ("H", "A"), ("A", "H"), ("H", "B"), ("H", "C"), ("H", "D")],
    )
    full = {
        r["node"]: (r["degree"], r["n_triangles"], r["cc_ppm"])
        for r in clustering_coefficient(e).collect()
    }
    assert full["H"] == (4, 2, 333_333)  # 2*2e6 div 12
    assert full["B"] == (3, 2, 666_666)


def _py_hop_distances(edges, max_hops):
    """Sequential all-pairs bounded oracle: _py_bfs from every node."""
    nodes = {x for e in edges for x in e if e[0] != e[1]}
    out = {}
    for s in nodes:
        for n, h in _py_bfs(edges, {s}, max_hops).items():
            out[(str(s), str(n))] = h
    return out


def _run_hop_distances(spark, edges, max_hops):
    e = _edges(spark, [(str(a), str(b)) for a, b in edges])
    got = hop_distances(e, max_hops=max_hops).collect()
    return {(r["seed"], r["node"]): r["hops"] for r in got}


def test_hop_distances_matches_per_seed_bfs(spark):
    """Chain + triangle + disconnected pair: every (seed, node) pair
    within max_hops carries the exact min distance; cross-component
    pairs are absent; max_hops truncates the ball."""
    edges = [(1, 2), (2, 3), (3, 4), (2, 4), (7, 8)]
    for mh in (1, 2, 3):
        assert _run_hop_distances(spark, edges, mh) == _py_hop_distances(
            edges, mh
        )


def test_hop_distances_dedup_and_self_rows(spark):
    """Reversed/duplicate/self edges collapse; every node appears at
    distance 0 from itself exactly once."""
    edges = [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c")]
    got = _run_hop_distances(spark, edges, 5)
    assert got == _py_hop_distances(edges, 5)
    assert got[("a", "a")] == 0 and got[("c", "a")] == 2


def test_hits_hand_computed_unweighted(spark):
    """a->b, a->c, b->c at scale 1000, one iteration:
    hub_raw (a,b,c) = (2000, 1000, 0), L1 = 3000 -> hub (666, 333, 0);
    auth_raw (b, c) = (666, 999), L1 = 1665 -> auth (0, 400, 600).
    Sinks keep hub 0, sources auth 0 — both rows present."""
    from easyner_spark.ops.graph import hits

    e = _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    got = {
        r["node"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits(e, iterations=1, scale=1000).collect()
    }
    assert got == {"a": (666, 0), "b": (333, 400), "c": (0, 600)}


def test_hits_weighted_fixpoint_and_dedup(spark):
    """a->b w=3 (as parallel edges), c->b w=1, plus a self-loop to
    drop: hub (a, c) = (750, 250), auth b = 1000 — and the scores are
    already the fixpoint, so 1 and 3 iterations agree."""
    from easyner_spark.ops.graph import hits

    rows = [("a", "b", 2), ("a", "b", 1), ("c", "b", 1), ("b", "b", 9)]
    e = spark.createDataFrame(rows, "src string, dst string, w long")
    expect = {"a": (750, 0), "b": (0, 1000), "c": (250, 0)}
    for iters in (1, 3):
        got = {
            r["node"]: (r["hub_scaled"], r["auth_scaled"])
            for r in hits(e, weight="w", iterations=iters, scale=1000).collect()
        }
        assert got == expect, iters


def test_personalized_pagerank_hand_computed(spark):
    """Symmetric star a-b, a-c with seed {a} at scale 1000.
    r0 = (1000, 0, 0); round 1: a keeps only its base 150, b and c
    each get 85% of a's half-split -> 425. Round 2: a = 150 +
    85*(425+425)//100 = 872; b = c = 85*(150 div 2)//100 = 63.
    Non-seeds receive NO base term — mass reaches them only through
    edges."""
    from easyner_spark.ops.graph import pagerank

    e = _edges(
        spark, [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")]
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    for iters, expect in (
        (1, {"a": 150, "b": 425, "c": 425}),
        (2, {"a": 872, "b": 63, "c": 63}),
    ):
        got = {
            r["node"]: r["rank_scaled"]
            for r in pagerank(
                e, iterations=iters, scale=1000, restart=seeds
            ).collect()
        }
        assert got == expect, iters


def _truss(spark, edges, t, max_iter=None):
    e = _edges(spark, edges)
    return {
        (r["a"], r["b"]): r["support"]
        for r in k_truss(e, t, max_iter=max_iter).collect()
    }


def test_k_truss_kite_peels_pendant(spark):
    """Kite (triangle A-B-C + pendant C-D): t=1 drops the pendant edge
    (support 0) and keeps the triangle at support 1; t=2 peels
    everything (after the pendant goes, no edge reaches 2)."""
    kite = [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D")]
    assert _truss(spark, kite, 1) == {
        ("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 1,
    }
    assert _truss(spark, kite, 2) == {}


def test_k_truss_shared_edge_support_and_bounded_peel(spark):
    """Two triangles sharing edge B-C: the shared edge has support 2,
    the others 1. t=2 cascades to empty at fixpoint; max_iter=1 stops
    after ONE drop round (only B-C survives, its recomputed support
    0), and max_iter=0 returns the input graph's own supports."""
    g = [("A", "B"), ("B", "C"), ("A", "C"), ("C", "D"), ("B", "D")]
    full = {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 2,
            ("B", "D"): 1, ("C", "D"): 1}
    assert _truss(spark, g, 1) == full
    assert _truss(spark, g, 2) == {}
    assert _truss(spark, g, 2, max_iter=1) == {("B", "C"): 0}
    assert _truss(spark, g, 2, max_iter=0) == full


_EMPTY_GRAPH_CALLS = {
    "k_core": lambda e: k_core(e, 2),
    "k_truss": lambda e: k_truss(e, 1),
    "bfs_hops": lambda e: bfs_hops(e, e.select(F.col("src").alias("node"))),
    "hop_distances": hop_distances,
    "scc_bounded": scc_bounded,
    "connected_components": connected_components,
}


@pytest.mark.parametrize("name", list(_EMPTY_GRAPH_CALLS))
def test_empty_edges_return_no_rows(spark, name):
    """Every convergence loop ends on an empty graph: the stop count
    observed on the first round's checkpoint arrives (as 0) instead of
    blocking, and the op returns no rows."""
    assert _EMPTY_GRAPH_CALLS[name](_edges(spark, [])).collect() == []
