"""Seeded randomized cross-validation: each distributed operator vs a
sequential Python reference on adversarial random inputs (one Spark job
per sweep — deterministic seed, not hypothesis, so runtime stays flat).
"""

import os
import random

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_interval_join_random_sweep_matches_naive(spark):
    rng = random.Random(42)

    def intervals(n, tag):
        out = []
        for i in range(n):
            s = rng.randrange(0, 500)
            out.append((rng.randrange(1, 6), s, s + rng.randrange(0, 120), f"{tag}{i}"))
        return out

    lrows, rrows = intervals(150, "l"), intervals(150, "r")
    from easyner_spark.ops.rangejoin import interval_join

    left = spark.createDataFrame(lrows, "k int, start int, end int, lid string")
    right = spark.createDataFrame(rrows, "k int, start int, end int, rid string")
    naive = {
        (l[3], r[3])
        for l in lrows
        for r in rrows
        if l[0] == r[0] and l[1] <= r[2] and r[1] <= l[2]
    }
    for width in (3, 16, 97):
        got = {
            (r["lid"], r["rid_r"])
            for r in interval_join(left, right, on="k", bin_width=width).collect()
        }
        assert got == naive, f"bin_width={width}: {len(got)} vs {len(naive)}"


def test_asof_join_random_sweep_matches_sequential(spark):
    rng = random.Random(7)
    lrows = [
        (rng.randrange(1, 8), rng.randrange(0, 200), i) for i in range(200)
    ]
    # deliberately include (key, ts) collisions on the right
    rrows = [
        (rng.randrange(1, 8), rng.randrange(0, 200), i, float(rng.randrange(0, 50)))
        for i in range(150)
    ]
    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame(lrows, "k int, ts int, lid int")
    right = spark.createDataFrame(rrows, "k int, ts int, rid int, val double")

    def expected(k, ts):
        cands = [r for r in rrows if r[0] == k and r[1] <= ts]
        if not cands:
            return (None, None, None)
        # operator rule: latest ts first; ties by greatest payload
        # struct (rid, val) — rid unique so rid decides
        best = max(cands, key=lambda r: (r[1], (r[2], r[3])))
        return (best[1], best[2], best[3])

    got = {
        r["lid"]: (r["ts_r"], r["rid_r"], r["val_r"])
        for r in asof_join(left, right, on="k").collect()
    }
    assert len(got) == len(lrows)
    for k, ts, lid in lrows:
        assert got[lid] == expected(k, ts), f"lid={lid} k={k} ts={ts}"


def _check_pagerank_random_graph(spark, iters):
    rng = random.Random(13)
    nodes = [f"n{i}" for i in range(40)]
    edges = list(
        {
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(180)
        }
    )
    edges = [(a, b) for a, b in edges if a != b]
    from easyner_spark.ops.graph import PR_DAMP_DEN, PR_DAMP_NUM, pagerank

    scale = 10**9

    # sequential reference of the exact integer algorithm
    eset = sorted(set(edges))
    outdeg: dict[str, int] = {}
    for a, _ in eset:
        outdeg[a] = outdeg.get(a, 0) + 1
    ns = sorted({a for a, _ in eset} | {b for _, b in eset})
    rank = {n: scale for n in ns}
    base_term = (PR_DAMP_DEN - PR_DAMP_NUM) * scale // PR_DAMP_DEN
    for _ in range(iters):
        s: dict[str, int] = {}
        for a, b in eset:
            s[b] = s.get(b, 0) + rank[a] // outdeg[a]
        rank = {
            n: base_term + PR_DAMP_NUM * s.get(n, 0) // PR_DAMP_DEN for n in ns
        }

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(df, iterations=iters, scale=scale).collect()
    }
    assert got == rank


def test_pagerank_random_graph_matches_sequential_integer_reference(spark):
    _check_pagerank_random_graph(spark, iters=4)


def test_pagerank_random_graph_crosses_lineage_cut(spark):
    """17 rounds pass two mid-loop lineage cuts (rounds 8 and 16 with
    PR_CHECKPOINT_EVERY = 8); the ranks still equal the sequential
    reference."""
    from easyner_spark.ops.graph import PR_CHECKPOINT_EVERY

    assert 17 > 2 * PR_CHECKPOINT_EVERY
    _check_pagerank_random_graph(spark, iters=17)


def test_canonical_url_is_idempotent_on_messy_corpus(spark):
    from easyner_spark.ops.web import canonical_url
    from easyner_spark.queries import urls_df

    u = urls_df(spark, SF_DIR)
    once = u.select(canonical_url(F.col("url")).alias("c1"))
    twice = once.select(
        "c1", canonical_url(F.col("c1")).alias("c2")
    ).filter(F.col("c1") != F.col("c2"))
    assert twice.count() == 0


def test_asof_join_salted_matches_unsalted(spark):
    """salt=S is an exactness-preserving rewrite: every left row still
    sees the full right timeline for its key. Random sweep with a hot
    key and duplicate timestamps."""
    import random

    from easyner_spark.ops.asof import asof_join

    rng = random.Random(11)
    lrows = [(0, rng.randrange(100), i) for i in range(300)] + [
        (k, rng.randrange(100), 300 + k) for k in range(1, 20)
    ]
    rrows = [
        (k, ts, float(k * 1000 + ts))
        for k in range(0, 20)
        for ts in sorted(rng.sample(range(100), 12))
    ]
    left = spark.createDataFrame(lrows, "k int, ts int, lid int")
    right = spark.createDataFrame(rrows, "k int, ts int, val double")
    base = {
        r["lid"]: (r["ts_r"], r["val_r"])
        for r in asof_join(left, right, on="k").collect()
    }
    for s in (2, 7):
        salted = {
            r["lid"]: (r["ts_r"], r["val_r"])
            for r in asof_join(left, right, on="k", salt=s).collect()
        }
        assert salted == base, f"salt={s}"


def test_asof_salt_spreads_single_timestamp_hot_key(spark):
    """A hot key whose left rows all share ONE timestamp (the
    coarse-granularity case that collapsed a ts-only salt hash into a
    single sub-partition) must still both (a) spread across salt
    buckets and (b) stay exact."""
    from easyner_spark.ops.asof import asof_join

    left = spark.createDataFrame(
        [(0, 50, i) for i in range(400)], "k int, ts int, lid int"
    )
    right = spark.createDataFrame(
        [(0, 10, 1.0), (0, 50, 2.0), (0, 60, 3.0)], "k int, ts int, val double"
    )
    got = {
        r["lid"]: (r["ts_r"], r["val_r"])
        for r in asof_join(left, right, on="k", salt=8).collect()
    }
    assert got == {i: (50, 2.0) for i in range(400)}
    # white-box: the salt expression over (ts, full left row) must hit
    # several buckets even though every ts is identical
    l2 = left.select(
        F.col("ts").alias("__ts"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    n = (
        l2.select(F.pmod(F.xxhash64("__ts", "__l"), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert n >= 6


def test_two_phase_rank_equals_global_rank_random(spark):
    """ordered_prefix bucketed by the count, descending (the rank shape
    of the frequency/backbone/Gini queries), + 1 == RANK() OVER (ORDER
    BY count DESC, ties) on random data with heavy count collisions
    (the precondition — unique (count, ties) per row — holds by
    construction here)."""
    import random

    from pyspark.sql import Window as W, functions as F

    from easyner_spark.ops.rank import ordered_prefix

    rng = random.Random(7)
    rows = [(f"k{i:04d}", rng.randrange(1, 12)) for i in range(500)]
    df = spark.createDataFrame(rows, "key string, total_count int")
    got = {
        r["key"]: r["p"] + 1
        for r in ordered_prefix(
            df, "total_count", ["key"], "p", descending=True
        ).collect()
    }
    want = {
        r["key"]: r["rnk"]
        for r in df.withColumn(
            "rnk",
            F.rank()
            .over(W.orderBy(F.desc("total_count"), "key"))
            .cast("bigint"),
        ).collect()
    }
    assert got == want


def test_ppr_random_graph_matches_sequential_integer_reference(spark):
    """pagerank(restart=seeds) on a random 35-node digraph vs the
    sequential integer recursion: base term and initial mass land on
    seeds only; everything else matches the uniform reference."""
    rng = random.Random(29)
    nodes = [f"n{i}" for i in range(35)]
    edges = [
        (a, b)
        for a, b in {(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)}
        if a != b
    ]
    from easyner_spark.ops.graph import PR_DAMP_DEN, PR_DAMP_NUM, pagerank

    scale, iters = 10**9, 4
    eset = sorted(set(edges))
    ns = sorted({a for a, _ in eset} | {b for _, b in eset})
    seeds = sorted(rng.sample(ns, 3))
    outdeg: dict[str, int] = {}
    for a, _ in eset:
        outdeg[a] = outdeg.get(a, 0) + 1
    rank = {n: (scale if n in seeds else 0) for n in ns}
    base_term = (PR_DAMP_DEN - PR_DAMP_NUM) * scale // PR_DAMP_DEN
    for _ in range(iters):
        s: dict[str, int] = {}
        for a, b in eset:
            s[b] = s.get(b, 0) + rank[a] // outdeg[a]
        rank = {
            n: (base_term if n in seeds else 0)
            + PR_DAMP_NUM * s.get(n, 0) // PR_DAMP_DEN
            for n in ns
        }

    df = spark.createDataFrame(edges, "src string, dst string")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {
        r["node"]: r["rank_scaled"]
        for r in pagerank(
            df, iterations=iters, scale=scale, restart=sdf
        ).collect()
    }
    assert got == rank


def test_hits_random_graph_matches_sequential_integer_reference(spark):
    """Weighted HITS on a random digraph vs the sequential L1-floor
    recursion (hub from auth, then auth from the fresh hubs)."""
    rng = random.Random(31)
    nodes = [f"h{i}" for i in range(30)]
    pairs = sorted(
        {(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)}
    )
    edges = [(a, b, rng.randint(1, 5)) for a, b in pairs if a != b]
    from easyner_spark.ops.graph import hits

    scale, iters = 10**9, 3
    ns = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    auth = {n: scale for n in ns}
    hub = dict(auth)
    for _ in range(iters):
        raw: dict[str, int] = {}
        for a, b, w in edges:
            raw[a] = raw.get(a, 0) + w * auth[b]
        l1 = sum(raw.values())
        hub = {n: raw.get(n, 0) * scale // l1 for n in ns}
        raw = {}
        for a, b, w in edges:
            raw[b] = raw.get(b, 0) + w * hub[a]
        l1 = sum(raw.values())
        auth = {n: raw.get(n, 0) * scale // l1 for n in ns}

    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {
        r["node"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits(df, weight="w", iterations=iters, scale=scale).collect()
    }
    assert got == {n: (hub[n], auth[n]) for n in ns}


def test_hop_distances_random_graph_matches_sequential_bfs(spark):
    """hop_distances on a random sparse graph vs per-seed sequential
    BFS, across max_hops settings (truncation included)."""
    rng = random.Random(37)
    nodes = list(range(25))
    edges = [
        (a, b)
        for a, b in {
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(30)
        }
        if a != b
    ]
    from easyner_spark.ops.graph import hop_distances

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expect: dict[tuple[str, str], int] = {}
    for mh in (1, 3):
        expect = {}
        for s in adj:
            dist = {s: 0}
            frontier = {s}
            for h in range(1, mh + 1):
                frontier = {
                    v for n in frontier for v in adj[n] if v not in dist
                }
                for v in frontier:
                    dist[v] = h
            for n, d in dist.items():
                expect[(str(s), str(n))] = d
        df = spark.createDataFrame(
            [(str(a), str(b)) for a, b in edges], "src string, dst string"
        )
        got = {
            (r["seed"], r["node"]): r["hops"]
            for r in hop_distances(df, max_hops=mh).collect()
        }
        assert got == expect, mh


def _rand_undirected(rng, n_nodes, n_draws):
    """Random simple undirected edge set mirroring _undirected's
    canonicalization: least/greatest fold, self-loops dropped,
    duplicates collapsed."""
    edges = set()
    for _ in range(n_draws):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def test_k_core_random_graph_matches_sequential_peel(spark):
    """k_core on random sparse graphs vs the sequential peel, across
    k and max_iter (bounded truncation + fixpoint): per engine round,
    weak = nodes with degree < k in the CURRENT edge frame, rounds
    counts weak-computations, edges touching a weak node drop, and
    the result is the induced degrees (zero-degree nodes absent)."""
    from easyner_spark.ops.graph import k_core

    rng = random.Random(53)
    edges = _rand_undirected(rng, 20, 45)
    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )
    for k, mi in ((2, None), (3, None), (2, 1), (3, 2), (2, 0)):
        cur = set(edges)
        rounds = 0
        while mi is None or rounds < mi:
            deg: dict[int, int] = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            weak = {n for n, d in deg.items() if d < k}
            rounds += 1
            if not weak:
                break
            cur = {(a, b) for a, b in cur if a not in weak and b not in weak}
        expect: dict[str, int] = {}
        for a, b in cur:
            expect[str(a)] = expect.get(str(a), 0) + 1
            expect[str(b)] = expect.get(str(b), 0) + 1
        got = {
            r["node"]: r["core_degree"]
            for r in k_core(df, k=k, max_iter=mi).collect()
        }
        assert got == expect, (k, mi)


def test_k_truss_random_graph_matches_sequential_peel(spark):
    """k_truss on random graphs vs the sequential edge-support peel,
    across t and max_iter: support = |N(a) ∩ N(b)| in the CURRENT
    subgraph (triangle-free edges kept at 0), max_iter returns the
    round-max_iter support frame (0 = raw supports), fixpoint returns
    the surviving edges with their in-subgraph support."""
    from easyner_spark.ops.graph import k_truss

    rng = random.Random(59)
    edges = _rand_undirected(rng, 14, 60)
    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )

    def supports(cur):
        adj: dict[int, set[int]] = {}
        for a, b in cur:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        return {(a, b): len(adj[a] & adj[b]) for a, b in cur}

    for t, mi in ((2, None), (3, None), (2, 1), (3, 2), (2, 0)):
        cur = set(edges)
        rounds = 0
        while True:
            sup = supports(cur)
            if mi is not None and rounds >= mi:
                break
            weak = {e for e, s in sup.items() if s < t}
            if not weak:
                break
            rounds += 1
            cur -= weak
        # the engine canonicalizes (a, b) with least/greatest on the
        # STRING ids (lexicographic: '10' < '3'); mirror that here
        expect = {
            tuple(sorted((str(a), str(b)))): s for (a, b), s in sup.items()
        }
        got = {
            tuple(sorted((r["a"], r["b"]))): r["support"]
            for r in k_truss(df, t=t, max_iter=mi).collect()
        }
        assert got == expect, (t, mi)


def test_bucket_prefix_agg_random_matches_sequential(spark):
    """bucket_prefix (the shared broadcast theta prefix shape) vs
    a sequential prefix on random bucket tables, across agg function
    (sum/max) and inclusivity; first bucket must survive as NULL in
    the strict variant."""
    from easyner_spark.ops.rank import bucket_prefix

    rng = random.Random(61)
    rows = [(k, rng.randrange(-50, 50)) for k in rng.sample(range(100), 17)]
    df = spark.createDataFrame(rows, "k bigint, v bigint").localCheckpoint()
    ordered = sorted(rows)
    for agg_fn, py_fn in ((F.sum, sum), (F.max, max)):
        for inclusive in (False, True):
            expect = {}
            for i, (k, _v) in enumerate(ordered):
                lo = i + 1 if inclusive else i
                vals = [v for _k, v in ordered[:lo]]
                expect[k] = py_fn(vals) if vals else None
            got = {
                r["k"]: r["p"]
                for r in bucket_prefix(
                    df, "k", "v", agg_fn, "p", inclusive=inclusive
                ).collect()
            }
            assert got == expect, (py_fn.__name__, inclusive)


def test_scc_bounded_random_digraph_matches_sequential(spark):
    """scc_bounded on random sparse DIGRAPHS vs a sequential
    reference: per-node directed BFS reach balls (bounded), mutual
    intersection, min-id component — across max_hops settings
    (truncation included) and densities (singleton-only and
    multi-node-SCC regimes both exercised)."""
    from easyner_spark.ops.graph import scc_bounded

    for seed, n_draws in ((41, 30), (42, 80)):
        rng = random.Random(seed)
        nodes = list(range(18))
        edges = [
            (a, b)
            for a, b in {
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(n_draws)
            }
            if a != b
        ]
        adj: dict[int, set[int]] = {}
        present: set[int] = set()
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            present.update((a, b))
        for mh in (1, 3):
            reach: dict[int, set[int]] = {}
            for s in present:
                seen = {s}
                frontier = {s}
                for _ in range(mh):
                    frontier = {
                        v
                        for n in frontier
                        for v in adj.get(n, ())
                        if v not in seen
                    }
                    seen |= frontier
                reach[s] = seen
            # string node ids: min is lexicographic, mirror it
            expect = {}
            for s in present:
                mutual = {str(v) for v in reach[s] if s in reach[v]}
                expect[str(s)] = (
                    min(mutual),
                    len(mutual),
                    len(reach[s]) - 1,
                )
            df = spark.createDataFrame(
                [(str(a), str(b)) for a, b in edges],
                "src string, dst string",
            )
            got = {
                r["node"]: (r["component"], r["scc_size"], r["out_reach"])
                for r in scc_bounded(df, max_hops=mh).collect()
            }
            assert got == expect, (seed, mh)


def test_hash_order_prefix_random_matches_sequential(spark):
    """ordered_prefix over hash-prefix buckets (the shape behind the
    interleave rank and the packing manifest) vs a sequential
    exclusive prefix over the true (h, doc_id) order — random weights
    including zeros, random hex keys with shared 2-char prefixes so
    multi-row buckets, single-row buckets and bucket-boundary
    crossings are all exercised."""
    from easyner_spark.ops.rank import ordered_prefix

    rng = random.Random(71)
    prefixes = ["0a", "0b", "3f", "c2"]
    rows = []
    for doc_id in range(40):
        h = rng.choice(prefixes) + "".join(
            rng.choice("0123456789abcdef") for _ in range(6)
        )
        rows.append((doc_id, h, h[:2], rng.randrange(0, 7)))
    df = spark.createDataFrame(
        rows, "doc_id bigint, h string, bkt string, v bigint"
    ).localCheckpoint()
    ordered = sorted(rows, key=lambda r: (r[1], r[0]))
    expect, cum = {}, 0
    for doc_id, _h, _b, v in ordered:
        expect[doc_id] = cum
        cum += v
    got = {
        r["doc_id"]: r["cum_before"]
        for r in ordered_prefix(
            df, "bkt", ["h", "doc_id"], "cum_before", val="v"
        ).collect()
    }
    assert got == expect


def test_ordered_prefix_random_matches_python_sort(spark):
    """ordered_prefix vs a Python sort in both of its shapes: an
    ascending string key bucketed by its 2-char prefix with val=None
    (the NEL mint: prefix == rank - 1; keys include the empty string,
    shared prefixes and multi-byte characters), and a descending
    numeric bucket with weights (zeros included) and ascending ties."""
    from easyner_spark.ops.rank import ordered_prefix

    rng = random.Random(79)
    keys = {
        "".join(rng.choice("abé日z") for _ in range(rng.randrange(0, 5)))
        for _ in range(80)
    }
    df = spark.createDataFrame([(k, k[:2]) for k in keys], "k string, b string")
    got = {r["k"]: r["p"] for r in ordered_prefix(df, "b", ["k"], "p").collect()}
    assert got == {k: i for i, k in enumerate(sorted(keys))}

    rows = [(i, rng.randrange(1, 6), rng.randrange(0, 9)) for i in range(80)]
    df = spark.createDataFrame(rows, "id bigint, c bigint, v bigint")
    expect, cum = {}, 0
    for i, _c, v in sorted(rows, key=lambda r: (-r[1], r[0])):
        expect[i] = cum
        cum += v
    got = {
        r["id"]: r["p"]
        for r in ordered_prefix(
            df, "c", ["id"], "p", val="v", descending=True
        ).collect()
    }
    assert got == expect


def test_per_source_two_phase_topk_matches_global_rank(spark):
    """The (group, bucket)->group two-phase top-K (the
    train_per_source_sample shape) vs a naive per-group sort, on
    random groupings that include groups SMALLER than K, groups whose
    top-K spans many buckets, and ties broken by doc_id."""
    from pyspark.sql import Window as W

    from easyner_spark.queries import PERSRC_K

    rng = random.Random(73)
    rows = []
    for doc_id in range(120):
        src = f"s{rng.randrange(7)}"
        h = "".join(rng.choice("0123456789abcdef") for _ in range(8))
        rows.append((doc_id, src, h, h[:2]))
    df = spark.createDataFrame(
        rows, "doc_id bigint, source string, h string, bkt string"
    )
    expect = {}
    by_src: dict[str, list] = {}
    for doc_id, src, h, _b in rows:
        by_src.setdefault(src, []).append((h, doc_id))
    for src, items in by_src.items():
        for rk, (h, doc_id) in enumerate(sorted(items)[:PERSRC_K], 1):
            expect[(src, rk)] = doc_id
    w1 = W.partitionBy("source", "bkt").orderBy("h", "doc_id")
    surv = (
        df.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= PERSRC_K)
        .drop("r1", "bkt")
    )
    w2 = W.partitionBy("source").orderBy("h", "doc_id")
    got = {
        (r["source"], r["rk"]): r["doc_id"]
        for r in surv.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= PERSRC_K)
        .collect()
    }
    assert got == expect
