"""Canonicalization stage: MinHash-LSH blocking + connected components."""

import itertools

import pytest
from pyspark.sql import functions as F

from easyner_spark.ops.graph import connected_components
from easyner_spark.stages.canonical import (
    canonicalize_entities,
    lsh_candidate_pairs,
    minhash_signatures,
)


def _uf_components(nodes, edges):
    """Union-find oracle."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_connected_components_vs_union_find(spark):
    # chain, triangle, singletons-with-edge, plus a 2-cycle
    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"),       # chain of 4
        ("x", "y"), ("y", "z"), ("z", "x"),       # triangle
        ("m", "n"),
        ("p", "q"), ("q", "p"),                   # duplicate/reverse edges
    ]
    nodes = sorted({n for e in edges for n in e})
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["component"] for r in connected_components(e).collect()
    }
    want = _uf_components(nodes, edges)
    assert got == want
    assert got["d"] == "a" and got["z"] == "x" and got["q"] == "p"


def test_canonicalize_merges_name_variants(spark):
    ents = spark.createDataFrame(
        [
            ("E1", "SARS-CoV-2"),
            ("E2", "sars cov 2"),
            ("E3", "SARS CoV-2 virus"),
            ("E4", "dexamethasone"),
            ("E5", "Dexamethasone"),
            ("E6", "zinc"),  # should stay alone
            ("E7", "completely unrelated term"),
        ],
        "ent_id string, name string",
    )
    m = {r["ent_id"]: r["canon_id"] for r in canonicalize_entities(ents).collect()}
    assert len(m) == 7  # every entity mapped
    assert m["E1"] == m["E2"] == m["E3"]  # variant cluster
    assert m["E4"] == m["E5"]
    assert m["E6"] == "E6"  # identity fallback
    assert m["E7"] == "E7"
    assert m["E6"] != m["E1"] and m["E7"] != m["E4"]


def test_lsh_no_allpairs_blowup_and_salting(spark):
    # 40 identical names → one hot bucket; salted pair-gen must cap the
    # per-bucket fan-out at ~max_bucket^2 instead of 40^2
    ents = spark.createDataFrame(
        [(f"H{i:02d}", "the same hot name") for i in range(40)]
        + [(f"U{i}", f"unique name {i} xyz{i}") for i in range(10)],
        "ent_id string, name string",
    )
    sigs = minhash_signatures(ents)
    pairs_capped = lsh_candidate_pairs(sigs, max_bucket=4)
    pairs_full = lsh_candidate_pairs(sigs, max_bucket=10_000)
    n_capped, n_full = pairs_capped.count(), pairs_full.count()
    assert n_full >= 40 * 39 / 2  # uncapped: quadratic in bucket size
    # salted: bounded by bands * cnt * cap / 2 — LINEAR in bucket size
    assert n_capped <= 4 * 40 * 4 / 2
    assert n_capped < n_full / 2
    # capped pairs still merge the hot cluster transitively via CC
    comp = connected_components(pairs_capped.select("src", "dst"))
    hot = comp.filter(F.col("node").startswith("H")).select("component").distinct()
    assert hot.count() == 1


def test_minhash_signature_shape(spark):
    ents = spark.createDataFrame(
        [("A", "alpha beta"), ("B", "x")], "ent_id string, name string"
    )
    rows = {r["ent_id"]: r["sig"] for r in minhash_signatures(ents, num_hashes=6).collect()}
    assert len(rows["A"]) == 6 and len(rows["B"]) == 6


def test_incremental_lsh_matches_filtered_full_join(spark):
    """incremental_lsh_candidates(new, corpus) must equal the FULL
    self-join's pairs restricted to those touching a new id — the
    epoch-ingest contract (new×new + new×corpus, no corpus×corpus)."""
    from easyner_spark.stages.canonical import (
        incremental_lsh_candidates,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    # three alias families so bands collide across the corpus/new split
    names = [
        (f"E{i}", f"acute syndrome variant {i % 3}") for i in range(30)
    ]
    ents = spark.createDataFrame(names, "ent_id string, name string")
    sigs = minhash_signatures(ents).localCheckpoint()
    corpus = sigs.filter(F.col("ent_id") < "E2")   # lexicographic split
    new = sigs.filter(F.col("ent_id") >= "E2")
    new_ids = {r["ent_id"] for r in new.select("ent_id").collect()}

    full = {
        (r["src"], r["dst"])
        for r in lsh_candidate_pairs(sigs, max_bucket=10_000).collect()
    }
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    got = {
        (r["src"], r["dst"])
        for r in incremental_lsh_candidates(
            new, corpus, max_bucket=10_000
        ).collect()
    }
    assert got == expected
    # and the corpus-only pairs really were excluded
    assert any(p not in got for p in full - expected) or not (full - expected)


def test_connected_components_long_chain_converges(spark):
    """A 40-node path with shuffled ids needs several rounds; the run
    goes to fixpoint and labels every node with the path's min id."""
    import random

    ids = [f"n{i:02d}" for i in range(40)]
    random.Random(7).shuffle(ids)
    path = list(zip(ids, ids[1:]))
    e = spark.createDataFrame(path, "src string, dst string")
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == {n: "n00" for n in ids}
