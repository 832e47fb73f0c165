"""Physical-plan regression guards for the scale-critical operators.

A green result on 60k rows says nothing about 100 TB; these tests pin
the PLAN properties that do: distributed top-k instead of global-sort
windows, broadcast joins on dimension tables, Arrow-vectorized (not
row-at-a-time) Python, column-pruned scans, and hash-partitioned (not
single-partition) windows.
"""

import os

import pyspark.sql.functions as F
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_ivf_centroids_use_distributed_topk(spark):
    """Centroid selection must be TakeOrderedAndProject (per-partition
    top-k folded on the driver), not a row_number over a global sort —
    the round-1 scale-killer."""
    from easyner_spark.ops.similarity import ivf_build

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids, _ = ivf_build(vecs, nlist=8)
    assert "TakeOrderedAndProject" in _plan(centroids)


def test_nel_mint_rank_is_bucket_partitioned(spark):
    """The miss-mint rank must window-partition by the prefix bucket;
    only the per-bucket OFFSET aggregate (≤ alphabet² rows) may pass
    through a single partition. Same call as stages/nel.py's mint."""
    from easyner_spark.ops.rank import ordered_prefix

    def rank(df):
        d = df.withColumn("_bkt", F.substring("surface", 1, 2))
        return ordered_prefix(d, "_bkt", ["surface"], "_p").withColumn(
            "rnk", F.col("_p") + 1
        )

    df = spark.createDataFrame(
        [(s,) for s in ["zz", "ab", "ba", "az", "bb", "a"]], "surface string"
    )
    ranked = rank(df)
    plan = _plan(ranked)
    assert "hashpartitioning(_bkt" in plan  # the big side is spread over buckets
    got = {r["surface"]: r["rnk"] for r in ranked.collect()}
    assert got == {"a": 1, "ab": 2, "az": 3, "ba": 4, "bb": 5, "zz": 6}

    # tricky keys: empty, control chars, shared prefixes, multi-byte
    # unicode — UTF-8 byte order equals codepoint order, so the bucketed
    # rank must equal Python's sorted() position exactly
    vals = ["", "\t", "0", "00", "Z", "ZZ", "a", "aa", "zz", "é", "日", "日本"]
    df2 = spark.createDataFrame([(s,) for s in vals], "surface string")
    got2 = {
        r["surface"]: r["rnk"]
        for r in rank(df2).collect()
    }
    assert got2 == {s: i + 1 for i, s in enumerate(sorted(vals))}


def test_gazetteer_join_is_broadcast_and_scan_is_pruned(spark):
    from easyner_spark.queries import mentions

    plan = _plan(mentions(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # gazetteer is the broadcast dim
    # projection pruning reached the parquet scan: only the two used
    # columns are read out of the documents schema
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dict_ner_is_arrow_vectorized(spark):
    from easyner_spark.corpus import GAZETTEER
    from easyner_spark.stages.ner_dict import dict_ner

    sents = spark.createDataFrame(
        [("d", 0, 0, "x")], "doc_id string, batch_id int, sent_idx int, text string"
    )
    plan = _plan(dict_ner(sents, GAZETTEER))
    assert "ArrowEvalPython" in plan  # pandas UDF, not row-at-a-time
    assert "BatchEvalPython" not in plan


def test_token_budget_shards_window_is_batch_partitioned(spark):
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["token_budget_shards"](spark, SF_DIR))
    assert "hashpartitioning(batch_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_semi_join_is_broadcast(spark):
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["tpch_semi_join_customers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_web_canonical_is_narrow_single_stage(spark):
    """URL canonicalization must stay inside whole-stage codegen: no
    exchange, no Python, nothing but a projected scan."""
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["web_url_canonical"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "codegen id" in plan  # projections fused into whole-stage codegen


def test_q17_decorrelation_broadcasts_part_no_smj(spark):
    """The per-part average joins back as hash joins (partkey agg
    reuses the exchange); the part dimension must broadcast; no
    sort-merge join anywhere."""
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["tpch_small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_has_no_single_partition_exchange(spark):
    """Every PageRank iteration must stay hash-partitioned — a global
    sort or single-partition exchange would be the 10^9-node
    bottleneck."""
    from easyner_spark.ops.graph import pagerank

    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A")], "src string, dst string"
    )
    ranks = pagerank(e, iterations=2)
    assert "Exchange SinglePartition" not in _plan(ranks)


def test_triple_counts_rank_windows_by_count_bucket(spark):
    """The global triple rank must window hash-partitioned by the count
    bucket; only the Zipf-bounded per-count offset table may pass
    through a single partition."""
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["kg_triple_counts"](spark, SF_DIR))
    assert "hashpartitioning(n_cooccur" in plan


def test_frequency_ranks_window_by_count_bucket(spark):
    """kg_entity_frequency / kg_id_frequency global ranks must window
    hash-partitioned by the total_count bucket (two-phase rank) — the
    round-2 weak items; a partition-undefined window here is the
    straggler task at web scale."""
    from easyner_spark.queries import QUERIES

    for name in ("kg_entity_frequency", "kg_id_frequency", "kg_triple_counts"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        bucket = "total_count" if name != "kg_triple_counts" else "n_cooccur"
        assert f"hashpartitioning({bucket}" in plan, name
        # the offset side is a theta self-join over the Zipf-bounded
        # per-bucket count table — NO single-partition exchange anywhere
        assert "Exchange SinglePartition" not in plan, name


def test_frequency_tables_are_two_level_aggregates(spark):
    """The analysis tables are two keyed aggregates each: no Expand (a
    distinct aggregate), no join and no range exchange (a sort)."""
    from easyner_spark.stages.analysis import entity_frequency, id_frequency

    linked = spark.createDataFrame(
        [("d1", 0, "a", "X:1", "A"), ("d2", 1, "b", "X:1", "B")],
        "doc_id string, batch_id int, surface string, ent_id string,"
        " ent_name string",
    )
    for build in (entity_frequency, id_frequency):
        plan = _plan(build(linked))
        for op in ("Expand", "Join", "rangepartitioning"):
            assert op not in plan, (build.__name__, op)
        assert plan.count("hashpartitioning(") == 2, build.__name__


def test_scalar_count_queries_are_lazy(spark):
    """doc_rarity_idf / kg_cooccur_pmi must embed their corpus-level
    scalar as a lazy cross-joined 1-row aggregate (the `_total` /
    `_n_docs` column visible in the plan), not an eager .count()
    pre-pass that bakes a literal in and costs an extra full scan.
    (The only job plan construction may run is the parquet
    footer/schema read — a count() pre-pass would also leave no
    aggregate column in the plan, which is what we pin.)"""
    from easyner_spark.queries import QUERIES

    for name, scalar_col in (
        ("doc_rarity_idf", "_total"),
        ("kg_cooccur_pmi", "_n_docs"),
    ):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert scalar_col in plan, f"{name}: scalar not a lazy aggregate"


def test_asof_join_is_one_shuffle_window(spark):
    """The as-of join must be the tag-and-union window (one exchange on
    the key), never a range/theta join."""
    from easyner_spark.ops.asof import asof_join

    l = spark.createDataFrame([(1, 10)], "k int, ts int")
    r = spark.createDataFrame([(1, 5, "x")], "k int, ts int, v string")
    import re

    plan = _plan(asof_join(l, r, on="k"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "hashpartitioning(k" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_interval_join_is_hash_join_not_nested_loop(spark):
    """The binned interval join must plan as an equi hash join on
    (key, bin) — never a cartesian/nested-loop range probe."""
    from easyner_spark.ops.rangejoin import interval_join

    l = spark.createDataFrame([(1, 0, 10)], "k int, start int, end int")
    r = spark.createDataFrame([(1, 5, 20)], "k int, start int, end int")
    plan = _plan(interval_join(l, r, on="k", bin_width=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan  # it IS a join — on key + __bin equality


def test_round4_queries_have_no_single_partition_exchange(spark):
    """The round-4 additions must keep every exchange hash-partitioned:
    degree histogram, containment self-join, LM score and the bigram LM
    all aggregate/join on real keys — a SinglePartition exchange in any
    of them is a web-scale straggler."""
    from easyner_spark.queries import QUERIES

    for name in (
        "kg_graph_degree_dist",
        "dedup_containment",
        "doc_lm_score",
        "text_bigram_lm",
        "doc_sentence_dup_ratio",
        "kg_graph_pagerank_weighted",
        "events_sliding_window_users",
        "events_hourly_anomaly",
        "kg_graph_kcore",
    ):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "Exchange SinglePartition" not in plan, name
        assert "WindowExec: No Partition Defined" not in plan, name


def test_train_mixture_total_is_lazy_broadcast(spark):
    """train_mixture_tokens embeds the corpus token total as a
    broadcast of the lazy 1-row aggregate (crossJoin-broadcast scalar
    pattern), never an eager .count() literal."""
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["train_mixture_tokens"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_web_url_features_is_shuffle_free(spark):
    """URL feature extraction is a pure narrow projection — any
    Exchange in the plan means a regression to a shuffling formulation."""
    from easyner_spark.queries import QUERIES

    plan = _plan(QUERIES["web_url_features"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_pending_r6_queries_have_no_single_partition_exchange(spark):
    """The non-iterative round-6 (window-6) contracts must keep every
    exchange hash-partitioned and every window keyed: the transition
    matrix windows by src_type, the weakest-link argmin by node, the
    novelty join by shingle, reciprocity by host, the PMI pair
    self-join by (doc, sent) / pair key, the percentile cumulative by
    length, the Gini rank by the two-phase bucket, the interleave
    rank by hash-prefix bucket, the recrawl keep-best by canon_url
    (struct-max in the hash agg — no window at all), the per-source
    sample by (source, bucket) then source. Their sanctioned
    1-row scalar aggregates (PMI sentence total, percentile doc total,
    Gini final) ride broadcast/checkpointed subtrees and contribute no
    SinglePartition exchange at explain time. Exclusions: the
    iterative gates (HITS/PPR/harmonic/BFS/truss/SCC/modularity's
    LPA) materialize per
    round via localCheckpoint so their final plan only shows the last
    join (pinned by per-op unit tests instead), and web_crawl_budget
    legitimately carries Exchange SinglePartition for its two 1-row
    scalar aggregates (total weight, quota deficit) — 1-row scalars
    are the one sanctioned single-partition shape (same exemption as
    train_mixture_tokens)."""
    from easyner_spark.queries import QUERIES

    for name in (
        "events_type_transitions",
        "kg_entity_weakest_link",
        "doc_novelty",
        "web_host_reciprocity",
        "kg_relation_pmi",
        "doc_length_percentiles",
        "web_host_gini",
        "eval_run_agreement_kappa",
        "events_watermark_late",
        "kg_negative_samples",
        "doc_length_outliers",
        "doc_top_terms",
        "train_interleave_order",
        "dedup_url_recrawl",
        "train_per_source_sample",
        "train_packing_manifest",
        "multimodal_audio_frames",
    ):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "Exchange SinglePartition" not in plan, name
        assert "WindowExec: No Partition Defined" not in plan, name


def test_spread_leaves_non_local_scans_alone(spark):
    """_spread round-robins only a scan it can size locally: a path that
    does not exist here (cluster storage) must keep its own splits, not
    be reshuffled to defaultParallelism on a 0-byte reading."""
    from easyner_spark.queries import _read, _spread, _table_bytes

    local = _read(spark, SF_DIR, "documents")
    assert "RoundRobinPartitioning" in _plan(_spread(local, SF_DIR, "documents"))
    missing = "/nonexistent/sf_dir"
    assert _table_bytes(missing, "documents") is None
    assert "RoundRobinPartitioning" not in _plan(_spread(local, missing, "documents"))


def test_repeated_pass_reuses_compiled_classes(spark):
    """session.get_spark sizes Spark's compiled-class cache to the
    engine's working set: the nine curation queries compile ~200
    classes in a fresh session, more than Spark's default cache of 100,
    so under the default a second run recompiled nearly all of them.
    With the cache sized, the second run compiles only the few classes
    whose generated code differs per run."""
    from easyner_spark.queries import QUERIES

    names = [
        "dedup_minhash_pairs",
        "dedup_jaccard",
        "dedup_containment",
        "dedup_components",
        "dedup_embedding_cosine",
        "embed_lsh_buckets",
        "embed_knn_bruteforce",
        "doc_length_percentiles",
        "train_packing_manifest",
    ]
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = []
    for _ in range(2):
        before = metric.METRIC_COMPILATION_TIME().getCount()
        for name in names:
            QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        compiled.append(metric.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[1] <= 20, compiled


def test_graph_convergence_loops_add_no_count_jobs(spark):
    """Every convergence loop reads its stop count off the round's own
    checkpoint (ops/graph._checkpoint_counting), so a round runs no
    separate count job. Job counts at sf0.001; with a count action
    per round they were 38, 55 and 59."""
    from easyner_spark.queries import QUERIES

    if os.path.basename(SF_DIR.rstrip("/")) != "sf0.001":
        pytest.skip("job counts are pinned at sf0.001")
    sc = spark.sparkContext
    names = ("kg_graph_kcore", "kg_graph_truss", "kg_graph_bfs_hops")
    for name in names:
        sc.setJobGroup(name, name)
        try:
            QUERIES[name](spark, SF_DIR).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = {n: len(sc.statusTracker().getJobIdsForGroup(n)) for n in names}
    assert jobs == {"kg_graph_kcore": 34, "kg_graph_truss": 47, "kg_graph_bfs_hops": 53}
