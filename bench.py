"""Benchmark harness — prints ONE JSON line.

Runs (a) the flagship synthetic-corpus KG pipeline (pages → documents →
sentences → mentions → linked → triples) measuring docs/sec, chars/sec
and triples/sec (the BASELINE.json metric), and (b) the headline
driver-contract queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query is materialized with a noop write (all columns computed, no
sink cost). Scaling evidence across two parallelism levels is produced
by scripts/scaling_bench.py (separate JVMs).
"""

from __future__ import annotations

import json
import os
import sys
import time


def vm_microbench() -> float:
    """Single-core pure-python microbench (min-of-3 seconds) — the
    window-quality stamp. This VM's absolute timings drift by tens of
    percent across the day (BASELINE.md r4: -37% single-core in a
    degraded window inflated every recorded query second uniformly);
    carrying the stamp inside the BENCH json lets any reader normalize
    round-over-round comparisons without an out-of-band note. The
    workload is fixed forever — comparable across rounds: 10M-iteration
    int multiply-accumulate, no allocation, no imports."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(10_000_000):
            acc += i * i
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def jvm_microbench(spark) -> float:
    """JVM window-quality stamp (min-of-3 seconds): a single-task
    codegen'd range-sum on the live session. Python and JVM throughput
    drift INDEPENDENTLY on this host (a same-day pair of runs measured
    python 0.69 both times while the fused KG job went 15.0 -> 23.1 s),
    so every bench json carries both stamps."""
    best = None
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 1_000_000_000, 1, 1).selectExpr("sum(id) AS s").collect()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def kg_pipeline(spark, cpus: str, n_corpus_docs: int) -> dict:
    """The flagship fused KG pipeline on the synthetic corpus, timed
    after one warm-up pass (codegen + python UDF worker pool) — the
    throughput-honest shape; the checkpointed variant with per-stage
    commits is exercised by the pipeline CLI and its tests. Pages are
    materialized BEFORE the clock: corpus synthesis is driver-side
    scaffolding, not engine throughput. Returns {sec, docs, chars,
    triples}."""
    from easyner_spark.corpus import pages_df
    from easyner_spark.pipeline import fused_kg_triples
    from easyner_spark.stages.extract import extract_documents
    from pyspark.sql import functions as F

    pages = pages_df(
        spark, n_docs=n_corpus_docs, n_partitions=int(cpus) * 4 if cpus.isdigit() else 64
    ).persist()
    pages.count()
    fused_kg_triples(pages.limit(1000), n_batches=64)  # warm-up
    stats = extract_documents(pages, n_batches=64).agg(
        F.count("*").alias("n"), F.sum(F.length("text")).alias("c")
    ).first()
    t0 = time.time()
    n_triples = fused_kg_triples(pages, n_batches=64)
    sec = time.time() - t0
    pages.unpersist()
    return {"sec": sec, "docs": stats["n"], "chars": stats["c"], "triples": n_triples}


def run_bench(sf_dir: str, cpus: str, n_corpus_docs: int | None = None) -> dict:
    if n_corpus_docs is None:
        n_corpus_docs = int(os.environ.get("SPARK_GRAFT_KG_DOCS", "40000"))
    from easyner_spark.queries import PENDING_R6, QUERIES
    from easyner_spark.session import get_spark

    spark = get_spark(
        app_name="easyner_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
    )

    def mat(df) -> int:
        df.write.format("noop").mode("overwrite").save()
        return 0

    results: dict[str, float] = {}

    kg = kg_pipeline(spark, cpus, n_corpus_docs)
    results["kg_pipeline_synthetic"] = round(kg["sec"], 3)

    headline = [
        "kg_triple_counts",
        "kg_entity_frequency",
        "kg_id_frequency",
        "kg_linked",
        "kg_sentences",
        "dedup_exact",
        "dedup_minhash_pairs",
        "dedup_jaccard",
        "doc_quality_scores",
        "doc_fingerprint",
        "lang_id_stopword",
        "embed_knn_bruteforce",
        "embed_lsh_buckets",
        "tpch_pricing_summary",
        "tpch_revenue_by_nation",
        "tpch_topk_orders_per_segment",
        "events_sessionize",
        "events_latest_per_user",
        # round-2 additions (additive — the r1 set above is unchanged
        # for round-over-round comparison)
        "kg_graph_pagerank",
        "web_boilerplate_ratio",
        # round-3 additions: graph/web/temporal regression coverage
        "kg_graph_triangles",
        "kg_graph_two_hop",
        "events_asof_purchase",
        "events_interval_overlap",
        "web_url_canonical",
        # round-3 curation/retrieval families
        "corpus_contamination",
        "train_corpus_curated",
        "events_funnel",
        "search_bm25_lite",
        "text_bigram_lm",
        # round-4 additions: containment dedup, LM quality score,
        # mixture weights, degree profile
        "dedup_containment",
        "doc_lm_score",
        "train_mixture_tokens",
        "kg_graph_degree_dist",
        "kg_graph_pagerank_weighted",
        "doc_sentence_dup_ratio",
        "web_url_features",
        "multimodal_frame_sample",
        # round-5 additions: the four round-3-family queries that had
        # no regression row (r4 verdict ask #4) ...
        "events_retention_hourly",
        "kg_graph_node_jaccard",
        "profile_orders_columns",
        "kg_entity_trend",
        # ... plus the round-5 contract work: the reshaped per-dimension
        # centroids, the epoch-incremental dedup service gate, sliding
        # windows and the integer anomaly detector
        "embed_label_centroids",
        "dedup_epoch_incremental",
        "events_sliding_window_users",
        "events_hourly_anomaly",
        "kg_graph_kcore",
        "kg_graph_label_prop",
    ]
    def timed(fn) -> float:
        # min of two runs: this VM shows sporadic multi-second scheduler
        # spikes; the first run additionally pays codegen compile
        best = None
        for _ in range(2):
            t0 = time.time()
            mat(fn(spark, sf_dir))
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 3)

    for name in headline:
        results[name] = timed(QUERIES[name])

    # headline total is summed BEFORE the pending block so the
    # one-line `value` stays comparable against every previously
    # recorded bench run (adding coverage must not read as regression)
    total = round(sum(results.values()), 3)

    # the round-6 registrations, timed as their own block
    pending = {name: timed(QUERIES[name]) for name in PENDING_R6}
    results.update(pending)
    pending_total = round(sum(pending.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # stamps AFTER the suite: the values capture the window the query
    # seconds above were actually measured in
    jvm = jvm_microbench(spark)
    micro = vm_microbench()
    return {
        "metric": "e2e_suite_sec",
        "value": total,
        "unit": "sec",
        # round-6 contracts timed separately — NOT in `value`
        # (their rows live in `queries` for per-query tracking)
        "pending_total_sec": pending_total,
        "queries": results,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "kg_docs": kg["docs"],
        "kg_chars": int(kg["chars"]),
        "kg_triples": kg["triples"],
        "kg_docs_per_sec": round(kg["docs"] / kg["sec"], 1),
        "kg_chars_per_sec": round(kg["chars"] / kg["sec"], 1),
        "kg_triples_per_sec": round(kg["triples"] / kg["sec"], 1),
        "cpus": cpus,
        # single-core window-quality stamps (see vm_microbench docstring
        # and the comment above); r5 host measured python 0.6-0.85 s
        # idle — absolute levels are host-generation-dependent, compare
        # within a host/round only
        "vm_microbench_s": micro,
        "jvm_microbench_s": jvm,
    }


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # default 16, not 32: this VM's 32 vCPUs are ~16 physical cores and
    # local[32] suffers python-worker spawn storms (see BASELINE.md)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    out = run_bench(sf_dir, cpus)
    print(json.dumps(out))
    sys.stdout.flush()
