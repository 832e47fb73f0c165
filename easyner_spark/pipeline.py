"""End-to-end KG pipeline orchestration (the `main.py` analog).

Reference analog: main.py:279-409 — a hard-coded stage chain gated by
a config ``ignore`` map, with per-stage wall-clock bookkeeping
(timekeep.txt, main.py:288-292). Here each stage is a lazy DataFrame
transformation; stage boundaries are CheckpointCatalog commits
(partitioned parquet + manifest = resumable snapshots), and the
timings/counters are returned as a lineage report instead of a text
file.

Run on a cluster:
    spark-submit --py-files easyner_spark.zip -m easyner_spark.pipeline \
        --input pages_parquet_or_iceberg --warehouse /path/wh

(in this sandbox: ``python -m easyner_spark.pipeline --n-docs 2000
--warehouse /tmp/wh`` uses the synthetic corpus).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import GAZETTEER, NEL_LOOKUP, pages_df
from .io.catalog import CheckpointCatalog
from .stages.analysis import entity_frequency, id_frequency
from .stages.canonical import canonicalize_entities
from .stages.extract import audit_hashes, extract_documents
from .stages.ner_dict import dict_ner
from .stages.nel import link_entities
from .stages.split import split_documents
from .stages.triples import cooccurrence_triples

# every stage a default run_pipeline call executes, in chain order;
# the opt-in curation stages ("screen", "dedup") are added by name
STAGES = (
    "documents",
    "sentences",
    "mentions",
    "linked",
    "canonical",
    "triples",
    "graph",
    "analysis",
)


def nel_lookup_frame(spark: SparkSession, nel_lookup=NEL_LOOKUP) -> DataFrame:
    """The NEL dictionary (entity, id, name) triples as a lookup frame."""
    return spark.createDataFrame(
        [{"entity": e, "id": i, "name": n} for e, i, n in nel_lookup]
    )


def fused_kg_triples(pages: DataFrame, n_batches: int) -> int:
    """Pages → triple count as ONE uncheckpointed action (scan → extract
    → split → NER → NEL → triples): the throughput shape the benches
    time. sentences, mentions and linked are persisted for the action
    and released after it — the NEL mint derives its miss dimension
    from mentions and the triples join reads sentences again, so
    without the cache those subplans re-run the whole UDF chain
    (run_pipeline reads the committed stage tables instead)."""
    lookup = nel_lookup_frame(pages.sparkSession)
    docs = extract_documents(pages, n_batches=n_batches)
    sents = split_documents(docs).persist()
    mentions = dict_ner(sents, GAZETTEER).persist()
    linked, _ = link_entities(mentions, lookup)
    linked = linked.persist()
    n_triples = cooccurrence_triples(linked, sents).count()
    for df in (sents, mentions, linked):
        df.unpersist()
    return n_triples


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    warehouse: str,
    gazetteer=None,
    nel_lookup=None,
    n_batches: int = 64,
    stages: set[str] | None = None,
    triples_cap: int | None = None,
) -> dict:
    """Execute (and checkpoint) the full chain; returns the lineage
    report {table: {sec, rows_committed, batches_committed}}, one entry
    per committed table (the "analysis" stage commits entity_frequency
    and id_frequency, both built from ``linked``). ``stages`` filters
    which stages run (the reference's `ignore` map, inverted); a name
    outside ``STAGES``, "screen" and "dedup" raises before anything is
    committed.

    ``triples_cap``: opt-in per-sentence mention cap for entity-stuffed
    pages (None = exact, matches the sequential oracle; set e.g. 32 on
    open web text and monitor the capped-sentence rate)."""
    want = stages or set(STAGES)
    valid = {*STAGES, "screen", "dedup"}
    if want - valid:
        raise ValueError(
            f"unknown stage(s) {sorted(want - valid)}; valid: {sorted(valid)}"
        )
    gazetteer = gazetteer if gazetteer is not None else GAZETTEER
    nel_lookup = nel_lookup if nel_lookup is not None else NEL_LOOKUP
    cat = CheckpointCatalog(warehouse)
    report: dict[str, dict] = {}

    def commit(name: str, df: DataFrame) -> DataFrame:
        t0 = time.time()
        snap = cat.write_stage(df, name)
        rows = sum(c["rows"] for c in snap.get("counters", {}).values())
        report[name] = {
            "sec": round(time.time() - t0, 3),
            "rows_committed": rows,
            "batches_committed": len(snap.get("counters", {})),
        }
        if not cat.committed_batches(name):
            # empty stage (e.g. gazetteer matched nothing): no manifest
            # exists to read back — keep the (empty) frame flowing so
            # downstream stages run and report zeros instead of a
            # PATH_NOT_FOUND crash
            return df
        return cat.read_stage(spark, name)

    def need(name: str, for_stage: str) -> DataFrame:
        """Checkpointed input for a --stages subset run; a clear error
        (not a missing-parquet AnalysisException) when the prerequisite
        stage was never committed to this warehouse."""
        if not cat.committed_batches(name):
            raise ValueError(
                f"stage '{for_stage}' needs '{name}' committed in {warehouse}; "
                f"run --stages {name} against this warehouse first"
            )
        return cat.read_stage(spark, name)

    docs = sents = mentions = linked = None
    if "documents" in want:
        docs = commit("documents", extract_documents(pages, n_batches=n_batches))
        report["documents"]["audit"] = [
            row.asDict() for row in audit_hashes(docs).orderBy("batch_id").collect()
        ][:8]

    # the screen is STICKY per warehouse: once documents_screened has
    # ever been committed here, every later run that REBUILDS a
    # documents consumer re-screens — otherwise a re-run without
    # --screen would rebuild sentences from the RAW documents table and
    # re-expose scrubbed PII downstream while documents_screened still
    # claims the corpus was scrubbed. Runs that touch no documents
    # consumer (e.g. --stages graph) skip the recompute entirely.
    docs_consumer = bool({"sentences", "screen", "dedup"} & want)
    if "screen" in want or (
        docs_consumer and cat.committed_batches("documents_screened")
    ):
        # opt-in PII screen (ops/curation.py): scrub matches in place
        # and keep the per-doc count for routing/reporting. A narrow
        # whole-stage-codegen projection — no shuffle beyond the commit.
        from .ops.curation import screen_documents

        docs = docs if docs is not None else need("documents", "screen")
        screened = screen_documents(docs).select(
            *[c for c in docs.columns if c != "text"],
            F.col("text_scrubbed").alias("text"),
            "pii_total",
        )
        docs = commit("documents_screened", screened)
        # column-pruned scan of the committed table (pii_total only)
        report["documents_screened"]["pii_docs"] = docs.filter(
            F.col("pii_total") > 0
        ).count()

    # near-dup document dedup (same stickiness rule as the screen): the
    # canonical member (min doc_id) of every MinHash-LSH component is
    # kept, other members dropped BEFORE sentence splitting — the
    # curation order a training pipeline uses (dedup before the
    # expensive UDF stages, so duplicates never pay NER cost).
    if "dedup" in want or (
        docs_consumer and cat.committed_batches("documents_deduped")
    ):
        from .ops.graph import connected_components
        from .stages.canonical import (
            lsh_candidate_pairs,
            minhash_signatures,
            signature_similarity_filter,
        )

        docs = docs if docs is not None else need("documents", "dedup")
        # materialize once: the corpus-wide MinHash aggregate fans out
        # to ~5 consumers (band self-join sides, bucket counts, both
        # similarity-filter sides) and Catalyst does not dedupe the
        # logical subtrees (CLAUDE.md shared-aggregate rule)
        sigs = minhash_signatures(
            docs, id_col="doc_id", name_col="text"
        ).localCheckpoint()
        # LSH emits CANDIDATES (band collisions); verify with the
        # MinHash-agreement estimate before clustering — without the
        # filter, same-vocabulary pages chain into mega-components and
        # dedup drops distinct documents
        cand = lsh_candidate_pairs(sigs, id_col="doc_id")
        pairs = signature_similarity_filter(
            cand, sigs, id_col="doc_id", min_agreement=0.9
        ).select("src", "dst")
        comp = connected_components(pairs)
        dupes = comp.filter(F.col("component") < F.col("node")).select(
            F.col("node").alias("doc_id")
        )
        deduped = docs.join(dupes, "doc_id", "left_anti")
        docs = commit("documents_deduped", deduped)

    if "sentences" in want:
        # the sticky blocks above always set `docs` when a curated
        # table exists (docs_consumer includes "sentences"), so the
        # only fallback is the raw documents stage
        docs = docs if docs is not None else need("documents", "sentences")
        sents = commit("sentences", split_documents(docs))
    # NOTE: conflict resolution (J3) applies to MULTI-run merges only
    # (reference: entity_merger2.py post-processes merged class runs);
    # the single dict run keeps nested/overlapping matches exactly like
    # PhraseMatcher (ner_spacy.py:144-155) — resolving here would break
    # mention-exact parity with the oracle.
    if "mentions" in want:
        sents = sents if sents is not None else need("sentences", "mentions")
        mentions = commit("mentions", dict_ner(sents, gazetteer))

    if "linked" in want:
        mentions = mentions if mentions is not None else need("mentions", "linked")
        linked, new_ents = link_entities(mentions, nel_lookup_frame(spark, nel_lookup))
        linked = commit("linked", linked)
        # U1: merge the minted dimension back (idempotent upsert analog)
        # allow_empty: once every surface resolves against the lookup,
        # the minted dimension legitimately shrinks to zero rows — the
        # re-run must retract the stale mints, not keep serving them
        cat.write_stage(
            new_ents.withColumn("batch_id", F.lit(0)),
            "nel_new_entities",
            allow_empty=True,
        )
    elif {"canonical", "triples", "analysis"} & want:
        linked = need("linked", "canonical/triples/analysis")

    if "canonical" in want:
        ents = linked.select(
            F.col("ent_id"), F.col("ent_name").alias("name")
        ).distinct()
        canon = canonicalize_entities(ents).withColumn("batch_id", F.lit(0))
        commit("canonical", canon)

    if "triples" in want:
        sents = sents if sents is not None else need("sentences", "triples")
        commit(
            "triples",
            cooccurrence_triples(linked, sents, max_mentions_per_sentence=triples_cap),
        )

    if "graph" in want and not cat.committed_batches("triples") and "triples" in want:
        # the triples stage ran in THIS invocation and produced zero
        # rows (empty corpus / no co-occurrences) — an empty graph is a
        # report note, not a "run --stages triples first" error
        report["graph"] = {"skipped": "triples stage committed no rows"}
    elif "graph" in want:
        # north-star output: the queryable graph tables, partitioned by
        # a stable hash of the node key (same batch_id discipline as
        # every other stage — co-partitioned for neighbor expansion)
        from .ops.graph import pagerank

        tri = need("triples", "graph")

        def bkey(c: str):
            return F.pmod(F.xxhash64(F.col(c)), F.lit(n_batches)).cast("int")

        edges = (
            tri.groupBy("subj", "pred", "obj")
            .agg(
                F.count("*").alias("weight"),
                F.countDistinct("doc_id").alias("n_docs"),
            )
            .withColumn("batch_id", bkey("subj"))
        )
        commit("graph_edges", edges)
        outd = tri.groupBy(F.col("subj").alias("node")).agg(
            F.count("*").alias("out_degree")
        )
        ind = tri.groupBy(F.col("obj").alias("node")).agg(
            F.count("*").alias("in_degree")
        )
        nodes = (
            outd.join(ind, "node", "full")
            .select(
                "node",
                F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            )
            .withColumn("batch_id", bkey("node"))
        )
        commit("graph_nodes", nodes)
        pr = pagerank(
            tri.select(F.col("subj").alias("src"), F.col("obj").alias("dst")).filter(
                F.col("src") != F.col("dst")
            ),
            iterations=5,
        )
        commit("graph_pagerank", pr.withColumn("batch_id", bkey("node")))

    if "analysis" in want:
        # aggregate tables: a single logical partition each
        for name, build in (
            ("entity_frequency", entity_frequency),
            ("id_frequency", id_frequency),
        ):
            commit(name, build(linked).withColumn("batch_id", F.lit(0)))

    # manifest-side total: the commit already counted every partition,
    # so a read-back count job would only re-scan the same parquet
    if cat.committed_batches("triples"):
        triples_total = sum(c["rows"] for c in cat.counters("triples").values())
    else:
        triples_total = None
    report["_totals"] = {
        "triples": triples_total,
        "stages": sorted(report.keys()),
    }
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="pages parquet path (default: synthetic)")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--n-batches", type=int, default=64)
    ap.add_argument(
        "--stages",
        default=None,
        help="comma-separated subset of stages to run (the reference's "
        "config 'ignore' map, inverted; e.g. --stages mentions,linked "
        "re-runs NER+NEL over checkpointed sentences; 'graph' "
        "materializes graph_nodes/graph_edges/graph_pagerank from "
        "committed triples; 'analysis' commits entity_frequency and "
        "id_frequency from committed linked)",
    )
    ap.add_argument(
        "--triples-cap",
        type=int,
        default=None,
        help="opt-in per-sentence mention cap for entity-stuffed pages "
        "(default None = exact pairing, matches the sequential oracle)",
    )
    ap.add_argument(
        "--screen",
        action="store_true",
        help="opt-in PII screen between documents and sentences: scrub "
        "email/ipv4/ssn/phone matches in place (ops/curation.py) and "
        "commit the screened table; downstream stages consume it",
    )
    ap.add_argument(
        "--dedup-docs",
        action="store_true",
        help="opt-in near-dup document dedup before sentence splitting: "
        "MinHash-LSH pairs -> connected components, keep each "
        "component's canonical (min doc_id) member; commits "
        "documents_deduped and downstream stages consume it",
    )
    args = ap.parse_args()

    from .session import get_spark

    spark = get_spark(app_name="easyner_pipeline")
    pages = (
        spark.read.parquet(args.input)
        if args.input
        else pages_df(spark, n_docs=args.n_docs)
    )
    stages = set(args.stages.split(",")) if args.stages else None
    for flag, stage in ((args.screen, "screen"), (args.dedup_docs, "dedup")):
        if flag:
            stages = (stages or set(STAGES)) | {stage}
    report = run_pipeline(
        spark,
        pages,
        args.warehouse,
        n_batches=args.n_batches,
        stages=stages,
        triples_cap=args.triples_cap,
    )
    print(json.dumps(report, indent=2, default=str))


if __name__ == "__main__":
    main()
