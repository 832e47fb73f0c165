"""End-to-end contract tests: Spark pipeline vs sequential oracle.

These are the BASELINE.json contract items on the synthetic
Lund-COVID-style corpus:
  * byte-identical extracted text per url,
  * triple P/R >= 0.95 vs reference-semantics oracle (here: exact),
  * identical entity-frequency rankings,
  * deterministic audits across runs/parallelism.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from easyner_spark.corpus import GAZETTEER, NEL_LOOKUP, make_pages_pdf, pages_df
from easyner_spark.oracle.pyoracle import precision_recall, run_oracle
from easyner_spark.pipeline import fused_kg_triples, nel_lookup_frame
from easyner_spark.stages.analysis import entity_frequency, id_frequency
from easyner_spark.stages.extract import audit_hashes, extract_documents
from easyner_spark.stages.ner_dict import dict_ner
from easyner_spark.stages.nel import link_entities
from easyner_spark.stages.split import split_documents
from easyner_spark.stages.triples import cooccurrence_triples

N_DOCS = 120


@pytest.fixture(scope="module")
def oracle():
    return run_oracle(make_pages_pdf(n_docs=N_DOCS), GAZETTEER, NEL_LOOKUP)


@pytest.fixture(scope="module")
def engine(spark):
    pages = pages_df(spark, n_docs=N_DOCS)
    docs = extract_documents(pages, n_batches=8).cache()
    sents = split_documents(docs).cache()
    mentions = dict_ner(sents, GAZETTEER).cache()
    linked, new_ents = link_entities(mentions, nel_lookup_frame(spark))
    linked = linked.cache()
    triples = cooccurrence_triples(linked, sents).cache()
    return {
        "docs": docs,
        "sents": sents,
        "mentions": mentions,
        "linked": linked,
        "new_ents": new_ents,
        "triples": triples,
    }


def test_text_byte_identical_per_url(engine, oracle):
    got = {r["url"]: r["text"] for r in engine["docs"].select("url", "text").collect()}
    want = {url: d["text"] for url, d in oracle["documents"].items()}
    assert got == want  # byte-identical extraction per url


def test_sentences_match_oracle(engine, oracle):
    got = {
        (r["url"], r["sent_idx"]): r["text"]
        for r in engine["sents"]
        .join(engine["docs"].select("doc_id", "url"), "doc_id")
        .select("url", "sent_idx", "text")
        .collect()
    }
    assert got == oracle["sentences"]


def test_mentions_match_oracle_exactly(engine, oracle):
    url_of = engine["docs"].select("doc_id", "url")
    got = {
        (r["url"], r["sent_idx"], r["surface"], r["begin"], r["end"], r["class"])
        for r in engine["mentions"].join(url_of, "doc_id").collect()
    }
    want = set(oracle["mentions"])
    assert got == want


def test_triples_pr_at_least_095(engine, oracle):
    url_of = engine["docs"].select("doc_id", "url")
    pred = {
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
        for r in engine["triples"].join(url_of, "doc_id").collect()
    }
    p, r = precision_recall(pred, oracle["triples"])
    assert p >= 0.95 and r >= 0.95
    assert p == 1.0 and r == 1.0  # dict path is exactly reproducible


def test_triples_mention_cap_pairs_only_leading_mentions(spark):
    """max_mentions_per_sentence=k: a sentence holding more than k
    mentions pairs only those with mention_idx < k; None pairs all."""
    sents = spark.createDataFrame(
        [("d", 0, "A x B y C z D"), ("d", 1, "E x F")],
        "doc_id string, sent_idx int, text string",
    )
    linked = spark.createDataFrame(
        [("d", 0, j, i, n, 4 * i, 4 * i) for j, ns in enumerate(("ABCD", "EF"))
         for i, n in enumerate(ns)],
        "doc_id string, batch_id int, sent_idx int, mention_idx int,"
        " ent_name string, begin int, end int",
    )

    def pairs(cap):
        tri = cooccurrence_triples(linked, sents, max_mentions_per_sentence=cap)
        return sorted((r["subj"], r["obj"]) for r in tri.collect())

    assert pairs(None) == [
        ("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"), ("C", "D"),
        ("E", "F"),
    ]
    assert pairs(3) == [("A", "B"), ("A", "C"), ("B", "C"), ("E", "F")]
    assert pairs(2) == [("A", "B"), ("E", "F")]


def test_fused_kg_triples_matches_staged_chain(engine, spark):
    """The benches' single-action chain yields the same triples as the
    stage-by-stage frames above."""
    pages = pages_df(spark, n_docs=N_DOCS)
    assert fused_kg_triples(pages, n_batches=8) == engine["triples"].count()


def test_entity_frequency_ranking_identical(engine, oracle):
    freq = entity_frequency(engine["linked"]).collect()
    # the table carries no row order: rank here, as every reader does
    got_rank = sorted(
        ((r["surface"], r["total_count"]) for r in freq),
        key=lambda kv: (-kv[1], kv[0]),
    )
    want = sorted(
        oracle["surface_counts"].items(), key=lambda kv: (-kv[1], kv[0])
    )
    assert got_rank == want
    # articles_spanned agrees with the oracle's distinct-doc sets
    got_span = {r["surface"]: r["articles_spanned"] for r in freq}
    want_span = {s: len(urls) for s, urls in oracle["articles_per_surface"].items()}
    assert got_span == want_span


def test_id_frequency_ranking_by_name(engine, oracle):
    idf = id_frequency(engine["linked"]).collect()
    got = sorted(
        ((r["name"], r["total_count"]) for r in idf),
        key=lambda kv: (-kv[1], kv[0]),
    )
    want = sorted(oracle["name_counts"].items(), key=lambda kv: (-kv[1], kv[0]))
    assert got == want


def test_id_frequency_one_id_from_two_surfaces(spark):
    """An id linked from two surfaces with different names gets
    min(ent_name) (the contract oracle's choice), both surfaces in
    entities_list, and exact spans across docs and batches."""
    linked = spark.createDataFrame(
        [
            ("d1", 0, "Covid", "X:1", "covid-19"),
            ("d1", 0, "Covid", "X:1", "covid-19"),
            ("d2", 1, "SARS-CoV-2", "X:1", "Sars Cov 2"),
            ("d3", 1, "Covid", "X:1", "covid-19"),
            ("d3", 1, "flu", "X:2", "influenza"),
        ],
        "doc_id string, batch_id int, surface string, ent_id string,"
        " ent_name string",
    )
    rows = {r["ent_id"]: r.asDict() for r in id_frequency(linked).collect()}
    assert rows["X:1"] == {
        "ent_id": "X:1",
        "name": "Sars Cov 2",
        "total_count": 4,
        "articles_spanned": 3,
        "batches_spanned": 2,
        "freq_per_article": 4 / 3,
        "freq_per_batch": 2.0,
        "batch_set": "0; 1",
        "entities_list": "Covid; SARS-CoV-2",
    }
    assert rows["X:2"]["name"] == "influenza"
    assert rows["X:2"]["entities_list"] == "flu"


def test_nel_mint_deterministic_and_reused(engine, spark):
    new1 = sorted(r["id"] for r in engine["new_ents"].collect())
    # minted ids are dense easyner:{n}
    assert all(i.startswith("easyner:") for i in new1)
    # re-running the link yields the identical minted dimension
    _, new2 = link_entities(engine["mentions"], nel_lookup_frame(spark))
    assert sorted(r["id"] for r in new2.collect()) == new1


def test_audit_hash_stable_across_parallelism(spark):
    a1 = {
        (r["batch_id"]): (r["n_docs"], r["text_hash_sum"], r["text_hash_xor"])
        for r in audit_hashes(
            extract_documents(pages_df(spark, n_docs=60, n_partitions=2), n_batches=4)
        ).collect()
    }
    a2 = {
        (r["batch_id"]): (r["n_docs"], r["text_hash_sum"], r["text_hash_xor"])
        for r in audit_hashes(
            extract_documents(pages_df(spark, n_docs=60, n_partitions=16), n_batches=4)
        ).collect()
    }
    assert a1 == a2


def test_recrawled_urls_keep_latest(spark, oracle):
    """Duplicate urls (re-crawls) must collapse to ONE document — the
    latest warc_ts — in both engine and oracle; duplicate doc_ids would
    corrupt every (doc_id, sent_idx) join downstream."""
    import datetime as dt

    pdf = make_pages_pdf(n_docs=30)
    dup = pdf.iloc[:5].copy()
    dup["warc_ts"] = dup["warc_ts"] + pd.Timedelta(days=1)
    dup["text"] = "recrawled text only. one sentence."
    both = pd.concat([pdf, dup], ignore_index=True)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), False),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )
    docs = extract_documents(spark.createDataFrame(both, schema), n_batches=4)
    rows = docs.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))  # one row per url
    got = {r["url"]: r["text"] for r in rows}
    want = {
        url: d["text"]
        for url, d in run_oracle(both, GAZETTEER, NEL_LOOKUP)["documents"].items()
    }
    assert got == want
    # the re-crawled urls carry the NEW text
    for u in dup["url"]:
        if u in got and pdf.loc[pdf.url == u, "lang"].iloc[0] == "en":
            assert got[u] == "recrawled text only. one sentence."


def test_same_timestamp_recrawl_winner_matches_oracle(spark):
    """Two English crawls of one url with the same warc_ts and no html
    differ only in text: the engine's max_by key and the oracle's
    sequential max must pick the same winner (md5(text) breaks the tie),
    whatever the row order."""
    import datetime as dt

    from easyner_spark.streaming.ingest import PAGES_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    rows = [("http://x/u1", ts, None, t, "en") for t in ("alpha text", "beta text")]
    winners = set()
    for order in (rows, rows[::-1]):
        pdf = pd.DataFrame(order, columns=PAGES_SCHEMA.fieldNames())
        got = extract_documents(spark.createDataFrame(order, PAGES_SCHEMA), n_batches=2)
        want = run_oracle(pdf, GAZETTEER, NEL_LOOKUP)["documents"]
        assert [r["text"] for r in got.collect()] == [want["http://x/u1"]["text"]]
        winners.add(want["http://x/u1"]["text"])
    assert len(winners) == 1


def test_full_pipeline_orchestrator_matches_oracle(spark, tmp_path, oracle):
    """The CLI-facing orchestrator (pipeline.run_pipeline, with
    checkpoints and canonicalization) must hit the same P/R contract as
    the hand-chained stages — catches orchestration-level divergences
    (e.g. conflict resolution wrongly applied to a single run)."""
    from easyner_spark.pipeline import run_pipeline
    from easyner_spark.corpus import pages_df
    from easyner_spark.io.catalog import CheckpointCatalog

    wh = str(tmp_path / "wh")
    pages = pages_df(spark, n_docs=N_DOCS)
    run_pipeline(spark, pages, wh, n_batches=8)
    cat = CheckpointCatalog(wh)
    triples = cat.read_stage(spark, "triples")
    docs = cat.read_stage(spark, "documents")
    url_of = docs.select("doc_id", "url")
    pred = {
        (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
        for r in triples.join(url_of, "doc_id").collect()
    }
    p, r = precision_recall(pred, oracle["triples"])
    assert p == 1.0 and r == 1.0


def test_graph_stage_materializes_consistent_tables(spark, tmp_path):
    """The 'graph' stage must write node/edge/pagerank tables that are
    mutually consistent with the committed triples (north-rule graph
    materialization)."""
    import pyspark.sql.functions as F

    from easyner_spark.corpus import pages_df
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.ops.graph import PR_SCALE
    from easyner_spark.pipeline import run_pipeline

    wh = str(tmp_path / "wh_graph")
    run_pipeline(spark, pages_df(spark, n_docs=120), wh, n_batches=4)
    cat = CheckpointCatalog(wh)
    triples = cat.read_stage(spark, "triples")
    edges = cat.read_stage(spark, "graph_edges")
    nodes = cat.read_stage(spark, "graph_nodes")
    pr = cat.read_stage(spark, "graph_pagerank")

    assert edges.agg(F.sum("weight")).first()[0] == triples.count()
    node_set = {r["node"] for r in nodes.select("node").collect()}
    ends = {
        r["n"]
        for r in triples.select(F.col("subj").alias("n"))
        .union(triples.select("obj"))
        .distinct()
        .collect()
    }
    assert node_set == ends
    # pagerank covers every non-self-loop participant, ranks positive,
    # total mass bounded by n_nodes * scale (dangling mass only leaks)
    prows = pr.select("node", "rank_scaled").collect()
    assert {r["node"] for r in prows} <= node_set
    assert all(r["rank_scaled"] > 0 for r in prows)
    assert sum(r["rank_scaled"] for r in prows) <= len(prows) * PR_SCALE


def test_graph_stage_skips_cleanly_on_empty_triples(spark, tmp_path):
    """A default run whose corpus yields no mentions must not tell the
    operator to re-run a stage that just ran — the graph stage records
    a skip note instead."""
    from easyner_spark.corpus import pages_df
    from easyner_spark.pipeline import run_pipeline

    wh = str(tmp_path / "wh_empty")
    report = run_pipeline(
        spark,
        pages_df(spark, n_docs=20),
        wh,
        n_batches=2,
        gazetteer={"zzz-not-in-corpus": "disease"},
    )
    assert report["graph"] == {"skipped": "triples stage committed no rows"}
    assert report["_totals"]["triples"] is None


def test_unknown_stage_name_raises_before_any_commit(spark, tmp_path):
    """A misspelt --stages entry ("mention" for "mentions") must fail
    loudly, naming the unknown stage and the valid set, before any
    stage commits — not run nothing and return a report."""
    import glob
    import os

    from easyner_spark.pipeline import run_pipeline

    wh = str(tmp_path / "wh_typo")
    with pytest.raises(ValueError, match=r"'mention'.*'dedup'.*'mentions'.*'screen'"):
        run_pipeline(
            spark, pages_df(spark, n_docs=20), wh, n_batches=2,
            stages={"documents", "mention"},
        )
    assert glob.glob(os.path.join(wh, "*._manifest.json")) == []


def test_screen_stage_scrubs_and_downstream_consumes(spark, tmp_path):
    """--screen: PII is scrubbed in the committed documents_screened
    table, the report carries the hit count, and the sentences stage
    consumes the SCREENED text (no raw PII downstream). The synthetic
    corpus is PII-free, so a page with an injected email pins the
    scrub."""
    from easyner_spark.corpus import pages_df
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.pipeline import run_pipeline

    pages = pages_df(spark, n_docs=60).withColumn(
        "text",
        # doc 000000 has non-null passthrough text in the deterministic
        # corpus (NULL-text pages re-extract from html and would drop
        # the injected suffix)
        F.when(
            F.col("url").endswith("/000000"),
            F.concat(F.col("text"), F.lit(" contact leak@example.com now")),
        ).otherwise(F.col("text")),
    )
    wh = str(tmp_path / "wh_screen")
    report = run_pipeline(
        spark,
        pages,
        wh,
        n_batches=4,
        stages={"documents", "screen", "sentences"},
    )
    assert report["documents_screened"]["pii_docs"] == 1
    cat = CheckpointCatalog(wh)
    screened = cat.read_stage(spark, "documents_screened")
    hit = screened.filter(F.col("pii_total") > 0).collect()
    assert len(hit) == 1 and "[EMAIL]" in hit[0]["text"]
    assert "leak@example.com" not in hit[0]["text"]
    sents = cat.read_stage(spark, "sentences")
    assert sents.filter(F.col("text").contains("leak@example.com")).count() == 0
    assert sents.filter(F.col("text").contains("[EMAIL]")).count() >= 1


def test_screen_is_sticky_on_rerun_without_flag(spark, tmp_path):
    """A re-run WITHOUT --screen on a screened warehouse must re-screen
    (sticky), not rebuild sentences from raw documents — the PII
    re-exposure path found in review."""
    from easyner_spark.corpus import pages_df
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.pipeline import run_pipeline

    pages = pages_df(spark, n_docs=60).withColumn(
        "text",
        F.when(
            F.col("url").endswith("/000000"),
            F.concat(F.col("text"), F.lit(" contact leak@example.com now")),
        ).otherwise(F.col("text")),
    )
    wh = str(tmp_path / "wh_sticky")
    run_pipeline(spark, pages, wh, n_batches=4,
                 stages={"documents", "screen", "sentences"})
    # re-run the default stage set (no 'screen'): sentences must STILL
    # come from the screened table
    run_pipeline(spark, pages, wh, n_batches=4,
                 stages={"documents", "sentences"})
    cat = CheckpointCatalog(wh)
    sents = cat.read_stage(spark, "sentences")
    assert sents.filter(F.col("text").contains("leak@example.com")).count() == 0
    assert sents.filter(F.col("text").contains("[EMAIL]")).count() >= 1


def test_dedup_stage_keeps_canonical_members(spark, tmp_path):
    """--dedup-docs: near-identical pages collapse to the component's
    canonical member BEFORE sentence splitting; unique docs survive;
    re-run without the flag stays deduped (sticky)."""
    from easyner_spark.corpus import pages_df
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.pipeline import run_pipeline

    base = pages_df(spark, n_docs=40)
    # clone three pages under new urls: same text => near-dup families
    clones = (
        base.filter(F.col("text").isNotNull())
        .limit(3)
        .withColumn("url", F.concat(F.col("url"), F.lit("-mirror")))
    )
    pages = base.unionByName(clones)
    wh = str(tmp_path / "wh_dedup")
    run_pipeline(spark, pages, wh, n_batches=4,
                 stages={"documents", "dedup", "sentences"})
    cat = CheckpointCatalog(wh)
    docs = cat.read_stage(spark, "documents")
    deduped = cat.read_stage(spark, "documents_deduped")
    n_docs, n_dd = docs.count(), deduped.count()
    # at least the 3 injected clones collapse (the word-soup corpus
    # also contains its own exact/near dup families — those collapse
    # too, so the expectation is data-derived, not hardcoded)
    assert n_dd <= n_docs - 3
    kept = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    # no exact-duplicate text survives, and each exact-text group keeps
    # exactly its canonical min-doc_id member
    assert deduped.groupBy("text").count().agg(F.max("count")).first()[0] == 1
    for row in (
        docs.groupBy("text").agg(F.min("doc_id").alias("m"), F.count("*").alias("c"))
        .filter(F.col("c") > 1).collect()
    ):
        assert row["m"] in kept
    # sentences built from the deduped table
    sents = cat.read_stage(spark, "sentences")
    assert sents.select("doc_id").distinct().count() <= n_dd
    # sticky: re-run without 'dedup' keeps consuming the deduped table
    run_pipeline(spark, pages, wh, n_batches=4,
                 stages={"documents", "sentences"})
    assert cat.read_stage(spark, "sentences").select("doc_id").distinct().count() <= n_dd
