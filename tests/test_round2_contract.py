"""Round-2 additions: corpus invariants the new oracles rely on, the
HF span-normalization fixture (ner_biobert.py:192-194 convention), the
non-triviality of the driver-gated J3 sweep, the latest-epoch-wins
streaming read path, and content-hash-verified catalog resume."""

import os

import pyspark.sql.functions as F
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# corpus invariants: the char-offset oracles (ner_udf_ngram_mentions,
# merge_conflicts_resolved, pubtator_rebase, eval_band_pr) compute
# offsets as cumulative token length+1 — valid only on single-spaced
# lowercase \w+ text with no edge whitespace.
# --------------------------------------------------------------------------


def test_documents_corpus_offset_invariants(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bad = d.filter(
        F.col("text").rlike(r"^ |  | $|[^a-z0-9 ]")
    ).count()
    assert bad == 0, "oracle offset math assumes single-spaced lowercase tokens"


# --------------------------------------------------------------------------
# N2 span normalization vs a hand-written HF-pipeline output fixture
# --------------------------------------------------------------------------


def test_transformer_ner_normalizes_hf_exclusive_spans(spark):
    """ner_biobert.py:192-194 emits {'word','start','end'} with an
    EXCLUSIVE end; the mentions table uses INCLUSIVE ends. Pin the
    end-1 normalization against a literal HF-shaped fixture."""
    from easyner_spark.stages import ner_model

    # HF aggregation output for "aspirin reduces fever": two entities,
    # exactly as transformers' token-classification pipeline shapes them
    hf_fixture = [
        {"word": "aspirin", "start": 0, "end": 7, "entity_group": "chemical", "score": 0.99},
        {"word": "fever", "start": 16, "end": 21, "entity_group": "disease", "score": 0.87},
    ]

    def fixture_tagger(sentences):
        return [
            [
                (o["word"], int(o["start"]), int(o["end"]), o["entity_group"], float(o["score"]))
                for o in hf_fixture
            ]
            for _ in sentences
        ]

    sents = spark.createDataFrame(
        [("d1", 0, 0, "aspirin reduces fever")],
        "doc_id string, batch_id int, sent_idx int, text string",
    )
    out = ner_model.transformer_ner(sents, tagger=fixture_tagger).collect()
    by_surface = {r["surface"]: r for r in out}
    # inclusive ends: end - 1 of the HF exclusive offsets
    assert (by_surface["aspirin"]["begin"], by_surface["aspirin"]["end"]) == (0, 6)
    assert (by_surface["fever"]["begin"], by_surface["fever"]["end"]) == (16, 20)
    # raw (exclusive) passthrough when normalization is off
    raw = ner_model.transformer_ner(
        sents, tagger=fixture_tagger, normalize_spans=False
    ).collect()
    assert {(r["begin"], r["end"]) for r in raw} == {(0, 7), (16, 21)}


# --------------------------------------------------------------------------
# the driver-gated J3 query actually exercises deletions
# --------------------------------------------------------------------------


def test_merge_conflicts_query_is_nontrivial(spark):
    from easyner_spark.queries import CONFLICT_GAZ, QUERIES, _read
    from easyner_spark.stages.ner_dict import dict_ner

    docs = _read(spark, SF_DIR, "documents").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.lit(0).alias("batch_id"),
        F.lit(0).alias("sent_idx"),
        "text",
    )
    raw = dict_ner(docs, CONFLICT_GAZ).count()
    resolved = QUERIES["merge_conflicts_resolved"](spark, SF_DIR).count()
    assert resolved < raw  # the sweep deleted contained/overlapped spans
    assert resolved > 0


# --------------------------------------------------------------------------
# latest-epoch-wins batch view over streaming epoch stages
# --------------------------------------------------------------------------


def test_read_documents_epochs_latest_wins(spark, tmp_path, monkeypatch):
    from pyspark.sql import functions as F

    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.streaming.ingest import _epoch_batch, read_documents_epochs

    wh = str(tmp_path / "wh")
    cat = CheckpointCatalog(wh)
    from datetime import datetime

    cols = "doc_id string, url string, title string, text string, lang string, warc_ts timestamp, batch_id int"
    e0 = spark.createDataFrame(
        [
            ("d1", "u1", "t", "old text", "en", datetime(2026, 1, 1), 0),
            ("d2", "u2", "t", "keep", "en", datetime(2026, 1, 1), 1),
        ],
        cols,
    )
    e1 = spark.createDataFrame(
        [("d1", "u1", "t", "new text", "en", datetime(2026, 1, 2), 0)],
        cols,
    )
    # committed as start_ingest's sink commits epochs 0 and 1
    for epoch, docs in enumerate([e0, e1]):
        keyed = docs.withColumn("batch_id", _epoch_batch(epoch, F.col("batch_id"), 2))
        cat.write_stage(keyed, "documents_epochs", resume_mode="skip_committed")
    # the view reads the one stage through ONE manifest load
    loads = []
    load = CheckpointCatalog._load_manifest

    def counting(self, stage):
        loads.append(stage)
        return load(self, stage)

    monkeypatch.setattr(CheckpointCatalog, "_load_manifest", counting)
    rows = {
        r["doc_id"]: (r["text"], r["batch_id"])
        for r in read_documents_epochs(spark, wh).collect()
    }
    # batch_id is the within-epoch batch extract_documents assigned
    assert rows == {"d1": ("new text", 0), "d2": ("keep", 1)}
    assert loads == ["documents_epochs"]


def test_read_documents_epochs_empty_warehouse(spark, tmp_path):
    from easyner_spark.streaming.ingest import read_documents_epochs

    with pytest.raises(ValueError):
        read_documents_epochs(spark, str(tmp_path / "empty"))


# --------------------------------------------------------------------------
# catalog resume detects in-place content changes with unchanged counts
# --------------------------------------------------------------------------


def test_catalog_resume_detects_content_change(spark, tmp_path, monkeypatch):
    from easyner_spark.io import catalog as cat_mod
    from easyner_spark.io.catalog import CheckpointCatalog

    wh = str(tmp_path / "wh")
    cat = CheckpointCatalog(wh)
    v1 = spark.createDataFrame(
        [("a", 0), ("b", 1)], "doc_id string, batch_id int"
    )
    snap1 = cat.write_stage(v1, "docs")
    assert len(snap1["counters"]) == 2

    # same row COUNTS, different content in batch 0 (latest-crawl-wins
    # replaced the row in place)
    v2 = spark.createDataFrame(
        [("a2", 0), ("b", 1)], "doc_id string, batch_id int"
    )
    def files(b):
        d = os.path.join(wh, "docs", f"batch_id={b}")
        return {(f, os.stat(os.path.join(d, f)).st_mtime_ns) for f in os.listdir(d)}

    kept = files(1)
    # the verifying commit counts the incoming frame ONCE: the same
    # counters decide what changed and are recorded for it
    calls = []
    counters = cat_mod._content_counters
    monkeypatch.setattr(
        cat_mod,
        "_content_counters",
        lambda df, col: calls.append(col) or counters(df, col),
    )
    snap2 = cat.write_stage(v2, "docs")
    monkeypatch.undo()
    assert len(calls) == 1
    assert list(snap2["counters"]) == ["0"]  # only the changed batch recommitted
    assert files(1) == kept  # the unchanged batch's files were not rewritten
    got = {r["doc_id"] for r in cat.read_stage(spark, "docs").collect()}
    assert got == {"a2", "b"}

    # unchanged re-run is still a no-op
    assert cat.write_stage(v2, "docs") == {}


def test_pipeline_staged_subset_runs(spark, tmp_path):
    """--stages subsets: missing prerequisites raise a clear ValueError
    (not a parquet AnalysisException); a staged sequence over one
    warehouse completes and the totals come from the manifest."""
    from easyner_spark.corpus import pages_df
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.pipeline import run_pipeline

    wh = str(tmp_path / "wh")
    pages = pages_df(spark, n_docs=120)

    with pytest.raises(ValueError, match="needs 'documents'"):
        run_pipeline(spark, pages, wh, stages={"sentences"})

    r1 = run_pipeline(spark, pages, wh, stages={"documents", "sentences"})
    assert r1["_totals"]["triples"] is None
    # the documents audit is the committed per-batch counters
    assert r1["documents"]["audit"] == CheckpointCatalog(wh).counters("documents")
    r2 = run_pipeline(
        spark, pages, wh, stages={"mentions", "linked", "triples"}
    )
    assert r2["_totals"]["triples"] > 0
    # the minted dimension is reported like every committed stage
    live = CheckpointCatalog(wh).counters("nel_new_entities")
    assert r2["nel_new_entities"]["rows_committed"] == sum(
        c["rows"] for c in live.values()
    )
    # full re-run over the same warehouse is a resume no-op
    r3 = run_pipeline(spark, pages, wh)
    assert r3["_totals"]["triples"] == r2["_totals"]["triples"]
    assert all(
        r3[s]["batches_committed"] == 0
        for s in (
            "documents",
            "sentences",
            "mentions",
            "linked",
            "nel_new_entities",
            "triples",
        )
    )


def test_catalog_resume_detects_xor_cancelling_change(spark, tmp_path):
    """{A, A} → {B, B} keeps both the row count and the bit_xor fold
    (pairs cancel to 0); only the decimal content_sum catches it."""
    from easyner_spark.io.catalog import CheckpointCatalog

    cat = CheckpointCatalog(str(tmp_path / "wh"))
    v1 = spark.createDataFrame([("a", 0), ("a", 0)], "doc_id string, batch_id int")
    cat.write_stage(v1, "docs")
    v2 = spark.createDataFrame([("b", 0), ("b", 0)], "doc_id string, batch_id int")
    snap = cat.write_stage(v2, "docs")
    assert list(snap["counters"]) == ["0"]
    assert {r["doc_id"] for r in cat.read_stage(spark, "docs").collect()} == {"b"}


def test_catalog_retracts_vanished_batches(spark, tmp_path):
    from easyner_spark.io.catalog import CheckpointCatalog

    cat = CheckpointCatalog(str(tmp_path / "wh"))
    v1 = spark.createDataFrame(
        [("a", 0), ("b", 1)], "doc_id string, batch_id int"
    )
    cat.write_stage(v1, "docs")
    # input shrank: batch 0 disappeared entirely
    v2 = spark.createDataFrame([("b", 1)], "doc_id string, batch_id int")
    snap = cat.write_stage(v2, "docs")
    assert snap == {"retracted": [0]}
    assert cat.committed_batches("docs") == {1}
    assert {r["doc_id"] for r in cat.read_stage(spark, "docs").collect()} == {"b"}
    # idempotent: same shrunk input again is a no-op
    assert cat.write_stage(v2, "docs") == {}
