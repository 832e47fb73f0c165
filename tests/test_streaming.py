"""Structured Streaming ingest: incremental files → documents, dedup,
resume across restarts, and the per-epoch near-dup pass."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from easyner_spark.corpus import make_pages_pdf
from easyner_spark.streaming.ingest import (
    PAGES_SCHEMA,
    read_page_stream,
    start_ingest,
)


def _write_pages(spark, pdf, path):
    spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def dirs(tmp_path):
    d = {
        "in": str(tmp_path / "incoming"),
        "wh": str(tmp_path / "wh"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["in"])
    return d


def test_incremental_ingest_and_restart(spark, dirs):
    pdf = make_pages_pdf(n_docs=60)
    _write_pages(spark, pdf.iloc[:30], dirs["in"])

    q = start_ingest(spark, dirs["in"], dirs["wh"], dirs["ckpt"], n_batches=4)
    q.processAllAvailable()
    q.stop()

    def read_epochs():
        dfs = [
            spark.read.parquet(d)
            for d in sorted(glob.glob(os.path.join(dirs["wh"], "documents_epoch*")))
            if not d.endswith(".json")
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    docs1 = glob.glob(os.path.join(dirs["wh"], "documents_epoch*/batch_id=*/*.parquet"))
    n1 = read_epochs().count()
    assert n1 > 0 and docs1

    # second tranche arrives + stream RESTARTS from checkpoint: only the
    # new files are processed (no duplicate epochs)
    _write_pages(spark, pdf.iloc[30:], dirs["in"])
    q2 = start_ingest(spark, dirs["in"], dirs["wh"], dirs["ckpt"], n_batches=4)
    q2.processAllAvailable()
    q2.stop()

    all_docs = read_epochs()
    n2 = all_docs.count()
    assert n2 > n1
    # no url ingested twice across epochs
    assert all_docs.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_stream_dedup_by_url(spark, dirs):
    pdf = make_pages_pdf(n_docs=20)
    dup = pdf.iloc[:10].copy()
    _write_pages(spark, pdf.iloc[:10], dirs["in"])
    _write_pages(spark, dup, dirs["in"])  # same urls + same warc_ts again

    stream = read_page_stream(spark, dirs["in"])
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT url, count(*) c FROM dedup_out GROUP BY url HAVING c > 1")
    assert out.count() == 0


def test_stream_canonical_url_dedup(spark, dirs):
    """canonicalize_urls=True: tracking-param/case/slash variants of one
    page share a dedup key (and thus one doc_id downstream); raw mode
    keeps them distinct."""
    pdf = make_pages_pdf(n_docs=4)
    variants = pdf.iloc[:2].copy()
    # same pages re-crawled at the SAME warc_ts under messy url variants
    variants["url"] = [
        variants["url"].iloc[0] + "?utm_source=feed",
        variants["url"].iloc[1] + "/",
    ]
    _write_pages(spark, pdf.iloc[:2], dirs["in"])
    _write_pages(spark, variants, dirs["in"])

    stream = read_page_stream(spark, dirs["in"], canonicalize_urls=True)
    q = (
        stream.writeStream.format("memory")
        .queryName("canon_out")
        .option("checkpointLocation", dirs["ckpt"])
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT url FROM canon_out").collect()
    # 2 canonical pages, not 4 raw variants — and no utm/trailing-slash
    assert len(rows) == 2
    assert all("utm_" not in r["url"] and not r["url"].endswith("/") for r in rows)


def test_epoch_dedup_pairs_incremental(spark, tmp_path):
    """Two ingest epochs through epoch_dedup_pairs: epoch-1 pairs are
    the self-join of epoch 1; epoch-2 pairs touch epoch-2 docs only
    (new x new + new x corpus, never re-emitting corpus x corpus); the
    committed signature stage accumulates both epochs."""
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh_epochdedup")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # near-dup families: docs sharing long normalized text collide
    e1 = mk([
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely unrelated web page about database engines entirely"),
    ])
    p1 = {(r["doc_a"], r["doc_b"]) for r in
          epoch_dedup_pairs(spark, wh, e1).collect()}
    assert (1, 2) in p1 and all(a != b for a, b in p1)

    e2 = mk([
        (4, "the quick brown fox jumps over the lazy dog again and again"),
        (5, "fresh never-seen text with no duplicate partner anywhere here"),
    ])
    p2 = {(r["doc_a"], r["doc_b"]) for r in
          epoch_dedup_pairs(spark, wh, e2).collect()}
    # every epoch-2 pair touches a new doc; the old (1,2) pair is NOT re-emitted
    assert all(4 in p or 5 in p for p in p2)
    assert (1, 2) not in p2
    assert (1, 4) in p2 and (2, 4) in p2  # new doc linked to its corpus dups

    cat = CheckpointCatalog(wh)
    sigs = cat.read_stage(spark, "minhash_sigs")
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} == {1, 2, 3, 4, 5}
    # pairs are always verified: there is no raw-candidate mode
    with pytest.raises(ValueError, match="min_agreement"):
        epoch_dedup_pairs(spark, wh, e2, min_agreement=None)


def test_epoch_dedup_commit_is_append_only_per_epoch(spark, tmp_path):
    """ADVICE r3: committing an epoch must touch ONLY that epoch's own
    batch-id range — earlier epochs' signature partitions are never
    rewritten (O(epoch) commit, not O(corpus)) — and a re-ingested doc
    with unchanged content must not duplicate its signature row."""
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh_epochappend")
    nb = 8
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    e1 = mk([
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
    ])
    epoch_dedup_pairs(spark, wh, e1, n_batches=nb)
    cat = CheckpointCatalog(wh)
    done1 = cat.committed_batches("minhash_sigs")
    counters1 = cat.counters("minhash_sigs")
    assert done1 and max(done1) < nb  # epoch 0 range

    # epoch 2: one unchanged re-ingest (doc 1) + one new doc
    e2 = mk([
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "red orange yellow green blue indigo violet colors spectrum x"),
    ])
    epoch_dedup_pairs(spark, wh, e2, n_batches=nb)
    done2 = cat.committed_batches("minhash_sigs")
    counters2 = cat.counters("minhash_sigs")
    new_batches = done2 - done1
    # the new partitions live strictly in the next epoch's range...
    assert new_batches and all(nb <= b < 2 * nb for b in new_batches)
    # ...and every epoch-1 partition's counters are byte-identical (no
    # rewrite, no re-hash)
    assert all(counters2[b] == counters1[b] for b in done1)
    # unchanged re-ingest collapsed: doc 1 has exactly one signature row
    sigs = cat.read_stage(spark, "minhash_sigs")
    per_doc = {
        r["doc_id"]: r["n"]
        for r in sigs.groupBy("doc_id").count().withColumnRenamed("count", "n").collect()
    }
    assert per_doc == {1: 1, 2: 1, 3: 1}

    # epoch 3: a CHANGED re-ingest keeps both versions
    e3 = mk([(2, "totally rewritten page text that is nothing like before")])
    epoch_dedup_pairs(spark, wh, e3, n_batches=nb)
    sigs3 = cat.read_stage(spark, "minhash_sigs")
    assert sigs3.filter(F.col("doc_id") == 2).count() == 2


def test_epoch_dedup_verifies_against_latest_signature_only(spark, tmp_path):
    """Review fix: a doc with several committed signature versions must
    be verified against its LATEST version only — a stale version must
    not admit a pair, and multi-version joins must not duplicate
    emitted rows. The version order lives in the explicit epoch
    column."""
    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh_latestsig")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "entirely different replacement content with no overlap at all"
    # epoch 0: docs 1 and 2 share text A
    epoch_dedup_pairs(spark, wh, mk([(1, text_a), (2, text_a)]))
    # epoch 1: doc 1 rewritten to text B (both versions stay committed)
    epoch_dedup_pairs(spark, wh, mk([(1, text_b)]))
    # epoch 2: doc 9 arrives with text A — it band-collides with doc
    # 1's STALE signature and doc 2's current one
    rows = epoch_dedup_pairs(spark, wh, mk([(9, text_a)])).collect()
    pairs = [(r["doc_a"], r["doc_b"]) for r in rows]
    assert set(pairs) == {(2, 9)}  # stale (1,9) rejected
    assert len(pairs) == 1         # and no duplicate emissions


def test_epoch_dedup_handles_content_revert(spark, tmp_path):
    """Review r4 pass 3: a doc whose content REVERTS to a previously
    committed version must re-advance its epoch (anti-join is against
    the LATEST version only) so pair verification tracks the current
    content again."""
    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh_revert")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "entirely different replacement content with no overlap at all"
    epoch_dedup_pairs(spark, wh, mk([(1, text_a), (2, text_a)]))  # ep 0
    epoch_dedup_pairs(spark, wh, mk([(1, text_b)]))               # ep 1
    epoch_dedup_pairs(spark, wh, mk([(1, text_a)]))               # ep 2: revert
    # doc 9 arrives with text A: doc 1's CURRENT content is A again,
    # so BOTH (1,9) and (2,9) must verify
    rows = epoch_dedup_pairs(spark, wh, mk([(9, text_a)])).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert (1, 9) in pairs and (2, 9) in pairs
    assert len(rows) == len(pairs)  # no duplicate emissions


def test_epoch_dedup_rejects_mismatched_n_batches(spark, tmp_path):
    """n_batches is load-bearing for epoch numbering — a mismatching
    later call must fail loudly, not silently collide epochs."""
    import pytest as _pytest

    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh_nbpin")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    epoch_dedup_pairs(spark, wh, mk(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")]
    ), n_batches=8)
    with _pytest.raises(ValueError, match="n_batches"):
        epoch_dedup_pairs(spark, wh, mk([(2, "x y z")]), n_batches=64)


def test_pin_n_batches_semantics(tmp_path):
    """Pin is written before the first commit; an empty stage can
    re-pin (a crashed first run never locks it); a stage WITH data
    rejects mismatches."""
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.streaming.ingest import _pin_n_batches

    cat = CheckpointCatalog(str(tmp_path / "wh_pin"))
    assert _pin_n_batches(cat, "s", 64, has_data=False) == 64
    # empty stage: a different value re-pins instead of raising
    assert _pin_n_batches(cat, "s", 256, has_data=False) == 256
    # with data: pinned value wins, mismatch raises
    assert _pin_n_batches(cat, "s", 256, has_data=True) == 256
    with pytest.raises(ValueError, match="n_batches"):
        _pin_n_batches(cat, "s", 64, has_data=True)


def test_epoch_dedup_rejects_mixed_signature_family(spark, tmp_path):
    """The sig-family datatype is read from the committed schema: a stage
    committed with the default xxhash64 bigint signatures must reject a
    later call injecting a different-typed sig_fn (mixed families match
    nothing, silently) — while a SAME-typed custom family is accepted."""
    from pyspark.sql import functions as SF

    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh_sigfamily")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    epoch_dedup_pairs(
        spark, wh, mk([(1, "alpha beta gamma delta epsilon zeta eta theta")])
    )

    def md5_fn(docs):
        return docs.select(
            "doc_id", SF.array(SF.md5(SF.col("text").cast("binary"))).alias("sig")
        )

    with pytest.raises(ValueError, match="signature"):
        epoch_dedup_pairs(
            spark, wh, mk([(2, "one two three four five six seven")]), sig_fn=md5_fn
        )

    def bigint_fn(docs):
        return docs.select(
            "doc_id", SF.array(SF.xxhash64("text")).alias("sig")
        )

    # same datatype (array<bigint>) — accepted (the pin is a TYPE check;
    # semantic family consistency stays the caller's contract)
    epoch_dedup_pairs(
        spark, wh, mk([(3, "eight nine ten eleven twelve thirteen")]),
        sig_fn=bigint_fn,
    )
