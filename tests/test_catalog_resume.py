"""Checkpoint/resume catalog: atomic per-partition commits + lineage."""

import pytest
from pyspark.sql import functions as F

from easyner_spark.io.catalog import CheckpointCatalog


@pytest.fixture()
def docs(spark):
    return spark.range(0, 400).select(
        F.col("id").cast("string").alias("doc_id"),
        F.pmod("id", F.lit(8)).cast("int").alias("batch_id"),
        F.concat(F.lit("text-"), F.col("id")).alias("text"),
    )


def test_write_read_roundtrip_and_counters(spark, docs, tmp_path):
    cat = CheckpointCatalog(str(tmp_path / "wh"))
    snap = cat.write_stage(docs, "documents")
    assert len(snap["counters"]) == 8
    back = cat.read_stage(spark, "documents")
    assert back.count() == 400
    c = cat.counters("documents")
    assert sum(v["rows"] for v in c.values()) == 400


def test_resume_skips_committed_partitions(spark, docs, tmp_path):
    cat = CheckpointCatalog(str(tmp_path / "wh"))
    # simulate a killed job: only batches 0-3 committed
    half = docs.filter(F.col("batch_id") < 4)
    snap1 = cat.write_stage(half, "documents")
    assert sorted(int(b) for b in snap1["counters"]) == [0, 1, 2, 3]

    # resume with the FULL input: only 4-7 are computed/committed
    snap2 = cat.write_stage(docs, "documents")
    assert sorted(int(b) for b in snap2["counters"]) == [4, 5, 6, 7]

    # re-run once more: no-op
    snap3 = cat.write_stage(docs, "documents")
    assert snap3 == {}

    back = cat.read_stage(spark, "documents")
    assert back.count() == 400
    assert len(cat.history("documents")) == 2


def test_content_hash_stable_across_parallelism(spark, docs, tmp_path):
    cat1 = CheckpointCatalog(str(tmp_path / "a"))
    cat2 = CheckpointCatalog(str(tmp_path / "b"))
    cat1.write_stage(docs.repartition(2), "s")
    cat2.write_stage(docs.repartition(16), "s")
    h1 = {b: v["content_hash"] for b, v in cat1.counters("s").items()}
    h2 = {b: v["content_hash"] for b, v in cat2.counters("s").items()}
    assert h1 == h2


def test_empty_input_default_flags_stale_and_keeps_rows(spark, docs, tmp_path):
    """Without the opt-in, a fully-empty re-run input is treated as a
    caller bug: committed rows keep serving, and the returned snapshot
    carries the stale marker so the caller can tell."""
    cat = CheckpointCatalog(str(tmp_path / "wh"))
    cat.write_stage(docs, "s")
    snap = cat.write_stage(docs.filter(F.lit(False)), "s")
    assert snap == {"stale_empty_input": True}
    assert cat.read_stage(spark, "s").count() == 400


def test_allow_empty_retracts_everything(spark, docs, tmp_path):
    """A stage whose row set legitimately shrinks to zero (e.g. the
    minted-entity dimension once all surfaces resolve) retracts all
    committed batches under allow_empty=True."""
    cat = CheckpointCatalog(str(tmp_path / "wh"))
    cat.write_stage(docs, "s")
    snap = cat.write_stage(docs.filter(F.lit(False)), "s", allow_empty=True)
    assert sorted(snap["retracted"]) == list(range(8))
    assert cat.read_stage(spark, "s").count() == 0
    # idempotent: a second empty re-run is a plain no-op
    assert cat.write_stage(docs.filter(F.lit(False)), "s", allow_empty=True) == {}


def test_orphan_partitions_invisible_until_committed(spark, docs, tmp_path):
    """Snapshot isolation: partition directories written by a crashed
    job (data present, manifest missing) must not be visible to
    readers and must be recomputed (overwritten) on resume."""
    import glob
    import shutil

    cat = CheckpointCatalog(str(tmp_path / "wh"))
    cat.write_stage(docs.filter(F.col("batch_id") < 6), "s")

    # simulate a crash AFTER data write but BEFORE manifest commit for
    # batches 6-7: write their parquet dirs directly, no manifest entry
    (
        docs.filter(F.col("batch_id") >= 6)
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(str(tmp_path / "wh" / "s"))
    )
    assert glob.glob(str(tmp_path / "wh" / "s" / "batch_id=7"))  # orphan exists

    visible = cat.read_stage(spark, "s")
    assert visible.filter(F.col("batch_id") >= 6).count() == 0  # invisible
    assert visible.count() == 300  # 6 of 8 batches x 50

    # resume commits 6-7 (dynamic overwrite replaces the orphan files)
    snap = cat.write_stage(docs, "s")
    assert sorted(int(b) for b in snap["counters"]) == [6, 7]
    assert cat.read_stage(spark, "s").count() == 400


def test_read_stage_uses_stamped_schema_without_a_job(spark, docs, tmp_path):
    """read_stage builds its reader schema from the manifest stamp, so
    it runs no inference job; the schema is exactly what inference
    gives (nullability and order: batch_id, written mid-frame here,
    moves to the end as a partition column)."""
    cat = CheckpointCatalog(str(tmp_path / "wh"))
    cat.write_stage(docs, "s")
    sc = spark.sparkContext

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    back = in_group("read_stage_stamped", lambda: cat.read_stage(spark, "s"))
    inferred = in_group(
        "read_stage_inferred",
        lambda: spark.read.parquet(str(tmp_path / "wh" / "s")),
    )
    assert back.schema == inferred.schema
    assert back.columns == ["doc_id", "text", "batch_id"]

    def fold(df):
        return df.select(F.bit_xor(F.xxhash64(*df.columns))).first()[0]

    assert fold(back) == fold(inferred)
    # read after the folds so the listener has posted both reads' jobs;
    # inference is the positive control (its footer read is a job)
    assert list(sc.statusTracker().getJobIdsForGroup("read_stage_stamped")) == []
    assert list(sc.statusTracker().getJobIdsForGroup("read_stage_inferred"))


def test_read_stage_refuses_manifest_without_schema_stamp(spark, docs, tmp_path):
    """Every commit stamps the schema, so a manifest without one was not
    written by this catalog: read_stage raises, naming the stage,
    instead of guessing a schema from the data files."""
    cat = CheckpointCatalog(str(tmp_path / "wh"))
    cat.write_stage(docs, "s")
    man = cat._load_manifest("s")
    del man["schema"]
    cat._store_manifest("s", man)
    with pytest.raises(ValueError, match="stage 's'"):
        cat.read_stage(spark, "s")
    # a stage that was never committed raises the same error
    with pytest.raises(ValueError, match="stage 'missing'"):
        cat.read_stage(spark, "missing")


def test_warehouse_holds_one_data_directory_per_stage(spark, docs, tmp_path):
    """A pipeline run plus two signature epochs leave only ``<stage>/``
    data directories and ``<stage>._manifest.json`` files. A manifest
    that points the stage at another directory makes read_stage and
    write_stage raise."""
    import os

    from easyner_spark.corpus import pages_df
    from easyner_spark.pipeline import run_pipeline
    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = str(tmp_path / "wh")
    run_pipeline(spark, pages_df(spark, n_docs=30), wh, n_batches=2)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    epoch_dedup_pairs(spark, wh, mk([(1, "alpha beta gamma delta epsilon zeta")]))
    epoch_dedup_pairs(spark, wh, mk([(2, "one two three four five six seven")]))

    entries = set(os.listdir(wh))
    stages = {e for e in entries if os.path.isdir(os.path.join(wh, e))}
    assert "minhash_sigs" in stages and "documents" in stages
    assert entries == stages | {f"{s}._manifest.json" for s in stages}

    cat = CheckpointCatalog(wh)
    man = cat._load_manifest("documents")
    # a generation-directory pointer, as compacted stages once carried
    man["data_dir"] = "documents_gen1"
    cat._store_manifest("documents", man)
    with pytest.raises(ValueError, match="stage 'documents'"):
        cat.read_stage(spark, "documents")
    with pytest.raises(ValueError, match="stage 'documents'"):
        cat.write_stage(docs, "documents")
