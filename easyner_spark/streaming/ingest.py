"""Incremental ingest: a page stream into per-epoch document stages,
and the incremental near-dup pass over them.

Reference analog: the nightly PubMed update files
(scripts/pubmed_bulk.py:44-54, README.md:129-134) — new batch files
appear in a folder and are folded into the corpus with last-write-wins
dedup (scripts/util.py:12-23, downloader.py:68-79). Here
(SURVEY.md §2.9):

* ``start_ingest``: new page files land in a directory (the stand-in
  for new Iceberg snapshots), are deduplicated by url under a 10-minute
  watermark on ``warc_ts`` (``read_page_stream``; bounded state for
  late data), extracted with the SAME deterministic stage used in
  batch, and committed idempotently through ``foreachBatch`` +
  CheckpointCatalog, one ``documents_epochNNNNNN`` stage per
  micro-batch — a killed stream resumes from both the streaming
  checkpoint AND the last committed partition;
* ``read_documents_epochs``: the latest-epoch-wins batch view over
  those stages;
* ``epoch_dedup_pairs``: the per-epoch MinHash near-dup probe against
  the committed corpus signatures.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..io.catalog import CheckpointCatalog, _live
from ..stages.extract import extract_documents

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_page_stream(
    spark: SparkSession,
    input_dir: str,
    canonicalize_urls: bool = False,
) -> DataFrame:
    """File-source stream of pages with watermarked url-dedup.

    ``dropDuplicates(url, warc_ts)`` under a 10-minute watermark keeps
    dedup state bounded — late re-crawls beyond the watermark age are
    accepted as new versions (documented divergence from unbounded
    exact dedup, which cannot exist at 10^12 docs).

    ``canonicalize_urls`` (opt-in, web deployments): rewrite ``url``
    with ops/web.py:canonical_url BEFORE dedup, so tracking-param /
    casing / port / slash variants of one page share a dedup key and a
    doc_id. Off by default: the batch contract is byte-identical text
    per RAW url, and canonicalization changes doc_id = sha2(url).
    """
    raw = spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir)
    if canonicalize_urls:
        from ..ops.web import canonical_url

        raw = raw.withColumn("url", canonical_url(F.col("url")))
    return raw.withWatermark("warc_ts", "10 minutes").dropDuplicates(["url", "warc_ts"])


def _sig_batch_key(n_batches: int, range_seq: int):
    """Signature-stage partition key, RANGE-SCOPED: batch_id =
    range_seq * n_batches + hash(doc_id) % n_batches. Each commit owns
    a disjoint batch-id range, so committing an epoch touches only its
    own n_batches partitions — the corpus partitions written by earlier
    epochs are never re-hashed or rewritten (O(epoch) commit cost, not
    O(corpus); ADVICE r3). A row's batch is fixed at commit time
    forever; the commit's ``range_seq`` is also its ``epoch`` data
    column, the version that latest-per-doc selection reads."""
    return (
        F.lit(range_seq * n_batches)
        + F.pmod(F.xxhash64("doc_id"), F.lit(n_batches))
    ).cast("int")


def _pin_n_batches(cat, sig_stage: str, n_batches: int, has_data: bool) -> int:
    """Resolve, validate and pin the stage's n_batches.

    batch_range = max(batch)//n_batches is the version counter's input
    — a silent mismatch would collide epoch numbers and corrupt
    latest-version selection, so the value is pinned in the catalog's
    per-stage config sidecar (a separate file, because the pin must be
    on disk before the first commit and only ``write_stage`` writes
    the manifest) and a later call with a different value fails
    loudly.

    The pin is written BEFORE the first commit (committed data without
    a pin would mean silently trusting the next caller); a mismatching
    call against a stage with NO committed data simply re-pins — a
    crashed first run never locks an empty stage."""
    stored = cat.load_config(sig_stage).get("n_batches")
    if stored is None or int(stored) != n_batches:
        if stored is not None and has_data:
            raise ValueError(
                f"stage '{sig_stage}' was built with n_batches={stored}; "
                f"called with n_batches={n_batches} — epoch numbering "
                "would corrupt. Pass the original value."
            )
        # unpinned, or an empty stage: nothing at risk, (re-)pin
        cat.store_config(sig_stage, {"n_batches": n_batches})
    return n_batches


def _latest_per_doc(versioned: DataFrame, ids: DataFrame) -> DataFrame:
    """ONE signature row per doc_id — the row with the highest epoch —
    restricted to the given doc ids (semi-join first, so the window
    input is O(ids × versions), never O(corpus)). The sig tiebreak is
    defensive determinism only; committed epoch values never collide.
    Single definition: the commit anti-join and pair verification MUST
    agree on which version is 'latest'."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("epoch"), F.desc("sig"))
    return (
        versioned.join(ids, "doc_id", "left_semi")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "sig")
    )


def epoch_dedup_pairs(
    spark: SparkSession,
    warehouse: str,
    epoch_docs: DataFrame,
    max_bucket: int = 256,
    sig_stage: str = "minhash_sigs",
    n_batches: int = 64,
    min_agreement: float = 0.9,
    sig_fn=None,
    num_bands: int = 4,
) -> DataFrame:
    """Incremental near-dup pass for one ingest epoch: signature the
    NEW documents, probe the committed corpus signature stage, commit
    the new signatures, and return the VERIFIED near-dup pairs touching
    the epoch (new x new + new x corpus — corpus x corpus was emitted
    by earlier epochs; stages/canonical.py:incremental_lsh_candidates).

    ``min_agreement``: LSH emits band-collision CANDIDATES; each pair is
    verified with the MinHash-agreement estimate against its docs'
    LATEST signatures before it is returned — same-vocabulary pages
    otherwise chain into mega-components when the caller clusters the
    pairs (the exact over-merge pipeline.py's dedup stage guards
    against).

    ``sig_fn``: optional override for the signature stage — a callable
    ``epoch_docs -> (doc_id, sig)`` replacing the default
    ``minhash_signatures`` (xxhash64 family). The oracle-gated contract
    query (queries.py: ``dedup_epoch_incremental``) injects a
    cross-engine md5-based family here so the SAME incremental join
    shape below is checked bit-for-bit against a DuckDB
    full-join-then-filter oracle; production keeps the default (xxhash64
    is JVM-codegen'd and cheaper than md5). All downstream machinery
    (banding, salting, latest-version selection, commit anti-join) is
    family-agnostic. ``num_bands`` is pinned here rather than inherited
    from canonical.py's default so the oracle contract and the engine
    cannot drift apart through a default edit in a different module.

    This is the join shape that keeps web-scale dedup sustainable: each
    epoch costs O(epoch x bucket overlap), not corpus^2 — and the
    COMMIT matches: batch ids are epoch-scoped (disjoint per-epoch
    ranges via _sig_batch_key), so each epoch appends exactly its own
    n_batches partitions under skip_committed and the earlier epochs'
    partitions are never re-read, re-hashed or rewritten. An epoch's
    number is its batch range, ``max(committed) // n_batches + 1`` (0
    on an empty stage), written to every row as the ``epoch`` data
    column. So the committed-batch set (and with it the manifest and
    every reader's batch filter) grows by ``n_batches`` per epoch, and
    nothing compacts it: a compaction returns once a caller schedules
    one.
    Re-ingested doc_ids are handled
    explicitly: a re-ingest matching the doc's LATEST committed version
    collapses (anti-join against the latest signature only), while any
    content change — including a REVERT to an older committed text —
    commits a new row at the new epoch, so latest-version selection
    always tracks current content. Consequence: after a revert the
    stage can hold the same (doc_id, sig) at two epochs — (doc_id, sig)
    is NOT unique; (doc_id, epoch) is. Pair verification compares each
    candidate against its docs' latest signatures. Callers feed the
    returned pairs into connected components against previously-emitted
    pairs to maintain clusters.

    The returned frame is materialized (localCheckpoint) BEFORE the new
    signatures are committed, so the probe sees the pre-epoch corpus —
    calling this twice for one epoch would otherwise self-pair against
    the first call's commit. (Crash safety: the manifest swap is the
    atomic commit point, so a crash mid-commit leaves the epoch
    entirely uncommitted and a re-run replays it under a fresh epoch
    range against the same pre-epoch corpus.)
    """
    from ..stages.canonical import (
        incremental_lsh_candidates,
        lsh_candidate_pairs,
        minhash_signatures,
        signature_similarity_filter,
    )

    if min_agreement is None:
        raise ValueError("min_agreement must be a number: pairs are always verified")
    cat = CheckpointCatalog(warehouse)
    done = cat.committed_batches(sig_stage)
    # n_batches is load-bearing for the version counter (epoch ==
    # batch range): resolve/validate/pin against the sidecar config
    n_batches = _pin_n_batches(cat, sig_stage, n_batches, has_data=bool(done))
    # the epoch's batch-id range, derived from the committed batches
    # (append-only invariant); it is also the epoch number
    epoch_seq = (max(done) // n_batches + 1) if done else 0
    corpus_full = cat.read_stage(spark, sig_stage) if done else None
    # materialized once: the epoch's shingle/minhash aggregate feeds the
    # pair probe, the similarity filter AND the signature-stage commit
    # — without this it recomputes per consumer
    sig_src = (
        sig_fn(epoch_docs)
        if sig_fn is not None
        else minhash_signatures(epoch_docs, id_col="doc_id", name_col="text")
    )
    # signature-FAMILY guard: committing one epoch with xxhash64
    # bigints and the next with an injected md5-string family would
    # silently match nothing (and corrupt the union schema). The
    # committed stage's own sig column type is the truth — no sidecar
    # key needed; same-typed families remain the caller's contract.
    sig_type = sig_src.schema["sig"].dataType.simpleString()
    if done:
        committed_type = corpus_full.schema["sig"].dataType.simpleString()
        if committed_type != sig_type:
            raise ValueError(
                f"stage '{sig_stage}' holds signatures of type "
                f"{committed_type}; this call produces {sig_type} — "
                "mixed signature families cannot match. Pass the "
                "original sig_fn (or start a fresh stage)."
            )
    new_sigs = (
        sig_src
        .select(
            "doc_id",
            "sig",
            F.lit(epoch_seq).cast("bigint").alias("epoch"),
            _sig_batch_key(n_batches, epoch_seq).alias("batch_id"),
        )
        .localCheckpoint()
    )
    if done:
        corpus = corpus_full.select("doc_id", "sig")
        pairs = incremental_lsh_candidates(
            new_sigs,
            corpus,
            id_col="doc_id",
            num_bands=num_bands,
            max_bucket=max_bucket,
        )
        # verify against ONE signature per doc_id — its LATEST version
        # (changed-content re-ingests keep every version in the stage,
        # so a doc_id can own several sig rows; joining the
        # multi-version table would both duplicate emitted pairs and
        # let a STALE version pass verification). The window input is
        # first semi-joined down to the docs that actually appear in
        # candidate pairs — O(candidates), not an O(corpus)
        # shuffle-sort per epoch.
        pairs = pairs.localCheckpoint()  # feeds members + the filter
        members = (
            pairs.select(F.col("src").alias("doc_id"))
            .unionByName(pairs.select(F.col("dst").alias("doc_id")))
            .distinct()
        )
        latest = _latest_per_doc(
            corpus_full.select("doc_id", "sig", "epoch").unionByName(
                new_sigs.select("doc_id", "sig", "epoch")
            ),
            members,
        )
        pairs = signature_similarity_filter(
            pairs, latest, id_col="doc_id", min_agreement=min_agreement
        ).select("src", "dst").localCheckpoint()
        # append ONLY this epoch's genuinely-new signatures. The
        # anti-join is against each re-ingested doc's LATEST committed
        # version, not all versions: a doc whose content REVERTS to an
        # older committed text must re-commit (advancing its epoch so
        # verification tracks the current content again), while an
        # unchanged re-ingest still collapses. The window input is
        # semi-joined down to this epoch's doc ids — O(epoch), not
        # O(corpus). The write touches only the epoch's own batch range
        # (skip_committed — earlier partitions are immutable).
        latest_committed = _latest_per_doc(
            corpus_full.select("doc_id", "sig", "epoch"),
            new_sigs.select("doc_id").distinct(),
        )
        fresh = new_sigs.join(latest_committed, ["doc_id", "sig"], "left_anti")
        cat.write_stage(fresh, sig_stage, resume_mode="skip_committed")
    else:
        pairs = lsh_candidate_pairs(
            new_sigs, id_col="doc_id", num_bands=num_bands, max_bucket=max_bucket
        )
        pairs = signature_similarity_filter(
            pairs, new_sigs, id_col="doc_id", min_agreement=min_agreement
        ).select("src", "dst").localCheckpoint()
        cat.write_stage(new_sigs, sig_stage, resume_mode="skip_committed")
    return pairs.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    warehouse: str,
    checkpoint_dir: str,
    n_batches: int = 64,
    canonicalize_urls: bool = False,
):
    """Continuous pages→documents ingest; exactly-once via foreachBatch
    into the partition-idempotent catalog. Returns the StreamingQuery
    (caller drives trigger/stop; tests use processAllAvailable())."""
    cat = CheckpointCatalog(warehouse)
    pages = read_page_stream(spark, input_dir, canonicalize_urls=canonicalize_urls)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # the stream dedups on (url, warc_ts) — a re-crawled url with a
        # NEW timestamp still reaches the sink twice, which would put
        # duplicate doc_id = sha2(url) rows in one epoch stage (the
        # exact corruption extract.py's docstring warns about). Reuse
        # the BATCH path's dedup: it filters lang first (a late
        # non-English crawl can't shadow an English one) and picks the
        # winner by a TOTAL key, so epoch replays commit identical bytes.
        docs = extract_documents(batch_df, n_batches=n_batches)
        # append-style commit: allow new rows for already-seen batches by
        # keying the stage per epoch (each epoch is an atomic snapshot)
        cat.write_stage(docs, f"documents_epoch{epoch_id:06d}")

    return (
        pages.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_documents_epochs(spark: SparkSession, warehouse: str) -> DataFrame:
    """Latest-epoch-wins batch view over the ``documents_epoch*`` stages.

    Each streaming epoch is an independent atomic snapshot, so a url
    re-crawled across epochs appears once PER epoch. Consumers must not
    union the epochs raw (doc_id double-count); this reader unions only
    committed partitions and keeps, per doc_id, the row from the
    highest epoch — and within it the latest warc_ts (deterministic
    total order). One window shuffle on doc_id, same key as the
    downstream stages.
    """
    cat = CheckpointCatalog(warehouse)
    # \d{6,}: epoch ids grow past the 06d zero-padding at 1e6 epochs —
    # a fixed-width match would truncate them onto other epochs' names
    names = sorted(
        {
            m.group(0)
            for f in os.listdir(warehouse)
            if (m := re.match(r"documents_epoch(\d{6,})$", f))
            or (m := re.match(r"documents_epoch(\d{6,})(?=\._manifest\.json$)", f))
        }
    )
    # ONE multi-path parquet read (a linear unionByName chain would grow
    # driver plan size/analysis time O(n_epochs)). Only COMMITTED
    # batch-partition leaf dirs are listed — snapshot isolation happens
    # at file-listing time (an orphan dir from a crashed write is never
    # read), strictly stronger than read_stage's post-filter. Epoch and
    # batch_id ride in on the file path (leaf-dir reads skip partition
    # discovery, which cannot mix non-key=value epoch roots).
    # One manifest load per stage gives its committed batches. A stage
    # with no committed batch (a crash between the parquet write and
    # the manifest swap) contributes no path: reading it would serve
    # uncommitted rows AND (being the highest epoch) shadow committed
    # older crawls under latest-epoch-wins.
    paths = []
    for n in names:
        paths.extend(
            os.path.join(cat._stage_dir(n), f"batch_id={b}")
            for b in sorted(_live(cat._load_manifest(n)))
        )
    if not paths:
        raise ValueError(f"no documents_epoch* stages committed in {warehouse}")
    allrows = (
        spark.read.parquet(*paths)
        .withColumn(
            "_epoch",
            F.regexp_extract(
                F.input_file_name(), r"documents_epoch(\d+)/", 1
            ).cast("long"),
        )
        .withColumn(
            "batch_id",
            F.regexp_extract(F.input_file_name(), r"/batch_id=(\d+)/", 1).cast(
                "int"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("_epoch"), F.desc("warc_ts"))
    return (
        allrows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_epoch")
    )
