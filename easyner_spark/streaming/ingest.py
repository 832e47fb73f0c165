"""Incremental ingest: a page stream into an epoch-versioned documents
stage, and the incremental near-dup pass over epochs of documents.

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
  CheckpointCatalog into the one ``documents_epochs`` stage — a killed
  stream resumes from both the streaming checkpoint AND the last
  committed partition;
* ``read_documents_epochs``: the latest-epoch-wins batch view over
  that stage;
* ``epoch_dedup_pairs``: the per-epoch MinHash near-dup probe against
  the committed corpus signatures.

Both streaming stages version by one rule: epoch ``e`` owns the batch
ids ``[e * EPOCH_WIDTH, (e + 1) * EPOCH_WIDTH)`` (``_epoch_batch``), so
an epoch's commit appends its own partitions under ``skip_committed``
and never touches an earlier epoch's.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..corpus import PAGES_SCHEMA
from ..io.catalog import CheckpointCatalog
from ..stages.extract import extract_documents


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


# the committed corpus signature stage epoch_dedup_pairs probes and appends to
SIG_STAGE = "minhash_sigs"
# the stage start_ingest commits every micro-batch into
DOCS_STAGE = "documents_epochs"
# batch ids per epoch: epoch e owns [e * EPOCH_WIDTH, (e + 1) * EPOCH_WIDTH)
EPOCH_WIDTH = 4096


def _epoch_batch(epoch: int, b: Column, n_batches: int) -> Column:
    """Epoch-scoped partition key: the BIGINT ``epoch * EPOCH_WIDTH + b``
    for a batch ``b`` in ``[0, n_batches)``. Each epoch owns a disjoint
    batch-id range of one fixed width, so committing an epoch touches
    only its own partitions — earlier epochs are never re-hashed or
    rewritten (O(epoch) commit cost, not O(corpus)) — and
    ``batch_id // EPOCH_WIDTH`` is the epoch whatever ``n_batches`` each
    call used. BIGINT, so a long-running stream cannot overflow INT."""
    if not 1 <= n_batches <= EPOCH_WIDTH:
        raise ValueError(
            f"n_batches={n_batches} must be in [1, {EPOCH_WIDTH}]: an epoch "
            f"owns {EPOCH_WIDTH} batch ids"
        )
    return F.lit(epoch * EPOCH_WIDTH).cast("bigint") + b


def _refuse_old_layout(warehouse: str) -> None:
    """Raise if the warehouse holds epochs in the layout written before
    fixed-width epochs: a ``minhash_sigs._config.json`` pin means
    signature ranges ``n_batches`` wide, whose epoch numbers the
    fixed-width rule would silently collide with, and a
    ``documents_epoch<digits>._manifest.json`` is a per-epoch documents
    stage that ``read_documents_epochs`` would silently drop."""
    root = glob.escape(warehouse)
    old = sorted(
        glob.glob(os.path.join(root, f"{SIG_STAGE}._config.json"))
        + glob.glob(os.path.join(root, "documents_epoch[0-9]*._manifest.json"))
    )
    if old:
        raise ValueError(
            f"{old[0]} holds epochs in the n_batches-wide or stage-per-epoch "
            "layout, which fixed-width epochs cannot read; rebuild the warehouse"
        )


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
    n_batches: int = 64,
    min_agreement: float = 0.9,
    sig_fn=None,
    num_bands: int = 4,
) -> DataFrame:
    """Incremental near-dup pass for one ingest epoch: signature the
    NEW documents, probe the committed corpus signature stage
    (``SIG_STAGE``; the first epoch probes an empty one), commit the
    new signatures, and return the VERIFIED near-dup pairs touching
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
    COMMIT matches: batch ids are epoch-scoped (``_epoch_batch``), so
    each epoch appends at most its own ``n_batches`` partitions under
    skip_committed and the earlier epochs' partitions are never
    re-read, re-hashed or rewritten. An epoch's number is its batch
    range, ``max(committed) // EPOCH_WIDTH + 1`` (0 on an empty stage),
    written to every row as the ``epoch`` data column; ``n_batches``
    may differ between calls. So the committed-batch set (and with it
    the manifest and every reader's batch filter) grows by up to
    ``n_batches`` per epoch, and nothing compacts it: a compaction
    returns once a caller schedules one.
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
        minhash_signatures,
        signature_similarity_filter,
    )

    if min_agreement is None:
        raise ValueError("min_agreement must be a number: pairs are always verified")
    _refuse_old_layout(warehouse)
    cat = CheckpointCatalog(warehouse)
    done = cat.committed_batches(SIG_STAGE)
    # the epoch's batch-id range, derived from the committed batches
    # (append-only invariant); it is also the epoch number
    epoch_seq = (max(done) // EPOCH_WIDTH + 1) if done else 0
    # materialized once: the epoch's shingle/minhash aggregate feeds the
    # pair probe, the similarity filter AND the signature-stage commit
    # — without this it recomputes per consumer
    sig_src = (
        sig_fn(epoch_docs)
        if sig_fn is not None
        else minhash_signatures(epoch_docs, id_col="doc_id", name_col="text")
    )
    new_sigs = (
        sig_src
        .select(
            "doc_id",
            "sig",
            F.lit(epoch_seq).cast("bigint").alias("epoch"),
            _epoch_batch(
                epoch_seq, F.pmod(F.xxhash64("doc_id"), F.lit(n_batches)), n_batches
            ).alias("batch_id"),
        )
        .localCheckpoint()
    )
    # the first epoch probes an empty corpus: one path serves every epoch
    corpus_full = cat.read_stage(spark, SIG_STAGE) if done else new_sigs.limit(0)
    # signature-FAMILY guard: committing one epoch with xxhash64
    # bigints and the next with an injected md5-string family would
    # silently match nothing (and corrupt the union schema). The
    # committed stage's own sig column type is the truth — no sidecar
    # key needed; same-typed families remain the caller's contract.
    committed_type = corpus_full.schema["sig"].dataType.simpleString()
    sig_type = new_sigs.schema["sig"].dataType.simpleString()
    if committed_type != sig_type:
        raise ValueError(
            f"stage '{SIG_STAGE}' holds signatures of type "
            f"{committed_type}; this call produces {sig_type} — "
            "mixed signature families cannot match. Pass the "
            "original sig_fn (or start a fresh stage)."
        )
    pairs = incremental_lsh_candidates(
        new_sigs,
        corpus_full.select("doc_id", "sig"),
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
    cat.write_stage(fresh, SIG_STAGE, resume_mode="skip_committed")
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
    (caller drives trigger/stop; tests use processAllAvailable()).

    Micro-batch ``epoch_id`` commits into ``DOCS_STAGE`` under the
    batch ids ``_epoch_batch(epoch_id, batch)`` with ``skip_committed``:
    a replayed epoch finds its range committed and commits nothing
    (an ``n_batches`` above ``EPOCH_WIDTH`` fails the first
    micro-batch before it commits). That relies on the streaming checkpoint numbering epochs, so a
    warehouse with committed documents needs its ``checkpoint_dir``
    (a local path, like the warehouse): a fresh checkpoint would
    restart ``epoch_id`` at 0 and silently drop the new pages."""
    _refuse_old_layout(warehouse)
    cat = CheckpointCatalog(warehouse)
    if cat.committed_batches(DOCS_STAGE) and not os.path.exists(checkpoint_dir):
        raise ValueError(
            f"stage '{DOCS_STAGE}' in {warehouse} has committed epochs but the "
            f"checkpoint {checkpoint_dir} does not exist: a fresh checkpoint "
            "restarts epoch ids at 0 and its epochs would commit nothing"
        )
    pages = read_page_stream(spark, input_dir, canonicalize_urls=canonicalize_urls)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # the stream dedups on (url, warc_ts) — a re-crawled url with a
        # NEW timestamp still reaches the sink twice, which would put
        # duplicate doc_id = sha2(url) rows in one epoch (the exact
        # corruption extract.py's docstring warns about). Reuse the
        # BATCH path's dedup: it filters lang first (a late non-English
        # crawl can't shadow an English one) and picks the winner by a
        # TOTAL key, so a doc_id occurs once per epoch.
        docs = extract_documents(batch_df, n_batches=n_batches)
        docs = docs.withColumn(
            "batch_id", _epoch_batch(epoch_id, F.col("batch_id"), n_batches)
        )
        cat.write_stage(docs, DOCS_STAGE, resume_mode="skip_committed")

    return (
        pages.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def read_documents_epochs(spark: SparkSession, warehouse: str) -> DataFrame:
    """Latest-epoch-wins batch view over ``DOCS_STAGE``.

    A url re-crawled across epochs has one row PER epoch. Consumers
    must not read the stage raw (doc_id double-count); this reader
    keeps, per doc_id, the row with the highest batch id — the latest
    epoch, since a doc_id occurs once within an epoch and every epoch's
    range lies above the earlier ones — and returns its within-epoch
    ``batch_id`` (``batch_id % EPOCH_WIDTH``, as ``extract_documents``
    assigned it). One window shuffle on doc_id, same key as the
    downstream stages.
    """
    _refuse_old_layout(warehouse)
    docs = CheckpointCatalog(warehouse).read_stage(spark, DOCS_STAGE)
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("batch_id", (F.col("batch_id") % EPOCH_WIDTH).cast("int"))
    )
