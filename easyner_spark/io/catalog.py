"""Iceberg-style checkpointing catalog (partitioned parquet + atomic
per-partition commit manifests).

Reference analog: EasyNER's unit of checkpointing is the batch FILE —
a re-run skips/overwrites whole files and `append_to_json_file` merges
idempotently (scripts/util.py:12-23, SURVEY.md §2.1 S7). The target
contract requires: every stage checkpoints so a killed job resumes
from the last committed partition, with per-partition lineage and
counter metrics.

Real Apache Iceberg needs its runtime jar on the classpath, which
this build does not ship (``CheckpointCatalog`` says how to swap it
in); this class reproduces the two Iceberg properties the pipeline
relies on with plain parquet:

* ATOMIC per-partition commits: data for each ``batch_id`` partition
  is written via dynamic partition overwrite, then the manifest is
  swapped with os.replace (atomic on POSIX) — a crash between the two
  leaves re-doable partitions, never half-visible ones;
* SNAPSHOT lineage: each commit appends a snapshot entry recording the
  batches committed and their counter metrics (row count + order-
  insensitive content hash), so `history()` is an audit log and
  `counters()` is the per-partition metrics table (A6 analog,
  scripts/pubmed_bulk.py:59-87).

Resume semantics: ``write_stage`` counts the incoming frame once and
rewrites only the batches whose counters differ from the committed
ones (the default ``verify_counts``), so a re-run over unchanged input
commits nothing and a re-run over changed input rewrites only the
changed batches. ``skip_committed`` is the cheap opt-in for immutable
inputs: committed batches are filtered out before anything is computed
(a partition-pruned anti-filter on batch_id that Catalyst pushes into
the source scan).

On-disk format: a stage's data lives in ``<root>/<stage>/`` and every
committed manifest carries the stage's schema stamp and per-batch
counters ``{rows, content_hash, content_sum}``. A manifest without a
schema stamp, or pointing the stage's data at another directory, was
not written by this catalog: ``read_stage`` refuses the first, and
every manifest load refuses the second.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType


def _read_schema(stamped: StructType, batches: set[int]) -> StructType:
    """The schema a parquet read of the stage dir would infer, built
    from the manifest's stamp so the read skips its inference job:
    data columns in written order, then the ``batch_id`` partition
    column typed as partition inference types it (int unless a batch id
    overflows it). Nullability is left to the reader, which marks every
    file-source column nullable either way."""
    wide = any(not -(2**31) <= b < 2**31 for b in batches)
    return StructType(
        [f for f in stamped.fields if f.name != "batch_id"]
        + [StructField("batch_id", LongType() if wide else IntegerType())]
    )


def _content_counters(df: DataFrame, partition_col: str) -> dict[int, dict]:
    """Per-partition integrity counters: row count + TWO independent
    order-insensitive folds of xxhash64(*) (bit_xor alone cancels even
    multisets: {A,A}→{B,B} keeps count AND xor). This is the catalog's
    integrity core — every site (commit verify, commit record) must
    fold identically or resume comparisons break, so it exists exactly
    once."""
    return {
        int(r[partition_col]): {
            "rows": r["rows"],
            "content_hash": r["content_hash"],
            "content_sum": str(r["content_sum"]),
        }
        for r in df.groupBy(partition_col)
        .agg(
            F.count("*").alias("rows"),
            F.expr("bit_xor(xxhash64(*))").alias("content_hash"),
            F.expr("sum(cast(xxhash64(*) as decimal(38,0)))").alias(
                "content_sum"
            ),
        )
        .collect()
    }


def _last_counters(man: dict) -> dict[int, dict]:
    """The newest counters entry per batch across the manifest's
    snapshots, tombstones included."""
    out: dict[int, dict] = {}
    for snap in man["snapshots"]:
        for b, c in snap["counters"].items():
            out[int(b)] = c
    return out


def _live(man: dict) -> dict[int, dict]:
    """Counters of the committed batches: the newest entry per batch,
    retracted batches dropped."""
    return {b: c for b, c in _last_counters(man).items() if not c.get("retracted")}


class CheckpointCatalog:
    """Stage tables under ``root``: ``<root>/<stage>/`` partitioned by
    ``batch_id`` (the column ``read_stage`` filters), beside its
    ``<stage>._manifest.json``.

    On a cluster with the Iceberg runtime, pass
    ``spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-...``
    and swap this class for the Iceberg catalog."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        """Data directory of a stage: always ``<root>/<stage>``."""
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._manifest.json")

    def _load_manifest(self, stage: str) -> dict:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return {"stage": stage, "snapshots": []}
        with open(p) as f:
            man = json.load(f)
        if "data_dir" in man:
            # the data lives elsewhere (a compacted generation): serving
            # <root>/<stage> would read stale or missing rows
            raise ValueError(
                f"stage '{stage}' has a manifest pointing at data_dir "
                f"'{man['data_dir']}'; this catalog reads only "
                f"{self._stage_dir(stage)}"
            )
        return man

    def _store_manifest(self, stage: str, manifest: dict) -> None:
        p = self._manifest_path(stage)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)  # atomic snapshot swap

    # ------------------------------------------------------------------
    def committed_batches(self, stage: str) -> set[int]:
        return set(_live(self._load_manifest(stage)))

    def _retract_batches(self, stage: str, batches: list[int]) -> None:
        """Physically drop vanished partitions + tombstone them in a new
        snapshot. Idempotent under crashes: dirs are removed before the
        manifest swap, and a re-run re-derives the same vanished set
        from the still-positive committed counters."""
        import shutil

        stage_dir = self._stage_dir(stage)
        for b in batches:
            shutil.rmtree(os.path.join(stage_dir, f"batch_id={b}"), ignore_errors=True)
        man = self._load_manifest(stage)
        man["snapshots"].append(
            {
                "snapshot_id": len(man["snapshots"]),
                "ts": time.time(),
                "counters": {
                    str(b): {"rows": 0, "retracted": True} for b in batches
                },
            }
        )
        self._store_manifest(stage, man)

    def write_stage(
        self,
        df: DataFrame,
        stage: str,
        resume_mode: str = "verify_counts",
        allow_empty: bool = False,
    ) -> dict:
        """Commit the batches of ``df`` that differ from the committed
        ones; returns the snapshot entry ({} if nothing changed).

        One path for every commit: persist the incoming frame, count it
        once (``_content_counters``: row count + two order-insensitive
        content folds per batch), and rewrite by dynamic partition
        overwrite exactly the batches whose counters differ from the
        live committed ones. A fresh stage is the case with nothing
        committed, so every batch differs.

        Resume modes — "partition committed" is not "partition
        complete" when the INPUT can grow (batch_id is a hash of the
        key, so new rows land in already-committed batches):

        * ``verify_counts`` (default): the committed counters are the
          comparison set. An in-place row change with an unchanged
          count (e.g. latest-crawl-wins replacing a page's text) is
          re-committed, not silently kept stale; re-running an
          unchanged stage commits nothing. Committed batches absent
          from a non-empty incoming frame (the input shrank) are
          retracted: their partition dirs are deleted and tombstoned,
          and the return dict lists them under ``"retracted"``.
        * ``skip_committed``: the cheap immutable-input path — committed
          batches are filtered out before the frame is computed (the
          reference's skip-existing-file semantics), and the rest are
          committed as new. Nothing is verified or retracted.

        ``allow_empty`` (``verify_counts`` only): by default a
        fully-empty incoming frame over a committed stage is treated as
        a caller bug and ignored — the stage keeps serving its
        committed rows and the return dict is
        ``{"stale_empty_input": True}``. For stages whose row set can
        legitimately shrink to zero on re-run (e.g. a minted-entity
        dimension once every surface resolves), pass
        ``allow_empty=True``: an empty frame then retracts every
        committed batch, and ``read_stage`` serves zero rows.
        """
        live = _live(self._load_manifest(stage))
        if resume_mode == "skip_committed":
            if live:
                # partition-pruned resume filter (pushed into the scan)
                df = df.filter(~F.col("batch_id").isin(*sorted(live)))
            live = {}
        # counted once, then written from the cache. xxhash64(*) hashes
        # NULLs distinctly per column (no concat_ws null-blindness);
        # keeping BOTH a bit_xor and a decimal sum of the row hashes
        # means a silent divergence needs an engineered collision in two
        # independent folds.
        df = df.persist()
        incoming = _content_counters(df, "batch_id")
        changed = sorted(b for b, c in incoming.items() if c != live.get(b))
        # retract committed batches absent from the incoming frame (input
        # shrank), else read_stage serves deleted rows forever. A
        # fully-empty incoming frame only wipes the stage under the
        # explicit allow_empty opt-in.
        vanished = sorted(set(live) - set(incoming)) if incoming or allow_empty else []
        if vanished:
            self._retract_batches(stage, vanished)
        if not changed:
            df.unpersist()
            if live and not incoming and not allow_empty:
                return {"stale_empty_input": True}
            return {"retracted": vanished} if vanished else {}

        (
            df.filter(F.col("batch_id").isin(*changed))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self._stage_dir(stage))
        )
        df.unpersist()

        man = self._load_manifest(stage)
        snap = {
            "snapshot_id": len(man["snapshots"]),
            "ts": time.time(),
            "counters": {str(b): incoming[b] for b in changed},
        }
        man["snapshots"].append(snap)
        # read_stage reads with this stamp (no inference job) and serves
        # a typed EMPTY frame from it after a full retraction
        man["schema"] = df.schema.json()
        self._store_manifest(stage, man)
        return snap

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        man = self._load_manifest(stage)
        if "schema" not in man:
            raise ValueError(
                f"stage '{stage}' has no committed manifest with a schema "
                f"stamp in {self.root}"
            )
        schema = StructType.fromJson(json.loads(man["schema"]))
        done = sorted(_live(man))
        if not done:
            return spark.createDataFrame([], schema)
        df = spark.read.schema(_read_schema(schema, done)).parquet(
            self._stage_dir(stage)
        )
        # only committed partitions are visible (a crashed write's orphan
        # partition directories are filtered out = snapshot isolation)
        return df.filter(F.col("batch_id").isin(*done))

    # ------------------------------------------------------------------
    def _config_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._config.json")

    def load_config(self, stage: str) -> dict:
        """Writer-owned per-stage config sidecar (e.g. the epoch
        service's pinned n_batches). Deliberately SEPARATE from the
        manifest: a writer must pin its config before the stage's
        first commit, and only ``write_stage`` writes the manifest."""
        p = self._config_path(stage)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def store_config(self, stage: str, cfg: dict) -> None:
        """Merge-write: keys not in ``cfg`` survive — a writer pinning
        one key (e.g. n_batches) must not clobber keys another writer
        added to the same sidecar (ADVICE r4)."""
        merged = {**self.load_config(stage), **cfg}
        tmp = self._config_path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(merged, f)
        os.replace(tmp, self._config_path(stage))

    def counters(self, stage: str) -> dict[int, dict]:
        return _last_counters(self._load_manifest(stage))

    def history(self, stage: str) -> list[dict]:
        return self._load_manifest(stage)["snapshots"]
