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

Resume semantics: ``write_stage`` computes only the NOT-yet-committed
partitions (partition-pruned anti-filter on batch_id, which Catalyst
pushes into the source scan) — re-running a finished stage is a no-op.
"""

from __future__ import annotations

import json
import os
import re as _re
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
    integrity core — every site (commit verify, commit record,
    compaction) must fold identically or resume comparisons break, so
    it exists exactly once."""
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


class CheckpointCatalog:
    """Stage tables under ``root``, each partitioned by ``batch_id``
    (the column ``read_stage`` filters and ``compact_stage`` rewrites).

    On a cluster with the Iceberg runtime, pass
    ``spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-...``
    and swap this class for the Iceberg catalog."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        """CURRENT data directory of a stage. Normally ``<root>/<stage>``;
        after a compaction the manifest's ``data_dir`` pointer names a
        generation directory (``<stage>.gen1``, ...) — the
        metadata-pointer indirection that makes compaction commit
        atomically at the manifest swap (Iceberg's design)."""
        man = self._load_manifest(stage)
        return os.path.join(self.root, man.get("data_dir", stage))

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._manifest.json")

    def _load_manifest(self, stage: str) -> dict:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return {"stage": stage, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _store_manifest(self, stage: str, manifest: dict) -> None:
        p = self._manifest_path(stage)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, p)  # atomic snapshot swap

    # ------------------------------------------------------------------
    def committed_batches(self, stage: str) -> set[int]:
        man = self._load_manifest(stage)
        out: set[int] = set()
        for snap in man["snapshots"]:
            for b, c in snap["counters"].items():
                if c.get("retracted"):
                    out.discard(int(b))
                else:
                    out.add(int(b))
        return out

    def _retract_batches(self, stage: str, batches: list[int]) -> None:
        """Physically drop vanished partitions + tombstone them in a new
        snapshot. Idempotent under crashes: dirs are removed before the
        manifest swap, and a re-run re-derives the same vanished set
        from the still-positive committed counters."""
        import shutil

        for b in batches:
            shutil.rmtree(
                os.path.join(self._stage_dir(stage), f"batch_id={b}"),
                ignore_errors=True,
            )
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
        """Commit all pending partitions of ``df``; returns the snapshot
        entry ({} if everything was already committed).

        ``allow_empty``: by default a fully-empty incoming frame is
        treated as a caller bug and ignored (the stage keeps serving
        its committed rows; the return dict carries
        ``{"stale_empty_input": True}`` so the caller can tell). For
        stages whose row set can legitimately shrink to zero on re-run
        (e.g. a minted-entity dimension once every surface resolves),
        pass ``allow_empty=True`` — an empty frame then retracts every
        committed batch, and ``read_stage`` serves zero rows.

        Resume modes — "partition committed" is not "partition
        complete" when the INPUT can grow (batch_id is a hash of the
        key, so new rows land in already-committed batches):

        * ``verify_counts`` (default): one counting pass over the
          incoming frame computing row count AND the order-insensitive
          content hash; a batch is pending iff either differs from the
          committed counters (changed batches are re-committed via
          dynamic partition overwrite) — an in-place row change with an
          unchanged count (e.g. latest-crawl-wins replacing a page's
          text) is therefore re-committed, not silently kept stale.
          Re-running an unchanged stage is still a no-op.
        * ``skip_committed``: the cheap immutable-input path — skip any
          batch ever committed without looking at the data (exactly the
          reference's skip-existing-file semantics).
        """
        done = self.committed_batches(stage)
        # stamp the frame schema for any stage that has a manifest:
        # read_stage needs it to serve a typed EMPTY frame after a full
        # retraction, including manifests written before schema stamping
        # existed and runs that retract without writing new data
        if done:
            man = self._load_manifest(stage)
            if "schema" not in man:
                man["schema"] = df.schema.json()
                self._store_manifest(stage, man)
        pending = df
        if done and resume_mode == "skip_committed":
            # partition-pruned resume filter (pushed into the scan)
            pending = df.filter(~F.col("batch_id").isin(*sorted(done)))
        elif done:
            committed = self.counters(stage)
            incoming = _content_counters(df, "batch_id")

            def _same(b: int, inc: dict) -> bool:
                c = committed.get(b)
                if c is None or c["rows"] != inc["rows"]:
                    return False
                # BOTH folds must match; missing keys = pre-hash
                # manifests → count-only fallback
                if "content_hash" in c and c["content_hash"] != inc["content_hash"]:
                    return False
                return (
                    "content_sum" not in c
                    or c["content_sum"] == inc["content_sum"]
                )

            changed = sorted(
                b for b, inc in incoming.items() if not _same(b, inc)
            )
            # retract committed batches absent from the incoming frame
            # (input shrank): delete their partition dirs and tombstone
            # them, else read_stage serves deleted rows forever. A
            # fully-empty incoming frame only wipes the stage under the
            # explicit allow_empty opt-in; otherwise it is treated as a
            # caller bug (no-op, flagged in the returned snapshot).
            vanished = sorted(
                b
                for b, c in committed.items()
                if (incoming or allow_empty)
                and b not in incoming
                and c.get("rows", 0) > 0
                and not c.get("retracted")
            )
            if vanished:
                self._retract_batches(stage, vanished)
            if not incoming and not allow_empty and any(
                c.get("rows", 0) > 0 and not c.get("retracted")
                for c in committed.values()
            ):
                return {"stale_empty_input": True}
            if not changed:
                return {"retracted": vanished} if vanished else {}
            pending = df.filter(F.col("batch_id").isin(changed))

        # counters BEFORE the write (same plan feeds both via cache).
        # xxhash64(*) hashes NULLs distinctly per column (no concat_ws
        # null-blindness); keeping BOTH a bit_xor and a decimal sum of
        # the row hashes means a silent divergence needs an engineered
        # collision in two independent folds.
        pending = pending.persist()
        counters = _content_counters(pending, "batch_id")
        if not counters:
            pending.unpersist()
            return {}

        (
            pending.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self._stage_dir(stage))
        )
        pending.unpersist()

        man = self._load_manifest(stage)
        snap = {
            "snapshot_id": len(man["snapshots"]),
            "ts": time.time(),
            "counters": {str(k): v for k, v in counters.items()},
        }
        man["snapshots"].append(snap)
        # recorded so read_stage can serve a typed EMPTY frame after a
        # full retraction (no data files left to infer a schema from)
        man["schema"] = pending.schema.json()
        self._store_manifest(stage, man)
        return snap

    def read_stage(self, spark: SparkSession, stage: str) -> DataFrame:
        done = self.committed_batches(stage)
        man = self._load_manifest(stage)
        schema_json = man.get("schema")
        schema = (
            StructType.fromJson(json.loads(schema_json)) if schema_json else None
        )
        if not done:
            if schema is not None:
                return spark.createDataFrame([], schema)
            if man["snapshots"]:
                # fully-retracted pre-schema-stamp manifest: no data
                # files and no recorded schema — a clear error beats an
                # UNABLE_TO_INFER_SCHEMA from the raw parquet read
                raise ValueError(
                    f"stage '{stage}' is fully retracted and its manifest "
                    "predates schema stamping; re-commit the stage (any "
                    "write_stage call stamps the schema)"
                )
            raise ValueError(f"stage '{stage}' was never committed")
        reader = spark.read
        if schema is not None:
            reader = reader.schema(_read_schema(schema, done))
        df = reader.parquet(self._stage_dir(stage))
        # only committed partitions are visible (a crashed write's orphan
        # partition directories are filtered out = snapshot isolation)
        return df.filter(F.col("batch_id").isin(*sorted(done)))

    def compact_stage(
        self,
        spark: SparkSession,
        stage: str,
        partition_expr,
        manifest_extra: dict | None = None,
        transform=None,
    ) -> dict:
        """Rewrite a stage into a fresh compact ``batch_id`` keyspace
        and reset its manifest to ONE snapshot — the Iceberg
        rewrite_data_files/expire_snapshots analog.

        Append-style stages whose writers mint new partition ranges per
        commit (e.g. the epoch-scoped signature stage) grow their
        committed-batch set and manifest without bound: after E epochs
        every reader carries an E×n_batches-literal isin() filter and
        every commit re-parses E snapshots. Compacting every K epochs
        bounds both at K×n_batches — amortized O(corpus/K) per epoch.
        Only ``batch_id`` is rewritten; every data column (including
        any version/epoch column the stage carries) is preserved.

        ``partition_expr`` is a Column producing the NEW batch_id for
        each row (e.g. ``pmod(xxhash64("doc_id"), lit(64))``).
        ``manifest_extra`` (optional dict) is merged into the new
        manifest inside the SAME atomic swap — writers use it to carry
        counters that must survive the keyspace reset (e.g. the epoch
        service's ``epoch_base``; streaming/ingest.py
        compact_sig_stage). ``transform`` (optional ``df -> df``) is
        applied to the rows before the rewrite — since compaction
        rewrites EVERY partition at once, this is the one safe point to
        evolve a stage's schema (e.g. materializing a derived version
        column) without mixing parquet schemas across partition dirs.

        Crash safety — the manifest swap is the SINGLE commit point:
        the compacted data is fully written to a fresh generation
        directory (``<stage>.gen1``, ``.gen2``, ...) while the current
        generation keeps serving; then one atomic ``_store_manifest``
        flips the ``data_dir`` pointer, the snapshot list and the
        committed-batch set together. A crash at ANY point before the
        swap leaves the old generation fully intact and served (the
        half-written new generation is an unreferenced orphan); after
        the swap, only the obsolete old generation remains to be
        garbage-collected (best-effort rmtree at the end).
        """
        import shutil

        man = self._load_manifest(stage)
        cur = man.get("data_dir", stage)
        gen = int(cur.rsplit(".gen", 1)[1]) if ".gen" in cur else 0
        new_dir_name = f"{stage}.gen{gen + 1}"
        new_dir = os.path.join(self.root, new_dir_name)
        # GC every unreferenced generation up front — a crash between a
        # previous compaction's manifest swap and its own GC would
        # otherwise leak one full stage copy per crashed run forever
        # (only the manifest's current data_dir is live)
        for entry in os.listdir(self.root):
            if entry != cur and (
                entry == stage
                or _re.fullmatch(_re.escape(stage) + r"\.gen\d+", entry)
            ):
                shutil.rmtree(os.path.join(self.root, entry), ignore_errors=True)

        df = self.read_stage(spark, stage)
        if transform is not None:
            df = transform(df)
        df = df.drop("batch_id")
        compacted = df.withColumn(
            "batch_id", partition_expr.cast("int")
        ).persist()
        counters = _content_counters(compacted, "batch_id")
        compacted.write.mode("overwrite").partitionBy("batch_id").parquet(
            new_dir
        )
        schema_json = compacted.schema.json()
        compacted.unpersist()
        snap = {
            "snapshot_id": 0,
            "ts": time.time(),
            "compacted": True,
            "counters": {str(k): v for k, v in counters.items()},
        }
        # the atomic commit: pointer + snapshots + schema (+ any
        # caller-carried counters) in one swap
        new_man = {
            "stage": stage,
            "data_dir": new_dir_name,
            "snapshots": [snap],
            "schema": schema_json,
        }
        if manifest_extra:
            new_man.update(manifest_extra)
        self._store_manifest(stage, new_man)
        old_dir = os.path.join(self.root, cur)
        shutil.rmtree(old_dir, ignore_errors=True)  # GC, post-commit
        return snap

    # ------------------------------------------------------------------
    def _config_path(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._config.json")

    def load_config(self, stage: str) -> dict:
        """Writer-owned per-stage config sidecar (e.g. the epoch
        service's pinned n_batches). Deliberately SEPARATE from the
        manifest: compact_stage rebuilds the manifest from scratch,
        while the config must survive any compaction untouched."""
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
        out: dict[int, dict] = {}
        for snap in self._load_manifest(stage)["snapshots"]:
            for b, c in snap["counters"].items():
                out[int(b)] = c
        return out

    def history(self, stage: str) -> list[dict]:
        return self._load_manifest(stage)["snapshots"]
