"""Property test for the signature-stage versioning matrix (r4 verdict
ask #6): a randomized ingest / unchanged-re-ingest / revert / crash /
other-n_batches sequence is replayed against a sequential python oracle
dict, and after EVERY op the committed stage must satisfy the
versioning invariants:

* (doc_id, epoch) is unique — (doc_id, sig) is deliberately NOT (a
  revert re-commits an older sig at a new epoch);
* committed row count == number of effective content CHANGES (unchanged
  re-ingests collapse; changes — including reverts — always commit);
* latest-per-doc selection (max epoch) resolves every doc to its
  CURRENT content's signature (an epoch is numbered by its batch
  range, so epochs only grow);
* an orphan data directory from a crashed writer (parquet present, no
  manifest entry) is invisible to reads and to subsequent versioning;
* an ingest at another n_batches keeps every invariant above: an
  epoch's batch range has one fixed width whatever n_batches fills it.

The signature FUNCTION itself is oracle-gated elsewhere
(queries.py:dedup_epoch_incremental); here expected signatures are
precomputed once per pool text with the same production function, so
the property under test is purely the version bookkeeping.
"""

import os
import shutil
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# pool of shingle-able texts; index = identity of a content version
TEXT_POOL = [
    "the quick brown fox jumps over the lazy dog again and again",
    "completely unrelated web page about database engines entirely",
    "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    "one two three four five six seven eight nine ten eleven",
    "red orange yellow green blue indigo violet colors spectrum",
    "fresh never seen text with no duplicate partner anywhere here",
]

N_BATCHES = 4

_ingest = st.dictionaries(
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=0, max_value=len(TEXT_POOL) - 1),
    min_size=1,
    max_size=3,
)
_op = st.one_of(
    st.tuples(st.just("ingest"), _ingest),
    st.tuples(st.just("crash"), st.none()),
    st.tuples(st.just("other_n"), _ingest),
)


@pytest.fixture(scope="module")
def expected_sigs(spark):
    """text index -> production minhash signature (computed once)."""
    from easyner_spark.stages.canonical import minhash_signatures

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXT_POOL)], "doc_id long, text string"
    )
    rows = minhash_signatures(df, id_col="doc_id", name_col="text").collect()
    return {r["doc_id"]: tuple(r["sig"]) for r in rows}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
    derandomize=True,  # seeded: CI-stable shrink-free replay
)
@given(ops=st.lists(_op, min_size=2, max_size=5))
def test_versioning_matrix(spark, expected_sigs, ops):
    from easyner_spark.io.catalog import CheckpointCatalog
    from easyner_spark.streaming.ingest import epoch_dedup_pairs

    wh = tempfile.mkdtemp(prefix="epoch_prop_")
    try:
        cat = CheckpointCatalog(wh)
        truth: dict[int, int] = {}  # doc -> current text idx
        n_changes = 0  # effective commits (new doc or content change)
        orphan_seq = 0

        def mk(d):
            return spark.createDataFrame(
                [(doc, TEXT_POOL[ti]) for doc, ti in sorted(d.items())],
                "doc_id long, text string",
            )

        def committed():
            return bool(cat.committed_batches("minhash_sigs"))

        def check_invariants():
            if not committed():
                assert n_changes == 0
                return
            rows = (
                cat.read_stage(spark, "minhash_sigs")
                .select("doc_id", "sig", "epoch")
                .collect()
            )
            assert len(rows) == n_changes
            keys = [(r["doc_id"], r["epoch"]) for r in rows]
            assert len(set(keys)) == len(keys), "(doc_id, epoch) not unique"
            latest: dict[int, tuple] = {}
            best_epoch: dict[int, int] = {}
            for r in rows:
                d = r["doc_id"]
                if d not in best_epoch or r["epoch"] > best_epoch[d]:
                    best_epoch[d] = r["epoch"]
                    latest[d] = tuple(r["sig"])
            assert set(latest) == set(truth)
            for d, ti in truth.items():
                assert latest[d] == expected_sigs[ti], (
                    f"doc {d}: latest version does not match current content"
                )

        for kind, arg in ops:
            if kind in ("ingest", "other_n"):
                n_batches = N_BATCHES if kind == "ingest" else N_BATCHES + 3
                epoch_dedup_pairs(spark, wh, mk(arg), n_batches=n_batches)
                for doc, ti in arg.items():
                    if truth.get(doc) != ti:
                        n_changes += 1
                        truth[doc] = ti
            elif kind == "crash":
                if not committed():
                    continue
                # crashed writer: parquet lands in the stage data dir but
                # the manifest swap never happened — must stay invisible
                stage_dir = cat._stage_dir("minhash_sigs")
                orphan_seq += 1
                orphan = os.path.join(stage_dir, f"batch_id={90000 + orphan_seq}")
                (
                    spark.createDataFrame(
                        [(999_000 + orphan_seq, list(expected_sigs[0]), 999)],
                        "doc_id long, sig array<bigint>, epoch long",
                    )
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(orphan)
                )
            check_invariants()
    finally:
        shutil.rmtree(wh, ignore_errors=True)
