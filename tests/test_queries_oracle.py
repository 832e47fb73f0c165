"""Cross-engine check of every driver-contract query vs its DuckDB
oracle at sf0.001 (the driver itself runs sf0.01 — same code path)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from easyner_spark.compare import TABLES, compare_query
from easyner_spark.queries import ORACLES, QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# sha256 over name + NUL + sql + NUL for every oracle, in name order.
# Last changed on purpose: split_udf_passthrough's oracle trims the
# text, as the splitter strips a sentence's outer spaces.
ORACLE_SQL_SHA256 = "f3230bf9b8491fe508b78bbdd913eb0e02fc526fc520ff45cd81b06a410be755"


def test_every_query_has_oracle():
    assert set(ORACLES) == set(QUERIES)


def test_driver_window_is_the_priority_list():
    """The round driver oracle-checks list(QUERIES)[:50]; the explicit
    _DRIVER_PRIORITY list controls exactly that window (round-3 verdict
    #1: entries registered past position 50 never got a driver row).
    QUERIES and ORACLES must share the ordering or the driver would
    pair mismatched entries."""
    from easyner_spark.queries import _DRIVER_PRIORITY

    assert len(_DRIVER_PRIORITY) == 50
    assert list(QUERIES)[:50] == _DRIVER_PRIORITY
    assert list(ORACLES) == [n for n in QUERIES if n in ORACLES]


def test_driver_window_union_invariant():
    """Rotation contract (round-4 verdict #3): every registered query
    must have a driver CORRECTNESS row no older than H rounds, where
    H = ceil(len(QUERIES) / 50) — the driver grants exactly 50 rows
    per round, so H is the tightest freshness ANY schedule can
    guarantee (at <= 100 queries this is the original two-window
    rule; LRU rotation achieves the bound for any N). New queries
    must be in the current window (they have no prior row). Each
    recorded window is exactly the 50 slots the driver checks,
    duplicate-free, and names only real queries."""
    import math

    from easyner_spark.queries import _DRIVER_ROUND, _DRIVER_WINDOWS

    for rnd, win in _DRIVER_WINDOWS.items():
        assert len(win) == 50, f"round {rnd} window != 50 slots"
        assert len(set(win)) == 50, f"round {rnd} window has duplicates"
    assert set(_DRIVER_WINDOWS[_DRIVER_ROUND]) <= set(QUERIES)
    horizon = math.ceil(len(QUERIES) / 50)
    recent: set[str] = set()
    for rnd in range(_DRIVER_ROUND - horizon + 1, _DRIVER_ROUND + 1):
        recent |= set(_DRIVER_WINDOWS.get(rnd, ()))
    stale = set(QUERIES) - recent
    assert not stale, (
        f"queries without a driver row in the last {horizon} windows: "
        f"{sorted(stale)}"
    )
    # semantics-changed queries MUST be re-gated in their recorded
    # round — their older driver rows gate outputs that no longer
    # exist, so horizon coverage alone overstates driver evidence
    from easyner_spark.queries import _MUST_REGATE

    for rnd, names in _MUST_REGATE.items():
        if rnd <= _DRIVER_ROUND:
            missing = set(names) - set(_DRIVER_WINDOWS.get(rnd, ()))
            assert not missing, (
                f"round {rnd} window must re-gate {sorted(missing)}"
            )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_duckdb(spark, name):
    diff = compare_query(spark, SF_DIR, name, QUERIES[name], ORACLES[name])
    assert diff is None, diff


# fewer than 3 tokens (no trigram), fewer than 2 (no bigram), empty,
# all-blank, padded; the repeated 3-token text makes one near-dup pair
SHORT_TEXTS = ["a", "a b", "", "   ", " a  b ", "x y z", "x y z", "p q r s"]


@pytest.fixture(scope="module")
def short_docs_dir(tmp_path_factory):
    """The testdata with short and blank documents appended to
    ``documents`` (every other table linked unchanged)."""
    out = tmp_path_factory.mktemp("sf_short_docs")
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), out / f"{t}.parquet")
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"))
    proto = docs.slice(0, 1).to_pylist()[0]
    first = max(docs.column("doc_id").to_pylist()) + 1
    extra = [
        dict(proto, doc_id=first + i, text=t, n_chars=len(t))
        for i, t in enumerate(SHORT_TEXTS)
    ]
    pq.write_table(
        pa.concat_tables([docs, pa.Table.from_pylist(extra, schema=docs.schema)]),
        str(out / "documents.parquet"),
    )
    return str(out)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_jaccard",
        "doc_fingerprint",
        "doc_repetition",
        "text_bigram_lm",
        "dedup_epoch_incremental",
        "split_udf_passthrough",
    ],
)
def test_short_documents_match_oracle(spark, short_docs_dir, name):
    """A document too short for a trigram (or bigram) yields none, as
    the oracle's range(greatest(len - 2, 0)) does — no out-of-bounds
    index under ANSI, no spurious shorter shingle. A padded document's
    one sentence is its trimmed text, blank ones yield no sentence."""
    diff = compare_query(spark, short_docs_dir, name, QUERIES[name], ORACLES[name])
    assert diff is None, diff


def test_oracle_sql_is_byte_identical():
    """The DuckDB oracle SQL is the specification: the registry and the
    shared CTE helpers may be refactored, but the generated text must
    not change unless a query's semantics change on purpose (then
    update the digest in the same change and say why)."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(ORACLES):
        h.update(f"{name}\0{ORACLES[name]}\0".encode())
    assert h.hexdigest() == ORACLE_SQL_SHA256


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_lsh_bucket_rejects_wide_vectors(spark, ansi):
    """A vector wider than the plan-time hyperplane coefficients must
    fail the query in both ANSI modes, never bucket on nulls."""
    from pyspark.sql import functions as F

    from easyner_spark.queries import _LSH_COEF_LEN, _lsh_bucket_expr

    def bucket(dim):
        df = spark.createDataFrame([([0.5] * dim,)], "embedding ARRAY<FLOAT>")
        return df.select(F.expr(_lsh_bucket_expr()).alias("bucket"))

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        assert bucket(_LSH_COEF_LEN).first()["bucket"] is not None
        with pytest.raises(Exception, match="wider than"):
            bucket(300).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_entry_smoke(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df = mod.entry(spark)
    assert df.count() >= 0
    assert set(mod.oracle_sql()) <= set(mod.queries())
