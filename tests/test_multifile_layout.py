"""Contract queries over a multi-file, multi-row-group table layout.

Every testdata parquet is one file holding one row group, so multi-split
scans and directory-of-files tables never run against the oracle. The
fixture rewrites sf0.001 as ``<table>.parquet/`` directories of several
files with small row groups (same rows, same order); the Spark result on
that copy must equal the DuckDB oracle on the original.
"""

import os

import pyarrow.parquet as pq
import pytest

from easyner_spark.compare import TABLES, compare_query
from easyner_spark import queries
from easyner_spark.queries import ORACLES, QUERIES, _spread, _table_bytes

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
N_FILES = 3
ROW_GROUP = 64


@pytest.fixture(scope="module")
def multifile_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_multifile")
    for t in TABLES:
        table = pq.read_table(os.path.join(SF_DIR, f"{t}.parquet"))
        d = out / f"{t}.parquet"
        d.mkdir()
        step = -(-table.num_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                table.slice(i * step, step),
                str(d / f"part-{i:05d}.parquet"),
                row_group_size=ROW_GROUP,
            )
    return str(out)


def test_layout_is_multi_file_and_multi_row_group(multifile_dir):
    d = os.path.join(multifile_dir, "documents.parquet")
    files = sorted(os.listdir(d))
    assert len(files) == N_FILES
    metas = [pq.ParquetFile(os.path.join(d, f)).metadata for f in files]
    assert all(m.num_row_groups > 1 for m in metas)
    assert all(
        m.row_group(i).num_rows <= ROW_GROUP
        for m in metas
        for i in range(m.num_row_groups)
    )


@pytest.mark.parametrize(
    "name",
    [
        "dedup_jaccard",
        "embed_knn_bruteforce",
        "kg_linked",
        "events_asof_purchase",
        "dedup_epoch_incremental",
        "doc_fingerprint",
        "text_bigram_lm",
        "kg_graph_edges",
        "merge_conflicts_resolved",
        "kg_entity_frequency",
        "kg_id_frequency",
    ],
)
def test_query_on_multifile_copy_matches_oracle_on_original(
    spark, multifile_dir, name
):
    diff = compare_query(
        spark,
        SF_DIR,
        name,
        lambda spark, _sf_dir: QUERIES[name](spark, multifile_dir),
        ORACLES[name],
    )
    assert diff is None, diff


def test_table_bytes_sums_a_directory_table(multifile_dir):
    for t in TABLES:
        d = os.path.join(multifile_dir, f"{t}.parquet")
        want = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        assert _table_bytes(multifile_dir, t) == want


def _round_robin(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "RoundRobinPartitioning" in plan


def test_spread_leaves_unstattable_and_large_tables_alone(
    spark, multifile_dir, monkeypatch
):
    """``_spread`` adds a round-robin exchange only under a small local
    table; a path it cannot stat (cluster storage) and a table over the
    threshold pass through unchanged."""
    small = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    assert _round_robin(_spread(small, SF_DIR, "documents"))  # control
    assert _spread(small, "s3a://bucket/x", "documents") is small

    monkeypatch.setattr(queries, "_SPREAD_OPEN_COST", 1)
    df = spark.read.parquet(os.path.join(multifile_dir, "documents.parquet"))
    out = _spread(df, multifile_dir, "documents")
    assert out is df and not _round_robin(out)
