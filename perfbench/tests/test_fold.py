"""The event-log fold and the span → layer attribution.

``data/small_eventlog.jsonl`` was recorded by ``record_small_log.py``
(local[2], AQE off): group ``g_udf`` runs a pandas UDF over 1000 rows
and collects; group ``g_shuffle`` repartitions 1000 rows into 2
partitions and writes them to the noop sink; one job runs with no
group.
"""

import os

import pytest

import tracing

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def fold():
    with open(LOG) as f:
        return tracing.fold_event_log(f)


def test_fold_attributes_jobs_to_groups(fold):
    assert set(fold) == {"g_udf", "g_shuffle", ""}
    assert fold["g_udf"]["jobs"] == 1
    assert fold["g_shuffle"]["jobs"] == 1
    assert fold[""]["jobs"] == 1


def test_fold_task_metrics(fold):
    # range(0, 1000, 1, 4) -> 4 map tasks; repartition(2) -> 2 reduce tasks
    assert fold["g_shuffle"]["tasks"] == 6
    # a round-robin repartition shuffles every row exactly once
    assert fold["g_shuffle"]["shuffle_records"] == 1000
    assert fold["g_shuffle"]["shuffle_bytes"] > 0
    assert fold["g_shuffle"]["python_bytes"] == 0
    assert fold["g_udf"]["shuffle_records"] == 0
    for g in fold.values():
        assert g["spill_bytes"] == 0
        assert g["run_s"] >= 0 and g["exec_cpu_s"] >= 0


def test_fold_sql_metrics(fold):
    # the Arrow UDF ships 1000 values out and 1000 back
    assert fold["g_udf"]["python_bytes"] > 2 * 1000 * 8
    # Range and ArrowEvalPython each report their 1000 rows
    assert fold["g_udf"]["output_rows"] >= 2000


def _span(sid, parent, name, layer, t0, t1, c0=0.0, c1=0.0, **kw):
    return {
        "id": sid, "parent": parent, "name": name, "layer": layer,
        "group": f"g{sid}", "t0": t0, "t1": t1, "c0": c0, "c1": c1, **kw,
    }


def _fold(**per_group):
    out = {}
    for g, vals in per_group.items():
        z = {k: 0 for k in tracing.FOLD_KEYS}
        z.update(vals)
        out[g] = z
    return out


def test_write_stage_split_between_stage_and_catalog():
    spans = [
        _span(0, None, "run_pipeline", "pipeline", 0.0, 10.0, kind="pipeline"),
        _span(1, 0, "write_stage:triples", "stages.triples", 1.0, 5.0, 0.0, 8.0,
              kind="write_stage", verifies=True, batches_verified=8,
              batches_committed=2),
        _span(2, 1, "verify", "io.catalog", 1.0, 2.0, 0.0, 1.0, kind="verify"),
        _span(3, 1, "write", "io.catalog", 4.0, 5.0, 6.0, 8.0, kind="write"),
        _span(4, 0, "cooccurrence_triples", "stages.triples", 5.0, 5.5, kind="build"),
    ]
    fold = _fold(
        g0={"jobs": 2, "tasks": 3},
        g1={"jobs": 1, "tasks": 4, "shuffle_records": 100, "output_rows": 300},
        g2={"jobs": 1, "tasks": 4, "output_rows": 100},
        g3={"jobs": 1, "tasks": 4, "bytes_written": 5000, "output_rows": 40},
    )
    m = tracing.layer_metrics(spans, fold, [])
    # stage part = 4 s span - 1 s verify - 1 s write, + 0.5 s builder
    assert m["stages.triples.wall_s"] == pytest.approx(2.5)
    assert m["stages.triples.cpu_s"] == pytest.approx(5.0)
    assert m["stages.triples.shuffle_records"] == 100
    # rows the stage's own jobs produced; verify and insert rows excluded
    assert m["stages.triples.rows"] == 300
    assert m["io.catalog.verify_s"] == pytest.approx(1.0)
    assert m["io.catalog.write_s"] == pytest.approx(1.0)
    assert m["io.catalog.bytes_written"] == 5000
    assert m["io.catalog.batches_verified"] == 8
    assert m["io.catalog.batches_rewritten"] == 2
    assert m["io.catalog.rewrite_ratio"] == pytest.approx(0.25)
    # pipeline: self = 10 - 4 - 0.5; jobs/tasks over the whole subtree
    assert m["pipeline.self_s"] == pytest.approx(5.5)
    assert m["pipeline.jobs"] == 5
    assert m["pipeline.tasks"] == 15


def test_query_spans_fold_per_query():
    spans = [_span(0, None, "dedup_jaccard", "queries", 0.0, 2.0, kind="query")]
    fold = _fold(g0={"jobs": 9, "shuffle_bytes": 77})
    m = tracing.layer_metrics(spans, fold, ["dedup_jaccard"])
    assert m["queries.dedup_jaccard.wall_s"] == pytest.approx(2.0)
    assert m["queries.dedup_jaccard.jobs"] == 9
    assert m["queries.dedup_jaccard.shuffle_bytes"] == 77
    assert m["stages.split.wall_s"] == 0
