"""Traced-run machinery: spans around the engine's public calls, the
Spark event-log fold, and the per-layer metrics built from both.

Spans are recorded by the benchmark, never by the engine: ``hooks``
wraps the engine's entry points for the duration of a traced pass and
restores them afterwards. Every span owns one Spark job group
(``setJobGroup``), so each job in the event log belongs to exactly one
span; a span's totals are its own jobs plus its children's.
"""

from __future__ import annotations

import contextlib
import json
import time

import proctree

# write_stage stage name -> the engine module that computes it
STAGE_LAYER = {
    "documents": "stages.extract",
    "sentences": "stages.split",
    "mentions": "stages.ner_dict",
    "linked": "stages.nel",
    "nel_new_entities": "stages.nel",
    "canonical": "stages.canonical",
    "triples": "stages.triples",
    "graph_edges": "ops.graph",
    "graph_nodes": "ops.graph",
    "graph_pagerank": "ops.graph",
    "entity_frequency": "stages.analysis",
    "id_frequency": "stages.analysis",
}

# per-layer measures; wall_s/cpu_s are span-derived, the
# rest come from the event-log fold or the catalog's returned snapshots
LAYER_MEASURES = {
    "stages.extract": ("wall_s", "cpu_s", "python_bytes", "rows"),
    "stages.split": ("wall_s", "cpu_s", "python_bytes", "rows"),
    "stages.ner_dict": ("wall_s", "cpu_s", "python_bytes", "rows"),
    "stages.nel": ("wall_s", "jobs", "shuffle_bytes", "rows"),
    "stages.canonical": ("wall_s", "jobs"),
    "stages.triples": (
        "wall_s", "cpu_s", "shuffle_bytes", "shuffle_records", "spill_bytes", "rows",
    ),
    "stages.analysis": ("wall_s", "jobs", "shuffle_bytes"),
    "ops.graph": ("wall_s", "jobs", "shuffle_bytes"),
}
CATALOG_MEASURES = (
    "verify_s", "write_s", "bytes_written", "files_written",
    "batches_verified", "batches_rewritten", "rewrite_ratio", "stored_bytes_ratio",
)
PIPELINE_MEASURES = ("self_s", "jobs", "tasks")
QUERY_MEASURES = ("wall_s", "jobs", "shuffle_bytes")
TRACING_MEASURES = ("wall_s", "overhead_s")

# the event-log quantities folded per job group
FOLD_KEYS = (
    "jobs", "tasks", "run_s", "exec_cpu_s", "shuffle_bytes", "shuffle_records",
    "spill_bytes", "output_rows", "python_bytes", "bytes_written",
)


def per_layer_names(query_names: list[str]) -> list[str]:
    """Every per-layer metric name a traced run emits, in order."""
    names = [f"{layer}.{m}" for layer, ms in LAYER_MEASURES.items() for m in ms]
    names += [f"io.catalog.{m}" for m in CATALOG_MEASURES]
    names += [f"pipeline.{m}" for m in PIPELINE_MEASURES]
    names += [f"queries.{q}.{m}" for q in query_names for m in QUERY_MEASURES]
    names += [f"tracing.{m}" for m in TRACING_MEASURES]
    return names


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span tree. ``span`` sets the Spark job group for its
    extent and restores the parent's on exit."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.stack: list[dict] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "group": f"perfbench-span-{len(self.spans)}",
            **attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self._set_group(rec)
        rec["t0"], rec["c0"] = time.perf_counter(), proctree.tree_cpu_s()
        try:
            yield rec
        finally:
            rec["t1"], rec["c1"] = time.perf_counter(), proctree.tree_cpu_s()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)

    def current(self) -> dict | None:
        return self.stack[-1] if self.stack else None


@contextlib.contextmanager
def hooks(tracer: Tracer):
    """Wrap the engine's entry points in spans for the duration of the
    block: every ``CheckpointCatalog.write_stage`` call (named by its
    stage, with its verify pass and parquet insert as child spans), the
    stage builders ``run_pipeline`` calls, and PageRank. Restores the
    originals on exit, so the engine is untouched outside a traced pass."""
    from pyspark.sql.readwriter import DataFrameWriter

    import easyner_spark.ops.graph as graph_mod
    import easyner_spark.pipeline as pipe_mod
    from easyner_spark.io import catalog as cat_mod

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, make):
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def write_stage(orig):
        def wrapped(self, df, stage, *a, **kw):
            resume_mode = kw.get("resume_mode", a[1] if len(a) > 1 else "verify_counts")
            verifies = resume_mode == "verify_counts" and bool(self.committed_batches(stage))
            with tracer.span(
                f"write_stage:{stage}",
                STAGE_LAYER.get(stage, "pipeline"),
                kind="write_stage",
                verifies=verifies,
            ) as rec:
                snap = orig(self, df, stage, *a, **kw)
                counters = snap.get("counters", {})
                rec["committed_rows"] = sum(c.get("rows", 0) for c in counters.values())
                rec["batches_committed"] = len(counters)
                return snap

        return wrapped

    def content_counters(orig):
        def wrapped(df, partition_col):
            rec = tracer.current()
            if rec is None or not rec.get("verifies") or "batches_verified" in rec:
                return orig(df, partition_col)
            # first counter pass of a verifying commit = the verify pass
            # over the whole incoming frame
            rec["batches_verified"] = 0
            with tracer.span("verify", "io.catalog", kind="verify"):
                out = orig(df, partition_col)
            rec["batches_verified"] = len(out)
            return out

        return wrapped

    def parquet(orig):
        def wrapped(self, *a, **kw):
            rec = tracer.current()
            if rec is None or rec.get("kind") != "write_stage":
                return orig(self, *a, **kw)
            with tracer.span("write", "io.catalog", kind="write"):
                return orig(self, *a, **kw)

        return wrapped

    def builder(layer):
        def make(orig):
            def wrapped(*a, **kw):
                with tracer.span(orig.__name__, layer, kind="build"):
                    return orig(*a, **kw)

            return wrapped

        return make

    patch(cat_mod.CheckpointCatalog, "write_stage", write_stage)
    patch(cat_mod, "_content_counters", content_counters)
    patch(DataFrameWriter, "parquet", parquet)
    for attr, layer in (
        ("extract_documents", "stages.extract"),
        ("split_documents", "stages.split"),
        ("dict_ner", "stages.ner_dict"),
        ("link_entities", "stages.nel"),
        ("canonicalize_entities", "stages.canonical"),
        ("cooccurrence_triples", "stages.triples"),
        ("entity_frequency", "stages.analysis"),
        ("id_frequency", "stages.analysis"),
    ):
        patch(pipe_mod, attr, builder(layer))
    patch(graph_mod, "pagerank", builder("ops.graph"))
    try:
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------


# SQL metric name (per-task accumulable update) -> fold key
_SQL_METRICS = {
    "number of output rows": "output_rows",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


def _zero() -> dict:
    return {k: 0 for k in FOLD_KEYS}


def fold_event_log(lines) -> dict[str, dict]:
    """Fold a Spark JSON event log (an iterable of lines) into
    ``{job group: FOLD_KEYS totals}``; jobs without a group fold under
    ``""``. Task metrics are summed from ``SparkListenerTaskEnd``; SQL
    metrics ("number of output rows", Python-worker bytes) from each
    task's accumulable updates."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out.setdefault(g, _zero())["jobs"] += 1
            for s in e.get("Stage IDs", []):
                stage_group[s] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(e.get("Stage ID"), "")
            acc = out.setdefault(g, _zero())
            acc["tasks"] += 1
            m = e.get("Task Metrics") or {}
            acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            acc["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                key = _SQL_METRICS.get(a.get("Name"))
                if key is not None:
                    acc[key] += int(a["Update"])  # SQL metrics log as digit strings
    return out


def span_totals(spans: list[dict], fold: dict[str, dict]) -> dict[int, dict]:
    """Per span: wall_s, cpu_s (process-tree CPU) and the FOLD_KEYS of
    its own jobs plus all descendants'; ``self_s`` is wall minus the
    wall of its direct children."""
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[int]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] in kids:
            kids[s["parent"]].append(s["id"])
    memo: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid in memo:
            return memo[sid]
        s = by_id[sid]
        t = dict(fold.get(s["group"], _zero()))
        t["wall_s"] = s["t1"] - s["t0"]
        t["cpu_s"] = s["c1"] - s["c0"]
        child_wall = 0.0
        for k in kids[sid]:
            ct = total(k)
            child_wall += ct["wall_s"]
            for key in FOLD_KEYS:
                t[key] += ct[key]
        t["self_s"] = t["wall_s"] - child_wall
        memo[sid] = t
        return t

    return {sid: total(sid) for sid in by_id}


def layer_metrics(spans: list[dict], fold: dict[str, dict], query_names: list[str]) -> dict:
    """Per-layer metrics of ONE traced pass. A write_stage span is split
    between io.catalog (its verify and parquet-insert children) and its
    stage module (the rest, which computes the stage); builder spans
    (lazy plan construction, plus any eager jobs they run) go to their
    module; the pipeline span's self time is what no child covers."""
    tot = span_totals(spans, fold)
    by_id = {s["id"]: s for s in spans}
    acc: dict[str, dict] = {}

    def add(layer: str, vals: dict, sign: float = 1.0) -> None:
        d = acc.setdefault(layer, {})
        for k, v in vals.items():
            d[k] = d.get(k, 0) + sign * v

    qwall = {}
    for s in spans:
        t = tot[s["id"]]
        kind = s.get("kind")
        if kind == "write_stage":
            add(s["layer"], t)
            if s.get("verifies"):
                add("io.catalog", {
                    "batches_verified": s.get("batches_verified", 0),
                    "batches_rewritten": s.get("batches_committed", 0),
                })
        elif kind in ("verify", "write"):
            add(by_id[s["parent"]]["layer"], t, sign=-1.0)
            add("io.catalog", {f"{kind}_s": t["wall_s"]})
            if kind == "write":
                add("io.catalog", {"bytes_written": t["bytes_written"]})
        elif kind == "build":
            add(s["layer"], t)
        elif kind == "pipeline":
            add("pipeline", {"self_s": t["self_s"], "jobs": t["jobs"], "tasks": t["tasks"]})
        elif kind == "query":
            qwall[s["name"]] = t

    out: dict[str, float] = {}
    for layer, ms in LAYER_MEASURES.items():
        d = acc.get(layer, {})
        for m in ms:
            # rows: SQL output rows of the layer's jobs, i.e. rows its
            # operators produced (recomputation included), not the
            # committed row count, which the output check fixes
            out[f"{layer}.{m}"] = d.get("output_rows" if m == "rows" else m, 0)
    cat = acc.get("io.catalog", {})
    for m in CATALOG_MEASURES:
        out[f"io.catalog.{m}"] = cat.get(m, 0)
    if cat.get("batches_verified"):
        out["io.catalog.rewrite_ratio"] = cat["batches_rewritten"] / cat["batches_verified"]
    p = acc.get("pipeline", {})
    for m in PIPELINE_MEASURES:
        out[f"pipeline.{m}"] = p.get(m, 0)
    for q in query_names:
        t = qwall.get(q, {})
        for m in QUERY_MEASURES:
            out[f"queries.{q}.{m}"] = t.get(m, 0)
    return out
