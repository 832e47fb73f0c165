"""The benchmark's workloads. Each calls the engine only through its
public entry points (``pipeline.run_pipeline``,
``io.catalog.CheckpointCatalog``, ``queries.QUERIES``/``PENDING_R6``,
``compare.compare_query``, ``corpus.make_pages_pdf``).

A workload has four phases:

* ``prepare``: inputs from the seed and any warm-up (``setup_s``);
* ``check_setup``: the independent oracle, once per process, outside
  every clock; returns the seconds of oracle work that ``prepare``
  could not avoid, which ``setup_s`` leaves out;
* ``run_pass``: one timed closed-loop pass, then its output check
  outside the timed window;
* ``trace_extra`` (traced run only): passes whose layers the timed pass
  does not reach.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import time

import datagen
import proctree


def _timed(fn):
    c0, t0 = proctree.tree_cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, proctree.tree_cpu_s() - c0


def _dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


def stage_counters(warehouse: str) -> dict[str, dict[int, tuple]]:
    """Every committed stage's live per-batch counters (rows + both
    content-hash folds), read from the catalog's manifests."""
    from easyner_spark.io.catalog import CheckpointCatalog

    cat = CheckpointCatalog(warehouse)
    out = {}
    for path in sorted(glob.glob(os.path.join(warehouse, "*._manifest.json"))):
        stage = os.path.basename(path)[: -len("._manifest.json")]
        out[stage] = {
            b: (c["rows"], c.get("content_hash"), c.get("content_sum"))
            for b, c in cat.counters(stage).items()
            if not c.get("retracted")
        }
    return out


def counter_diff(got: dict, want: dict) -> list[str]:
    """Stages whose counters differ (rows or either hash fold)."""
    return sorted(s for s in set(got) | set(want) if got.get(s) != want.get(s))


class KgBuild:
    """Pages → triples product path: each pass runs ``run_pipeline``
    with its default stages into a fresh warehouse."""

    name = "kg_build"
    n_pages = 300
    # not run_pipeline's default of 64: a 64-batch pass costs 1.8x an
    # 8-batch one and would not fit the run budget (README, "Batches")
    n_batches = 8
    # the timed pass is the session's first, cold one, as a pipeline
    # job run by spark-submit sees it (README, "Cold pass")
    cold = True
    query_names: list[str] = []

    def __init__(self, work: str, seed: int, n_pages: int | None = None):
        self.work, self.seed = work, seed
        if n_pages is not None:
            self.n_pages = n_pages
        self.pages_path = os.path.join(work, "pages.parquet")
        self.delta_path = os.path.join(work, "pages_delta.parquet")
        self.n_pass = 0
        self.ref_counters = None
        self.last_wh = None
        self.setup_errors: list[str] = []

    # -- set-up --------------------------------------------------------
    def prepare(self, spark) -> None:
        from easyner_spark.corpus import make_pages_pdf

        self.pages_pdf = make_pages_pdf(n_docs=self.n_pages, seed=self.seed)
        self.input_bytes = datagen.write_parquet(self.pages_pdf, self.pages_path)

    def check_setup(self, spark) -> float:
        """The sequential oracle on the same pages, which the first timed
        pass is checked against. No oracle work ran in set-up: returns 0."""
        from easyner_spark.corpus import GAZETTEER, NEL_LOOKUP
        from easyner_spark.oracle.pyoracle import run_oracle

        self.oracle = run_oracle(self.pages_pdf, GAZETTEER, NEL_LOOKUP)
        return 0.0

    @staticmethod
    def _oracle_errors(spark, warehouse: str, oracle: dict) -> list[str]:
        """Triple P/R against the sequential oracle must be exactly 1.0
        and the entity-frequency ranking identical."""
        from pyspark.sql import functions as F

        from easyner_spark.io.catalog import CheckpointCatalog
        from easyner_spark.oracle.pyoracle import precision_recall

        cat = CheckpointCatalog(warehouse)
        url_of = cat.read_stage(spark, "documents").select("doc_id", "url")
        got = {
            (r["subj"], r["pred"], r["obj"], r["url"], r["sent_idx"])
            for r in cat.read_stage(spark, "triples").join(url_of, "doc_id").collect()
        }
        errors = []
        p, r = precision_recall(got, oracle["triples"])
        if (p, r) != (1.0, 1.0):
            errors.append(f"triple P/R {p:.6f}/{r:.6f} != 1.0/1.0")
        freq = cat.read_stage(spark, "entity_frequency").select(
            "surface", F.col("total_count").cast("long")
        )
        rank = sorted(((s, c) for s, c in freq.collect()), key=lambda kv: (-kv[1], kv[0]))
        want = sorted(oracle["surface_counts"].items(), key=lambda kv: (-kv[1], kv[0]))
        if rank != want:
            errors.append("entity-frequency ranking differs from the oracle")
        return errors

    # -- timed pass ----------------------------------------------------
    def run_pass(self, spark, tracer=None) -> dict:
        """One timed build. The first pass of a process is checked against
        the oracle and its manifest counters recorded; every later pass
        must reproduce those counters exactly."""
        from easyner_spark.pipeline import run_pipeline

        wh = os.path.join(self.work, f"wh_{self.n_pass}")
        self.n_pass += 1
        shutil.rmtree(wh, ignore_errors=True)
        pages = spark.read.parquet(self.pages_path)
        span = (
            tracer.span("run_pipeline", "pipeline", kind="pipeline")
            if tracer
            else contextlib.nullcontext()
        )

        def go():
            with span:
                return run_pipeline(spark, pages, wh, n_batches=self.n_batches)

        report, wall, cpu = _timed(go)
        counters = stage_counters(wh)
        if self.ref_counters is None:
            errors = [f"kg_build: {e}" for e in self._oracle_errors(spark, wh, self.oracle)]
            self.ref_counters = counters
        else:
            diff = counter_diff(counters, self.ref_counters)
            errors = [f"stage counters differ from the first pass: {diff}"] if diff else []
        nbytes, nfiles = _dir_bytes_files(wh)
        if self.last_wh is not None:
            shutil.rmtree(self.last_wh, ignore_errors=True)
        self.last_wh = wh
        return dict(
            wall_s=wall,
            cpu_s=cpu,
            ok=not errors,
            error="; ".join(errors) or None,
            triples=report["_totals"]["triples"],
            layer={
                "io.catalog.files_written": nfiles,
                "io.catalog.stored_bytes_ratio": nbytes / self.input_bytes,
            },
        )

    def out_rows(self, res: dict) -> int:
        return res["triples"]

    # -- traced run only -----------------------------------------------
    def trace_extra(self, spark, tracer) -> tuple[dict, list[str]]:
        """Resume pass: re-run ``run_pipeline`` over pages + a recrawled
        batch on the last pass's warehouse; every stage verifies its
        batches and rewrites the changed ones. The result is checked
        like a build, against the sequential oracle over the same pages
        (latest crawl wins there too)."""
        import pandas as pd

        import tracing
        from easyner_spark.corpus import GAZETTEER, NEL_LOOKUP
        from easyner_spark.io.catalog import CheckpointCatalog
        from easyner_spark.oracle.pyoracle import run_oracle
        from easyner_spark.pipeline import run_pipeline

        wh = self.last_wh
        url_batch = dict(
            CheckpointCatalog(wh).read_stage(spark, "documents").select("url", "batch_id").collect()
        )
        delta = datagen.recrawl(self.pages_pdf, self.seed, url_batch, self.n_batches)
        delta_pdf = pd.concat([self.pages_pdf, delta])
        datagen.write_parquet(delta_pdf, self.delta_path)
        oracle = run_oracle(delta_pdf, GAZETTEER, NEL_LOOKUP)
        pages = spark.read.parquet(self.delta_path)
        with tracing.hooks(tracer), tracer.span(
            "run_pipeline_resume", "pipeline", kind="resume"
        ) as rec:
            run_pipeline(spark, pages, wh, n_batches=self.n_batches)
        return rec, [f"kg_resume: {e}" for e in self._oracle_errors(spark, wh, oracle)]


CURATION_QUERIES = [
    "dedup_minhash_pairs",
    "dedup_jaccard",
    "dedup_containment",
    "dedup_components",
    "dedup_embedding_cosine",
    "embed_lsh_buckets",
    "embed_knn_bruteforce",
    "doc_length_percentiles",
    "train_packing_manifest",
]


def query_pair(name: str):
    """(spark fn, oracle sql) from either registry."""
    from easyner_spark.queries import ORACLES, PENDING_R6, QUERIES

    if name in QUERIES:
        return QUERIES[name], ORACLES[name]
    return PENDING_R6[name]


class _TimedDuck:
    """A ``compare.duck_con`` connection that adds its life, open to
    close, to ``owner.oracle_s``: between the two ``compare_query`` runs
    only the oracle query and its fetch."""

    def __init__(self, open_con, sf_dir: str, owner):
        self._t0 = time.perf_counter()
        self._con, self._owner = open_con(sf_dir), owner

    def __getattr__(self, name):
        return getattr(self._con, name)

    def close(self) -> None:
        self._con.close()
        self._owner.oracle_s += time.perf_counter() - self._t0


class CurationQuery:
    """Nine curation queries (MinHash/LSH dedup, vector similarity,
    doc statistics), each materialized to the noop sink, in order."""

    name = "curation_query"
    n_docs = 2000
    n_vecs = 1000
    # timed passes follow the warm-up comparison
    cold = False
    query_names = CURATION_QUERIES

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "tables")
        self.setup_errors: list[str] = []

    def prepare(self, spark) -> None:
        from easyner_spark.compare import TABLES

        datagen.write_query_tables(self.sf_dir, self.seed, self.n_docs, self.n_vecs)
        # compare_query's DuckDB connection views every contract table;
        # the queries here read only documents/embeddings
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            if not os.path.exists(path):
                datagen.write_parquet(datagen.placeholder_table(), path)
        self._compare(spark)

    def _compare(self, spark) -> None:
        """The warm-up, which is also the once-per-process output check:
        each query against its DuckDB oracle via ``compare_query``, its
        Spark output rows counted as they are collected and its DuckDB
        side timed (``_TimedDuck``)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from easyner_spark import compare

        self.rows, self.oracle_s = 0, 0.0
        real_con = compare.duck_con
        compare.duck_con = lambda sf_dir: _TimedDuck(real_con, sf_dir, self)
        try:
            for q in self.query_names:
                fn, sql = query_pair(q)
                obs = Observation()

                def observed(spark, sf_dir, fn=fn, obs=obs):
                    return fn(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows"))

                diff = compare.compare_query(spark, self.sf_dir, q, observed, sql)
                if diff:  # the frame may not have run: no row count to read
                    self.setup_errors.append(diff)
                else:
                    self.rows += obs.get["rows"]
        finally:
            compare.duck_con = real_con

    def check_setup(self, spark) -> float:
        """The DuckDB side of the warm-up's comparison is oracle work,
        not set-up: its time is returned, and ``setup_s`` leaves it out."""
        return self.oracle_s

    def run_pass(self, spark, tracer=None) -> dict:
        def go():
            for q in self.query_names:
                span = (
                    tracer.span(q, "queries", kind="query")
                    if tracer
                    else contextlib.nullcontext()
                )
                with span:
                    fn, _sql = query_pair(q)
                    fn(spark, self.sf_dir).write.format("noop").mode("overwrite").save()

        _none, wall, cpu = _timed(go)
        return dict(wall_s=wall, cpu_s=cpu, ok=True, error=None, layer={})

    def out_rows(self, res: dict) -> int:
        return self.rows

    def trace_extra(self, spark, tracer):
        return None, []


WORKLOADS = {w.name: w for w in (KgBuild, CurationQuery)}
ALL_QUERY_NAMES = [q for w in WORKLOADS.values() for q in w.query_names]
