"""KG-construction benchmark — one workload per invocation.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root (the engine is imported from the working
directory). Each invocation is one fresh driver process with one Spark
session on ``local[<cores>]``: set-up (session start, seeded inputs,
the workload's warm-up if it has one), the once-per-process oracle
check (outside ``setup_s``), then closed-loop timed passes until
``--seconds`` have elapsed, or after one pass where the workload times
its cold first pass (a started pass always finishes), each checked
outside its timed window.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts the
session with the Spark event log on, runs the same untraced passes
(for a workload that times its cold first pass, then a warm untraced
one), then the same passes again with spans around the engine calls,
folds the log into per-layer metrics and prints those (plus the
tracing overhead: traced minus warm untraced pass wall time). Spans and folds are written to
``.bench_traces/``. The last stdout line is the JSON result; the line
before it carries run metadata (pass walls, error rate, VM stamps).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import proctree

DRIVER_MEM = "4g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "output_rows_per_s": "rows/s",
}


def per_layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    if name.endswith(".rows"):
        return "rows"
    return "count"


def start_session(work: str, event_dir: str | None = None):
    from easyner_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )


def measure(wl, spark, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: one pass at a time until ``seconds`` have elapsed; a
    workload that times its cold first pass stops after one."""
    passes = []
    deadline = time.perf_counter() + seconds
    while True:
        mark = len(tracer.spans) if tracer else 0
        try:
            res = wl.run_pass(spark, tracer)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
            res = {"ok": False, "error": f"{type(e).__name__}: {e}", "wall_s": None}
        res["spans"] = (mark, len(tracer.spans) if tracer else 0)
        passes.append(res)
        if time.perf_counter() >= deadline or wl.cold:
            return passes


def median_of(passes: list[dict], key: str) -> float:
    """Median over the passes that completed (a pass that failed only
    its output check still has valid timings)."""
    return statistics.median(p[key] for p in passes if p["wall_s"] is not None)


def jvm_microbench(spark) -> float:
    """The JVM window-quality stamp (bench.py's single-task codegen'd
    range sum), one sample."""
    t0 = time.perf_counter()
    spark.range(0, 1_000_000_000, 1, 1).selectExpr("sum(id) AS s").collect()
    return time.perf_counter() - t0


def traced_phase(wl, spark, event_dir: str, seconds: float, untraced_wall: float):
    """After the untraced passes, in the same event-logged session: the
    traced passes and the workload's extra traced passes; stops the
    session and folds its event log. Returns (per-layer metrics, errors,
    trace record, JVM stamp)."""
    import tracing

    tracer = tracing.Tracer(spark.sparkContext)
    with tracing.hooks(tracer):
        passes = measure(wl, spark, seconds, tracer)
    extra_rec, errors = wl.trace_extra(spark, tracer)
    errors += [p["error"] for p in passes if not p["ok"]]
    jvm = jvm_microbench(spark)
    spark.stop()
    lines = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            lines.extend(f)
    fold = tracing.fold_event_log(lines)

    def layers(lo: int, hi: int) -> dict:
        return tracing.layer_metrics(tracer.spans[lo:hi], fold, wl.query_names)

    per_pass = [
        {**layers(*p["spans"]), **p["layer"]} for p in passes if p["wall_s"] is not None
    ]
    metrics = {
        k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]
    } if per_pass else {}
    if extra_rec is not None:
        resume = layers(extra_rec["id"], len(tracer.spans))
        for k in ("verify_s", "batches_verified", "batches_rewritten", "rewrite_ratio"):
            metrics[f"io.catalog.{k}"] = resume[f"io.catalog.{k}"]
    traced_wall = median_of(passes, "wall_s") if per_pass else 0.0
    metrics["tracing.wall_s"] = traced_wall
    metrics["tracing.overhead_s"] = traced_wall - untraced_wall
    record = {
        "spans": tracer.spans,
        "fold": fold,
        "passes": [{k: v for k, v in p.items() if k != "layer"} for p in passes],
    }
    return metrics, errors, record, jvm


def run(wl, args, work: str) -> tuple[dict, dict]:
    import tracing
    from bench import vm_microbench
    from workloads import ALL_QUERY_NAMES

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = start_session(work, event_dir)
    wl.prepare(spark)
    setup_s = time.perf_counter() - t0
    oracle_s = wl.check_setup(spark)
    setup_s -= oracle_s

    passes = measure(wl, spark, args.seconds)
    errors = list(wl.setup_errors) + [p["error"] for p in passes if not p["ok"]]
    timed = [p for p in passes if p["wall_s"] is not None]
    attempted = len(passes)
    failed = sum(not p["ok"] for p in passes)
    meta = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "pass_wall_s": [p["wall_s"] for p in passes],
        # process-tree CPU per pass: kept as metadata, not a metric — it
        # did not repeat within a tenth across runs (README)
        "pass_cpu_s": [p.get("cpu_s") for p in passes],
        "error_rate": failed / attempted,
        "setup_oracle_s": oracle_s,
        "errors": errors,
    }
    if not timed:
        raise RuntimeError(f"every pass raised: {errors}")
    wall = median_of(passes, "wall_s")
    if args.trace:
        # the traced pass is warm: after a cold timed pass, one warm
        # untraced pass is its reference for tracing.overhead_s
        ref = passes
        if wl.cold:
            ref = measure(wl, spark, args.seconds)
            errors += [p["error"] for p in ref if not p["ok"]]
            meta["ref_pass_wall_s"] = [p["wall_s"] for p in ref]
        layer, t_errors, record, jvm = traced_phase(
            wl, spark, event_dir, args.seconds, median_of(ref, "wall_s")
        )
        errors += t_errors
        # every declared name in every traced run: layers a workload
        # does not reach read 0
        metrics = {
            name: {"value": layer.get(name, 0), "unit": per_layer_unit(name)}
            for name in tracing.per_layer_names(ALL_QUERY_NAMES)
        }
    else:
        jvm = jvm_microbench(spark)
        metrics = {
            "setup_s": setup_s,
            "wall_s": wall,
            "output_rows_per_s": wl.out_rows(timed[0]) / wall,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
        record = None
        spark.stop()
    meta.update(jvm_microbench_s=jvm, vm_microbench_s=vm_microbench())
    if record is not None:
        out_dir = os.path.join(os.getcwd(), ".bench_traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json"), "w") as f:
            json.dump({"meta": meta, "metrics": metrics, **record}, f, default=str)
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return meta, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, help="kg_build input size (default 300)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import easyner_spark  # noqa: F401
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {root}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.pages and args.workload != "kg_build":
        print("perfbench: --pages applies to kg_build only", file=sys.stderr)
        return 2
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    # fixed, whatever the caller's environment (README, "Driver memory")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    kw = {"n_pages": args.pages} if args.pages else {}
    try:
        meta, result = run(WORKLOADS[args.workload](work, args.seed, **kw), args, work)
    finally:
        proctree.stop_descendants()  # the JVM and its Python workers
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"perfbench": meta}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
