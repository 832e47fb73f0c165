"""Extra benchmarks for the optimization round (guide §1.4): per-query
noop-sink isolation, repeatable subsets, and .explain("formatted") plan
capture — WITHOUT touching the frozen bench.py / its methodology.

Usage:
    python bench_extra.py [--repeats N] [--explain-dir DIR] [--sf DIR]
                          [--kg] name [name ...]
    python bench_extra.py --all            # every registered query

Prints one JSON line: {"queries": {name: min_sec}, "samples": {...},
"sf": ..., "cpus": ..., "vm_microbench_s": ..., "jvm_microbench_s": ...}.
Timing methodology matches bench.py: noop sink, min of N runs. The
session is session.get_spark's default: local[$SPARK_GRAFT_CPUS] (all
cores when unset), shuffle partitions = cores.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-only", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--kg", action="store_true", help="also run the fused KG pipeline")
    ap.add_argument("--kg-docs", type=int, default=int(os.environ.get("SPARK_GRAFT_KG_DOCS", "40000")))
    args = ap.parse_args()

    import bench as _bench
    from easyner_spark.queries import QUERIES
    from easyner_spark.session import get_spark

    names = list(QUERIES) if args.all else args.names
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="easyner_bench_extra")
    cpus = str(spark.sparkContext.defaultParallelism)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)

    results: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name in names:
        fn = QUERIES[name]
        if args.explain_dir:
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(fn(spark, args.sf)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                ))
        if args.explain_only:
            continue
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        best = None
        ss: list[float] = []
        for _ in range(args.repeats):
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            ss.append(round(dt, 3))
            best = dt if best is None or dt < best else best
        spark.sparkContext.setJobDescription(None)
        results[name] = round(best, 3)
        samples[name] = ss

    if args.kg and not args.explain_only:
        kg = _bench.kg_pipeline(spark, cpus, args.kg_docs)
        results["kg_pipeline_synthetic"] = round(kg["sec"], 3)

    print(json.dumps({
        "queries": results,
        "samples": samples,
        "sf": args.sf,
        "cpus": cpus,
        "vm_microbench_s": _bench.vm_microbench(),
        "jvm_microbench_s": _bench.jvm_microbench(spark),
    }))


if __name__ == "__main__":
    main()
