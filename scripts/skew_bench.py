"""Skew evidence: LSH hot-bucket salting bounds candidate-pair fan-out.

Boilerplate pages (or canonical-entity aliases) that share one MinHash
signature all land in one LSH band bucket — the self-join over that
bucket is quadratic. ``lsh_candidate_pairs(max_bucket=K)`` salts hot
buckets into sub-buckets of at most K, turning the hot bucket's
quadratic blow-up into ~cnt/K groups of ≤K² pairs (a recall trade:
cross-sub-bucket pairs are dropped; connected components re-merge the
survivors transitively).

This script builds a deliberately skewed entity table — one hot alias
family holding ``--hot-frac`` of all rows plus a uniform tail — and
measures candidate-pair counts and wall time with salting off
(max_bucket = table size) vs on (max_bucket 256). Prints one JSON line.

Usage: python scripts/skew_bench.py [--n 20000] [--hot-frac 0.3]
       [--max-bucket 256]
(NOTE: the unsalted pass is quadratic in n*hot_frac — 20k is ~19 s on
this VM; 200k would be a multi-hour blow-up.)

``--asof`` instead measures the as-of join hot-KEY case: one key
holding --hot-frac of all left rows concentrates its whole timeline in
a single window task (the straggler); ``asof_join(salt=S)`` splits the
hot key's left rows across S sub-partitions with the right timeline
replicated (exact). Usage:
       python scripts/skew_bench.py --asof [--n 4000000]
       [--hot-frac 0.9] [--salt 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def asof_main(args) -> None:
    from easyner_spark.ops.asof import asof_join
    from easyner_spark.session import get_spark

    spark = get_spark(app_name="skew_bench_asof")
    n_hot = int(args.n * args.hot_frac)
    n_keys = 1000
    # left: one hot key (key 0) with n_hot rows, tail spread over keys
    left = spark.range(args.n).select(
        F.when(F.col("id") < n_hot, F.lit(0))
        .otherwise(1 + F.pmod(F.xxhash64("id"), F.lit(n_keys - 1)))
        .cast("int")
        .alias("k"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(10**9)).alias("ts"),
        F.col("id").alias("lid"),
    ).persist()
    left.count()
    # right: modest per-key timeline (the quote/state side)
    right = spark.range(n_keys * 200).select(
        F.pmod(F.col("id"), F.lit(n_keys)).cast("int").alias("k"),
        F.pmod(F.xxhash64("id", F.lit(13)), F.lit(10**9)).alias("ts"),
        (F.col("id") % 97).cast("double").alias("val"),
    ).persist()
    right.count()

    out: dict = {"mode": "asof", "n_left": args.n, "n_hot": n_hot,
                 "n_right": n_keys * 200, "salt": args.salt}
    for label, s in (("unsalted", None), ("salted", args.salt)):
        best = None
        for _ in range(2):  # min-of-2: VM scheduler spikes
            t0 = time.time()
            asof_join(left, right, on="k", salt=s).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        out[label] = {"sec": round(best, 2)}
    out["speedup"] = round(out["unsalted"]["sec"] / out["salted"]["sec"], 2)
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    # defaults are None so an explicitly-passed value is never mistaken
    # for "use the per-mode default" (the two modes default differently)
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--hot-frac", type=float, default=None)
    ap.add_argument("--max-bucket", type=int, default=256)
    ap.add_argument("--asof", action="store_true")
    ap.add_argument("--salt", type=int, default=32)
    args = ap.parse_args()

    if args.asof:
        args.n = args.n if args.n is not None else 4_000_000
        args.hot_frac = args.hot_frac if args.hot_frac is not None else 0.9
        asof_main(args)
        return
    args.n = args.n if args.n is not None else 20_000
    args.hot_frac = args.hot_frac if args.hot_frac is not None else 0.3

    from easyner_spark.session import get_spark
    from easyner_spark.stages.canonical import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    spark = get_spark(app_name="skew_bench")
    n_hot = int(args.n * args.hot_frac)
    # hot family: identical name -> identical signature -> one bucket;
    # tail: unique names spread across buckets
    ents = spark.range(args.n).select(
        F.concat(F.lit("E"), F.col("id")).alias("ent_id"),
        F.when(F.col("id") < n_hot, F.lit("acute respiratory syndrome"))
        .otherwise(F.concat(F.lit("entity name variant "), F.col("id")))
        .alias("name"),
    )
    sigs = minhash_signatures(ents).persist()
    sigs.count()

    out: dict = {"n": args.n, "n_hot": n_hot}
    for label, cap in (("unsalted", args.n + 1), ("salted", args.max_bucket)):
        t0 = time.time()
        pairs = lsh_candidate_pairs(sigs, max_bucket=cap).count()
        out[label] = {"pairs": pairs, "sec": round(time.time() - t0, 2)}
    out["fanout_reduction"] = round(
        out["unsalted"]["pairs"] / max(out["salted"]["pairs"], 1), 1
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
