"""Per-stage profile of the fused KG chain (r4 verdict ask #5).

Reproduces the controlled fused-KG floor measurement (40k docs,
session.get_spark's default local[$SPARK_GRAFT_CPUS] — all cores when
unset — warm session, min-of-N) and then attributes the wall time to
stages by progressive materialization: each cut materializes the chain
up to stage k with a noop write, so stage cost = T_k - T_{k-1} (the
fused DAG recomputes upstream per cut — deltas, not absolutes, carry
the signal; the persist()-based fused run is what the floor itself
measures).

Usage: python scripts/kg_floor_profile.py [--docs 40000] [--passes 4]
Prints one JSON report; paste the numbers into BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import vm_microbench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=40000)
    ap.add_argument("--passes", type=int, default=4)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from easyner_spark.corpus import GAZETTEER, pages_df
    from easyner_spark.pipeline import fused_kg_triples, nel_lookup_frame
    from easyner_spark.session import get_spark
    from easyner_spark.stages.extract import extract_documents
    from easyner_spark.stages.nel import link_entities
    from easyner_spark.stages.ner_dict import dict_ner
    from easyner_spark.stages.split import split_documents
    from easyner_spark.stages.triples import cooccurrence_triples

    micro_before = vm_microbench()
    spark = get_spark(app_name="kg_floor_profile")
    cpus = spark.sparkContext.defaultParallelism
    pages = pages_df(spark, n_docs=args.docs, n_partitions=cpus * 4).persist()
    pages.count()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-up: codegen + python worker pool
    fused_kg_triples(pages.limit(1000), n_batches=64)

    # --- the floor: min-of-N fused passes ---
    fused = []
    n_triples = 0
    for _ in range(args.passes):
        t0 = time.time()
        n_triples = fused_kg_triples(pages, n_batches=64)
        fused.append(round(time.time() - t0, 2))

    # --- progressive cuts (min-of-2 each; deltas = per-stage cost) ---
    def timed(build, reps=2) -> float:
        best = None
        for _ in range(reps):
            t0 = time.time()
            build()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 2)

    cuts: dict[str, float] = {}
    docs = extract_documents(pages, n_batches=64)
    cuts["extract"] = timed(lambda: noop(docs))
    sents = split_documents(docs)
    cuts["extract+split"] = timed(lambda: noop(sents))
    mentions = dict_ner(sents, GAZETTEER)
    cuts["extract+split+ner"] = timed(lambda: noop(mentions))

    # NEL measured over a PERSISTED mentions frame (as the fused run
    # does): its mint path has multiple consumers of mentions
    mp = mentions.persist()
    mp.count()
    linked, _ = link_entities(mp, nel_lookup_frame(spark))
    t_linked = timed(lambda: noop(linked))
    lp = linked.persist()
    lp.count()
    sp = sents.persist()
    sp.count()
    t_triples = timed(lambda: cooccurrence_triples(lp, sp).count())
    for df in (mp, lp, sp):
        df.unpersist()

    micro_after = vm_microbench()
    chars = docs.agg(F.sum(F.length("text")).alias("c")).first()["c"]
    report = {
        "docs": args.docs,
        "chars": int(chars),
        "cpus": cpus,
        "triples": n_triples,
        "fused_passes_s": fused,
        "fused_min_s": min(fused),
        "chars_per_sec": round(chars / min(fused), 1),
        "cuts_s": cuts,
        "stage_deltas_s": {
            "extract": cuts["extract"],
            "split": round(cuts["extract+split"] - cuts["extract"], 2),
            "ner": round(cuts["extract+split+ner"] - cuts["extract+split"], 2),
            "nel_link_from_persisted_mentions": t_linked,
            "triples_from_persisted_linked": t_triples,
        },
        "vm_microbench_s": {"before": micro_before, "after": micro_after},
    }
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
