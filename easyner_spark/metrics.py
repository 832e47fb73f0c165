"""Evaluation metrics — entity-level P/R/F1 with offset tolerance and
IOB2 token-level scores.

Reference analogs:
* J4/A7 — supplementary/experiment_scripts/
  evaluate_ner_pubtatorformat.py:234-246 (a gold span matches a
  predicted span when both offsets agree within ±offset_stride — the
  9-candidate-offset check) and :380-498 (micro / macro / weighted
  P/R/F1 per entity class).
* A8 — scripts/metrics.py:10-35 (seqeval token-level report over IOB2
  streams; seqeval is not in this image, so span extraction +
  P/R/F1 are computed directly — same definition: exact-span match).

The span-tolerance join is a THETA/BAND JOIN in Spark (equi keys on
(doc_id, class) + BETWEEN band predicates), FP/FN are left-anti joins
(SURVEY.md §2.6 note).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, Window as W, functions as F


def entity_level_pr(
    pred: DataFrame,
    gold: DataFrame,
    tolerance: int = 1,
) -> DataFrame:
    """→ per-class (tp, fp, fn, precision, recall, f1) + micro/macro rows.

    ``pred``/``gold``: mentions tables with (doc_id, begin, end, class).
    A pred matches a gold iff same (doc_id, class) and both offsets are
    within ±tolerance (reference: ±offset_stride candidate offsets).
    """
    # value-derived row ids, NOT monotonically_increasing_id: mii is not
    # stable under task retry/recomputation, so tp_p counted from one
    # materialization could disagree with n_pred from another. A
    # row_number keyed on the span values (duplicate spans disambiguated
    # deterministically) gives the same id on every recomputation.
    wp = W.partitionBy("doc_id", "class").orderBy("pb", "pe")
    p = pred.select(
        "doc_id", "class", F.col("begin").alias("pb"), F.col("end").alias("pe")
    ).withColumn("pid", F.row_number().over(wp))
    wg = W.partitionBy("doc_id", "class").orderBy("gb", "ge")
    g = gold.select(
        "doc_id", "class", F.col("begin").alias("gb"), F.col("end").alias("ge")
    ).withColumn("gid", F.row_number().over(wg))

    band = (
        (F.col("pb") >= F.col("gb") - tolerance)
        & (F.col("pb") <= F.col("gb") + tolerance)
        & (F.col("pe") >= F.col("ge") - tolerance)
        & (F.col("pe") <= F.col("ge") + tolerance)
    )
    matches = p.join(g, ["doc_id", "class"]).filter(band)

    # pid/gid are per-(doc_id, class) row numbers → doc_id is part of the key
    tp_pred = matches.select("class", "doc_id", "pid").distinct()
    tp_gold = matches.select("class", "doc_id", "gid").distinct()
    per_class = (
        tp_gold.groupBy("class").agg(F.count("*").alias("tp"))
        .join(
            p.groupBy("class").agg(F.count("*").alias("n_pred")), "class", "full"
        )
        .join(
            g.groupBy("class").agg(F.count("*").alias("n_gold")), "class", "full"
        )
        .join(
            tp_pred.groupBy("class").agg(F.count("*").alias("tp_p")), "class", "full"
        )
        .fillna(0, ["tp", "n_pred", "n_gold", "tp_p"])
    )
    out = per_class.select(
        "class",
        F.col("tp").alias("tp"),
        (F.col("n_pred") - F.col("tp_p")).alias("fp"),
        (F.col("n_gold") - F.col("tp")).alias("fn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(0.0)
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(0.0)
    out = out.withColumn("precision", prec).withColumn("recall", rec)
    f1 = F.when(
        F.col("precision") + F.col("recall") > 0,
        2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
    ).otherwise(0.0)
    return out.withColumn("f1", f1)


def pr_summary(per_class: DataFrame) -> dict:
    """Micro (summed counts), macro (mean of per-class), weighted
    (gold-count-weighted) P/R/F1 — reference A7 definitions."""
    rows = per_class.collect()
    if not rows:
        return {}
    tp = sum(r["tp"] for r in rows)
    fp = sum(r["fp"] for r in rows)
    fn = sum(r["fn"] for r in rows)
    micro_p = tp / (tp + fp) if tp + fp else 0.0
    micro_r = tp / (tp + fn) if tp + fn else 0.0
    micro_f = 2 * micro_p * micro_r / (micro_p + micro_r) if micro_p + micro_r else 0.0
    macro_p = sum(r["precision"] for r in rows) / len(rows)
    macro_r = sum(r["recall"] for r in rows) / len(rows)
    macro_f = sum(r["f1"] for r in rows) / len(rows)
    gold_n = {r["class"]: r["tp"] + r["fn"] for r in rows}
    total_gold = sum(gold_n.values()) or 1
    weighted_f = sum(r["f1"] * gold_n[r["class"]] for r in rows) / total_gold
    return {
        "micro": {"precision": micro_p, "recall": micro_r, "f1": micro_f},
        "macro": {"precision": macro_p, "recall": macro_r, "f1": macro_f},
        "weighted_f1": weighted_f,
    }


# --------------------------- IOB2 token metrics -----------------------------


def iob2_spans(tags: list[str]) -> set[tuple[int, int, str]]:
    """Extract (start, end_exclusive, class) spans from an IOB2 tag
    sequence (seqeval-compatible span definition)."""
    spans = set()
    start, cls = None, None
    for i, tag in enumerate(tags + ["O"]):
        if tag.startswith("B-"):
            if start is not None:
                spans.add((start, i, cls))
            start, cls = i, tag[2:]
        elif tag.startswith("I-") and start is not None and tag[2:] == cls:
            continue
        else:
            if start is not None:
                spans.add((start, i, cls))
            start, cls = None, None
            if tag.startswith("I-"):  # orphan I- treated as new span (seqeval default is lenient)
                start, cls = i, tag[2:]
    return spans


def iob2_report(
    pred_seqs: list[list[str]], gold_seqs: list[list[str]]
) -> dict[str, dict[str, float]]:
    """Per-class + micro P/R/F1 over IOB2 sequences (A8 analog)."""
    if len(pred_seqs) != len(gold_seqs):
        raise ValueError("pred/gold sequence counts differ")
    tp: dict[str, int] = defaultdict(int)
    fp: dict[str, int] = defaultdict(int)
    fn: dict[str, int] = defaultdict(int)
    for ps, gs in zip(pred_seqs, gold_seqs):
        if len(ps) != len(gs):
            raise ValueError("token streams misaligned")  # metrics.py:16-33 zip error
        p_spans, g_spans = iob2_spans(ps), iob2_spans(gs)
        for s in p_spans & g_spans:
            tp[s[2]] += 1
        for s in p_spans - g_spans:
            fp[s[2]] += 1
        for s in g_spans - p_spans:
            fn[s[2]] += 1
    report = {}
    classes = sorted(set(tp) | set(fp) | set(fn))
    for c in classes + ["micro"]:
        if c == "micro":
            t, f_p, f_n = sum(tp.values()), sum(fp.values()), sum(fn.values())
        else:
            t, f_p, f_n = tp[c], fp[c], fn[c]
        p = t / (t + f_p) if t + f_p else 0.0
        r = t / (t + f_n) if t + f_n else 0.0
        f = 2 * p * r / (p + r) if p + r else 0.0
        report[c] = {"precision": p, "recall": r, "f1": f, "support": t + f_n}
    return report
