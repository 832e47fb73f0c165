"""Multi-run entity merge (J2) + span conflict resolution (J3).

Reference analogs:
* J2 — scripts/entity_merger.py:40-65 zips two NER-run outputs by
  article/sentence position and unions per-class entity lists. In the
  normalized mentions-table model this is literally UNION ALL of
  mention rows carrying a ``class`` column (SURVEY.md §2.3).
* J3 — supplementary/experiment_scripts/entity_merger2.py:86-146 sorts
  merged mentions by (start, end) and removes (a) identical spans by
  class priority {chemical:1, disease:2, species:3, gene:4, cell:5}
  (line 116), (b) spans fully contained in another (127-131), (c) the
  shorter of two partially-overlapping spans (134-139).

The conflict sweep is inherently per-sentence imperative logic → the
one place this engine uses ``applyInPandas`` (grouped map). Sentences
with a single mention can never conflict, so they BYPASS the grouped
shuffle entirely (window-count prefilter) — at web scale the
overwhelming majority of sentences take the cheap path.
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

PRIORITY = {"chemical": 1, "disease": 2, "species": 3, "gene": 4, "cell": 5}


def merge_mention_runs(*mention_dfs: DataFrame) -> DataFrame:
    """U2/J2: union the mention tables of several NER runs (one per
    entity class / model). Column sets must agree (unionByName)."""
    if not mention_dfs:
        raise ValueError("no mention tables to merge")
    return reduce(lambda a, b: a.unionByName(b), mention_dfs)


def resolve_conflicts_py(
    rows: list[tuple[str, int, int, str]],
) -> list[tuple[str, int, int, str]]:
    """Pure sweep over one sentence's mentions — reference algorithm
    (entity_merger2.py:99-146) re-expressed deterministically.

    ``rows`` = [(surface, begin, end_inclusive, class)]; returns the
    surviving rows sorted by (begin, end). The reference scans i from
    the END of the (start, end)-sorted list and deletes i when any j
    dominates it; we keep exactly that rule.
    """
    items = sorted(rows, key=lambda r: (r[1], r[2]))
    i = len(items) - 1
    while i >= 0:
        si, ei = items[i][1], items[i][2]
        for j in range(len(items)):
            if i == j:
                continue
            sj, ej = items[j][1], items[j][2]
            same_span = (si, ei) == (sj, ej)
            if same_span and items[i][3] != items[j][3]:
                # identical span, different class → lower priority loses
                if PRIORITY.get(items[i][3], 99) > PRIORITY.get(items[j][3], 99):
                    del items[i]
                    break
            elif not same_span and si >= sj and ei <= ej:
                # fully contained → contained span loses
                del items[i]
                break
            elif (si < sj and ei > sj and ei < ej) or (
                si > sj and si < ej and ei > ej
            ):
                # partial overlap → shorter surface loses
                if len(items[i][0]) < len(items[j][0]):
                    del items[i]
                    break
        i -= 1
    return items


def resolve_conflicts(mentions: DataFrame) -> DataFrame:
    """J3 over the mentions table → conflict-free mentions with
    re-assigned ``mention_idx`` (position in (begin, end) order).

    Plan: singleton sentences (one mention) bypass the grouped-map
    shuffle; only multi-mention sentences go through applyInPandas.
    """
    cols = [
        "doc_id",
        "batch_id",
        "sent_idx",
        "mention_idx",
        "surface",
        "begin",
        "end",
        "class",
        "source",
    ]
    m = mentions.select(*cols)
    w = Window.partitionBy("doc_id", "sent_idx")
    m = m.withColumn("_n", F.count("*").over(w))
    singles = m.filter(F.col("_n") == 1).drop("_n")
    multis = m.filter(F.col("_n") > 1).drop("_n")

    schema = m.drop("_n").schema

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        out_frames = []
        for (_, _), grp in pdf.groupby(["doc_id", "sent_idx"], sort=False):
            rows = list(
                zip(grp["surface"], grp["begin"], grp["end"], grp["class"])
            )
            survive = set(resolve_conflicts_py(rows))
            keep = grp[
                [
                    (s, b, e, c) in survive
                    for s, b, e, c in zip(
                        grp["surface"], grp["begin"], grp["end"], grp["class"]
                    )
                ]
            ]
            out_frames.append(keep)
        if not out_frames:
            return pdf.iloc[0:0]
        return pd.concat(out_frames)

    resolved = multis.groupBy("doc_id", "sent_idx").applyInPandas(sweep, schema)
    out = singles.unionByName(resolved)
    w2 = Window.partitionBy("doc_id", "sent_idx").orderBy("begin", "end", "class")
    return out.withColumn("mention_idx", F.row_number().over(w2) - 1)
