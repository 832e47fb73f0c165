"""Stage 6 — entity-frequency analysis aggregates.

Reference analog: scripts/analysis.py:29-120 — a sequential dict
accumulation producing, per surface form (and per linked id):
total_count, articles_set, batch_set, batch_count (per-batch map),
articles_spanned, batches_spanned, freq_per_article, freq_per_batch,
sorted descending by total_count. The DESC ranking is the contract
item ("identical entity-frequency rankings").

Spark shape: one two-level aggregation per table, over ``linked``.
Level 1 groups by (key, doc_id, batch_id) and counts — a codegen hash
aggregate whose exchange carries one row per (key, doc). Level 2 folds
those rows into one row per key with no distinct aggregate, no join
and no sort. The tables carry no row order (parquet keeps none):
readers rank by (total_count desc, key).

Kept from the reference: every count and the sorted '; '-joined
batch_set (the reference joins Python sets, analysis.py:103-104 —
nondeterministic order; we sort). Dropped: ``articles_set`` and the
``batch_count`` map — per-key doc_id arrays are unbounded for
stopword-like surfaces at web scale, and no stored table kept either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_STATS = (
    "total_count",
    "articles_spanned",
    "batches_spanned",
    "freq_per_article",
    "freq_per_batch",
    "batch_set",
)


def _fold(per_doc: DataFrame, key: str, *carry: Column) -> DataFrame:
    """Level 2: (key, doc_id, batch_id, cnt) rows → one stats row per
    key, plus the ``carry`` aggregates. batch_id and doc_id both derive
    from the url (stages/extract.py), so (key, doc_id) is unique in
    ``per_doc`` and count(*) is the exact distinct-article count."""
    return (
        per_doc.groupBy(key)
        .agg(
            F.sum("cnt").alias("total_count"),
            F.count("*").alias("articles_spanned"),
            F.sort_array(F.collect_set("batch_id")).alias("_batches"),
            *carry,
        )
        .withColumn("batches_spanned", F.size("_batches").cast("bigint"))
        .withColumn(
            "freq_per_article", F.col("total_count") / F.col("articles_spanned")
        )
        .withColumn("freq_per_batch", F.col("total_count") / F.col("batches_spanned"))
        .withColumn("batch_set", F.array_join("_batches", "; "))
    )


def entity_frequency(linked: DataFrame) -> DataFrame:
    """Per-surface frequency table (analysis.py:29-66)."""
    per_doc = linked.groupBy("surface", "doc_id", "batch_id").agg(
        F.count("*").alias("cnt")
    )
    return _fold(per_doc, "surface").select("surface", *_STATS)


def id_frequency(linked: DataFrame) -> DataFrame:
    """Per-ent_id table (analysis.py:68-89,110-120), with the id's
    name (``min(ent_name)``, as the contract oracle takes it) and its
    sorted distinct surfaces.

    The reference's freq_per_article for ids divides by the SURFACE
    table's spans (analysis.py:117-118) — a known bug we do not
    replicate (SURVEY.md §2.4 A3); rankings are unaffected.
    """
    per_doc = linked.groupBy("ent_id", "doc_id", "batch_id").agg(
        F.count("*").alias("cnt"),
        F.min("ent_name").alias("name"),
        F.collect_set("surface").alias("surfaces"),
    )
    return _fold(
        per_doc,
        "ent_id",
        F.min("name").alias("name"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("surfaces")))).alias(
            "_surfaces"
        ),
    ).select(
        "ent_id",
        "name",
        *_STATS,
        F.array_join("_surfaces", "; ").alias("entities_list"),
    )
