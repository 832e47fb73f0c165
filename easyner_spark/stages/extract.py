"""Stage 1 — deterministic text extraction: pages → documents.

Reference analog: the loaders (scripts/text_loader.py:6-24,
scripts/cord_loader.py:14-103) — line-strip + single-space join and a
deterministic id with sha256 fallback (cord_loader.py:82-83). Target
contract adds: input is a table of Common-Crawl-style pages and the
extracted ``text`` must be byte-identical per url (enforced by the
audit below).

Plan shape: pages are first deduplicated by url (last crawl wins —
re-crawled pages are routine at web scale and duplicate doc_ids would
corrupt every per-(doc_id, sent_idx) join downstream). The
pre-extracted branch (``text IS NOT NULL``) is PURE column ops — the
title probe is a JVM regexp, so the usually-dominant pass-through rows
never cross the Arrow boundary into Python; only the html-only branch
pays the pandas-UDF body-extraction cost, and the two branches are
unioned back.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..textops import extract_html


@F.pandas_udf(T.StringType())
def _extract_text_udf(html: pd.Series) -> pd.Series:
    return pd.Series(
        [extract_html(bytes(b))[1] if b is not None else "" for b in html]
    )


def _title_expr(html_col):
    """JVM-side <title> extraction: regexp probe + the common named
    entities + whitespace squash. Matches textops.extract_title for
    the entity set real titles use; exotic numeric entities fall back
    to their literal form (title is metadata, not part of the
    byte-identical-text contract)."""
    raw = F.decode(html_col, "UTF-8")
    t = F.regexp_extract(raw, r"(?is)<title[^>]*>(.*?)</title>", 1)
    for ent, ch in [
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&apos;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes like html.unescape
    ]:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def extract_documents(pages: DataFrame, n_batches: int = 64) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → documents.

    documents(doc_id, url, title, text, lang, warc_ts, batch_id):

    * only ``lang = 'en'`` pages are kept, filtered before the url
      dedup so a late crawl in another language cannot shadow an
      English one;
    * re-crawled urls keep the LATEST crawl (max warc_ts, then
      md5(html), then md5(text) tiebreaks) — doc_id is url-keyed, so
      exactly one row per url;
    * ``doc_id`` = sha2(url, 256) — deterministic, collision-safe id
      (reference fallback semantics, cord_loader.py:82-83, keyed by url
      because url is the page identity per the input contract);
    * ``text`` = pass-through when present (byte-identical per url),
      else deterministic extraction from ``html``;
    * ``batch_id`` = pmod(xxhash64(url), n_batches) — a stable lineage/
      partition key independent of task scheduling (replaces the
      reference's file-suffix batch id, scripts/splitter.py:72);
    * empty-text rows are dropped (reference drops empty abstracts,
      cord_loader.py:41-42, pubmed_bulk.py:114-116).
    """
    pages = pages.filter(F.col("lang") == "en")

    # hash-aggregate argmax, NOT a row_number window: groupBy gets
    # map-side PARTIAL aggregation, so with re-crawl duplicates the
    # shuffle carries one candidate row per url per map partition
    # (a window shuffles every row, then sorts each partition).
    # Ordering key is TOTAL (ts, html hash, text hash, lang) so the
    # winner is deterministic even for same-ts re-crawls.
    cols = pages.columns
    okey = F.struct(
        F.col("warc_ts").alias("ts"),
        F.md5(F.col("html")).alias("hh"),
        F.md5(F.col("text")).alias("th"),
        F.col("lang").alias("lg"),
    )
    pages = (
        pages.groupBy("url")
        .agg(F.max_by(F.struct(*cols), okey).alias("_r"))
        .select("_r.*")
    )

    base = pages.withColumn(
        "batch_id", F.pmod(F.xxhash64("url"), F.lit(n_batches)).cast("int")
    ).withColumn("doc_id", F.sha2(F.col("url"), 256)).withColumn(
        "title", _title_expr(F.col("html"))
    )

    passthrough = base.filter(F.col("text").isNotNull()).select(
        "doc_id", "url", "title", "text", "lang", "warc_ts", "batch_id"
    )
    extracted = (
        base.filter(F.col("text").isNull())
        .withColumn("text", _extract_text_udf("html"))
        .select("doc_id", "url", "title", "text", "lang", "warc_ts", "batch_id")
    )
    docs = passthrough.unionByName(extracted)
    return docs.filter(F.length("text") > 0)


def audit_hashes(documents: DataFrame) -> DataFrame:
    """Per-partition audit of the byte-identical-text invariant.

    audit(batch_id, n_docs, text_hash_sum, text_hash_xor): order-
    insensitive fold of xxhash64(url, text) per batch. Both a decimal
    SUM and a bit_xor are kept — xor alone cancels even multisets of
    differences, sum alone misses sign-symmetric swaps; together a
    divergence needs an engineered collision. xxhash64 over the two
    columns directly hashes NULLs distinctly (no concat_ws null
    blindness). Two runs (or engine vs oracle) over the same pages must
    agree per batch; disagreement pinpoints the diverged partition
    (SURVEY.md §4 custom-work item 3).
    """
    h = F.xxhash64(F.col("url"), F.col("text"))
    return (
        documents.select("batch_id", h.alias("h"))
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("h").cast("decimal(38,0)")).alias("text_hash_sum"),
            F.expr("bit_xor(h)").alias("text_hash_xor"),
        )
    )
