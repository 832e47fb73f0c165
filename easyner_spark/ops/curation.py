"""Corpus-curation column functions: PII detection and scrubbing.

A web-scale training-data pipeline screens every document for
personally-identifiable information before the text enters a training
shard (the reference repo ingests PubMed abstracts and never faces
this; new-in-target, mandated by the web tier alongside the quality /
dedup / contamination operators).

Everything is a pure JVM ``Column`` chain — `regexp_count` /
`regexp_replace` run inside whole-stage codegen, no Python on the row
path, so the screen adds a narrow map stage to any scan. The synthetic
driver corpus is PII-free word-soup, so these are pytest-verified on
crafted strings rather than oracle-gated (a driver query over that
corpus would trivially count zeros and pin nothing).

Pattern notes (deliberately conservative):
* email — local@domain.tld with a 2+ letter TLD;
* ipv4 — four 1-3 digit octets, word-bounded (no range check: a
  curation screen prefers false positives over leaks);
* ssn — the hyphenated 3-2-4 US form only;
* phone — one of four anchored shapes: an E.164-style +7-15 digit
  run; a HYPHEN-separated three-group form (2-4 / 3-4 / 3-4 digits,
  both separators hyphens); a paren-led form ("(555) 123-4567", any
  of "-. " between groups); or a dot/space-separated form whose FINAL
  group is exactly 4 digits ("555 123 4567", "555.123.4567") — the
  discriminator that keeps spaced/dotted thousands out: "1 000 000",
  "10 000 000" and "12.345.678" end in a 3-digit group, phones end in
  4. Year ranges ("1914-1918"), decimals ("3.1415926") and SSNs (the
  3-2-4 shape) also never match; a digit lookbehind/lookahead stops
  mid-number matches inside longer digit runs. Residual accepted
  false positive: a dotted/spaced number whose last group really has
  4 digits ("12.345.6789") — prefer-false-positives posture.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": (
        r"(\+[0-9]{7,15}\b"
        r"|(?<![0-9])\(?\+?[0-9]{2,4}\)?-[0-9]{3,4}-[0-9]{3,4}\b"
        r"|(?<![0-9])\+?\([0-9]{2,4}\)[-. ]?[0-9]{3,4}[-. ][0-9]{3,4}\b"
        r"|(?<![0-9])[0-9]{2,4}[. ][0-9]{3,4}[. ][0-9]{4}(?![0-9]))"
    ),
}

# scrub order matters: specific → general, so an SSN is tagged [SSN]
# before the looser phone pattern can claim its digits
_SCRUB_ORDER = ("email", "ipv4", "ssn", "phone")


def pii_counts(text: Column) -> list[Column]:
    """Per-category match counts, one ``<cat>_n`` column each plus a
    ``pii_total`` — the screening signal a curation pipeline thresholds
    or routes on (drop / scrub / quarantine)."""
    counts = {
        cat: F.regexp_count(text, F.lit(pat)).cast("bigint")
        for cat, pat in PII_PATTERNS.items()
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return [c.alias(f"{cat}_n") for cat, c in counts.items()] + [
        total.cast("bigint").alias("pii_total")
    ]


def scrub_pii(text: Column) -> Column:
    """Replace every PII match with a typed placeholder (``[EMAIL]``,
    ``[IPV4]``, ``[SSN]``, ``[PHONE]``) — the redaction variant used
    when the document is kept. Chained JVM regexp_replace, one narrow
    projection."""
    out = text
    for cat in _SCRUB_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[cat], f"[{cat.upper()}]")
    return out


def screen_documents(df):
    """documents → documents + per-category counts + pii_total +
    scrubbed ``text``. The full-screen projection a pipeline appends
    before sharding; pure JVM, no shuffle."""
    text = F.col("text")
    with_counts = df.select("*", *pii_counts(text))
    return with_counts.withColumn(
        "text_scrubbed",
        F.when(F.col("pii_total") > 0, scrub_pii(text)).otherwise(text),
    )
