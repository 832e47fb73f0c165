"""Pure, deterministic text operations — the single source of truth.

Both the Spark pandas UDFs (easyner_spark.stages.*) and the pure-Python
oracle (easyner_spark.oracle) call THESE functions, so engine-vs-oracle
parity holds by construction, and the per-row invariant demanded by the
target contract (byte-identical extracted text per url) reduces to the
determinism of this module.

Semantics are pinned to the reference's deterministic path:

* text normalization: lines stripped and joined with a single space
  (reference: scripts/text_loader.py:17), multi-newline squashed to one
  space (reference:
  supplementary/experiment_scripts/convert_easyner_raw_json_to_pubtator.py:20-21).
* sentence splitting: reference uses NLTK punkt
  (scripts/splitter.py:13-15). punkt/nltk is not in this image, so the
  engine pins its own deterministic rule-based splitter (below) and the
  oracle uses the identical function. Abbreviation guard list is fixed.
* dictionary NER: reference matches gazetteer phrases case-insensitively
  on token boundaries via spaCy PhraseMatcher(attr="LOWER")
  (scripts/ner_spacy.py:41-54) and stores spans as
  (first_char, last_char) with an INCLUSIVE end
  (scripts/ner_spacy.py:150-155). We pin: tokens are ``\\w+`` runs,
  a gazetteer term matches a token n-gram iff their lowercased
  space-joined token sequences are equal; span = (start of first token,
  end of last token - 1) inclusive; matches emitted ordered by
  (begin, end, class).
"""

from __future__ import annotations

import html as _html
import re
from dataclasses import dataclass

# --------------------------------------------------------------------------
# normalization (F2/F5 in SURVEY.md §2.7)
# --------------------------------------------------------------------------

_WS_RUN = re.compile(r"\s+")


def normalize_text(raw: str) -> str:
    """Strip lines, join with single spaces, squash whitespace runs."""
    return _WS_RUN.sub(" ", raw).strip()


# --------------------------------------------------------------------------
# deterministic HTML -> text extraction
# --------------------------------------------------------------------------

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.IGNORECASE | re.DOTALL)
_SCRIPT_RE = re.compile(r"<(script|style)[^>]*>.*?</\1>", re.IGNORECASE | re.DOTALL)
_BLOCK_TAG_RE = re.compile(
    r"</?(?:p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|footer)[^>]*>",
    re.IGNORECASE,
)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_html(html_bytes: bytes) -> tuple[str, str]:
    """Deterministic HTML -> (title, text).

    Pure regex extraction (no parser dependency): drop script/style,
    turn block tags into newlines, strip remaining tags, unescape
    entities, then apply :func:`normalize_text`. Given fixed input
    bytes the output is byte-identical across runs/partitions — the
    invariant the per-partition hash audit enforces.
    """
    raw = html_bytes.decode("utf-8", errors="replace")
    m = _TITLE_RE.search(raw)
    title = normalize_text(_html.unescape(m.group(1))) if m else ""
    body = _SCRIPT_RE.sub(" ", raw)
    body = _TITLE_RE.sub(" ", body)
    body = _BLOCK_TAG_RE.sub("\n", body)
    body = _TAG_RE.sub(" ", body)
    body = _html.unescape(body)
    return title, normalize_text(body)


# --------------------------------------------------------------------------
# sentence splitting (N4) — deterministic punkt-like rule splitter
# --------------------------------------------------------------------------

# sentence terminator run, optional closing quotes/brackets, then whitespace
_BOUNDARY_RE = re.compile(r"[.!?]+[\"'’\)\]]*\s+")
# abbreviations that do NOT end a sentence (fixed, lowercase, no final dot)
_ABBREV = frozenset(
    "al e.g i.e etc vs cf fig figs eq eqs ref refs dr mr mrs ms prof inc ltd "
    "st no vol pp approx ca".split()
)
_WORD_BEFORE_RE = re.compile(r"([A-Za-z][A-Za-z.]*)\.$")


def split_sentences(text: str) -> list[str]:
    """Split normalized text into sentences.

    A candidate boundary is a ``[.!?]+`` run (plus closing quotes) and
    trailing whitespace. It is suppressed when the token before a '.'
    is a known abbreviation, a single letter (initials), or when the
    '.' sits between digits (decimals like 2.5 never match because no
    whitespace follows).
    """
    sentences: list[str] = []
    start = 0
    for m in _BOUNDARY_RE.finditer(text):
        seg = text[start : m.end()].rstrip()
        if seg.endswith("."):
            w = _WORD_BEFORE_RE.search(seg)
            if w:
                word = w.group(1).rstrip(".").lower()
                if word in _ABBREV or len(word) == 1:
                    continue  # suppressed boundary
        sentences.append(seg)
        start = m.end()
    tail = text[start:].strip()
    if tail:
        sentences.append(tail)
    return sentences


# --------------------------------------------------------------------------
# tokenization + gazetteer matching (N1)
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"\w+")


def tokenize(text: str) -> list[tuple[str, int, int]]:
    """``\\w+`` tokens with (token, start, end_exclusive) char offsets."""
    return [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]


def normalize_term(term: str) -> str:
    """Canonical form of a gazetteer term: lowercased tokens, space-joined.

    Makes 'SARS-CoV-2' and 'sars cov 2' the same key — the analog of the
    reference's case-insensitive token-level PhraseMatcher
    (scripts/ner_spacy.py:41).
    """
    return " ".join(m.group(0).lower() for m in _TOKEN_RE.finditer(term))


@dataclass(frozen=True)
class GazetteerIndex:
    """Compiled gazetteer: normalized term -> entity class; max n-gram len."""

    term_class: dict[str, str]
    max_n: int

    @staticmethod
    def build(terms: dict[str, str] | list[tuple[str, str]]) -> "GazetteerIndex":
        items = terms.items() if isinstance(terms, dict) else terms
        tc: dict[str, str] = {}
        max_n = 1
        for term, cls in items:
            norm = normalize_term(term)
            if not norm:
                continue
            tc[norm] = cls  # dedup: last class wins (reference dedups via set)
            max_n = max(max_n, norm.count(" ") + 1)
        if not tc:
            raise ValueError("gazetteer is empty")
        return GazetteerIndex(tc, max_n)


def match_terms_batch(
    sentences: "list[str]", index: GazetteerIndex
) -> "list[list[tuple[str, int, int, str]]]":
    """Vectorized gazetteer matching over a batch of sentences.

    Same semantics as :func:`match_terms` (parity-tested) but amortized
    over the whole Arrow batch: one regex pass over a NUL-joined blob,
    numpy shifts for n-gram construction, one hash-table ``isin`` probe
    per n. This is the engine's hot path inside the Spark pandas UDF —
    no per-row Python beyond slicing out the matched surfaces.
    """
    import numpy as np
    import pandas as pd

    n_rows = len(sentences)
    results: list[list[tuple[str, int, int, str]]] = [[] for _ in range(n_rows)]
    if n_rows == 0:
        return results
    blob = "\x00".join(sentences)
    sent_starts = np.zeros(n_rows, dtype=np.int64)
    lens = np.fromiter((len(s) for s in sentences), dtype=np.int64, count=n_rows)
    np.cumsum(lens[:-1] + 1, out=sent_starts[1:])

    toks = [(m.group(0), m.start(), m.end()) for m in _TOKEN_RE.finditer(blob)]
    if not toks:
        return results
    lowers = np.array([t[0].lower() for t in toks], dtype=object)
    starts = np.array([t[1] for t in toks], dtype=np.int64)
    ends = np.array([t[2] for t in toks], dtype=np.int64)
    rows = np.searchsorted(sent_starts, starts, side="right") - 1

    term_keys = index.term_class.keys()
    space = np.array(" ", dtype=object)
    ngrams = lowers.copy()
    for n in range(1, index.max_n + 1):
        if n > 1:
            # ngram[i] over tokens i..i+n-1; shrink arrays by one each step
            ngrams = ngrams[:-1] + space + lowers[n - 1 :]
        valid = rows[: len(ngrams)] == rows[n - 1 : n - 1 + len(ngrams)]
        hit = pd.Series(ngrams).isin(term_keys).to_numpy() & valid
        for i in np.nonzero(hit)[0]:
            j = i + n - 1
            r = int(rows[i])
            s0 = int(sent_starts[r])
            begin = int(starts[i]) - s0
            end_incl = int(ends[j]) - 1 - s0
            cls = index.term_class[ngrams[i]]
            results[r].append(
                (sentences[r][begin : end_incl + 1], begin, end_incl, cls)
            )
    for r in results:
        r.sort(key=lambda x: (x[1], x[2], x[3]))
    return results


def match_terms(
    sentence: str, index: GazetteerIndex
) -> list[tuple[str, int, int, str]]:
    """All gazetteer matches in a sentence.

    Returns (surface, begin, end_inclusive, class) ordered by
    (begin, end). Overlapping matches of DIFFERENT terms are all
    emitted (PhraseMatcher semantics: every pattern reports every
    occurrence, scripts/ner_spacy.py:144-155).
    """
    toks = tokenize(sentence)
    lowers = [t[0].lower() for t in toks]
    out: list[tuple[str, int, int, str]] = []
    n_tok = len(toks)
    for i in range(n_tok):
        joined = lowers[i]
        for n in range(1, index.max_n + 1):
            j = i + n - 1
            if j >= n_tok:
                break
            if n > 1:
                joined = joined + " " + lowers[j]
            cls = index.term_class.get(joined)
            if cls is not None:
                begin = toks[i][1]
                end_incl = toks[j][2] - 1
                out.append((sentence[begin : end_incl + 1], begin, end_incl, cls))
    out.sort(key=lambda r: (r[1], r[2], r[3]))
    return out
