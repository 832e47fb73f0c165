"""Sequential pure-Python oracle with reference-style semantics.

Re-implements the deterministic reference path as plain loops over
nested dicts — the same shape as EasyNER's own modules (loader loop
cord_loader.py:38-100; splitter loop splitter.py:44-67; NER loop
ner_spacy.py:126-159; NEL loop nel.py:28-59; analysis loop
analysis.py:29-89) — so the distributed Spark pipeline can be verified
against an independent sequential implementation. Shares only the
LEAF text functions (textops) with the engine; all composition logic
(batching, joining, aggregation, pairing) is written twice on purpose.

Note the oracle's NEL mints ids in ITERATION order exactly like the
reference (sequential easyner:{n} counter, nel.py:42-49) while the
engine mints in surface-rank order — the P/R and ranking contracts are
defined over names/surfaces, which both schemes preserve.
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pandas as pd

from ..textops import (
    GazetteerIndex,
    extract_html,
    match_terms,
    split_sentences,
    text_sha256,
)

# same ordered rules as easyner_spark.stages.triples, applied sequentially
from ..stages.triples import DEFAULT_PRED, PATTERN_RULES


def run_oracle(
    pages: pd.DataFrame,
    gazetteer: list[tuple[str, str]],
    lookup: list[tuple[str, str, str]],
) -> dict:
    """Run the whole sequential pipeline; returns a dict of results:

    documents: {url: {doc_id?, title, text}}
    mentions:  list of (url, sent_idx, surface, begin, end, cls)
    linked:    mentions + (ent_id, ent_name)
    triples:   set of (subj_name, pred, obj_name, url, sent_idx)
    surface_counts / name_counts: Counter
    articles_per_surface: {surface: set(url)}
    """
    index = GazetteerIndex.build(gazetteer)
    lookup_dict = {e: (i, n) for e, i, n in lookup}
    new_entries: list[tuple[str, str, str]] = []

    # url dedup: the LATEST crawl wins — max of (warc_ts, md5(html),
    # md5(text)), the engine's max_by key in stages/extract.py. A NULL
    # hash orders below every value, as in Spark's struct ordering.
    import hashlib as _hl

    def _md5(b):
        return (0, "") if b is None else (1, _hl.md5(bytes(b)).hexdigest())

    best: dict[str, tuple] = {}
    for row in pages.itertuples():
        if row.lang != "en":  # the engine's language filter
            continue
        text = row.text.encode() if isinstance(row.text, str) else None
        key = (row.warc_ts, _md5(row.html), _md5(text))
        if row.url not in best or key > best[row.url][0]:
            best[row.url] = (key, row)

    documents: dict[str, dict] = {}
    for url in sorted(best):
        row = best[url][1]
        if row.text is not None and not (isinstance(row.text, float) and pd.isna(row.text)):
            title = extract_html(bytes(row.html))[0] if row.html is not None else ""
            text = row.text
        else:
            title, text = extract_html(bytes(row.html))
        if not text:
            continue
        documents[row.url] = {"title": title, "text": text}

    mentions = []
    sentences: dict[tuple[str, int], str] = {}
    for url, doc in documents.items():
        for si, sent in enumerate(split_sentences(doc["text"])):
            sentences[(url, si)] = sent
            for surface, begin, end, cls in match_terms(sent, index):
                mentions.append((url, si, surface, begin, end, cls))

    linked = []
    for url, si, surface, begin, end, cls in mentions:
        if surface in lookup_dict:
            ent_id, ent_name = lookup_dict[surface]
        else:
            ent_id = f"easyner:{len(new_entries) + 1}"
            ent_name = surface
            lookup_dict[surface] = (ent_id, ent_name)
            new_entries.append((surface, ent_id, ent_name))
        linked.append((url, si, surface, begin, end, cls, ent_id, ent_name))

    # triples: all ordered mention pairs per sentence, typed by gap rules
    by_sent: dict[tuple[str, int], list] = defaultdict(list)
    for rec in linked:
        by_sent[(rec[0], rec[1])].append(rec)
    triples = set()
    triple_list = []
    for (url, si), ms in by_sent.items():
        if len(ms) < 2:
            continue
        sent = sentences[(url, si)]
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                a, b = ms[i], ms[j]
                gap = sent[a[4] + 1 : b[3]]
                pred = DEFAULT_PRED
                for pat, p in PATTERN_RULES:
                    if pat in gap:
                        pred = p
                        break
                t = (a[7], pred, b[7], url, si)
                triples.add(t)
                triple_list.append(t)

    surface_counts = Counter(m[2] for m in mentions)
    name_counts = Counter(r[7] for r in linked)
    articles_per_surface: dict[str, set] = defaultdict(set)
    for m in mentions:
        articles_per_surface[m[2]].add(m[0])

    audits = {
        url: text_sha256(url, doc["text"]) for url, doc in documents.items()
    }
    return {
        "documents": documents,
        "sentences": sentences,
        "mentions": mentions,
        "linked": linked,
        "new_entries": new_entries,
        "triples": triples,
        "triple_list": triple_list,
        "surface_counts": surface_counts,
        "name_counts": name_counts,
        "articles_per_surface": articles_per_surface,
        "audits": audits,
    }


def precision_recall(pred: set, gold: set) -> tuple[float, float]:
    if not pred or not gold:
        return 0.0, 0.0
    tp = len(pred & gold)
    return tp / len(pred), tp / len(gold)
