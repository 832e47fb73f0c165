"""Deterministic synthetic Common-Crawl-style corpus.

Shape fixed by the target contract: ``pages(url string, warc_ts
timestamp, html binary, text string, lang string)``. Content is styled
after the reference's Lund-COVID sample corpus (title line + abstract
paragraph per document — reference: data/Lund-COVID-19_plaintext.txt,
loaded by scripts/text_loader.py:6-24) but synthesized from an embedded
seed vocabulary: no external data, fully reproducible from (seed, n).

Also ships the test gazetteer (reference analog:
dictionaries/sars-cov-2_synonyms_v2.txt) and the NEL lookup dimension
(reference analog: the 3-column entity/id/name TSV read by
scripts/nel.py:20-25); the lookup intentionally covers only ~60% of
gazetteer terms so the miss-minting path (scripts/nel.py:42-49) is
exercised.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
from pyspark.sql import types as T

from .textops import normalize_text

# the pages table: the batch pipeline's input and the ingest stream's schema
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# embedded seed content (public-knowledge biomedical-ish vocabulary)
# ---------------------------------------------------------------------------

# (term, class) — includes multi-word, hyphenated, and case-variant terms.
GAZETTEER: list[tuple[str, str]] = [
    ("coronavirus", "species"),
    ("2019-nCoV", "species"),
    ("SARS-CoV", "species"),
    ("SARS-CoV-2", "species"),
    ("MERS-CoV", "species"),
    ("novel coronavirus", "species"),
    ("influenza virus", "species"),
    ("mast cells", "cell"),
    ("T cells", "cell"),
    ("epithelial cells", "cell"),
    ("macrophages", "cell"),
    ("COVID-19", "disease"),
    ("pneumonia", "disease"),
    ("acute respiratory syndrome", "disease"),
    ("respiratory syndrome", "disease"),
    ("inflammation", "disease"),
    ("fever", "disease"),
    ("cytokine storm", "disease"),
    ("spike protein", "gene"),
    ("ACE2", "gene"),
    ("TMPRSS2", "gene"),
    ("interleukin-6", "gene"),
    ("interferon", "gene"),
    ("remdesivir", "chemical"),
    ("chloroquine", "chemical"),
    ("hydroxychloroquine", "chemical"),
    ("ribavirin", "chemical"),
    ("dexamethasone", "chemical"),
    ("zinc", "chemical"),
]

# NEL lookup dimension: covers ~60% of gazetteer surfaces (by normalized
# term); the rest are minted as easyner:{n} ids at link time.
NEL_LOOKUP: list[tuple[str, str, str]] = [
    ("coronavirus", "NCBI:11118", "Coronavirus"),
    ("2019-nCoV", "NCBI:2697049", "SARS-CoV-2"),
    ("SARS-CoV-2", "NCBI:2697049", "SARS-CoV-2"),
    ("SARS-CoV", "NCBI:694009", "SARS coronavirus"),
    ("MERS-CoV", "NCBI:1335626", "MERS coronavirus"),
    ("COVID-19", "MESH:D000086382", "COVID-19"),
    ("pneumonia", "MESH:D011014", "Pneumonia"),
    ("inflammation", "MESH:D007249", "Inflammation"),
    ("fever", "MESH:D005334", "Fever"),
    ("spike protein", "UNIPROT:P0DTC2", "Spike glycoprotein"),
    ("ACE2", "HGNC:13557", "ACE2"),
    ("remdesivir", "MESH:C000606551", "Remdesivir"),
    ("chloroquine", "MESH:D002738", "Chloroquine"),
    ("dexamethasone", "MESH:D003907", "Dexamethasone"),
    ("mast cells", "CL:0000097", "Mast cell"),
    ("T cells", "CL:0000084", "T cell"),
    ("interferon", "MESH:D007372", "Interferon"),
]

_FILLER = (
    "the emergence of outbreak has awakened echoes from nearly two decades ago "
    "yet with technological advances and important lessons gained previous "
    "studies suggest that patients infected show elevated levels which can "
    "cause severe illness in humans and animals treatment with reduced viral "
    "load significantly while binding to receptor mediates cell entry during "
    "infection response was observed among hospitalized individuals"
).split()

_TEMPLATES = [
    "{A} can cause {B} in patients with severe {C}.",
    "Treatment with {A} reduced {B} among individuals infected by {C}.",
    "The {A} binds to {B} and mediates entry of {C} into host tissue.",
    "Studies of {A} and {B} suggest a role for {C} during infection.",
    "{A} was detected together with {B}, e.g. in samples positive for {C}.",
    "Elevated {A} levels were observed, i.e. a marker of {B} linked to {C}.",
    "Dr. Chen reported that {A} interacts with {B} near {C}.",
    "Can {A} suppress {B}? Early data on {C} remain inconclusive!",
]


def _filler_sentence(rng: random.Random) -> str:
    n = rng.randint(6, 14)
    words = [rng.choice(_FILLER) for _ in range(n)]
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _entity_sentence(rng: random.Random) -> str:
    tpl = rng.choice(_TEMPLATES)
    a, b, c = (rng.choice(GAZETTEER)[0] for _ in range(3))
    return tpl.format(A=a, B=b, C=c)


# share of docs that are near-verbatim copies of earlier docs
# (exercises dedup operators)
DUP_FRACTION = 0.08
# share of rows that carry ``text=None`` and only ``html``
HTML_ONLY_FRACTION = 0.3
# share of rows with ``lang != 'en'`` (filter path)
FOREIGN_FRACTION = 0.05
# sentences per ``<p>`` paragraph in the generated html
PARA_SENTENCES = 3


def make_pages_pdf(n_docs: int = 200, seed: int = 42) -> pd.DataFrame:
    """Deterministic pandas frame of pages.

    * ``DUP_FRACTION`` of docs are near-verbatim copies of earlier docs.
    * ``HTML_ONLY_FRACTION`` of rows carry ``text=None`` and only
      ``html`` — extraction must reconstruct the text; the remaining
      rows carry both, and extraction must pass ``text`` through
      byte-identically.
    * ``FOREIGN_FRACTION`` rows get ``lang != 'en'`` (filter path).
    """
    rng = random.Random(seed)
    base_ts = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    texts: list[tuple[str, str]] = []  # (title, body) built so far
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_FRACTION:
            src = rng.randrange(len(texts))
            title, body = texts[src]
            title = title + " (mirror)"
        else:
            title = f"Report {i}: " + _entity_sentence(rng).rstrip(".!?")
            n_sent = rng.randint(3, 8)
            sents = []
            for _ in range(n_sent):
                sents.append(
                    _entity_sentence(rng) if rng.random() < 0.7 else _filler_sentence(rng)
                )
            body = " ".join(sents)
        texts.append((title, body))

        lang = "en"
        if rng.random() < FOREIGN_FRACTION:
            lang = rng.choice(["de", "fr", "zh"])
        paras = "".join(f"<p>{s}</p>" for s in split_paras(body))
        html = (
            f"<html><head><title>{title}</title>"
            f'<style>p{{margin:0}}</style></head>'
            f"<body><h1>{title}</h1>{paras}"
            f'<script>var x=1;</script></body></html>'
        ).encode("utf-8")
        text = None if rng.random() < HTML_ONLY_FRACTION else normalize_text(body)
        rows.append(
            {
                "url": f"https://corpus.test/doc/{i:06d}",
                "warc_ts": base_ts + dt.timedelta(seconds=i * 37),
                "html": html,
                "text": text,
                "lang": lang,
            }
        )
    return pd.DataFrame(rows)


def split_paras(body: str) -> list[str]:
    """Group sentences into paragraphs of ``PARA_SENTENCES`` (layout
    detail only)."""
    from .textops import split_sentences

    sents = split_sentences(body)
    n = PARA_SENTENCES
    return [" ".join(sents[i : i + n]) for i in range(0, len(sents), n)]


def pages_df(spark, n_docs: int = 200, seed: int = 42, n_partitions: int = 8):
    """Synthetic pages as a Spark DataFrame (deterministic)."""
    pdf = make_pages_pdf(n_docs=n_docs, seed=seed)
    return spark.createDataFrame(pdf, PAGES_SCHEMA).repartition(n_partitions, "url")
