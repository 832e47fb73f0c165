"""Seeded benchmark inputs (the pages themselves come from the engine's
own generator, ``corpus.make_pages_pdf``).

* ``recrawl``: later crawls (newer ``warc_ts``, edited text) of every
  page in one seed-chosen ``batch_id`` — the delta of the resume pass.
* ``write_query_tables``: the two tables the query workload reads
  (``documents``, ``embeddings``), in the shape of the contract testdata
  (word-soup prose over a 30-token vocabulary with 5% ``dup``-marked
  near-copies; unit-norm 64-d float vectors in 10 labelled clusters), so
  the benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
EMBED_LABELS = 10


def write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write one parquet file (microsecond timestamps — Spark rejects
    pandas' nanosecond default); returns its size in bytes."""
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us")
    return os.path.getsize(path)


def recrawl(pdf: pd.DataFrame, seed: int, url_batch: dict[str, int], n_batches: int) -> pd.DataFrame:
    """Re-crawled copies of every page in one seed-chosen engine batch
    (``url_batch``: url → the ``batch_id`` a build committed it under):
    ``warc_ts`` one day later and the text edited (a sentence appended),
    so the latest-crawl-wins dedup replaces those documents and the
    resume re-commits that batch in every doc-keyed stage."""
    chosen = random.Random(seed * 7919 + 1).randrange(n_batches)
    sel = pdf[[url_batch.get(u) == chosen for u in pdf["url"]]].copy()
    sel["warc_ts"] = sel["warc_ts"] + pd.Timedelta(days=1)
    extra = " Recrawl notes that remdesivir and ACE2 were studied again."
    sel["text"] = [(t if isinstance(t, str) else "") + extra for t in sel["text"]]
    return sel


def placeholder_table() -> pd.DataFrame:
    """One-row stand-in for a contract table no benchmarked query reads."""
    return pd.DataFrame({"unused": [0]})


def write_query_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``documents`` + ``embeddings`` parquet under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    texts: list[str] = []
    rows = []
    for i in range(n_docs):
        if i % 20 == 19:  # exactly 5% near-copies, of a seeded earlier doc
            text = texts[rng.randrange(len(texts))] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 95)))
        texts.append(text)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": rng.choice(LANGS),
                "source": f"src{rng.randrange(20)}",
                "n_chars": len(text),
            }
        )
    docs = pd.DataFrame(rows)
    write_parquet(
        docs,
        os.path.join(out_dir, "documents.parquet"),
        pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )

    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(EMBED_LABELS, EMBED_DIM))
    labels = nrng.integers(0, EMBED_LABELS, size=n_vecs)
    vecs = centers[labels] + 0.8 * nrng.normal(size=(n_vecs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": labels.astype(np.int32),
        }
    )
    write_parquet(
        emb,
        os.path.join(out_dir, "embeddings.parquet"),
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
