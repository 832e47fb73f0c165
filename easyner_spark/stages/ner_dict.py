"""Stage 3a — dictionary NER: sentences → mentions.

Reference analog: spaCy PhraseMatcher(attr="LOWER") over a deduped
term file, spans stored with INCLUSIVE char end
(scripts/ner_spacy.py:41-56,144-159); the matcher is built once per
worker process (ner_spacy.py:59-64). Here the compiled
:class:`GazetteerIndex` ships to executors via a Spark broadcast and
matching runs vectorized over whole Arrow batches
(textops.match_terms_batch) — the Spark analog of the reference's
worker-initializer + nlp.pipe batching, with the O(L·tokens) token
n-gram hash probe replacing the PhraseMatcher automaton.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..textops import GazetteerIndex, match_terms_batch

_MENTION_ARR = T.ArrayType(
    T.StructType(
        [
            T.StructField("surface", T.StringType()),
            T.StructField("begin", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("class", T.StringType()),
        ]
    )
)


def dict_ner(
    sentences: DataFrame,
    gazetteer: dict[str, str] | list[tuple[str, str]],
    source: str = "dict",
) -> DataFrame:
    """sentences(doc_id, batch_id, sent_idx, text) → mentions.

    mentions(doc_id, batch_id, sent_idx, mention_idx, surface, begin,
    end, class, source) — ``end`` is INCLUSIVE (dict-path convention,
    ner_spacy.py:153-155); ``mention_idx`` is the (begin, end, class)
    order within the sentence.
    """
    spark = SparkSession.getActiveSession()
    index = GazetteerIndex.build(gazetteer)
    bc = spark.sparkContext.broadcast(index)

    @F.pandas_udf(_MENTION_ARR)
    def _match_udf(text: pd.Series) -> pd.Series:
        idx = bc.value
        sents = text.fillna("").tolist()
        return pd.Series(match_terms_batch(sents, idx))

    # extra input columns (e.g. warc_ts in the streaming path) pass through
    extras = [c for c in sentences.columns if c not in ("doc_id", "batch_id", "sent_idx", "text")]
    return sentences.select(
        "doc_id",
        "batch_id",
        "sent_idx",
        *extras,
        F.posexplode(_match_udf("text")).alias("mention_idx", "m"),
    ).select(
        "doc_id",
        "batch_id",
        "sent_idx",
        "mention_idx",
        F.col("m.surface").alias("surface"),
        F.col("m.begin").alias("begin"),
        F.col("m.end").alias("end"),
        F.col("m.class").alias("class"),
        F.lit(source).alias("source"),
        *extras,
    )
