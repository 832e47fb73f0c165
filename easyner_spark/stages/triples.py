"""Stage 7 — triple emission: linked mentions (+ sentences) → triples.

Reference analog: scripts/entity_parser.py:19-54 — a sentence
"co-occurs" when it holds ≥2 entities (line 41-42); the reference only
flags it. Here co-occurrence becomes real (subj, pred, obj) triples:
every ordered mention pair within a sentence, plus typed predicates
from pattern rules over the text BETWEEN the two mentions (the
pattern-rule extension mandated by the target contract).

Plan shape: self-equi-join of mentions on (doc_id, sent_idx) with
mention_idx inequality, then one equi-join with the sentence text.
Measured at 600k docs on a 4-executor local-cluster against an
intra-row formulation (collect mentions per sentence, expand pairs
with nested array transforms): 5.6 s vs 15.4 s warm — Spark runs the
nested higher-order functions interpreted, outside whole-stage
codegen, and that per-row cost outweighs the shuffle it saves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# ordered pattern rules: first match on the inter-mention gap text wins
PATTERN_RULES: list[tuple[str, str]] = [
    (" can cause ", "causes"),
    (" causes ", "causes"),
    (" caused ", "causes"),
    (" binds to ", "binds_to"),
    (" reduced ", "reduces"),
    (" reduces ", "reduces"),
    (" suppress ", "suppresses"),
    (" interacts with ", "interacts_with"),
    (" mediates entry of ", "mediates_entry_of"),
    (" detected together with ", "detected_with"),
]
DEFAULT_PRED = "co_occurs_with"


def _gap_pred(gap_col):
    expr = F.lit(DEFAULT_PRED)
    for pat, pred in reversed(PATTERN_RULES):
        expr = F.when(gap_col.contains(pat), F.lit(pred)).otherwise(expr)
    return expr


def _select_mentions(linked: DataFrame, subj_col: str, cap: int | None) -> DataFrame:
    m = linked.select(
        "doc_id",
        "batch_id",
        "sent_idx",
        "mention_idx",
        F.col(subj_col).alias("ent"),
        "begin",
        "end",
    )
    if cap is not None:
        # degree cap BEFORE pairing: a stateless filter bounding fan-out
        # at cap²/2 per sentence (entity-stuffed pages at web scale hit
        # it; normal sentences never do) — no window, no extra shuffle.
        # OPT-IN (default None): the cap silently drops pairs on dense
        # sentences, diverging from the uncapped sequential oracle —
        # callers that enable it should monitor the capped-sentence rate.
        m = m.filter(F.col("mention_idx") < cap)
    return m


def cooccurrence_triples(
    linked: DataFrame,
    sentences: DataFrame,
    subj_col: str = "ent_name",
    max_mentions_per_sentence: int | None = None,
) -> DataFrame:
    """→ triples(subj, pred, obj, doc_id, sent_idx, batch_id).

    subj/obj from ``subj_col`` (canonical name by default); subj is the
    earlier mention — reference builds its entity list in sentence
    order (entity_parser.py:19-40). Pattern predicates come from the
    sentence slice between the two mentions (JVM substring, no UDF).
    ``max_mentions_per_sentence`` pairs only mentions with
    ``mention_idx`` below it (None = uncapped)."""
    m = _select_mentions(linked, subj_col, max_mentions_per_sentence)
    a = m.alias("a")
    b = m.alias("b")
    pairs = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("a.sent_idx") == F.col("b.sent_idx"))
        & (F.col("a.mention_idx") < F.col("b.mention_idx")),
    )
    sent = sentences.select(
        F.col("doc_id").alias("s_doc_id"),
        F.col("sent_idx").alias("s_sent_idx"),
        F.col("text").alias("sent_text"),
    )
    gap = F.expr(
        "substring(sent_text, a.`end` + 2, greatest(b.begin - a.`end` - 1, 0))"
    )
    return (
        pairs.join(
            sent,
            (F.col("a.doc_id") == F.col("s_doc_id"))
            & (F.col("a.sent_idx") == F.col("s_sent_idx")),
        )
        .select(
            F.col("a.ent").alias("subj"),
            _gap_pred(gap).alias("pred"),
            F.col("b.ent").alias("obj"),
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.sent_idx").alias("sent_idx"),
            F.col("a.batch_id").alias("batch_id"),
        )
    )
