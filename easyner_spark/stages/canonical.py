"""Stage 5 — entity canonicalization: MinHash-LSH blocking + connected
components.

No reference counterpart (EasyNER links surfaces only by exact lookup,
scripts/nel.py:38) — this stage is mandated by the target contract:
near-duplicate entity names ("SARS-CoV-2" / "sars cov 2" / "SARS CoV2")
are blocked via MinHash-LSH over character-trigram shingles and merged
into canonical ids via label-propagation connected components, with
skew handled explicitly:

* LSH pair generation is the classic banding scheme — candidate pairs
  only within equal (band_idx, band_hash) buckets, never all-pairs;
* hot buckets (stopword-like names at web scale) are SALTED: buckets
  larger than ``max_bucket`` are split by a deterministic salt of the
  entity id into sub-buckets of at most ``max_bucket`` before pair-gen,
  bounding the quadratic fan-out per bucket (documented recall
  trade-off; raise max_bucket to recover recall);
* connected components use alternating min-label propagation with
  pointer jumping (converges in O(log n) rounds on long chains) and a
  ``localCheckpoint`` per round to keep lineage flat.

Everything is built-in DataFrame ops (xxhash64, explode, joins, aggs)
— no UDF anywhere in this stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F


def _shingle_col(name_col, n: int = 3):
    """Char n-gram shingles of normalized lower(name) as an array column
    (pure JVM expression — sequence + substr, no UDF)."""
    norm = F.lower(F.regexp_replace(name_col, r"[^A-Za-z0-9]+", " "))
    norm = F.trim(F.regexp_replace(norm, r"\s+", " "))
    padded = F.concat(F.lit("^"), norm, F.lit("$"))
    return F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(n)),
        ),
        lambda s: F.length(s) == n,
    )


def minhash_signatures(
    entities: DataFrame,
    id_col: str = "ent_id",
    name_col: str = "name",
    num_hashes: int = 12,
    shingle_len: int = 3,
) -> DataFrame:
    """→ (ent_id, name, sig: array<bigint>) — one xxhash64 family member
    per seed; min over the entity's shingle set."""
    sh = entities.select(
        id_col,
        name_col,
        F.explode(_shingle_col(F.col(name_col), shingle_len)).alias("shingle"),
    ).distinct()
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*mins, F.first(name_col).alias(name_col))
    return sig.select(
        id_col,
        name_col,
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _bands(signatures: DataFrame, id_col: str, num_bands: int) -> DataFrame:
    """→ (id_col, band_idx, band_hash): one row per signature band."""
    return signatures.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {num_bands - 1}),"
                f" b -> xxhash64(b, array_join(slice(sig, b * (size(sig) DIV {num_bands}) + 1,"
                f" size(sig) DIV {num_bands}), ',')))"
            )
        ).alias("band_idx", "band_hash"),
    )


def _salted(bands: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """Append the hot-bucket salt column (bucket counts from ``bands``
    itself): buckets over ``max_bucket`` split into sub-buckets so one
    hot bucket can never produce more than ~max_bucket² pairs."""
    sizes = bands.groupBy("band_idx", "band_hash").agg(F.count("*").alias("cnt"))
    return bands.join(sizes, ["band_idx", "band_hash"]).withColumn(
        "salt",
        F.when(
            F.col("cnt") > max_bucket,
            # band-dependent salt: each band splits a hot bucket
            # DIFFERENTLY, so cross-sub-bucket pairs still appear in
            # some other band and connected components restores the
            # transitive closure of the hot cluster
            F.pmod(
                F.xxhash64(F.col("band_idx"), F.col(id_col)),
                F.ceil(F.col("cnt") / max_bucket),
            ),
        ).otherwise(F.lit(0)),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "ent_id",
    num_bands: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Banded LSH: → (src, dst) candidate pairs (src < dst)."""
    bands = _salted(_bands(signatures, id_col, num_bands), id_col, max_bucket)
    a = bands.select(
        F.col(id_col).alias("src"), "band_idx", "band_hash", "salt"
    ).alias("a")
    b = bands.select(
        F.col(id_col).alias("dst"), "band_idx", "band_hash", "salt"
    ).alias("b")
    return (
        a.join(b, ["band_idx", "band_hash", "salt"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def incremental_lsh_candidates(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    id_col: str = "ent_id",
    num_bands: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Epoch-ingest near-dup candidates: pairs touching at least one
    NEW document — new×new plus new×corpus, never corpus×corpus (those
    pairs were emitted when their epochs arrived).

    This is the join shape that makes web-scale dedup sustainable: a
    daily epoch probes the committed signature table, so the cost is
    O(epoch × corpus-bucket-overlap) instead of re-running the corpus²
    self-join every ingest. ``corpus_sigs`` is the committed signature
    stage (signatures are content-derived, so re-computing an old doc's
    signature is never needed); at 100 TB it stays partitioned by band
    hash and the epoch side shuffles to it.

    Semantics: identical to filtering the FULL self-join's output down
    to pairs with a new member (verified in tests); bucket salting uses
    the combined (corpus+new) bucket counts, so hot-bucket behavior
    matches the full run.
    """
    nb = _bands(new_sigs, id_col, num_bands)
    cb = _bands(corpus_sigs, id_col, num_bands)
    # a re-ingested doc (same id, unchanged content) appears in BOTH
    # inputs with identical band rows — collapse to one member tagged
    # new (max), otherwise its duplicate rows inflate bucket counts and
    # salting diverges from the full self-join's. A re-crawl whose
    # content CHANGED has different band hashes and legitimately keeps
    # both versions as distinct bucket members.
    allb = _salted(
        cb.withColumn("_new", F.lit(0))
        .unionByName(nb.withColumn("_new", F.lit(1)))
        .groupBy(id_col, "band_idx", "band_hash")
        .agg(F.max("_new").alias("_new")),
        id_col,
        max_bucket,
    )
    probe = allb.filter(F.col("_new") == 1).select(
        F.col(id_col).alias("_a"), "band_idx", "band_hash", "salt"
    )
    build = allb.select(F.col(id_col).alias("_b"), "band_idx", "band_hash", "salt")
    return (
        probe.join(build, ["band_idx", "band_hash", "salt"])
        .filter(F.col("_a") != F.col("_b"))
        .select(
            F.least("_a", "_b").alias("src"), F.greatest("_a", "_b").alias("dst")
        )
        .distinct()
    )


def signature_agreement() -> Column:
    """INT count of positions where the ``sig_a`` and ``sig_b`` arrays
    agree — the MinHash agreement fold, evaluated inside the row."""
    return F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),"
        " 0, (acc, v) -> acc + v)"
    )


def signature_similarity_filter(
    pairs: DataFrame,
    signatures: DataFrame,
    id_col: str = "ent_id",
    min_agreement: float = 0.5,
) -> DataFrame:
    """Keep pairs whose signatures agree on >= min_agreement of hashes —
    the cheap MinHash estimate of Jaccard similarity (no shingle
    re-shuffle)."""
    s1 = signatures.select(F.col(id_col).alias("src"), F.col("sig").alias("sig_a"))
    s2 = signatures.select(F.col(id_col).alias("dst"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(s1, "src")
        .join(s2, "dst")
        .withColumn("agreement", signature_agreement() / F.size("sig_a"))
        .filter(F.col("agreement") >= min_agreement)
        .select("src", "dst", "agreement")
    )


def containment_filter(
    pairs: DataFrame,
    shingle_sets: DataFrame,
    id_col: str = "doc_id",
    min_containment_ppm: int = 600_000,
) -> DataFrame:
    """Exact shingle-containment verification over CANDIDATE pairs →
    (src, dst, n_inter, n_small, cont_ppm BIGINT).

    The asymmetric near-dup signal |A∩B| * 1e6 div min(|A|,|B|): a
    short page verbatim-embedded in a long one scores ~1e6 here while
    symmetric Jaccard scores low (union dominated by the long side).

    Scale path: this runs AFTER blocking (``lsh_candidate_pairs`` /
    ``incremental_lsh_candidates``), so the cost is O(candidate pairs ×
    shingles per doc), never corpus² — the exact-contract twin over the
    whole corpus is the ``dedup_containment`` oracle query
    (queries.py). ``shingle_sets`` is (id, shingle) DISTINCT; both
    joins are equi-keyed (pair id, then (id, shingle)) and AQE
    skew-splits any hot candidate.
    """
    ss = shingle_sets.select(F.col(id_col).alias("_id"), "shingle").distinct()
    sizes = ss.groupBy("_id").agg(F.count("*").cast("bigint").alias("n"))
    a = ss.select(F.col("_id").alias("src"), "shingle")
    b = ss.select(F.col("_id").alias("dst"), "shingle")
    inter = (
        pairs.select("src", "dst")
        .join(a, "src")
        .join(b, ["dst", "shingle"])
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("src"), F.col("n").alias("na"))
    sb = sizes.select(F.col("_id").alias("dst"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "src")
        .join(sb, "dst")
        .select(
            "src",
            "dst",
            "n_inter",
            F.expr("CAST(least(na, nb) AS BIGINT)").alias("n_small"),
            F.expr(
                "CAST(n_inter * 1000000 div least(na, nb) AS BIGINT)"
            ).alias("cont_ppm"),
        )
        .filter(F.col("cont_ppm") >= min_containment_ppm)
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Min-label propagation with pointer jumping → (node, component).

    component = lexicographic min node id in the component. Each round:
    label(n) := min(label(n), min label over neighbors), then one
    pointer-jump (label := label(label)) to halve chain depth; rounds
    are localCheckpointed so the plan never grows. Convergence is read
    off the round's own checkpoint: an ``observe`` on the jumped frame
    counts the nodes whose label moved, so a round is one job.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            e.join(labels, e["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nlabel"))
        )
        merged = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            )
            # r6 opt (guide §2.4): merged feeds BOTH sides of the
            # pointer-jump join (parent is merged re-keyed) and Catalyst
            # does not dedupe the fan-out — without this the neighbor-min
            # join+agg executed twice per round.
            .localCheckpoint()
        )
        # pointer jumping: label <- label's label
        parent = merged.select(
            F.col("node").alias("label"), F.col("label").alias("plabel")
        )
        moved = Observation()
        labels = (
            merged.join(parent, "label", "left")
            .select("node", F.coalesce("plabel", "label").alias("label"), "old")
            .observe(
                moved,
                F.count(F.when(F.col("label") != F.col("old"), 1)).alias("n"),
            )
            .select("node", "label")
            .localCheckpoint()
        )
        if moved.get["n"] == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def canonicalize_entities(
    entities: DataFrame,
    id_col: str = "ent_id",
    name_col: str = "name",
    num_hashes: int = 12,
    num_bands: int = 4,
    min_agreement: float = 0.5,
    max_bucket: int = 256,
) -> DataFrame:
    """Full canonicalization: → (ent_id, canon_id).

    Entities whose names are near-duplicates share a canon_id (the min
    ent_id of their component); everything else maps to itself
    (identity canonicalization), so the stage is safe to insert even
    when no merges fire.
    """
    sigs = minhash_signatures(entities, id_col, name_col, num_hashes)
    pairs = lsh_candidate_pairs(sigs, id_col, num_bands, max_bucket)
    verified = signature_similarity_filter(pairs, sigs, id_col, min_agreement)
    comp = connected_components(verified.select("src", "dst"))
    return (
        entities.select(id_col)
        .distinct()
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            id_col, F.coalesce("component", F.col(id_col)).alias("canon_id")
        )
    )
