"""Similarity search over embedding columns — the engine-API versions
of the contract queries (embed_knn_bruteforce / embed_lsh_*), plus an
IVF (inverted-file) index: the classic coarse-quantizer ANN scale path.

Shapes that matter at 10^9+ vectors:
* brute force — exact baseline: broadcast the (small) query side, dot
  products via zip_with/aggregate (JVM, codegen), window top-k;
* LSH — stateless bucketing (hyperplane signs), no training pass;
* IVF — one pass to pick deterministic centroids + one assignment
  pass builds the inverted lists; a query probes only the ``nprobe``
  nearest lists, so the candidate set is ~nprobe/nlist of the corpus.
  Real systems train centroids with k-means; here the quantizer is a
  deterministic vector sample (seeded by vec id hash) — the INDEX
  structure, partitioning and probe math are the real thing, only the
  centroid quality differs (document: swap in ml.clustering.KMeans on
  a cluster for tighter lists).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)
_NORM2 = (
    "aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)


def _cosine_pre(a: str, b: str, na: str, nb: str):
    """Cosine of array columns ``a``, ``b`` with their squared norms
    (``_NORM2``) PRECOMPUTED as columns ``na``, ``nb`` on the input
    frames (r6 opt, guide §1.2): a norm depends on one side only, so
    hoisting it turns |A|·|B| interpreted higher-order aggregates into
    |A|+|B|. Per pair: dot / sqrt(na·nb). The one cosine kernel —
    the engine ops and the contract queries all score through it."""
    return F.expr(_DOT.format(a=a, b=b)) / F.sqrt(F.col(na) * F.col(nb))


def brute_force_knn(
    vectors: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k: queries(qid, qe) × vectors(vec_id, embedding).
    Query side broadcast; O(|Q|·|V|·d) JVM work, no shuffle of V."""
    q = queries.select(
        F.col(queries.columns[0]).alias("qid"),
        F.col(queries.columns[1]).alias("qe"),
    ).withColumn("_qn", F.expr(_NORM2.format(a="qe")))
    c = vectors.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    ).withColumn("_cn", F.expr(_NORM2.format(a="ce")))
    scored = F.broadcast(q).join(c, F.col("qid") != F.col("cid")).select(
        "qid", "cid", _cosine_pre("qe", "ce", "_qn", "_cn").alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ivf_build(
    vectors: DataFrame,
    nlist: int = 16,
    order_key=None,
    sim_round: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (centroids(list_id, centroid), assignments(vec_id, list_id)).

    Deterministic quantizer: the ``nlist`` vectors with the smallest
    ``order_key`` (default xxhash64(vec_id)) become centroids (a seeded
    uniform sample); each vector joins its max-cosine centroid
    (broadcast argmax). ``sim_round`` rounds similarities before the
    argmax — used by the driver contract so Spark and the SQL oracle
    compare identical values (cross-engine float determinism).

    Plan note: ``orderBy().limit(nlist)`` compiles to
    TakeOrderedAndProject — a distributed per-partition top-k folded on
    the driver — so the corpus is never sorted through one partition
    (the prior ``row_number() over (ORDER BY ...)`` formulation was a
    single-task global sort: the job bottleneck at 10^9 vectors). The
    residual row_number window runs over the nlist-row result only."""
    key = order_key if order_key is not None else F.xxhash64(F.col("vec_id"))
    sample = (
        vectors.select("vec_id", "embedding", key.alias("_h"))
        .orderBy("_h", "vec_id")
        .limit(nlist)
    )
    centroids = (
        sample.withColumn("_r", F.row_number().over(Window.orderBy("_h", "vec_id")))
        .select(
            (F.col("_r") - 1).cast("int").alias("list_id"),
            F.col("embedding").alias("centroid"),
        )
    )
    v = vectors.select("vec_id", F.col("embedding").alias("ve")).withColumn(
        "_vn", F.expr(_NORM2.format(a="ve"))
    )
    # augmented copy only — the returned centroids frame keeps its
    # published (list_id, centroid) schema
    cent_n = centroids.withColumn("_cn", F.expr(_NORM2.format(a="centroid")))
    sim = _cosine_pre("ve", "centroid", "_vn", "_cn")
    if sim_round is not None:
        sim = F.round(sim, sim_round)
    scored = v.join(F.broadcast(cent_n)).select(
        "vec_id",
        "list_id",
        sim.alias("sim"),
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("sim"), "list_id")
    assignments = (
        scored.withColumn("_rn", F.row_number().over(aw))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "list_id")
    )
    return centroids, assignments


def ivf_search(
    vectors: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    sim_round: int | None = None,
) -> DataFrame:
    """Probe the ``nprobe`` nearest inverted lists per query, exact
    cosine re-rank inside them. Candidate fan-in ≈ nprobe/nlist of the
    corpus — the scan never touches the other lists (partition/bucket
    pruning when assignments are written bucketed by list_id)."""
    q = queries.select(
        F.col(queries.columns[0]).alias("qid"),
        F.col(queries.columns[1]).alias("qe"),
    ).withColumn("_qn", F.expr(_NORM2.format(a="qe")))
    cent_n = centroids.withColumn("_cn", F.expr(_NORM2.format(a="centroid")))
    psim = _cosine_pre("qe", "centroid", "_qn", "_cn")
    if sim_round is not None:
        psim = F.round(psim, sim_round)
    qprobe = F.broadcast(q).join(F.broadcast(cent_n)).select(
        "qid", "qe", "_qn", "list_id", psim.alias("sim")
    )
    pw = Window.partitionBy("qid").orderBy(F.desc("sim"), "list_id")
    probes = (
        qprobe.withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= nprobe)
        .select("qid", "qe", "_qn", "list_id")
    )
    cands = probes.join(assignments, "list_id").filter(
        F.col("qid") != F.col("vec_id")
    )
    csim = _cosine_pre("qe", "ce", "_qn", "_cn")
    if sim_round is not None:
        csim = F.round(csim, sim_round)
    scored = cands.join(
        vectors.select("vec_id", F.col("embedding").alias("ce")).withColumn(
            "_cn", F.expr(_NORM2.format(a="ce"))
        ),
        "vec_id",
    ).select("qid", F.col("vec_id").alias("cid"), csim.alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), "cid")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)
