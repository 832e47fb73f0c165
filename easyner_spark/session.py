"""SparkSession factory for the engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~ cores (not 200), AQE on (runtime coalesce + skew-join),
Arrow on for the pandas-UDF hot paths, UTC session timezone so results
compare cleanly against the DuckDB oracle, and a compiled-class cache
that holds the engine's working set (``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's compiled-class cache (spark.sql.codegen.cache.maxEntries, an
# LRU of 100 by default) is smaller than one engine pass: measured on
# local[4], the nine curation queries compile ~200 distinct classes, a
# run_pipeline pass ~420 and all 126 contract queries ~2,150 in one
# session. At 100, every repeated pass re-ran Janino for nearly all of
# them (one 126-query pass compiled 3,909 classes instead of 2,135).
# 4,000 holds the 126-query set with ~1.9x headroom for ~15 MB more
# Metaspace; see README "Session".
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(
    app_name: str = "easyner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores). On a real cluster the caller passes master/conf via
    spark-submit and this function only layers the SQL configs.
    """
    if master is None:
        # under spark-submit the JVM gateway already exists and exports
        # PYSPARK_GATEWAY_PORT to the python driver — respect the
        # submit-provided master (never override the cluster manager
        # from library code). NOTE: SparkConf().contains("spark.master")
        # is NOT a usable signal here — before the first SparkContext
        # the python-side conf is an empty dict. Standalone library use
        # falls back to local mode.
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_s = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus_s) if cpus_s.isdigit() else (os.cpu_count() or 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size ~= the reference's sentence_batch_size=500
        # (reference: scripts/ner_spacy.py:140-141) but larger because our
        # UDFs are vectorized over the whole batch, not per-sentence.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
