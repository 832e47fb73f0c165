"""Global rank and prefix sums without a global sort.

Reference analog: scripts/nel.py:28-59 mints ids with one sequential
counter and scripts/analysis.py:61-104 ranks entities with one sort.
Both are a position in a total order; the distributed form used here:
rows are bucketed by a key whose order agrees with the wanted order
(the sort key's leading column, or a prefix of it), numbered or summed
inside each bucket by a bucket-partitioned window, and shifted by the
total of every earlier bucket. The bucket table is bounded (alphabet²
string prefixes, distinct counts, 256 hash prefixes), so the offsets
are a broadcast theta self-join over it — no stage of the plan has a
single-partition exchange (an unpartitioned prefix-sum window would
plan one, and a global ``orderBy`` sorts the whole input through it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def bucket_prefix(
    tbl: DataFrame, key: str, val: str, agg_fn, out: str,
    inclusive: bool = False, descending: bool = False,
) -> DataFrame:
    """``agg_fn`` of ``val`` over the rows whose ``key`` comes before
    each row's (ascending, or descending when ``descending``; the row
    itself too when ``inclusive``), one row per ``key``: broadcast
    theta self-join + keyed agg over a BOUNDED bucket table (length
    histogram, bucket maxima, ...). LEFT join, so the first key
    survives with NULL (agg over zero rows; callers coalesce if they
    need a zero). Both join sides consume ``tbl`` — pass a
    materialized frame unless recomputing it is cheap (Catalyst does
    not dedupe the fan-out)."""
    rhs = tbl.select(F.col(key).alias("_pk2"), F.col(val).alias("_pv2"))
    k, k2 = F.col(key), F.col("_pk2")
    if descending:
        cond = (k2 >= k) if inclusive else (k2 > k)
    else:
        cond = (k2 <= k) if inclusive else (k2 < k)
    return (
        tbl.join(F.broadcast(rhs), cond, "left")
        .groupBy(key)
        .agg(agg_fn(F.col("_pv2")).alias(out))
    )


def ordered_prefix(
    df: DataFrame, bucket: str, order_cols: list, out: str,
    val: str | None = None, descending: bool = False,
) -> DataFrame:
    """``df`` + ``out``: the exclusive prefix sum of ``val`` (the row
    count when None) in the global order (``bucket``, *``order_cols``)
    — ``bucket`` descending when ``descending``, ``order_cols`` as
    given. A 1-based rank / row number is ``out + 1``.

    Requirements: the order is total (unique per row), ``bucket`` is
    non-null, and few distinct buckets exist. Three steps: a window
    partitioned by ``bucket`` numbers (or sums) rows inside the bucket;
    bucket totals come from the windowed frame, which is already
    hash-partitioned by ``bucket`` (no second exchange); offsets are
    :func:`bucket_prefix` over those totals."""
    w = W.partitionBy(bucket).orderBy(*order_cols)
    if val is None:
        local = df.withColumn("_run", F.row_number().over(w) - 1)
        total = F.count("*")
    else:
        before = w.rowsBetween(W.unboundedPreceding, -1)
        local = df.withColumn("_run", F.coalesce(F.sum(val).over(before), F.lit(0)))
        total = F.sum(val)
    totals = local.groupBy(bucket).agg(total.cast("bigint").alias("_n"))
    offs = bucket_prefix(totals, bucket, "_n", F.sum, "_off", descending=descending)
    return (
        local.join(F.broadcast(offs), bucket)
        .withColumn(out, (F.coalesce("_off", F.lit(0)) + F.col("_run")).cast("bigint"))
        .drop("_run", "_off")
    )
