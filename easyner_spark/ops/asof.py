"""As-of (backward temporal) join — a first-class operator Spark lacks.

For every left row, attach the latest right row whose timestamp is at
or before the left timestamp, per key. The classic quote/trade join;
in this engine it serves "state of entity X as of crawl time T"
lookups over page snapshots and KG entity versions.

Formulation: tag-and-union. Both sides union into one table (right
rows flagged), ONE shuffle on the join keys, and a per-key running
``last(payload, ignorenulls)`` window ordered by (ts, right-first)
carries the newest right payload forward onto each left row. That is
the distributed as-of used by kdb/Flink-style engines: no per-row
probe, no range explosion — cost is one sort per key partition.

Compare the naive theta join (left.ts >= right.ts then argmax): a
per-key quadratic blow-up that is unusable at web scale.

Determinism: rows at equal timestamps order right-before-left, so a
left row at exactly t matches a right row at t (inclusive semantics,
matching DuckDB's ``ASOF JOIN ... ON l.ts >= r.ts`` oracle). Right rows
tied on (keys, ts) are ordered by their payload struct, so the match is
the GREATEST payload (unless the payload holds a map, which is not
orderable) — deterministic under any partition layout. Note
an external oracle (e.g. DuckDB ASOF) makes its own arbitrary pick on
such ties: pre-aggregate the right side to one row per (keys, ts) when
cross-engine agreement matters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F
from pyspark.sql import types as T


def _has_map(dt: T.DataType) -> bool:
    """True if the type contains a MapType anywhere (maps are
    unordered: xxhash64 rejects them and no window ORDER BY takes them)."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt: int | None = None,
) -> DataFrame:
    """Backward as-of left join on the ``ts`` column of both sides →
    all left columns + right payload columns (everything but the keys)
    suffixed ``_r``, NULL when no right row precedes.

    Tied right rows are ordered by their payload struct (deterministic
    greatest-payload pick) unless the payload holds a map, which no
    window ORDER BY accepts; a map payload's right side must then be
    unique per (keys, ts) for a deterministic result.

    ``salt``: hot-key guard. The window partitions by key, so one hot
    key (a null-heavy join column, a mega-user) concentrates its whole
    timeline in ONE task whose sort is the straggler. ``salt=S`` splits
    the LEFT rows of every key across S sub-partitions (hash of the
    left timestamp AND the left row's hashable columns — map-typed
    columns are skipped, xxhash64 rejects them — stateless,
    layout-invariant, and immune to the coarse-granularity / NULL-ts
    collapse a ts-only hash has: a hot key whose rows share one
    timestamp still spreads by payload) and replicates the RIGHT rows
    to all S, so each task sorts ~left/S + right rows. The result is
    EXACT (every left row still sees every right row for its key); the
    trade is an S× right-side replication, so it fits the common shape
    left ≫ right per key. Note fully-identical left rows share a hash
    and stay together — unavoidable for a deterministic salt, and only
    a straggler if the hot key's timeline is mostly verbatim duplicate
    rows. Measured: scripts/skew_bench.py --asof."""
    keys = [on] if isinstance(on, str) else list(on)
    payload = [c for c in right.columns if c not in keys]
    # the internal tag/window columns and the suffixed outputs must not
    # collide with caller columns — a left frame already holding "__ts"
    # (or a right payload name that suffixes onto an existing left
    # column) would silently produce wrong or ambiguous output
    reserved = {"__ts", "__is_r", "__p", "__l", "__m", "__salt"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(f"asof_join: reserved column name(s) in input: {sorted(clash)}")
    out_clash = {c + "_r" for c in payload} & set(left.columns)
    if out_clash:
        raise ValueError(
            f"asof_join: suffixed right column(s) collide with left columns: "
            f"{sorted(out_clash)}; rename the column"
        )
    r2 = right.select(
        *keys,
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__is_r"),
        F.struct(*[F.col(c) for c in payload]).alias("__p"),
    )
    l2 = left.select(
        *keys,
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__is_r"),
        F.lit(None).cast(r2.schema["__p"].dataType).alias("__p"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    r2 = r2.withColumn("__l", F.lit(None).cast(l2.schema["__l"].dataType))
    part_keys = list(keys)
    if salt is not None and salt > 1:
        # hash ts AND the left row: a ts-only hash collapses to one
        # sub-partition when a hot key's rows share few distinct ts
        # values (coarse timestamps; xxhash64(NULL) is a constant).
        # Map-typed columns are excluded — xxhash64 rejects MapType
        # (unordered) — so a map-payload left frame still salts by its
        # hashable columns (ts-only in the degenerate all-map case).
        hashable = [
            f.name
            for f in left.schema.fields
            if not _has_map(f.dataType)
        ]
        # getField, not the string path f"__l.{c}": a left column name
        # containing a dot/backtick would misresolve at plan time in the
        # dotted-path form while working fine unsalted (ADVICE r4)
        l2 = l2.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(
                    "__ts", *[F.col("__l").getField(c) for c in hashable]
                ),
                F.lit(salt),
            ),
        )
        r2 = r2.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        ).withColumn("__salt", F.col("__salt").cast("bigint"))
        part_keys.append("__salt")
    order = [F.col("__ts").asc(), F.col("__is_r").desc()]
    if not _has_map(r2.schema["__p"].dataType):
        # deterministic tie-break among right rows at one ts: the
        # greatest payload struct wins (last() takes the final one)
        order.append(F.col("__p").asc_nulls_first())
    w = (
        W.partitionBy(*part_keys)
        .orderBy(*order)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = (
        l2.unionByName(r2)
        .withColumn("__m", F.last("__p", ignorenulls=True).over(w))
        .filter(F.col("__is_r") == 0)
    )
    return matched.select(
        "__l.*",
        *[F.col(f"__m.{c}").alias(c + "_r") for c in payload],
    )
