"""Binned interval-overlap (range) join — the scale path for theta joins.

Spark plans a raw ``l.start <= r.end AND r.start <= l.end`` predicate as
a broadcast-nested-loop / cartesian product — O(n·m) per key and
unusable at web scale. The standard fix is *binning*: explode every
interval into the fixed-width bins it touches, equi-join on
(key, bin) — which Catalyst executes as a plain shuffled hash join —
then re-check the exact overlap predicate and dedupe the multi-bin
double-hits. Cost: O(overlaps + interval_span/bin_width), the same
technique behind range-join hints in commercial Spark runtimes and
interval trees in genomics engines (bedtools-style).

The engine uses the tiny-group variant of overlap logic inside
(doc, sent) groups (stages/merge.py conflict sweep — reference
entity_merger2.py:99-146); this operator is the unbounded-key
generalization for corpus-scale interval data (crawl windows, page
validity ranges, event spans).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    bin_width: int,
) -> DataFrame:
    """Inner join on key equality + closed-interval overlap
    (l.start <= r.end AND r.start <= l.end), executed as a binned
    equi-join; right columns other than the keys come out suffixed
    ``_r``. Bounds are integral; ``bin_width`` trades shuffle
    volume (small bins → more replicas) against candidate fan-in
    (large bins → more false candidates); set it near the median
    interval length.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # guard the internal bin column and the suffixed right outputs
    # against caller-column collisions (silent wrong output otherwise)
    if "__bin" in left.columns or "__bin" in right.columns:
        raise ValueError("interval_join: reserved column name '__bin' in input")
    out_clash = {
        c + "_r" for c in right.columns if c not in keys
    } & set(left.columns)
    if out_clash:
        raise ValueError(
            f"interval_join: suffixed right column(s) collide with left "
            f"columns: {sorted(out_clash)}; rename the column"
        )

    def binned(df: DataFrame) -> DataFrame:
        # exact integer division (bounds must be non-negative integers —
        # avoids double-rounding near bin boundaries at int64 magnitudes)
        return df.withColumn(
            "__bin",
            F.explode(
                F.sequence(
                    F.expr(f"start div {bin_width}"),
                    F.expr(f"end div {bin_width}"),
                )
            ),
        )

    r2 = binned(right).select(
        *keys,
        "__bin",
        *[F.col(c).alias(c + "_r") for c in right.columns if c not in keys],
    )
    l2 = binned(left)
    joined = l2.join(r2, [*keys, "__bin"]).filter(
        (F.col("start") <= F.col("end_r")) & (F.col("start_r") <= F.col("end"))
    )
    # a pair overlapping k shared bins appears k times; keep the lowest
    # shared bin — a pure predicate (no distinct/shuffle needed)
    lowest_shared = F.greatest(
        F.expr(f"start div {bin_width}"),
        F.expr(f"start_r div {bin_width}"),
    )
    return joined.filter(F.col("__bin") == lowest_shared).drop("__bin")
