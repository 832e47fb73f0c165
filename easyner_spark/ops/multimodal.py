"""Multimodal column plumbing: deterministic frame sampling over opaque
binary payloads.

No reference counterpart (EasyNER is text-only). Image/audio/video
payloads are opaque ``binary`` columns ``(payload_id, payload)``; the
codec is out of scope (no image/audio library in this build), so frame
sampling slices byte windows with the same Spark shape a real
keyframe decoder would have.

Frame sampling emits (payload_id, frame_idx, frame_bytes) — an
explode-shaped, pure-JVM operator, so one huge video cannot skew a
partition beyond its own row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    frame_size: int = 256,
) -> DataFrame:
    """Deterministic frame sampling: n_frames evenly-spaced byte windows
    per payload (the codec-free stand-in for video frame extraction —
    a real build swaps the slicer for pyav keyframe decode; the Spark
    shape, schema and partitioning stay identical).

    Pure JVM explode: (payload_id, frame_idx, frame_bytes). Offsets use
    INTEGER division ((idx * (len - size)) div stride) — exact and
    engine-invariant, per the repo float rules; a float quotient cast
    to int could round differently across engines at the boundary.
    """
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    exploded = df.select("payload_id", "payload", idx)
    stride = max(n_frames - 1, 1)
    return exploded.select(
        "payload_id",
        "frame_idx",
        F.expr(
            "substring(payload, cast((frame_idx *"
            f" greatest(octet_length(payload) - {frame_size}, 0))"
            f" div {stride} as int) + 1, {frame_size})"
        ).alias("frame_bytes"),
    )
