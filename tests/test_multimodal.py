"""Multimodal binary plumbing: deterministic frame sampling."""

import pytest

from easyner_spark.ops.multimodal import sample_frames

PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
JPG = b"\xff\xd8\xff\xe0" + b"\x01" * 100
MP4 = b"\x00\x00\x00\x18ftypisom" + b"\x02" * 500
RAW = b"justbytes" * 50


@pytest.fixture()
def payloads(spark):
    return spark.createDataFrame(
        [("p1", PNG), ("p2", JPG), ("p3", MP4), ("p4", RAW)],
        "payload_id string, payload binary",
    )


def test_sample_frames_shape(spark, payloads):
    frames = sample_frames(payloads, n_frames=4, frame_size=64).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["payload_id"], []).append(r)
    assert all(len(v) == 4 for v in by_id.values())
    # first frame starts at byte 0; frames are within the payload
    p3 = sorted(by_id["p3"], key=lambda r: r["frame_idx"])
    assert bytes(p3[0]["frame_bytes"])[:8] == MP4[:8]
    assert all(len(bytes(r["frame_bytes"])) <= 64 for r in p3)
    # last frame reaches the payload tail
    assert bytes(p3[-1]["frame_bytes"]) == MP4[-64:]
