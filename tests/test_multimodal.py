"""Multimodal plumbing tests: schema, batch shapes, determinism,
metadata-only pruning, and the Python workers' import path.  Real
decode and resize (``resize_images``) are tested in test_codecs."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from bigdatamlteamrepo_spark.sources import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.generate_media(spark, n_rows=200, seed=42).cache()


def test_media_schema_and_metadata(media):
    assert [(f.name, f.dataType) for f in media.schema] == [
        (f.name, f.dataType) for f in mm.MEDIA_SCHEMA
    ]
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    # metadata nullity follows kind
    assert media.filter((F.col("kind") == "audio") & F.col("width").isNotNull()).count() == 0
    assert media.filter((F.col("kind") == "image") & F.col("duration_ms").isNotNull()).count() == 0
    assert media.filter(F.col("payload").isNull()).count() == 0


def test_extract_features_shapes(media):
    feats = mm.extract_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()
    for r in rows[:20]:
        assert len(r.features) == 16
        assert all(0.0 <= v < 1.0 for v in r.features)
        assert r.n_bytes > 0
    # deterministic: same input → same features
    again = {r.media_id: r.features for r in mm.extract_features(media).collect()}
    for r in rows:
        assert again[r.media_id] == r.features


def test_sample_frames(media):
    frames = mm.sample_frames(media, fps=1.0)
    per_video = {r.media_id: r.n for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()}
    durs = {r.media_id: r.duration_ms for r in media.filter(F.col("kind") == "video").collect()}
    assert set(per_video) == set(durs)
    for mid, n in per_video.items():
        expected = len(range(0, durs[mid], 1000))
        assert n == expected
    # frame indices dense from 0
    one = min(per_video)
    idxs = [r.frame_idx for r in frames.filter(F.col("media_id") == one).orderBy("frame_idx").collect()]
    assert idxs == list(range(len(idxs)))


def test_metadata_query_prunes_payload(media, tmp_path):
    """Column pruning: a metadata-only aggregate over the parquet table
    must not read the payload column (ReadSchema check)."""
    path = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(path)
    spark = media.sparkSession
    q = (
        spark.read.parquet(path)
        .groupBy("kind")
        .agg(F.avg("width").alias("avg_w"), F.count(F.lit(1)).alias("n"))
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan, "payload column not pruned from scan"
    assert q.count() == 3


# ---------------------------------------------------------------------------
# MJPEG-in-MP4: real in-frame video decode (VERDICT_r8 #6)
# ---------------------------------------------------------------------------


def test_mjpeg_mp4_roundtrip_bit_exact():
    """encode_mp4_mjpeg → parse_mp4_frame_payloads returns the EXACT
    frame bytes (stco offset + stsz slicing), and each slice decodes to
    the original solid-gray pixels (spec-exact JPEG subset)."""
    import numpy as np

    from bigdatamlteamrepo_spark.sources.codecs import (
        decode_image,
        encode_mp4_mjpeg,
        parse_mp4_frame_payloads,
    )
    from bigdatamlteamrepo_spark.sources.jpeg import encode_jpeg

    frames, vals = [], []
    for f in range(6):
        v = 68 + 2 * ((7 * 23 + f * 5 + 42) % 60)
        vals.append(v)
        frames.append(
            encode_jpeg(np.full((20, 28, 3), v, dtype=np.uint8), 50 + 25 * (f % 2))
        )
    deltas = np.array([33, 33, 33, 33, 34, 34], dtype=np.uint32)
    payload = encode_mp4_mjpeg(frames, deltas, 1000)
    d2, fr2, ts = parse_mp4_frame_payloads(payload)
    assert ts == 1000 and list(d2) == list(deltas)
    assert [bytes(x) for x in fr2] == frames
    for fb, v in zip(fr2, vals):
        rgb = decode_image(fb)
        assert rgb.shape == (20, 28, 3) and (rgb == v).all()


def test_parse_mp4_frame_payloads_on_skeleton():
    """The demuxer works on the pattern-mdat skeleton too: slice
    boundaries come from the real stsz/stco tables."""
    import numpy as np

    from bigdatamlteamrepo_spark.sources.codecs import (
        encode_mp4_skeleton,
        parse_mp4_frame_payloads,
    )

    p = encode_mp4_skeleton(
        np.array([33, 33, 35], dtype=np.uint32),
        np.array([50, 70, 90], dtype=np.uint32),
    )
    deltas, frames, _ = parse_mp4_frame_payloads(p)
    assert [len(f) for f in frames] == [50, 70, 90]
    # the pattern is (arange + i*37) % 256 per frame
    for i, f in enumerate(frames):
        want = ((np.arange(len(f), dtype=np.int64) + i * 37) % 256).astype(np.uint8)
        assert f == want.tobytes()


def test_decode_video_frames_matches_fixture(spark):
    """decode_video_frames (container demux + per-frame JPEG decode via
    mapInPandas) reproduces the closed-form fixture stats, and is
    partitioning-invariant."""
    media = mm.generate_mjpeg_media(spark, n_rows=8, seed=42)
    rows = {
        (r.media_id, r.frame_idx): r
        for r in mm.decode_video_frames(media).collect()
    }
    for mid in range(8):
        n = 3 + (mid * 19 + 42) % 6
        w = 16 + (mid * 7 + 42) % 33
        h = 16 + (mid * 11 + 42) % 17
        ts = 0
        for f in range(n):
            r = rows[(mid, f)]
            v = 68 + 2 * ((mid * 23 + f * 5 + 42) % 60)
            assert (r.px_width, r.px_height) == (w, h)
            assert r.total_px == w * h
            assert r.luma_sum == v * w * h  # solid gray decodes exactly
            assert r.frame_ts_ms == ts
            ts += 33 + (mid + f // 4) % 3
    assert len(rows) == sum(3 + (m * 19 + 42) % 6 for m in range(8))
    # partitioning invariance
    one = {
        (r.media_id, r.frame_idx): (r.luma_sum, r.frame_ts_ms)
        for r in mm.decode_video_frames(media.coalesce(1)).collect()
    }
    assert one == {k: (r.luma_sum, r.frame_ts_ms) for k, r in rows.items()}


# ---------------------------------------------------------------------------
# Perceptual hash: cross-codec image dedup (r09)
# ---------------------------------------------------------------------------


def test_phash_collapses_reencodes_pure():
    """codec-level pins: PPM/PNG/JPEG re-encodes of the same content
    hash within a small Hamming ball; distinct contents sit far."""
    import numpy as np

    from bigdatamlteamrepo_spark.sources.codecs import (
        decode_image,
        encode_png,
        encode_ppm,
        phash64,
        synth_image,
    )
    from bigdatamlteamrepo_spark.sources.jpeg import encode_jpeg

    img = synth_image(3, 60, 44)
    h_ppm = phash64(decode_image(encode_ppm(img)))
    h_png = phash64(decode_image(encode_png(img, filter_type=2)))
    h_jpg = phash64(decode_image(encode_jpeg(img, 75)))
    assert h_ppm == h_png  # lossless: identical pixels, identical hash
    assert bin(h_ppm ^ h_jpg).count("1") <= 6  # lossy: inside the band bar
    other = phash64(synth_image(29, 60, 44))
    assert bin(h_ppm ^ other).count("1") > 10


def test_image_phash_neardup_pairs_finds_planted_dups(spark):
    """The Spark face: 20 contents × 3 encodings — every content's
    three variants must pair up (3 pairs per content), and no
    cross-content pair may appear."""
    media = mm.generate_reencoded_media(spark, n_rows=60, seed=42)
    pairs = mm.image_phash_neardup_pairs(media, max_hamming=6).collect()
    groups = 20
    got = {(r.media_a, r.media_b) for r in pairs}
    for a, b in got:
        assert a % groups == b % groups, f"cross-content pair {(a, b)}"
    # every planted trio pairs completely: (k, k+20), (k, k+40), (k+20, k+40)
    want = set()
    for k in range(groups):
        want |= {(k, k + groups), (k, k + 2 * groups), (k + groups, k + 2 * groups)}
    missing = want - got
    assert not missing, f"unpaired re-encodes: {sorted(missing)[:5]}"
    # partitioning invariance
    again = {
        (r.media_a, r.media_b)
        for r in mm.image_phash_neardup_pairs(
            media.coalesce(1), max_hamming=6
        ).collect()
    }
    assert again == got


def test_pandas_udf_face_runs_outside_the_repo_root(tmp_path):
    """A session from ``get_spark`` puts the package on the Python
    workers' path: a mapInPandas face runs from another directory with
    the package only on the driver's ``sys.path`` and no PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {root!r})
from bigdatamlteamrepo_spark import get_spark
from bigdatamlteamrepo_spark.queries import QUERIES
spark = get_spark(master="local[2]", shuffle_partitions=2)
print("ROWS", QUERIES["multimodal_decode_summary"](spark, "unused").count())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 2" in out.stdout
