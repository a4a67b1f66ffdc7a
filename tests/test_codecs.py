"""Real-codec tier: PPM/WAV encode-decode roundtrips, box resize math,
and the Spark decode pipeline over actual payload bytes."""

from __future__ import annotations

import numpy as np
import pytest

from bigdatamlteamrepo_spark.sources.codecs import (
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav,
    resize_rgb,
    synth_audio,
    synth_image,
)


def test_ppm_roundtrip_exact():
    rgb = synth_image(7, w=41, h=29)
    again = decode_ppm(encode_ppm(rgb))
    assert again.shape == (29, 41, 3)
    assert np.array_equal(rgb, again)


def test_ppm_rejects_non_p6():
    with pytest.raises(ValueError):
        decode_ppm(b"P3\n1 1\n255\n0 0 0")


def test_wav_roundtrip_exact():
    samples = synth_audio(11, 4097)
    back, rate = decode_wav(encode_wav(samples, 8000))
    assert rate == 8000
    assert np.array_equal(samples, back)


def test_resize_box_average_exact():
    # 4x4 constant blocks downscaled by exactly 2 → the block means
    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    rgb[:2, :2] = 10
    rgb[:2, 2:] = 20
    rgb[2:, :2] = 30
    rgb[2:, 2:] = 40
    small = resize_rgb(rgb, max_side=2)
    assert small.shape == (2, 2, 3)
    assert small[0, 0, 0] == 10 and small[0, 1, 0] == 20
    assert small[1, 0, 0] == 30 and small[1, 1, 0] == 40


def test_resize_never_upscales_and_bounds():
    rgb = synth_image(3, w=100, h=60)
    assert resize_rgb(rgb, 200) is rgb
    small = resize_rgb(rgb, 64)
    assert max(small.shape[:2]) <= 64
    # aspect preserved within integer-ceil rounding: factor ceil(100/64)=2
    assert small.shape == (30, 50, 3)


def test_decode_pipeline_matches_local_computation(spark):
    from bigdatamlteamrepo_spark.sources.multimodal import (
        decode_media_stats,
        generate_decodable_media,
    )

    media = generate_decodable_media(spark, n_rows=30, seed=42)
    rows = {r.media_id: r for r in decode_media_stats(media).collect()}
    assert len(rows) == 30
    # cross-check one image and one audio row against driver-side numpy
    img_id = next(m for m, r in rows.items() if r.kind == "image")
    w, h = 32 + (img_id * 7 + 42) % 97, 32 + (img_id * 11 + 42) % 73
    rgb = synth_image(img_id, w, h)
    rgb64 = rgb.astype(np.int64)  # widen before scaling (uint8 wraps)
    luma = (2 * rgb64[..., 0] + 5 * rgb64[..., 1] + rgb64[..., 2]) // 8
    assert rows[img_id].px_width == w and rows[img_id].px_height == h
    assert abs(rows[img_id].mean_luma - float(luma.mean())) < 1e-9
    aud_id = next(m for m, r in rows.items() if r.kind == "audio")
    n = 8000 // 4 + (aud_id * 13 + 42) % 8000
    x = synth_audio(aud_id, n).astype(np.float64)
    assert rows[aud_id].n_samples == n
    assert abs(rows[aud_id].rms - float(np.sqrt((x * x).mean()))) < 1e-9


def test_decode_stats_partitioning_invariant(spark):
    from bigdatamlteamrepo_spark.sources.multimodal import (
        decode_media_stats,
        generate_decodable_media,
    )

    a = decode_media_stats(generate_decodable_media(spark, 24, 1)).collect()
    b = decode_media_stats(
        generate_decodable_media(spark, 24, 1).repartition(5)
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_resize_images_real_reencodes(spark):
    from bigdatamlteamrepo_spark.sources.multimodal import (
        generate_decodable_media,
        resize_images,
    )

    media = generate_decodable_media(spark, n_rows=20, seed=9)
    out = resize_images(media, max_side=40).collect()
    assert out
    for r in out:
        rgb = decode_ppm(bytes(r.payload))
        assert rgb.shape == (r.height, r.width, 3)
        assert max(r.width, r.height) <= 40


def test_png_roundtrip_all_filters():
    """encode_png/decode_png: bit-exact round-trips for every PNG
    scanline filter type, RGB and RGBA, gradient and high-entropy
    content — the un-stubbed compressed-image tier (pure zlib +
    chunk framing, no image library)."""
    import numpy as np

    from bigdatamlteamrepo_spark.sources.codecs import (
        decode_png,
        encode_png,
        synth_image,
    )

    for ft in range(5):
        img = synth_image(3 + ft, 37, 41)
        assert (decode_png(encode_png(img, filter_type=ft)) == img).all()
        noisy = (img.astype(np.uint32) * 181 % 256).astype(np.uint8)
        assert (decode_png(encode_png(noisy, filter_type=ft)) == noisy).all()
    rgba = np.dstack(
        [synth_image(5, 20, 14), synth_image(9, 20, 14)[..., 0]]
    )
    got = decode_png(encode_png(rgba, filter_type=4))
    assert got.shape == (14, 20, 4) and (got == rgba).all()


def test_png_rejects_corruption():
    import pytest

    from bigdatamlteamrepo_spark.sources.codecs import (
        decode_png,
        encode_png,
        synth_image,
    )

    good = bytearray(encode_png(synth_image(1, 16, 16)))
    with pytest.raises(ValueError):
        decode_png(b"\x89PNG\r\n\x1a\x00" + bytes(good[8:]))  # bad magic
    bad = bytearray(good)
    bad[40] ^= 0xFF  # flip a byte inside IDAT → CRC mismatch
    with pytest.raises(ValueError):
        decode_png(bytes(bad))


def test_decode_image_dispatch():
    """The one-function decode seam routes by payload magic."""
    import pytest

    from bigdatamlteamrepo_spark.sources.codecs import (
        decode_image,
        encode_png,
        encode_ppm,
        synth_image,
    )

    img = synth_image(7, 24, 18)
    assert (decode_image(encode_ppm(img)) == img).all()
    assert (decode_image(encode_png(img)) == img).all()
    with pytest.raises(ValueError):
        decode_image(b"JFIF not really")


def test_png_media_resize_real(spark):
    """resize_images over PNG payloads: decode dispatch + box
    downscale + re-encode on real compressed bytes."""
    from bigdatamlteamrepo_spark.sources import multimodal as mm
    from bigdatamlteamrepo_spark.sources.codecs import decode_ppm

    media = mm.generate_png_media(spark, n_rows=20, seed=42)
    out = {r.media_id: r for r in mm.resize_images(media, max_side=16).collect()}
    assert len(out) == 20
    for mid, r in out.items():
        assert max(r.width, r.height) <= 16
        arr = decode_ppm(bytes(r.payload))
        assert arr.shape == (r.height, r.width, 3)


def test_mp4_container_roundtrip():
    """encode_mp4_skeleton/parse_mp4_frames: the stts RLE, stsz table,
    and mdhd timescale survive the box round-trip exactly."""
    import numpy as np
    import pytest

    from bigdatamlteamrepo_spark.sources.codecs import (
        encode_mp4_skeleton,
        parse_mp4_frames,
    )

    d = np.array([33, 33, 33, 34, 34, 35, 33, 33], dtype=np.uint32)
    s = np.array([100, 200, 150, 120, 130, 140, 110, 105], dtype=np.uint32)
    payload = encode_mp4_skeleton(d, s)
    dd, ss, ts = parse_mp4_frames(payload)
    assert (dd == d).all() and (ss == s).all() and ts == 1000
    # single-run RLE + non-default timescale
    d2 = np.full(50, 40, dtype=np.uint32)
    s2 = np.arange(50, dtype=np.uint32) + 64
    dd, ss, ts = parse_mp4_frames(encode_mp4_skeleton(d2, s2, timescale=600))
    assert (dd == d2).all() and (ss == s2).all() and ts == 600
    with pytest.raises(ValueError):
        parse_mp4_frames(b"\x00\x00\x00\x08free" + payload)  # no ftyp magic
    with pytest.raises(ValueError):
        encode_mp4_skeleton(np.array([], np.uint32), np.array([], np.uint32))


def test_mp4_frame_sampling_stage(spark):
    """sample_frames_mp4 reads frame timing from the REAL boxes: counts
    and cumulative timestamps match the closed-form synthesis."""
    from bigdatamlteamrepo_spark.sources import multimodal as mm

    media = mm.generate_mp4_media(spark, n_rows=12, seed=42)
    rows = mm.sample_frames_mp4(media).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    assert len(by_media) == 12
    for mid, frs in by_media.items():
        n = 24 + (mid * 19 + 42) % 96
        assert len(frs) == n
        frs.sort(key=lambda r: r.frame_idx)
        ts = 0
        for f, r in enumerate(frs):
            assert r.frame_ts_ms == ts
            assert r.frame_bytes == 100 + (mid * 7 + f * 13) % 900
            ts += 33 + (mid + f // 8) % 3


def test_g711_expansion_spec_points():
    """Canonical G.711 reference points: µ-law 0xFF/0x7F are ±0 and
    0x80/0x00 are ±32124; A-law 0x55/0xD5 are ∓8 (A-law's SET sign bit
    means POSITIVE — the µ-law convention inverted), max ±32256."""
    import numpy as np

    from bigdatamlteamrepo_spark.sources.codecs import (
        alaw_expand,
        ulaw_compress,
        ulaw_expand,
    )

    mu = ulaw_expand(np.array([0xFF, 0x7F, 0x80, 0x00], np.uint8))
    assert mu.tolist() == [0, 0, 32124, -32124]
    al = alaw_expand(np.array([0x55, 0xD5, 0xAA, 0x2A], np.uint8))
    assert al.tolist() == [-8, 8, 32256, -32256]
    # companding: expand(compress(.)) is a fixed point over the whole
    # int16 domain, and error stays within the top-segment step
    x = np.arange(-32768, 32768, dtype=np.int64).astype(np.int16)
    y = ulaw_expand(ulaw_compress(x))
    assert (ulaw_expand(ulaw_compress(y)) == y).all()
    clipped = np.clip(x.astype(int), -32635, 32635)
    assert np.abs(clipped - y.astype(int)).max() <= 512


def test_g711_wav_roundtrip():
    import numpy as np
    import pytest

    from bigdatamlteamrepo_spark.sources.codecs import (
        alaw_expand,
        decode_wav,
        encode_wav_g711,
        ulaw_expand,
    )

    codes = ((np.arange(700) * 31 + 5) % 256).astype(np.uint8)
    for law, expand in (("ulaw", ulaw_expand), ("alaw", alaw_expand)):
        s, rate = decode_wav(encode_wav_g711(codes, 8000, law))
        assert rate == 8000 and (s == expand(codes)).all()
    # unknown codec id still refuses loudly
    bad = bytearray(encode_wav_g711(codes, 8000, "ulaw"))
    bad[20] = 99
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))
