"""Multimodal column tests: real pure-numpy BMP/WAV codecs end-to-end
through the distributed feature path, plus the synthetic-fake plumbing
and the honest NotImplementedError for compressed formats."""

from __future__ import annotations

import numpy as np
import pytest

from marker_spark.ops.multimodal import (
    FEATURE_DIM,
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    extract_features,
    synth_assets,
    synth_real_assets,
)


def test_bmp_roundtrip_exact():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)  # odd width -> stride pad
    out = decode_bmp(encode_bmp(img))
    assert out.shape == (13, 7, 3)
    assert np.array_equal((out * 255.0).round().astype(np.uint8), img)


def test_wav_roundtrip_exact():
    rng = np.random.default_rng(2)
    mono = rng.integers(-32768, 32767, size=501, dtype=np.int16)
    s, rate = decode_wav(encode_wav(mono, 8000))
    assert rate == 8000 and s.shape == (501, 1)
    assert np.array_equal((s * 32768.0).round().astype(np.int16).ravel(), mono)
    stereo = rng.integers(-32768, 32767, size=(100, 2), dtype=np.int16)
    s2, _ = decode_wav(encode_wav(stereo, 44100))
    assert s2.shape == (100, 2)
    assert np.array_equal((s2 * 32768.0).round().astype(np.int16), stereo)


def test_real_decode_distributed(spark):
    """fake=False over real BMP/WAV payloads: the full decode ->
    feature path runs distributed with no codec libraries."""
    assets = synth_real_assets(spark, n=16, seed=42).repartition(4)
    rows = extract_features(assets, fake=False).collect()
    assert len(rows) == 16
    for r in rows:
        assert len(r["feature"]) == FEATURE_DIM
        assert all(np.isfinite(v) for v in r["feature"])
    # deterministic across runs
    again = extract_features(synth_real_assets(spark, n=16, seed=42), fake=False).collect()
    a = {r["asset_id"]: r["feature"] for r in rows}
    b = {r["asset_id"]: r["feature"] for r in again}
    assert a == b


def test_real_decode_rejects_unknown_format(spark):
    assets = synth_assets(spark, n=6, seed=0)  # random bytes, no magic
    with pytest.raises(Exception) as ei:
        extract_features(assets, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_fake_plumbing_and_frame_sample(spark):
    assets = synth_assets(spark, n=12, seed=3)
    feats = extract_features(assets, fake=True).collect()
    assert len(feats) == 12 and all(len(r["feature"]) == FEATURE_DIM for r in feats)


def _png_with_filter(img: np.ndarray, ftype: int) -> bytes:
    """Build a PNG whose every scanline uses filter `ftype` (the inverse
    of decode's reconstruction), to exercise all five filter paths."""
    import struct
    import zlib

    h, w, c = img.shape
    bpp = c
    flat = img.astype(np.int64).reshape(h, w * c)
    out_rows = []
    prev = np.zeros(w * c, dtype=np.int64)
    for y in range(h):
        rec = flat[y]
        filt = np.empty_like(rec)
        for x in range(len(rec)):
            a = rec[x - bpp] if x >= bpp else 0
            b = prev[x]
            cc = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            filt[x] = (rec[x] - pred) & 0xFF
        out_rows.append(bytes([ftype]) + filt.astype(np.uint8).tobytes())
        prev = rec

    def chunk(tag, body):
        return struct.pack(">I", len(body)) + tag + body + struct.pack(
            ">I", zlib.crc32(tag + body) & 0xFFFFFFFF
        )

    color = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(out_rows)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_exact():
    from marker_spark.ops.multimodal import decode_png, encode_png

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    out = decode_png(encode_png(img))
    assert out.shape == (9, 11, 3)
    assert np.array_equal((out * 255.0).round().astype(np.uint8), img)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_png_all_filter_types(ftype):
    from marker_spark.ops.multimodal import decode_png

    rng = np.random.default_rng(10 + ftype)
    img = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8)
    out = decode_png(_png_with_filter(img, ftype))
    assert np.array_equal((out * 255.0).round().astype(np.uint8), img), ftype


def test_png_greyscale_and_rgba():
    from marker_spark.ops.multimodal import decode_png

    rng = np.random.default_rng(21)
    grey = rng.integers(0, 256, size=(5, 5, 1), dtype=np.uint8)
    assert decode_png(_png_with_filter(grey, 1)).shape == (5, 5, 1)
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    out = decode_png(_png_with_filter(rgba, 2))
    assert np.array_equal((out * 255.0).round().astype(np.uint8), rgba)


def test_png_in_distributed_pipeline(spark):
    """synth_real_assets mixes BMP, PNG, and JPEG images; feature
    extraction must handle all three containers distributed."""
    from marker_spark.ops.multimodal import synth_real_assets

    assets = synth_real_assets(spark, n=16, seed=11).repartition(4)
    feats = extract_features(assets, fake=False).collect()
    assert len(feats) == 16
    magic = {bytes(r["payload"])[:2] for r in assets.collect() if r["kind"] == "image"}
    assert b"BM" in magic and b"\x89P" in magic and b"\xff\xd8" in magic


def test_mp3_meta_roundtrip():
    from marker_spark.ops.multimodal import encode_minimal_mp3, parse_mp3_meta

    for nf, br, sr in [(10, 9, 0), (3, 1, 2), (40, 14, 1)]:
        m = parse_mp3_meta(encode_minimal_mp3(n_frames=nf, bitrate_idx=br, sr_idx=sr))
        assert m["n_frames"] == nf
        assert m["bitrate_kbps"] == [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                                     160, 192, 224, 256, 320][br]
        assert m["sample_rate"] == [44100, 48000, 32000][sr]
        assert m["duration_s"] == round(nf * 1152 / m["sample_rate"], 6)
    # ID3v2 prefix is skipped
    tagged = b"ID3\x03\x00\x00\x00\x00\x00\x0a" + bytes(10) + encode_minimal_mp3(5)
    assert parse_mp3_meta(tagged)["n_frames"] == 5
    import pytest as _pt
    with _pt.raises(ValueError):
        parse_mp3_meta(b"\x00\x01\x02\x03")


def test_mp4_meta_roundtrip():
    from marker_spark.ops.multimodal import encode_minimal_mp4, parse_mp4_meta

    m = parse_mp4_meta(encode_minimal_mp4(12.5, ["vide", "soun"]))
    assert m["duration_s"] == 12.5
    assert m["n_video_tracks"] == 1 and m["n_audio_tracks"] == 1
    m2 = parse_mp4_meta(encode_minimal_mp4(600.0, ["vide"]))
    assert m2["duration_s"] == 600.0 and m2["n_audio_tracks"] == 0
    import pytest as _pt
    with _pt.raises(ValueError):
        parse_mp4_meta(b"\x00" * 64)


def test_probe_media_meta_distributed(spark):
    """Distributed metadata probe: every synth asset parses, totals
    match the synthesis parameters, malformed payloads yield NULLs."""
    import pandas as pd

    from marker_spark.ops.multimodal import (
        ASSET_SCHEMA,
        probe_media_meta,
        synth_container_assets,
    )

    assets = synth_container_assets(spark, n=24, seed=7).repartition(4)
    rows = probe_media_meta(assets).collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r["container"], []).append(r)
    assert len(by_c["mp3"]) == 12 and len(by_c["mp4"]) == 12
    assert all(r["duration_s"] > 0 for r in by_c["mp3"] + by_c["mp4"])
    assert sum(r["n_video_tracks"] for r in by_c["mp4"]) == 12
    # malformed payload -> NULL container, no crash
    junk = spark.createDataFrame(
        [("junk", "video", b"\x01\x02\x03\x04", None)], schema=ASSET_SCHEMA
    )
    jr = probe_media_meta(junk).collect()[0]
    assert jr["container"] is None and jr["duration_s"] is None


def test_media_parsers_spec_edges():
    """Edge layouts the crawl actually contains: v1 mvhd (64-bit
    duration), largesize/size-0 boxes (moov after a big mdat), ID3v2
    footer flag, and NULL payloads through the distributed probe."""
    import struct

    from marker_spark.ops.multimodal import (
        _mp4_box,
        encode_minimal_mp3,
        encode_minimal_mp4,
        parse_mp3_meta,
        parse_mp4_meta,
    )

    # v1 mvhd: version byte 1, 64-bit times/duration, timescale at +20
    ts, dur = 600, 9000  # 15 s
    mvhd_v1 = (
        struct.pack(">B3x", 1)
        + (0).to_bytes(8, "big") * 2  # creation/modification 64-bit
        + ts.to_bytes(4, "big")
        + dur.to_bytes(8, "big")
        + bytes(80)
    )
    mp4 = _mp4_box(b"ftyp", b"isom" + bytes(8)) + _mp4_box(
        b"moov", _mp4_box(b"mvhd", mvhd_v1)
    )
    assert parse_mp4_meta(mp4)["duration_s"] == 15.0

    # moov after an mdat using 64-bit largesize, then a size-0 free box
    base = encode_minimal_mp4(7.0, ["vide"])
    ftyp, moov = base[:24], base[24:]
    mdat_payload = bytes(32)
    mdat_large = (
        (1).to_bytes(4, "big") + b"mdat"
        + (16 + len(mdat_payload)).to_bytes(8, "big") + mdat_payload
    )
    tail_free = (0).to_bytes(4, "big") + b"free" + bytes(8)
    m = parse_mp4_meta(ftyp + mdat_large + moov + tail_free)
    assert m["duration_s"] == 7.0 and m["n_video_tracks"] == 1

    # ID3v2 with footer flag: tag length is 10 + size + 10
    body = encode_minimal_mp3(4)
    tagged = b"ID3\x04\x00\x10\x00\x00\x00\x0a" + bytes(10) + bytes(10) + body
    assert parse_mp3_meta(tagged)["n_frames"] == 4


def test_probe_media_meta_null_payload(spark):
    import pandas as pd

    from marker_spark.ops.multimodal import ASSET_SCHEMA, probe_media_meta

    df = spark.createDataFrame(
        [("n0", "video", None, None)], schema=ASSET_SCHEMA
    )
    r = probe_media_meta(df).collect()[0]
    assert r["container"] is None and r["duration_s"] is None
