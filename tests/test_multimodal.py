"""Multimodal plumbing: asset wrapping, Arrow-batched feature
extraction, frame sampling. BMP, PNG and WAV decode for REAL via the
pure-stdlib codecs; other formats stay stubbed."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.multimodal import (
    decode_bmp,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    extract_features,
    make_assets,
    sample_frames,
)
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


def _tiny_bmp() -> bytes:
    """4×2 24-bpp BMP: top row RGBW-ish, bottom row primaries."""
    rows = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)],
        [(0, 0, 0), (128, 128, 128), (255, 255, 0), (0, 255, 255)],
    ]
    return encode_bmp(rows)


def _tiny_wav(n: int = 64, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV with a deterministic sawtooth ramp."""
    samples = [((i * 1024) % 32768) - 16384 for i in range(n)]
    body = struct.pack(f"<{n}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


@pytest.fixture()
def assets(spark):
    d = (
        T(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 20)
        .withColumn("payload", F.encode(F.col("text"), "UTF-8"))
    )
    return make_assets(d, id_col="doc_id", payload_col="payload", mime="video/fake")


def test_asset_schema_and_sha(assets):
    rows = assets.collect()
    assert len(rows) == 20
    r = rows[0]
    assert r.mime == "video/fake"
    assert len(r.meta.sha256) == 64
    assert isinstance(r.payload, (bytes, bytearray))


def test_fake_features_deterministic(assets):
    a = {r.asset_id: r.features for r in extract_features(assets, fake=True).collect()}
    b = {r.asset_id: r.features for r in extract_features(assets, fake=True).collect()}
    assert a == b
    assert all(len(v) == 16 for v in a.values())


def test_real_decode_is_stubbed_for_unknown_mimes(assets):
    with pytest.raises(Exception) as exc:
        extract_features(assets, fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or "codec" in str(exc.value)


def test_bmp_codec_roundtrip():
    data = _tiny_bmp()
    w, h, rows = decode_bmp(data)
    assert (w, h) == (4, 2)
    assert rows[0][0] == (255, 0, 0) and rows[0][3] == (255, 255, 255)
    assert rows[1][1] == (128, 128, 128)
    # re-encode → identical decode (row padding exercised: 4*3=12 ≡ 0 mod 4;
    # also try odd width for real padding)
    assert decode_bmp(encode_bmp(rows))[2] == rows
    odd = [[(1, 2, 3), (4, 5, 6), (7, 8, 9)]]
    assert decode_bmp(encode_bmp(odd)) == (3, 1, odd)


def _png_pixels():
    """Deterministic 5×4 RGB image with enough gradient structure that
    every filter type changes bytes."""
    return [
        [((r * 53 + c * 31) % 256, (r * 17 + c * 91) % 256, (r * 7 + c * 3) % 256)
         for c in range(5)]
        for r in range(4)
    ]


def _filtered_png(pixels, filters):
    """Build a color-type-2 PNG applying the given per-row filter types
    (a reference FORWARD filterer — decode must invert it exactly)."""
    import zlib

    h, w = len(pixels), len(pixels[0])
    raw = bytearray()
    prev = bytearray(w * 3)
    for r, ftype in zip(range(h), filters):
        cur = bytearray()
        for px in pixels[r]:
            cur += bytes(px)
        out = bytearray([ftype])
        for i in range(w * 3):
            a = cur[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
            out.append((cur[i] - pred) & 0xFF)
        raw += out
        prev = cur

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )


def test_png_codec_roundtrip():
    pixels = _png_pixels()
    w, h, rows = decode_png(encode_png(pixels))
    assert (w, h) == (5, 4) and rows == pixels


def test_png_unfiltering_all_filter_types():
    """One row per filter type (None/Sub/Up/Paeth + Average): the
    decoder must invert each predictor exactly."""
    pixels = _png_pixels()
    for filters in ([0, 1, 2, 4], [3, 4, 1, 2], [4, 4, 4, 4]):
        w, h, rows = decode_png(_filtered_png(pixels, filters))
        assert rows == pixels, f"filters {filters} mis-decoded"


def test_png_rgba_decodes_dropping_alpha():
    import zlib as _z

    # 2×2 RGBA, filter 0: RGB recovered, alpha dropped
    pix = [[(10, 20, 30, 255), (40, 50, 60, 128)],
           [(70, 80, 90, 0), (100, 110, 120, 7)]]
    raw = bytearray()
    for row in pix:
        raw.append(0)
        for px in row:
            raw += bytes(px)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    data = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(bytes(raw))) + chunk(b"IEND", b"")
    )
    w, h, rows = decode_png(data)
    assert (w, h) == (2, 2)
    assert rows == [[(10, 20, 30), (40, 50, 60)], [(70, 80, 90), (100, 110, 120)]]


def test_png_rejects_unsupported_flavors():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # palette (color type 3) must be refused, not mis-decoded
    import zlib as _z

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", _z.crc32(ctype + body) & 0xFFFFFFFF)
        )

    pal = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", _z.compress(b"\x00\x00")) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(pal)


def test_real_png_features_and_resize_through_pipeline(spark):
    """fake=False end-to-end on image/png: decode inside mapInPandas,
    features match the BMP path for identical pixels, and resize
    round-trips through the PNG encoder."""
    from rusty_timeseries_db_spark.operators.multimodal import resize_images

    pixels = [
        [(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255)],
        [(0, 0, 0), (128, 128, 128), (255, 255, 0), (0, 255, 255)],
    ]
    df = spark.createDataFrame(
        [("p1", bytearray(encode_png(pixels)))], "id string, payload binary"
    )
    assets = make_assets(df, id_col="id", payload_col="payload", mime="image/png")
    (row,) = extract_features(assets, fake=False).collect()
    assert row.asset_id == "p1" and len(row.features) == 16
    assert row.features[0] == 4.0 and row.features[1] == 2.0
    # identical pixels ⇒ identical features as the BMP codec path
    bmp_assets = make_assets(
        spark.createDataFrame(
            [("b1", bytearray(encode_bmp(pixels)))], "id string, payload binary"
        ),
        id_col="id", payload_col="payload", mime="image/bmp",
    )
    (brow,) = extract_features(bmp_assets, fake=False).collect()
    assert row.features == brow.features

    (rrow,) = resize_images(assets, width=2, height=1, fake=False).collect()
    assert rrow.meta.width == 2 and rrow.meta.height == 1
    w, h, rows = decode_png(bytes(rrow.payload))
    assert (w, h) == (2, 1)
    assert rows == [[(255, 0, 0), (0, 0, 255)]]


def test_wav_codec():
    rate, ch, samples = decode_wav(_tiny_wav())
    assert (rate, ch, len(samples)) == (8000, 1, 64)
    assert samples[0] == -16384 and samples[1] == ((1024) - 16384)


def test_real_bmp_features_through_pipeline(spark):
    """fake=False end-to-end: a real BMP decoded inside mapInPandas."""
    df = spark.createDataFrame(
        [("img1", bytearray(_tiny_bmp()))], "id string, payload binary"
    )
    assets = make_assets(df, id_col="id", payload_col="payload", mime="image/bmp")
    (row,) = extract_features(assets, fake=False).collect()
    assert row.asset_id == "img1" and len(row.features) == 16
    f = row.features
    assert f[0] == 4.0 and f[1] == 2.0  # real decoded dimensions
    # channel means from the 8 known pixels
    exp_r = (255 + 0 + 0 + 255 + 0 + 128 + 255 + 0) / 8 / 255.0
    assert abs(f[2] - exp_r) < 1e-6


def test_real_wav_features_and_frames_through_pipeline(spark):
    df = spark.createDataFrame(
        [("a1", bytearray(_tiny_wav()))], "id string, payload binary"
    )
    assets = make_assets(df, id_col="id", payload_col="payload", mime="audio/wav")
    (row,) = extract_features(assets, fake=False).collect()
    assert row.features[0] == 8000.0 and row.features[1] == 1.0
    assert abs(row.features[2] - 64 / 8000) < 1e-6  # duration
    # frame sampling: 4 windows of 16 samples, re-encoded as int16 LE
    frames = sample_frames(assets, max_frames=4, fake=False).collect()
    assert [fr.frame_idx for fr in frames] == [0, 1, 2, 3]
    first = struct.unpack("<16h", bytes(frames[0].frame_payload))
    assert list(first) == [((i * 1024) % 32768) - 16384 for i in range(16)]


def test_real_bmp_resize_through_pipeline(spark):
    from rusty_timeseries_db_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [("img1", bytearray(_tiny_bmp()))], "id string, payload binary"
    )
    assets = make_assets(df, id_col="id", payload_col="payload", mime="image/bmp")
    (row,) = resize_images(assets, width=2, height=1, fake=False).collect()
    assert row.meta.width == 2 and row.meta.height == 1
    w, h, rows = decode_bmp(bytes(row.payload))
    # nearest-neighbor of a 4×2 down to 2×1 keeps (0,0) and (0,2)
    assert (w, h) == (2, 1)
    assert rows == [[(255, 0, 0), (0, 0, 255)]]


def test_frame_sampling_fanout(assets):
    frames = sample_frames(assets, every_n_bytes=64, max_frames=4, fake=True)
    pdf = frames.toPandas()
    # every asset produced ≥1 frame, ≤4 frames, indices dense from 0
    per_asset = pdf.groupby("asset_id")["frame_idx"].agg(["min", "max", "count"])
    assert (per_asset["min"] == 0).all()
    assert (per_asset["count"] <= 4).all()
    assert (per_asset["max"] == per_asset["count"] - 1).all()
    # frame payloads are real slices
    assert all(len(p) <= 64 for p in pdf["frame_payload"])


def test_resize_stub(assets):
    from rusty_timeseries_db_spark.operators.multimodal import resize_images

    out = resize_images(assets, width=8, height=8, fake=True).collect()
    assert len(out) == 20
    for r in out:
        assert len(r.payload) == 64
        assert r.meta.width == 8 and r.meta.height == 8
        assert len(r.meta.sha256) == 64


# -------------------------------- JPEG SOF scan + meta probe

def _jpeg_bytes(width: int, height: int, sof: int = 0xC0, ncomp: int = 3
                ) -> bytes:
    """Minimal well-formed JPEG header stream: SOI, an APP0 (JFIF), a
    DQT the scanner must skip, the SOFn frame header under test, SOS,
    fake entropy bytes, EOI. The marker walk never needs real entropy
    data — dimensions live entirely in SOF."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + bytes(65)
    sof_body = (
        bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([ncomp])
        + bytes(3 * ncomp)
    )
    sof_seg = bytes([0xFF, sof]) + (2 + len(sof_body)).to_bytes(2, "big") + sof_body
    sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes(6)
    return b"\xff\xd8" + app0 + dqt + sof_seg + sos + b"\x12\x34" + b"\xff\xd9"


def test_jpeg_sof_dimensions():
    from rusty_timeseries_db_spark.operators.multimodal import (
        decode_jpeg_meta,
    )

    assert decode_jpeg_meta(_jpeg_bytes(9, 7)) == (9, 7, 3)
    # progressive (SOF2) and grayscale flavors
    assert decode_jpeg_meta(_jpeg_bytes(640, 480, sof=0xC2)) == (640, 480, 3)
    assert decode_jpeg_meta(_jpeg_bytes(31, 17, ncomp=1)) == (31, 17, 1)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_meta(b"not a jpeg")
    with pytest.raises(ValueError, match="SOF"):
        # SOI + EOI only: no frame header
        decode_jpeg_meta(b"\xff\xd8\xff\xd9")
    # DHT (0xC4) is NOT a SOF flavor and must be skipped, not parsed
    dht = b"\xff\xc4" + (5).to_bytes(2, "big") + bytes(3)
    assert decode_jpeg_meta(
        b"\xff\xd8" + dht + _jpeg_bytes(5, 4)[2:]
    ) == (5, 4, 3)


def test_probe_asset_meta_fills_headers(spark):
    from rusty_timeseries_db_spark.operators.multimodal import (
        encode_bmp,
        probe_asset_meta,
    )

    bmp = encode_bmp([[(1, 2, 3), (4, 5, 6)]])  # 2x1 BMP
    jpg = _jpeg_bytes(123, 45)
    wav = _wav_bytes()
    df = spark.createDataFrame(
        [("j", "image/jpeg", bytearray(jpg)),
         ("b", "image/bmp", bytearray(bmp)),
         ("w", "audio/wav", bytearray(wav)),
         ("x", "video/mp4", bytearray(b"\x00\x00junk"))],
        "id string, m string, payload binary",
    )
    out = {}
    for mime in ["image/jpeg", "image/bmp", "audio/wav", "video/mp4"]:
        a = make_assets(
            df.filter(F.col("m") == mime), "id", "payload", mime
        )
        for r in probe_asset_meta(a).collect():
            out[r.asset_id] = r
    assert (out["j"].meta.width, out["j"].meta.height) == (123, 45)
    assert (out["b"].meta.width, out["b"].meta.height) == (2, 1)
    assert out["w"].meta.duration_ms is not None
    # unknown mime: probe is an enrichment, meta passes through intact
    assert out["x"].meta.width is None
    assert out["x"].meta.sha256 is not None  # make_assets' sha survives


def _wav_bytes(rate: int = 8000, n: int = 4000) -> bytes:
    """Mono 16-bit PCM WAV of n zero samples (n/rate seconds)."""
    body = struct.pack(f"<{n}h", *([0] * n))
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF" + (36 + len(body)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little") + fmt
        + b"data" + len(body).to_bytes(4, "little") + body
    )


# -------------------------------------------------------------------------
# MP4 metadata probe


def _box(t: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + t + payload


def _mp4(width=320, height=240, duration=5500, timescale=1000, version=0):
    ftyp = _box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
    if version == 0:
        mvhd = _box(b"mvhd", bytes(12) + timescale.to_bytes(4, "big")
                    + duration.to_bytes(4, "big"))
        tk = bytearray(84)
        tk[76:80] = (width << 16).to_bytes(4, "big")
        tk[80:84] = (height << 16).to_bytes(4, "big")
    else:
        mvhd = _box(b"mvhd", b"\x01\x00\x00\x00" + bytes(16)
                    + timescale.to_bytes(4, "big")
                    + duration.to_bytes(8, "big"))
        tk = bytearray(96)
        tk[0] = 1
        tk[88:92] = (width << 16).to_bytes(4, "big")
        tk[92:96] = (height << 16).to_bytes(4, "big")
    audio_trak = _box(b"trak", _box(b"tkhd", bytes(84)))  # 0x0 dims
    video_trak = _box(b"trak", _box(b"tkhd", bytes(tk)))
    return ftyp + _box(b"moov", mvhd + audio_trak + video_trak)


def test_decode_mp4_meta_v0_v1_and_largesize():
    """ftyp brand + mvhd duration (both version layouts) + tkhd dims;
    the audio track's 0x0 tkhd must be skipped; the 64-bit largesize
    box form must parse."""
    from rusty_timeseries_db_spark.operators.multimodal import decode_mp4_meta

    assert decode_mp4_meta(_mp4()) == ("isom", 5500, 320, 240)
    assert decode_mp4_meta(
        _mp4(1920, 1080, 90000, timescale=600, version=1)
    ) == ("isom", 150000, 1920, 1080)
    # largesize ftyp (size==1 + 64-bit length)
    pay = b"mp42" + bytes(4)
    large_ftyp = ((1).to_bytes(4, "big") + b"ftyp"
                  + (16 + len(pay)).to_bytes(8, "big") + pay)
    plain_ftyp_len = len(_box(b"ftyp", b"isom" + bytes(4) + b"isomiso2"))
    data = large_ftyp + _mp4()[plain_ftyp_len:]
    assert decode_mp4_meta(data) == ("mp42", 5500, 320, 240)


def test_decode_mp4_meta_malformed():
    import pytest

    from rusty_timeseries_db_spark.operators.multimodal import decode_mp4_meta

    with pytest.raises(ValueError):
        decode_mp4_meta(b"RIFF1234")  # too short
    with pytest.raises(ValueError):
        decode_mp4_meta(b"RIFF" + bytes(20))  # box size overflows
    with pytest.raises(ValueError):  # valid walk, no BMFF boxes
        decode_mp4_meta(_box(b"free", bytes(8)) + _box(b"skip", bytes(8)))
    with pytest.raises(ValueError):  # truncated tkhd
        bad = (_box(b"ftyp", b"isom" + bytes(4))
               + _box(b"moov", _box(b"trak", _box(b"tkhd", bytes(40)))))
        decode_mp4_meta(bad)


def test_probe_asset_meta_mp4(spark):
    """The probe fills duration_ms AND width/height for video/mp4,
    keeps meta untouched for an unparseable payload, and never fails
    the task on one bad asset."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.multimodal import (
        make_assets,
        probe_asset_meta,
    )

    rows = [(1, _mp4(640, 360, 2500)), (2, b"garbage-not-an-mp4-at-all")]
    df = spark.createDataFrame(rows, "vid bigint, payload binary")
    probed = probe_asset_meta(
        make_assets(df, "vid", "payload", "video/mp4")
    ).select(
        "asset_id",
        F.col("meta.width").alias("w"),
        F.col("meta.height").alias("h"),
        F.col("meta.duration_ms").alias("d"),
    )
    got = {r.asset_id: (r.w, r.h, r.d) for r in probed.collect()}
    assert got == {"1": (640, 360, 2500), "2": (None, None, None)}
