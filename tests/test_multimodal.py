"""Multimodal binary-column plumbing: schema, mapInPandas batching, determinism.
The decode step itself is stubbed (no codec libs here) — strict mode marks the seam."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pdf_extract_sys_spark.functions.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_media_features,
    media_from_corpus,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("img-1", "image", b"\x89PNG fake bytes"),
        ("vid-2", "video", b"\x00\x00ftyp fake"),
        ("aud-3", "audio", b"RIFF fake"),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_feature_schema_and_determinism(spark, media_df):
    out = extract_media_features(media_df).collect()
    assert len(out) == 3
    by_ref = {r["media_ref"]: r for r in out}
    img = by_ref["img-1"]
    assert img["n_bytes"] == len(b"\x89PNG fake bytes")
    assert img["content_sha1"] == hashlib.sha1(b"\x89PNG fake bytes").hexdigest()
    assert len(img["feature"]) == FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in img["feature"])
    # deterministic across runs
    again = {r["media_ref"]: r["feature"] for r in extract_media_features(media_df).collect()}
    assert again == {k: v["feature"] for k, v in by_ref.items()}


def test_magic_byte_sniffing(spark):
    import struct

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00")
    jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 480, 640))
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16))
    pdf = b"%PDF-1.7\nfake"
    unknown = b"FAKEBYTES:whatever"
    rows = [
        ("png-1", "image", png),
        ("jpg-1", "image", jpeg),
        ("gif-1", "image", gif),
        ("wav-1", "audio", wav),
        ("pdf-1", "image", pdf),
        ("unk-1", "image", unknown),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert (out["png-1"]["sniffed_format"], out["png-1"]["width"], out["png-1"]["height"]) == ("png", 640, 480)
    assert (out["jpg-1"]["sniffed_format"], out["jpg-1"]["width"], out["jpg-1"]["height"]) == ("jpeg", 640, 480)
    assert (out["gif-1"]["sniffed_format"], out["gif-1"]["width"], out["gif-1"]["height"]) == ("gif", 320, 200)
    assert (out["wav-1"]["sniffed_format"], out["wav-1"]["sample_rate"], out["wav-1"]["channels"]) == ("wav", 44100, 2)
    assert out["wav-1"]["sniffed_kind"] == "audio"
    assert (out["pdf-1"]["sniffed_format"], out["pdf-1"]["sniffed_kind"]) == ("pdf", "document")
    assert out["unk-1"]["sniffed_format"] is None and out["unk-1"]["decode_ok"] is False
    assert all(out[k]["decode_ok"] for k in ("png-1", "jpg-1", "gif-1", "wav-1", "pdf-1"))


def test_corrupt_header_dims_degrade_not_crash(spark):
    """A PNG declaring width >= 2^31 is garbage, not a reason to abort the job:
    the oversized field degrades to NULL, the blob still sniffs as png."""
    import struct

    evil_png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                + struct.pack(">II", 0x80000000, 480) + b"\x08\x02\x00\x00\x00")
    df = spark.createDataFrame([("evil-1", "image", evil_png)], MEDIA_SCHEMA)
    out = extract_media_features(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r["sniffed_format"] == "png" and r["width"] is None and r["height"] == 480


def _bmp_bytes(w=4, h=2, bpp=24, px=None):
    import struct

    stride = ((bpp * w + 31) // 32) * 4
    rows = bytearray()
    for y in range(h):
        row = bytearray()
        for x in range(w):
            v = px(x, y) if px else ((x * 40) % 256, (y * 90) % 256, 128)
            row += bytes(v[: bpp // 8]) + (b"\xff" if bpp == 32 else b"")
        row += b"\x00" * (stride - len(row))
        rows += row
    data_off = 14 + 40
    size = data_off + len(rows)
    return (b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, len(rows), 2835, 2835, 0, 0)
            + bytes(rows))


def _wav_bytes(samples, rate=8000):
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            + b"data" + struct.pack("<I", len(data)) + data)


def test_real_bmp_decode(spark):
    """BMP pixels decode for real (struct+numpy): feature = actual pixel stats,
    real_decode=True. An all-white image must have mean=1, std=0."""
    white = _bmp_bytes(4, 2, 24, px=lambda x, y: (255, 255, 255))
    df = spark.createDataFrame([("bmp-1", "image", white)], MEDIA_SCHEMA)
    r = extract_media_features(df).collect()[0]
    assert (r["sniffed_format"], r["width"], r["height"]) == ("bmp", 4, 2)
    assert r["real_decode"] is True and r["decode_ok"] is True
    f = r["feature"]
    assert abs(f[0] - 1.0) < 1e-6  # mean of normalized pixels
    assert abs(f[1] - 0.0) < 1e-6  # std
    assert abs(f[FEATURE_DIM - 1] - 1.0) < 1e-6  # all mass in the top bin


def test_real_wav_decode(spark):
    """PCM WAV samples decode for real: a constant half-scale signal has
    mean≈0.5 in [-1,1] → 0.75 after rescale to [0,1]."""
    wav = _wav_bytes([16384] * 1000)
    df = spark.createDataFrame([("wav-9", "audio", wav)], MEDIA_SCHEMA)
    r = extract_media_features(df).collect()[0]
    assert (r["sniffed_format"], r["sample_rate"], r["channels"]) == ("wav", 8000, 1)
    assert r["real_decode"] is True
    assert abs(r["feature"][0] - 0.75) < 1e-3
    # strict mode ACCEPTS codec-free formats — the seam is only for codec-bound
    assert extract_media_features(df, strict=True).collect()[0]["real_decode"] is True


def test_jpeg_walk_stops_at_sos(spark):
    """Entropy-coded data after SOS must not be scanned for markers: a stuffed
    0xFF pair followed by SOFn-looking bytes would report garbage dimensions."""
    import struct

    jpeg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 9999, 9999))
    from pdf_extract_sys_spark.functions.multimodal import sniff_media

    fmt, kind, w, h, _, _ = sniff_media(jpeg)
    assert (fmt, kind) == ("jpeg", "image")
    assert w is None and h is None  # no SOFn before SOS → unknown, not garbage


def test_strict_mode_marks_decode_seam(spark, media_df):
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_media_features(media_df, strict=True).collect()


def test_no_per_row_python(spark, media_df):
    from conftest import assert_no_per_row_python

    assert_no_per_row_python(extract_media_features(media_df))


def test_media_from_corpus(spark):
    from pdf_extract_sys_spark.pipeline import extract_corpus
    from pdf_extract_sys_spark.schema import CORPUS_SCHEMA

    docs = [
        {
            "doc_id": "m1",
            "spans": [
                {"kind": "media", "text": None, "media_ref": "img-9", "offset": 0},
                {"kind": "media", "text": None, "media_ref": "vid-7", "offset": 1},
            ],
        }
    ]
    sdf = spark.createDataFrame(docs, CORPUS_SCHEMA)
    out = extract_corpus(sdf)
    media = media_from_corpus(out)
    feats = extract_media_features(media).collect()
    kinds = {r["media_ref"]: r["media_kind"] for r in feats}
    assert kinds == {"img-9": "image", "vid-7": "video"}


def _bmp8_bytes(w=4, h=2, palette=None, idx=None, n_pal=256):
    """8-bpp BMP with a BGRA color table (the mandatory palette)."""
    import struct

    palette = palette or {}
    pal = bytearray()
    for i in range(n_pal):
        b_, g, r = palette.get(i, (i, i, i))
        pal += bytes([b_, g, r, 0])
    stride = ((8 * w + 31) // 32) * 4
    rows = bytearray()
    for y in range(h):
        row = bytearray(bytes([idx(x, y) if idx else 0 for x in range(w)]))
        row += b"\x00" * (stride - len(row))
        rows += row
    data_off = 14 + 40 + len(pal)
    size = data_off + len(rows)
    return (b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows), 2835, 2835,
                          n_pal, 0)
            + bytes(pal) + bytes(rows))


def test_bmp_8bpp_palette_resolved(spark):
    """8-bpp indices resolve through the color table (r3 ADVICE): index 0 maps
    to WHITE here, so features must read intensity 1.0 — raw-index decoding
    would read 0.0."""
    bmp = _bmp8_bytes(palette={0: (255, 255, 255)}, idx=lambda x, y: 0)
    df = spark.createDataFrame([("bmp8-1", "image", bmp)], MEDIA_SCHEMA)
    r = extract_media_features(df).collect()[0]
    assert r["sniffed_format"] == "bmp" and r["real_decode"] is True
    assert abs(r["feature"][0] - 1.0) < 1e-6 and abs(r["feature"][1]) < 1e-6


def test_bmp_8bpp_without_palette_falls_back(spark):
    """A paletteless 8-bpp blob (pixel data straight after the header) cannot
    claim real decoded features — deterministic stand-in, real_decode=False."""
    import struct

    w, h = 4, 2
    stride = ((8 * w + 31) // 32) * 4
    rows = bytes(stride * h)
    data_off = 54
    bmp = (b"BM" + struct.pack("<IHHI", data_off + len(rows), 0, 0, data_off)
           + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(rows), 2835, 2835, 0, 0)
           + rows)
    df = spark.createDataFrame([("bmp8-2", "image", bmp)], MEDIA_SCHEMA)
    r = extract_media_features(df).collect()[0]
    assert r["sniffed_format"] == "bmp" and r["real_decode"] is False


def test_bmp_8bpp_index_beyond_palette_falls_back(spark):
    bmp = _bmp8_bytes(n_pal=4, idx=lambda x, y: 200)  # index 200 > 3
    df = spark.createDataFrame([("bmp8-3", "image", bmp)], MEDIA_SCHEMA)
    r = extract_media_features(df).collect()[0]
    assert r["real_decode"] is False
