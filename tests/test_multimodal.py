"""Multimodal plumbing: binary payload metadata + mapInPandas decode stub."""

from __future__ import annotations

import struct
import zlib

import pandas as pd
from pyspark.sql import functions as F

from financial_data_science_spark.functions.multimodal import (
    attach_payload_metadata,
    extract_image_features,
    make_media_table,
)
from financial_data_science_spark.functions.png_codec import SIGNATURE


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _encode(rows: list, color_type: int, channels: int) -> bytes:
    """8-bit PNG of filter-0 scanlines (valid PNG any reader accepts)."""
    width = len(rows[0]) // channels
    ihdr = struct.pack(">IIBBBBB", width, len(rows), 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    return (
        SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )


def encode_gray(rows: list[bytes | bytearray | list[int]]) -> bytes:
    """8-bit grayscale PNG from a list of equal-length pixel rows."""
    return _encode(rows, color_type=0, channels=1)


def encode_rgb(rows: list[list[tuple[int, int, int]]]) -> bytes:
    """8-bit RGB PNG from rows of (r, g, b) tuples."""
    return _encode([bytes(b for px in row for b in px) for row in rows],
                   color_type=2, channels=3)


def _media(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["alpha beta", "gamma", "alpha beta"]})
    )
    return make_media_table(docs)


def test_payload_metadata(spark):
    m = _media(spark).toPandas()
    assert (m["n_bytes"] > 0).all()
    assert set(m["format"]) == {"unknown"}  # text payloads have no magic


def test_magic_number_sniff(spark):
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "payload": [b"\xff\xd8\xff\xe0rest", b"\x89PNG\r\n\x1a\nrest"],
        }
    )
    out = attach_payload_metadata(spark.createDataFrame(pdf)).toPandas()
    assert out.sort_values("media_id")["format"].tolist() == ["jpeg", "png"]


def test_decode_stub_deterministic(spark):
    m = _media(spark)
    f1 = extract_image_features(m).toPandas().sort_values("media_id")
    f2 = (
        extract_image_features(m.repartition(4))
        .toPandas()
        .sort_values("media_id")
    )
    # identical features regardless of partitioning (pure function of bytes)
    pd.testing.assert_frame_equal(
        f1.reset_index(drop=True), f2.reset_index(drop=True)
    )
    # identical payloads -> identical features
    assert f1[f1.media_id == 1]["phash"].iloc[0] == f1[f1.media_id == 3]["phash"].iloc[0]
    assert f1["width"].between(64, 64 + 255).all()


def test_decode_auto_detect_falls_back_to_fake(spark):
    """decode_stub=None resolves on the driver: real Pillow decode when
    importable, deterministic fake otherwise — same schema either way."""
    from financial_data_science_spark.functions.multimodal import (
        _pillow_available,
    )

    m = _media(spark)
    auto = extract_image_features(m, decode_stub=None).toPandas()
    assert list(auto.columns) == [
        "media_id", "format", "n_bytes", "width", "height", "mean_luma", "phash",
    ]
    if not _pillow_available():
        fake = extract_image_features(m, decode_stub=True).toPandas()
        pd.testing.assert_frame_equal(
            auto.sort_values("media_id").reset_index(drop=True),
            fake.sort_values("media_id").reset_index(drop=True),
        )


def test_decode_real_requires_pillow():
    """decode_stub=False on a text payload: ImportError with guidance if
    Pillow is absent, a real decode failure (not NotImplementedError) if
    present."""
    import pytest

    from financial_data_science_spark.functions.multimodal import (
        _decode_image_real,
        _pillow_available,
    )

    if _pillow_available():
        with pytest.raises(Exception):  # text bytes are not an image
            _decode_image_real(b"not an image")
    else:
        with pytest.raises(ImportError, match="Pillow"):
            _decode_image_real(b"not an image")


def _half_png() -> bytes:
    """16x8 grayscale PNG, left half black / right half white — built
    with Pillow when present, :func:`encode_gray` otherwise, so the real
    decode arm is exercised in EVERY environment."""
    from financial_data_science_spark.functions.multimodal import _pillow_available

    if _pillow_available():
        import io

        import numpy as np
        from PIL import Image

        arr = np.zeros((8, 16), dtype=np.uint8)
        arr[:, 8:] = 255
        buf = io.BytesIO()
        Image.fromarray(arr, mode="L").save(buf, format="PNG")
        return buf.getvalue()
    return encode_gray([bytes([0] * 8 + [255] * 8)] * 8)


def test_decode_real_png_parity():
    """Real-decode features on a synthetic PNG — no skip: without Pillow
    the stdlib PNG codec arm runs.  Known dimensions, luma 0.5, and the
    aHash bit pattern of a half-black/half-white image (left cells below
    threshold, right cells above => each row 00001111) are decode-arm
    invariants."""
    from financial_data_science_spark.functions.multimodal import _decode_image_real

    feats = _decode_image_real(_half_png())
    assert (feats["width"], feats["height"]) == (16, 8)
    assert abs(feats["mean_luma"] - 0.5) < 0.01
    assert feats == _decode_image_real(_half_png())  # deterministic
    expected = int("00001111" * 8, 2)
    if expected >= 1 << 63:
        expected -= 1 << 64
    assert feats["phash"] == expected


def test_png_codec_roundtrip_and_filters():
    """Stdlib codec: encode->decode roundtrip (gray + RGB), and the
    decoder unfilters all five PNG filter types (a raw stream with
    Sub/Up/Average/Paeth scanlines, built by hand, must reproduce the
    plain-filter image bit-for-bit)."""
    from financial_data_science_spark.functions.png_codec import (
        decode,
        luma_rows,
    )

    rows = [bytes((x * 7 + y * 13) % 256 for x in range(9)) for y in range(5)]
    w, h, ch, got = decode(encode_gray(rows))
    assert (w, h, ch) == (9, 5, 1)
    assert [bytes(r) for r in got] == rows

    rgb = [[((x * 3) % 256, (y * 5) % 256, (x + y) % 256) for x in range(4)]
           for y in range(3)]
    w, h, ch, got = decode(encode_rgb(rgb))
    assert (w, h, ch) == (4, 3, 3)
    flat = [bytes(b for px in row for b in px) for row in rgb]
    assert [bytes(r) for r in got] == flat
    # BT.601 luma of pure red
    lum = luma_rows(1, 1, 3, [bytearray([255, 0, 0])])
    assert abs(lum[0][0] - 0.299 * 255) < 1e-9

    # hand-filter the gray image with each nontrivial filter type
    def refilter(rows, ftypes):
        stride = len(rows[0])
        prev = bytes(stride)
        raw = bytearray()
        for y, line in enumerate(rows):
            ft = ftypes[y % len(ftypes)]
            raw.append(ft)
            for i in range(stride):
                left = line[i - 1] if i else 0
                ul = prev[i - 1] if i else 0
                if ft == 0:
                    v = line[i]
                elif ft == 1:
                    v = line[i] - left
                elif ft == 2:
                    v = line[i] - prev[i]
                elif ft == 3:
                    v = line[i] - ((left + prev[i]) >> 1)
                else:  # paeth
                    p = left + prev[i] - ul
                    pa, pb, pc = abs(p - left), abs(p - prev[i]), abs(p - ul)
                    pred = left if pa <= pb and pa <= pc else (
                        prev[i] if pb <= pc else ul)
                    v = line[i] - pred
                raw.append(v & 0xFF)
            prev = line
        ihdr = struct.pack(">IIBBBBB", stride, len(rows), 8, 0, 0, 0, 0)
        return (SIGNATURE + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _chunk(b"IEND", b""))

    for ftypes in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        w, h, ch, got = decode(refilter(rows, ftypes))
        assert [bytes(r) for r in got] == rows, f"filter set {ftypes}"


def test_extract_image_features_real_decode_spark(spark):
    """decode_stub=False end-to-end through mapInPandas on PNG payloads —
    the real-codec arm of the Arrow pipeline, runnable with or without
    Pillow now that PNGs decode via the stdlib codec."""
    from financial_data_science_spark.functions.multimodal import (
        attach_payload_metadata,
        extract_image_features,
    )

    payloads = [
        (0, _half_png()),
        (1, encode_gray([bytes([v] * 6) for v in (10, 20, 30, 40)])),
    ]
    media = attach_payload_metadata(
        spark.createDataFrame(payloads, "media_id long, payload binary")
    )
    out = {
        r["media_id"]: r
        for r in extract_image_features(media, decode_stub=False).collect()
    }
    assert out[0]["width"] == 16 and out[0]["height"] == 8
    assert abs(out[0]["mean_luma"] - 0.5) < 0.01
    assert out[1]["width"] == 6 and out[1]["height"] == 4
    assert abs(out[1]["mean_luma"] - 25.0 / 255.0) < 1e-9
    assert out[0]["format"] == "png" and out[1]["n_bytes"] > 0


def test_sample_frames_fanout_and_boundaries(spark):
    """Multi-frame fan-out: a 5000-byte payload at frame_size=256,
    stride=4, max_frames=8 has 20 chunks -> 5 emitted frames; offsets,
    contents, and the short-final-frame length must match byte slicing;
    a payload smaller than one frame yields exactly one frame; an empty
    payload yields none."""
    import pandas as pd

    from financial_data_science_spark.functions.multimodal import sample_frames

    big = bytes(range(256)) * 19 + b"xyz" * 112  # 5200 bytes
    rows = [(1, big), (2, b"tiny"), (3, b"")]
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "payload"])
    )
    out = (
        sample_frames(media, frame_size=256, stride=4, max_frames=8)
        .toPandas()
        .sort_values(["media_id", "frame_idx"])
    )
    f1 = out[out.media_id == 1]
    assert f1.frame_idx.tolist() == [0, 1, 2, 3, 4, 5]  # ceil(21/4)=6
    for r in f1.itertuples():
        assert bytes(r.frame) == big[r.byte_offset : r.byte_offset + 256]
        assert r.n_bytes == len(bytes(r.frame))
    assert out[out.media_id == 2].frame_idx.tolist() == [0]
    assert bytes(out[out.media_id == 2].frame.iloc[0]) == b"tiny"
    assert len(out[out.media_id == 3]) == 0


def test_resize_fake_path_matches_hashlib(spark):
    import hashlib

    import pandas as pd

    from financial_data_science_spark.functions.multimodal import (
        attach_payload_metadata,
        resize_images,
    )

    rows = [(1, b"payload-one"), (2, b"\x89PNG\r\n\x1a\nstuff")]
    media = attach_payload_metadata(
        spark.createDataFrame(pd.DataFrame(rows, columns=["media_id", "payload"]))
    )
    out = resize_images(media, 32, 32, decode_stub=True).toPandas()
    for mid, payload in rows:
        got = bytes(out[out.media_id == mid].payload.iloc[0])
        assert got == hashlib.sha256(payload + b"32x32").digest()
    assert out[out.media_id == 2].format.iloc[0] == "png"
    assert (out.n_bytes == 32).all()
