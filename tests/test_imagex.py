"""Pure-python image codec: header sniffing + PNG decode/resize round trips."""

import struct
import zlib

import pytest

from tribeca_insights_spark.imagex import (
    UnsupportedImageError,
    decode_png,
    encode_png,
    make_png,
    resize_nearest,
    sniff_image,
)


def test_make_png_is_valid_and_closed_form_size():
    for w, h, seed in [(1, 1, 0), (16, 23, 5), (255, 255, 9)]:
        b = make_png(w, h, seed=seed)
        assert sniff_image(b) == ("png", w, h)
        assert len(b) == 68 + h * (w + 1)  # the oracle's size formula
        # the stream is real zlib: stdlib decompresses it
        dw, dh, ch, px = decode_png(b)
        assert (dw, dh, ch) == (w, h, 1)
        assert len(px) == w * h
    # deterministic bytes
    assert make_png(20, 10, seed=3) == make_png(20, 10, seed=3)
    assert make_png(20, 10, seed=3) != make_png(20, 10, seed=4)


def test_png_rgb_roundtrip_and_filters():
    b = make_png(12, 9, seed=1, color_type=2)
    assert sniff_image(b) == ("png", 12, 9)
    w, h, ch, px = decode_png(b)
    assert (w, h, ch) == (12, 9, 3)
    # re-encode → identical pixels after another decode
    again = encode_png(px, w, h, ch)
    assert decode_png(again)[3] == px
    # a filtered PNG (zlib-compressed, Sub/Up filters) still decodes:
    # build one by hand with filter type 2 (Up) rows
    raw = bytearray()
    stride = 4
    prev = bytes([7, 8, 9, 10])
    raw += bytes([0]) + prev
    raw += bytes([2]) + bytes([1, 1, 1, 1])  # Up: row = prev + 1
    ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 0, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    )
    w2, h2, ch2, px2 = decode_png(png)
    assert px2 == bytes([7, 8, 9, 10, 8, 9, 10, 11])


def test_resize_nearest():
    b = make_png(32, 16, seed=2)
    w, h, ch, px = decode_png(b)
    small = resize_nearest(px, w, h, ch, 8, 4)
    assert len(small) == 8 * 4
    # corner pixels map to source corners (nearest with floor mapping)
    assert small[0] == px[0]


def test_sniff_jpeg_gif_bmp_webp():
    # minimal JPEG: SOI + APP0 + SOF0(h=48,w=64) — header-only, sniffable
    sof = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(
        ">HH", 48, 64
    ) + b"\x01\x11\x00"
    jpg = b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF" + sof
    assert sniff_image(jpg) == ("jpeg", 64, 48)

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    assert sniff_image(gif) == ("gif", 320, 200)

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + b"\x00" * 8
    assert sniff_image(bmp) == ("bmp", 100, 50)  # top-down DIB abs()

    # WebP VP8X canvas 256x128
    vp8x = (
        b"RIFF" + struct.pack("<I", 22) + b"WEBP" + b"VP8X"
        + struct.pack("<I", 10) + b"\x00\x00\x00\x00"
        + (255).to_bytes(3, "little") + (127).to_bytes(3, "little")
    )
    assert sniff_image(vp8x) == ("webp", 256, 128)

    # WebP VP8L 33x17: bits = (w-1) | (h-1)<<14
    bits = 32 | (16 << 14)
    vp8l = (
        b"RIFF" + struct.pack("<I", 17) + b"WEBP" + b"VP8L"
        + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", bits)
    )
    assert sniff_image(vp8l) == ("webp", 33, 17)

    assert sniff_image(b"not an image at all") is None
    assert sniff_image(b"") is None


def test_unsupported_subsets_raise():
    # 16-bit PNG header → recognized by sniff, rejected by codec
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png16 = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    assert sniff_image(png16) == ("png", 4, 4)
    with pytest.raises(UnsupportedImageError):
        decode_png(png16)
    with pytest.raises(UnsupportedImageError):
        decode_png(b"\xff\xd8jpeg-ish")


def test_media_ops_real_png(spark):
    """media_metadata over REAL PNGs — no deterministic_fake in the
    loop."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from tribeca_insights_spark.operators.multimodal import media_metadata

    @pandas_udf(BinaryType())
    def png_udf(i: pd.Series) -> pd.Series:
        return pd.Series(
            [make_png(20 + int(x) % 9, 120 + int(x) % 9, seed=int(x))
             for x in i]
        )

    media = spark.range(12).select(
        F.col("id").alias("media_id"), png_udf("id").alias("payload")
    )
    meta = {r["media_id"]: r for r in
            media_metadata(media, deterministic_fake=False).collect()}
    for i in range(12):
        r = meta[i]
        assert r["format_guess"] == "png"
        assert r["is_sniffed"] is True
        assert r["width"] == 20 + i % 9 and r["height"] == 120 + i % 9
        assert r["n_bytes"] == 68 + r["height"] * (r["width"] + 1)


def test_corrupt_payloads_fail_per_payload_not_per_job():
    """Review findings: truncated PNG bodies must raise
    UnsupportedImageError (not struct/zlib errors)."""
    import struct as _s

    import pytest

    from tribeca_insights_spark.imagex import UnsupportedImageError

    truncated = b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + b"\x00" * 8
    with pytest.raises(UnsupportedImageError):
        decode_png(truncated)
    # sniff still recognizes it as png (dims unreadable)
    assert sniff_image(truncated)[0] == "png"


# --- perceptual dHash ---------------------------------------------------------


def test_dhash_stable_under_reencode_and_resize():
    from tribeca_insights_spark.imagex import (
        decode_png,
        dhash64_hex,
        encode_png,
        make_png,
        resize_nearest,
    )

    # wrap-rich pattern (monotonic gradients like make_png's hash to
    # all-zero by design — every right neighbor is brighter)
    def pat(a, b, w=18, h=16):
        px = bytes((x * a + y * b) % 256 for y in range(h)
                   for x in range(w))
        return encode_png(px, w, h, 1), px

    base, px = pat(41, 7)
    h0 = dhash64_hex(base)
    assert len(h0) == 16 and int(h0, 16) > 0
    # re-encode: identical pixels -> identical hash
    assert dhash64_hex(encode_png(px, 18, 16, 1)) == h0
    # 2x nearest-neighbor upscale of the same image: dHash unchanged
    up = resize_nearest(px, 18, 16, 1, 36, 32)
    assert dhash64_hex(encode_png(up, 36, 32, 1)) == h0
    # different pattern hashes differently
    assert dhash64_hex(pat(87, 23)[0]) != h0
    # monotonic gradient: all comparisons "right brighter" -> zero hash
    assert dhash64_hex(make_png(36, 28, seed=5)) == "0" * 16


def test_image_dhash_operator_null_for_garbage(spark):
    from pyspark.sql import functions as F

    from tribeca_insights_spark.imagex import make_png
    from tribeca_insights_spark.operators.multimodal import image_dhash

    df = spark.createDataFrame(
        [
            (1, bytearray(make_png(20, 16, seed=1))),
            (2, bytearray(b"not a png at all")),
            (3, None),
        ],
        "media_id int, payload binary",
    )
    rows = {r.media_id: r.dhash for r in image_dhash(df).collect()}
    assert rows[1] is not None and len(rows[1]) == 16
    assert rows[2] is None and rows[3] is None
