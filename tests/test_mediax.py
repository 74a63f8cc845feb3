"""Audio/video container parsing (mediax) + the av_metadata operator."""

import struct

from tribeca_insights_spark.mediax import (
    make_mp4,
    make_wav,
    parse_mp3,
    parse_mp4,
    parse_wav,
    sniff_av,
)


def test_wav_roundtrip_and_closed_form_size():
    for n, rate, ch in [(100, 8000, 1), (4410, 44100, 2), (1, 8000, 1)]:
        b = make_wav(n, rate=rate, channels=ch, seed=3)
        assert len(b) == 44 + n * ch * 2  # the oracle's size formula
        cont, dur, r, c = parse_wav(b)
        assert (cont, r, c) == ("wav", rate, ch)
        assert dur == (n * ch * 2) * 1000 // (rate * ch * 2) == n * 1000 // rate
    assert make_wav(50, seed=1) == make_wav(50, seed=1)
    assert make_wav(50, seed=1) != make_wav(50, seed=2)


def test_mp4_roundtrip():
    for ms in [0, 1000, 123456]:
        b = make_mp4(ms)
        assert len(b) == 140
        assert parse_mp4(b) == ("mp4", ms, None, None)
    # version-1 mvhd (64-bit duration)
    mvhd1 = (
        b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 600) + struct.pack(">Q", 1200) + b"\x00" * 80
    )
    mvhd = struct.pack(">I", 8 + len(mvhd1)) + b"mvhd" + mvhd1
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    assert parse_mp4(ftyp + moov) == ("mp4", 2000, None, None)


def test_mp3_frame_header():
    # MPEG1 Layer III, 128 kbps, 44100 Hz, stereo: FF FB 90 00
    frame = b"\xff\xfb\x90\x00" + b"\x00" * 996
    cont, dur, rate, ch = parse_mp3(frame)
    assert (cont, rate, ch) == ("mp3", 44100, 2)
    assert dur == 1000 * 8 // 128  # bytes*8/kbps ms
    # with an ID3v2 tag in front (syncsafe size 100)
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
    assert parse_mp3(id3 + frame)[0] == "mp3"
    assert parse_mp3(b"junkjunk") is None


def test_sniff_av_dispatch():
    assert sniff_av(make_wav(10))[0] == "wav"
    assert sniff_av(make_mp4(500))[0] == "mp4"
    assert sniff_av(b"\xff\xfb\x90\x00" + b"\x00" * 32)[0] == "mp3"
    assert sniff_av(b"plain text") is None
    assert sniff_av(b"") is None


def test_av_metadata_operator(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from tribeca_insights_spark.operators.multimodal import av_metadata

    def _mk(ids):
        out = []
        for i in ids:
            i = int(i)
            out.append(make_wav(100 + i, rate=8000) if i % 2 == 0
                       else make_mp4(1000 + i))
        return pd.Series(out)

    udf = pandas_udf(_mk, BinaryType())
    media = spark.range(10).select(
        F.col("id").alias("media_id"), udf("id").alias("payload")
    )
    rows = {r["media_id"]: r for r in av_metadata(media).collect()}
    for i in range(10):
        r = rows[i]
        if i % 2 == 0:
            assert r["container"] == "wav"
            assert r["sample_rate"] == 8000 and r["channels"] == 1
            assert r["n_bytes"] == 44 + (100 + i) * 2
            assert r["duration_ms"] == (100 + i) * 1000 // 8000
        else:
            assert r["container"] == "mp4"
            assert r["duration_ms"] == 1000 + i
            assert r["sample_rate"] is None and r["channels"] is None


def test_mp4_sample_table_roundtrip():
    from tribeca_insights_spark.mediax import (
        make_mp4_with_chunks,
        mp4_chunk_offsets,
        frame_sample_mp4,
        parse_mp4,
    )

    offsets = [1000, 2000, 3500, 7000, 9000, 12000, 15000]
    b = make_mp4_with_chunks(2500, offsets)
    assert parse_mp4(b) == ("mp4", 2500, None, None)  # mvhd still parses
    assert mp4_chunk_offsets(b) == offsets
    assert frame_sample_mp4(b, every_n=3) == [1000, 7000, 15000]
    # bare skeleton has no sample table
    from tribeca_insights_spark.mediax import make_mp4

    assert mp4_chunk_offsets(make_mp4(1000)) == []

    # co64: 64-bit chunk offsets (standard for >4 GB files) round-trip too,
    # including offsets past the 32-bit boundary
    big = [1000, 2**32 + 17, 2**33 + 5]
    b64 = make_mp4_with_chunks(2500, big, use_co64=True)
    assert mp4_chunk_offsets(b64) == big
    assert frame_sample_mp4(b64, every_n=2) == [1000, 2**33 + 5]


def test_mp3_layer12_no_bogus_duration():
    """Layer I/II frames must not get Layer-III bitrate-table durations."""
    # MPEG1 Layer I (layer bits 11): FF FF 90 00
    l1 = b"\xff\xff\x90\x00" + b"\x00" * 996
    cont, dur, rate, ch = parse_mp3(l1)
    assert cont == "mp3" and rate == 44100 and dur is None
    # MPEG1 Layer II (layer bits 10): FF FD ...
    l2 = b"\xff\xfd\x90\x00" + b"\x00" * 996
    assert parse_mp3(l2)[1] is None
