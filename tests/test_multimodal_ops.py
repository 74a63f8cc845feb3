"""Multimodal metadata plumbing (stubbed decode, real mapInPandas
dataflow — task-brief multimodal checklist)."""

import pytest

from tribeca_insights_spark.operators.multimodal import decode_image_stub


def test_stubs_raise_without_fake():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"x", deterministic_fake=False)


def test_corrupt_payload_flagged_not_faked(spark):
    # VERDICT-r4 #3: a corrupt/truncated image under deterministic_fake
    # must carry is_sniffed=False; without fake it reports unknown/NULLs
    from pyspark.sql import Row
    from tribeca_insights_spark.operators.multimodal import media_metadata

    corrupt = b"\x89PNG_truncated_garbage"
    df = spark.createDataFrame(
        [Row(media_id=1, payload=corrupt)],
        "media_id long, payload binary",
    )
    fake = media_metadata(df, deterministic_fake=True).collect()[0]
    assert fake["is_sniffed"] is False and fake["width"] is not None
    strict = media_metadata(df, deterministic_fake=False).collect()[0]
    assert strict["is_sniffed"] is False
    assert strict["format_guess"] == "unknown"
    assert strict["width"] is None and strict["height"] is None
