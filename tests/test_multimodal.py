"""Multimodal plumbing tests: schema contract, Arrow batch iteration,
row-expanding frame sampling, determinism, and the native codecs."""

import pytest

from nessus_client_etl_scripts_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", (64, 48, 3, 0, 0, "stub"), b"img-payload-1"),
        (2, "audio", (0, 0, 1, 16000, 2500, "stub"), b"audio-payload"),
        (3, "video", (320, 240, 3, 0, 3500, "stub"), b"video-payload"),
        (4, "video", (320, 240, 3, 0, 500, "stub"), b"short-video"),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


def test_features_schema_and_determinism(media):
    out = mm.media_features(media)
    assert out.schema == mm.FEATURE_SCHEMA
    a = {r.media_id: (r.checksum, r.mean_intensity, tuple(r.feature)) for r in out.collect()}
    b = {r.media_id: (r.checksum, r.mean_intensity, tuple(r.feature)) for r in out.collect()}
    assert a == b  # deterministic fake decode
    assert len(a) == 4
    assert all(len(v[2]) == 8 for v in a.values())


def test_features_batch_iteration(spark, media):
    """Multiple Arrow batches must be handled (the iterator contract):
    force 1-row batches and expect identical output."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        out = mm.media_features(media.repartition(1)).collect()
        assert len(out) == 4
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


def test_sample_frames_row_expansion(media):
    out = mm.sample_frames(media, every_ms=1000)
    got = {(r.media_id, r.frame_idx): r.ts_ms for r in out.collect()}
    # video 3: 3500ms → frames at 0,1000,2000,3000; video 4: 500ms → one
    assert {m for m, _ in got} == {3, 4}
    assert [ts for (m, _), ts in sorted(got.items()) if m == 3] == [0, 1000, 2000, 3000]
    assert [ts for (m, _), ts in sorted(got.items()) if m == 4] == [0]


def test_documents_adapter(spark):
    from nessus_client_etl_scripts_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = mm.documents_as_media(docs)
    # literal-built columns are non-nullable; compare names+types only
    assert corpus.schema.simpleString() == mm.MEDIA_SCHEMA.simpleString()
    feats = mm.media_features(corpus)
    n = docs.count()
    assert feats.count() == n
    frames = mm.sample_frames(corpus)
    assert frames.count() > 0


def test_ppm_decode_encode_roundtrip_and_header_forms():
    import numpy as np

    from nessus_client_etl_scripts_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    arr = (np.arange(5 * 4 * 3) % 256).astype("uint8").reshape(4, 5, 3)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()
    # tolerant header parse: comments and mixed whitespace
    body = arr.tobytes()
    hdr = b"P6 # a comment\n# another\n 5\t4 \n255\n"
    assert (decode_ppm(hdr + body) == arr).all()
    import pytest

    with pytest.raises(ValueError):
        decode_ppm(b"P5\n1 1\n255\n\x00")  # not P6
    with pytest.raises(ValueError):
        decode_ppm(encode_ppm(arr)[:-1])  # truncated payload


def test_wav_roundtrip_and_chunk_walk():
    import struct

    import numpy as np
    import pytest

    from nessus_client_etl_scripts_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    s = ((np.arange(100) * 773) % 65536 - 32768).astype(np.int16)
    raw = encode_wav(s, sample_rate=8000)
    got, rate, ch = decode_wav(raw)
    assert rate == 8000 and ch == 1 and (got == s).all()
    # chunk walk: an extra LIST chunk between fmt and data must be
    # skipped (word-aligned, odd-size padded)
    fmt = raw[12:36]
    data = raw[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded
    patched = raw[:12] + fmt + extra + data
    got2, rate2, _ = decode_wav(patched)
    assert rate2 == 8000 and (got2 == s).all()
    with pytest.raises(ValueError):
        decode_wav(b"RIFX" + raw[4:])


def test_y4m_roundtrip_and_header_tolerance():
    import numpy as np
    import pytest

    from nessus_client_etl_scripts_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    frames = (
        (np.arange(2 * 3 * 4 * 5) % 256).astype(np.uint8).reshape(2, 3, 4, 5)
    )
    raw = encode_y4m(frames, fps=25)
    got, fps = decode_y4m(raw)
    assert fps == 25 and (got == frames).all()
    # header param order must not matter
    reordered = (
        b"YUV4MPEG2 C444 F25:1 H4 W5 Ip A1:1\n" + raw.split(b"\n", 1)[1]
    )
    got2, fps2 = decode_y4m(reordered)
    assert fps2 == 25 and (got2 == frames).all()
    with pytest.raises(ValueError):
        decode_y4m(raw[: len(raw) - 3])  # truncated frame
    with pytest.raises(ValueError):
        decode_y4m(b"YUV4MPEG2 W2 H2 F5:1 C420\n")  # unsupported subsampling
