"""Multimodal plumbing tests (operators/multimodal.py): the decode stub is
honest about being a stub, and the Spark-side schema / batch / row-
multiplication mechanics are real."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from basin_cli_spark.operators import multimodal as MM
from basin_cli_spark.sources import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return MM.synthesize_media(docs)


def test_decode_no_stub_marks_text_undecodable(media):
    """allow_stub=False forbids invented dimensions: the text-bytes
    fixture parses in no tier, so every blob comes back 'undecodable'
    with null dims — never digest-derived fakes."""
    rows = MM.decode_info(media, allow_stub=False).collect()
    assert all(r["decoder"] == "undecodable" for r in rows)
    assert all(r["width"] is None and r["height"] is None for r in rows)


def test_decode_stub_schema_and_values(media):
    out = MM.decode_info(media)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "n_bytes", "content_sha", "width", "height", "decoder",
    ]
    rows = {r["media_id"]: r for r in out.collect()}
    src = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    assert rows.keys() == src.keys()
    for mid, r in rows.items():
        sha = hashlib.sha256(src[mid]).hexdigest()
        assert r["content_sha"] == sha
        assert r["n_bytes"] == len(src[mid])
        # text bytes parse in no environment -> digest-derived stub dims
        assert r["decoder"] == "stub"
        assert r["width"] == int(sha[:2], 16)
        assert r["height"] == int(sha[2:4], 16)


# a valid 1x1 transparent PNG (public constant, e.g. RFC-style minimal file)
_PNG_1X1 = bytes.fromhex(
    "89504e470d0a1a0a0000000d49484452000000010000000108060000001f15c489"
    "0000000d4944415478da63fcff9fa11e00078d027e85fb1f0f0000000049454e44"
    "ae426082"
)


# a valid 2x1 GIF89a header (public constant, logical screen 2x1)
_GIF_2X1 = b"GIF89a" + (2).to_bytes(2, "little") + (1).to_bytes(2, "little") + b"\x00" * 5

# a minimal JPEG: SOI, SOF0 frame (height 3, width 4), EOI — enough for
# the public-format header scan (no entropy-coded data needed)
_JPEG_4X3 = (
    b"\xff\xd8"
    + b"\xff\xc0" + (11).to_bytes(2, "big")
    + b"\x08" + (3).to_bytes(2, "big") + (4).to_bytes(2, "big")
    + b"\x01" + b"\x11\x00"
    + b"\xff\xd9"
)


def test_decode_real_image_headers_every_environment(spark):
    """Header-tier pin: genuine PNG/GIF/JPEG containers decode to REAL
    pixel dimensions via pure-stdlib public-format parsing — no Pillow
    required, same answer in every environment."""
    media = spark.createDataFrame(
        [
            (1, _PNG_1X1, "image/png", 1),
            (2, _GIF_2X1, "image/gif", 1),
            (3, _JPEG_4X3, "image/jpeg", 1),
        ],
        "media_id long, content binary, media_type string, n_frames int",
    )
    rows = {r["media_id"]: r for r in MM.decode_info(media).collect()}
    assert (rows[1]["width"], rows[1]["height"], rows[1]["decoder"]) == (1, 1, "header")
    assert (rows[2]["width"], rows[2]["height"], rows[2]["decoder"]) == (2, 1, "header")
    assert (rows[3]["width"], rows[3]["height"], rows[3]["decoder"]) == (4, 3, "header")
    # allow_stub=False keeps the real tiers working
    strict = {r["media_id"]: r for r in MM.decode_info(media, allow_stub=False).collect()}
    assert strict[1]["decoder"] == "header" and strict[1]["width"] == 1


def test_jpeg_fill_bytes_before_marker():
    """ITU T.81 §B.1.1.2 permits runs of 0xFF fill bytes before any
    marker; the header scanner must skip them and still reach the real
    SOF instead of bailing to the stub tier."""
    padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff"  # fill bytes, then the 0xFF that starts SOF0
        + b"\xff\xc0" + (11).to_bytes(2, "big")
        + b"\x08" + (3).to_bytes(2, "big") + (4).to_bytes(2, "big")
        + b"\x01" + b"\x11\x00"
        + b"\xff\xd9"
    )
    assert MM._header_dims(padded) == (4, 3)
    # fill bytes between segments (after a skipped marker) also survive
    padded2 = (
        b"\xff\xd8"
        + b"\xff\x01"  # TEM marker, parameterless
        + b"\xff\xff"  # fill run before the next marker
        + b"\xff\xc0" + (11).to_bytes(2, "big")
        + b"\x08" + (5).to_bytes(2, "big") + (6).to_bytes(2, "big")
        + b"\x01" + b"\x11\x00"
    )
    assert MM._header_dims(padded2) == (6, 5)


def test_frame_sampling_row_multiplication(media):
    out = MM.sample_frames(media).collect()
    n_frames = {
        r["media_id"]: r["n_frames"]
        for r in media.select("media_id", "n_frames").collect()
    }
    expected = sum(math.ceil(n / 2) for n in n_frames.values())
    assert len(out) == expected
    for r in out:
        assert 0 <= r["frame_idx"] < n_frames[r["media_id"]]
        assert r["frame_idx"] % 2 == 0


def test_feature_vectors_fixed_dim(media):
    out = MM.extract_features(media).collect()
    assert len(out) == media.count()
    for r in out:
        assert len(r["features"]) == 4
        assert all(0.0 <= v <= 1.0 for v in r["features"])


def test_wav_roundtrip_and_parser_robustness(spark):
    """synthesize_audio writes genuine stdlib-wave containers; audio_meta
    re-parses them; non-WAV bytes yield nulls (no stub tier for audio)."""
    docs = spark.createDataFrame(
        [(7, "hello world"), (12, "other text")], "doc_id long, text string"
    )
    wavs = MM.synthesize_audio(docs)
    metas = {r["media_id"]: r for r in MM.audio_meta(wavs).collect()}
    assert metas[7]["channels"] == 2 and metas[7]["sample_rate"] == 20000
    assert metas[7]["n_frames"] == 107 and metas[7]["bits"] == 8
    assert metas[12]["channels"] == 1 and metas[12]["sample_rate"] == 8000
    # stdlib wave agrees with the hand parser — independent read-back
    import io as _io
    import wave as _wave

    blob = bytes(wavs.where("media_id = 7").collect()[0]["content"])
    with _wave.open(_io.BytesIO(blob)) as w:
        assert (w.getnchannels(), w.getframerate(), w.getnframes()) == (
            2, 20000, 107,
        )
    junk = spark.createDataFrame(
        [(1, b"not a riff file")], "media_id long, content binary"
    )
    r = MM.audio_meta(junk).collect()[0]
    assert r["channels"] is None and r["duration_s"] is None


def test_mp4_roundtrip_and_parser_robustness(spark):
    """synthesize_video builds genuine ISO-BMFF boxes; video_meta
    box-walks them back; v1 mvhd layout and junk bytes are handled."""
    docs = spark.createDataFrame(
        [(3, "alpha"), (10, "beta")], "doc_id long, text string"
    )
    vids = MM.synthesize_video(docs)
    metas = {r["media_id"]: r for r in MM.video_meta(vids).collect()}
    assert metas[3]["brand"] == "isom" and metas[3]["timescale"] == 600
    assert metas[3]["duration_ticks"] == 150 * 4
    assert metas[10]["duration_s"] == round(150 * 3 / 600, 6)

    # a v1 mvhd (64-bit times) parses too
    import struct as _s

    mvhd_v1 = (
        b"\x01\x00\x00\x00" + _s.pack(">QQ", 0, 0)
        + _s.pack(">I", 1000) + _s.pack(">Q", 2500) + b"\x00" * 80
    )
    blob = (
        MM._mp4_box(b"ftyp", b"mp42" + _s.pack(">I", 0))
        + MM._mp4_box(b"moov", MM._mp4_box(b"mvhd", mvhd_v1))
    )
    assert MM._parse_mp4(blob) == ("mp42", 1000, 2500)
    assert MM._parse_mp4(b"garbage bytes here") is None

    # a moov whose inner box declares size 0 must terminate (None), not
    # spin forever — the inner walk needs the same size>=8 guard as the
    # outer walk (one hostile blob would otherwise hang a Spark task)
    hostile = (
        MM._mp4_box(b"ftyp", b"isom" + _s.pack(">I", 0))
        + MM._mp4_box(b"moov", b"\x00" * 16)
    )
    assert MM._parse_mp4(hostile) is None


# -- property tests: container writers and parsers agree on every input ------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    ch=st.integers(1, 2),
    rate=st.integers(8000, 48000),
    nf=st.integers(1, 500),
)
def test_wav_parser_property_roundtrip(ch, rate, nf):
    """For ANY (channels, rate, frames): stdlib wave writes it, the
    chunk-walk parser reads the same numbers back."""
    import io as _io
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(1)
        w.setframerate(rate)
        w.writeframes(b"\x80" * (nf * ch))
    assert MM._parse_wav(buf.getvalue()) == (ch, rate, 8, nf)


@settings(max_examples=50, deadline=None)
@given(w=st.integers(1, 2**31 - 1), h=st.integers(1, 2**31 - 1))
def test_png_header_parser_property(w, h):
    import struct as _s

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _s.pack(">I", 13) + b"IHDR" + _s.pack(">II", w, h)
        + b"\x08\x06\x00\x00\x00" + b"\x00" * 4
    )
    assert MM._header_dims(blob) == (w, h)


@settings(max_examples=50, deadline=None)
@given(ts=st.integers(1, 1_000_000), dur=st.integers(0, 2**31 - 1))
def test_mp4_parser_property(ts, dur):
    import struct as _s

    mvhd = (
        b"\x00\x00\x00\x00" + _s.pack(">II", 0, 0)
        + _s.pack(">I", ts) + _s.pack(">I", dur) + b"\x00" * 80
    )
    blob = (
        MM._mp4_box(b"ftyp", b"isom" + _s.pack(">I", 0))
        + MM._mp4_box(b"moov", MM._mp4_box(b"mvhd", mvhd))
    )
    assert MM._parse_mp4(blob) == ("isom", ts, dur)


@settings(max_examples=30, deadline=None)
@given(data=st.binary(min_size=0, max_size=64))
def test_parsers_never_crash_on_junk(data):
    """Arbitrary bytes: every parser returns None (or a tuple), never
    raises — the contract the mapInPandas kernels rely on."""
    for fn in (MM._header_dims, MM._parse_wav, MM._parse_mp4):
        out = fn(data)
        assert out is None or isinstance(out, tuple)
