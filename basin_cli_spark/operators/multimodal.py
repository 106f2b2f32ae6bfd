"""Multimodal (image/audio/video) column plumbing.

Media are modeled the way a 100 TB training-data pipeline stores them:
an opaque ``binary`` content column plus typed metadata columns, processed
by Arrow-batched ``mapInPandas`` / ``pandas_udf`` kernels so bytes never
cross the JVM<->Python boundary row-at-a-time.

Image metadata decode is TWO-TIER, most-real first: (1) PNG/GIF/JPEG
dimensions parsed from the public container headers in pure stdlib —
REAL in every environment, no wheels, the same public-format-parsing
approach as sources/carv1.py; (2) a *deterministic stub* deriving
dimensions from the content digest — each row labeled via the
``decoder`` column.  ``allow_stub=False`` forbids tier 2 (unparseable
blobs get null dims, 'undecodable').  Output depends only on content,
on every machine.  Audio and video container metadata are REAL too:
synthesize_audio writes genuine RIFF/WAVE PCM (stdlib ``wave``) and
audio_meta walks the chunk structure back with struct; synthesize_video
builds genuine ISO-BMFF MP4s (ftyp + moov/mvhd per ISO/IEC 14496-12)
and video_meta box-walks them — full container round-trips with no
codec libraries.  Full pixel/sample decode remains out of scope (no
libav in any supported image); frame/feature kernels below stand in
with digest-derived values, honestly labeled.  Everything around the
kernels — schema, batch iteration, frame explosion, fixed-dim feature
vectors — is the real Spark plumbing and is what the tests assert.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata carried alongside the opaque blob.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)


def synthesize_media(df: DataFrame) -> DataFrame:
    """Deterministic fake media corpus from a ``(doc_id, text)`` fixture:
    content is the UTF-8 bytes, media_type cycles, n_frames = 1 + id % 5.  Exists so the
    binary-column pipeline has reproducible input in a container without
    media files."""
    mt = F.element_at(
        F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        mt.alias("media_type"),
        (F.col("doc_id") % 5 + 1).cast("int").alias("n_frames"),
    )


_DECODE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("decoder", T.StringType(), True),
    ]
)


def _header_dims(b: bytes):
    """(width, height) parsed straight from the PUBLIC container header —
    PNG (IHDR), GIF87a/89a (logical screen descriptor), JPEG (SOF frame
    scan) — pure stdlib, the same public-format-parsing approach as
    sources/carv1.py.  Returns None for anything else.  This makes image
    metadata decode REAL in every environment."""
    import struct as _s

    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
            return _s.unpack(">II", b[16:24])
        if b[:6] in (b"GIF87a", b"GIF89a"):
            w, h = _s.unpack("<HH", b[6:10])
            return (w, h)
        if b[:2] == b"\xff\xd8":  # JPEG: scan markers for a SOF frame
            off = 2
            while off + 9 < len(b):
                if b[off] != 0xFF:
                    return None
                # JFIF permits runs of 0xFF fill bytes before a marker
                # (ITU T.81 §B.1.1.2); skip the padding so a padded-but-
                # valid JPEG reaches its real SOF instead of falling to
                # the stub tier.
                while off + 9 < len(b) and b[off + 1] == 0xFF:
                    off += 1
                marker = b[off + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    off += 2
                    continue
                (seglen,) = _s.unpack(">H", b[off + 2 : off + 4])
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = _s.unpack(">HH", b[off + 5 : off + 9])
                    return (w, h)
                off += 2 + seglen
    except Exception:
        return None
    return None


def decode_info(df: DataFrame, *, allow_stub: bool = True) -> DataFrame:
    """Per-blob decode metadata via ``mapInPandas`` (one Arrow batch at a
    time, never per-row Python loop on the JVM boundary).

    Two-tier decode, most-real first:
    1. ``decoder='header'`` — PNG/GIF/JPEG dimensions parsed from the
       public container header in pure stdlib (real in EVERY
       environment, no wheels);
    2. ``decoder='stub'`` — deterministic sha256-derived dimensions for
       anything unparseable, so output stays a pure function of content
       in every environment.
    ``allow_stub=False`` forbids tier 2: unparseable blobs get null
    dimensions and ``decoder='undecodable'`` instead of invented ones."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sha = pdf["content"].map(
                lambda b: hashlib.sha256(bytes(b)).hexdigest()
            )
            dims = pdf["content"].map(lambda b: _header_dims(bytes(b)))
            use_stub = dims.isna() & allow_stub
            width = pd.Series(
                [
                    d[0] if d is not None
                    else (int(h[:2], 16) if st else None)
                    for d, h, st in zip(dims, sha, use_stub)
                ],
                dtype="Int32",
            )
            height = pd.Series(
                [
                    d[1] if d is not None
                    else (int(h[2:4], 16) if st else None)
                    for d, h, st in zip(dims, sha, use_stub)
                ],
                dtype="Int32",
            )
            decoder = pd.Series(
                [
                    "header" if d is not None
                    else ("stub" if st else "undecodable")
                    for d, st in zip(dims, use_stub)
                ],
                dtype="object",
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["content"].map(len).astype("int32"),
                    "content_sha": sha,
                    "width": width,
                    "height": height,
                    "decoder": decoder,
                }
            )

    return df.select("media_id", "content").mapInPandas(kernel, _DECODE_SCHEMA)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), True),
    ]
)


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling: one output row per kept frame (every other frame:
    indices 0, 2, 4, … below n_frames), ``frame_hash = md5(content || '#' || idx)`` standing in
    for the decoded frame tensor.  A row-multiplying ``mapInPandas`` — the
    UDTF shape video pipelines need (1 video -> N frame rows)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for mid, content, n in zip(
                pdf["media_id"], pdf["content"], pdf["n_frames"]
            ):
                for i in range(0, int(n), 2):
                    ids.append(mid)
                    idxs.append(i)
                    hashes.append(
                        hashlib.md5(
                            bytes(content) + b"#" + str(i).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return df.select("media_id", "content", "n_frames").mapInPandas(
        kernel, _FRAME_SCHEMA
    )


def extract_features(df: DataFrame) -> DataFrame:
    """4-dim float feature vector per blob via a scalar ``pandas_udf``
    (Arrow-batched).  STUB featurizer: the first 4 bytes of md5(content)
    scaled to [0, 1] — the real model inference would slot into the same kernel."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def feats(content: pd.Series) -> pd.Series:
        return content.map(
            lambda b: [
                int.from_bytes(
                    hashlib.md5(bytes(b)).digest()[i : i + 1], "big"
                )
                / 255.0
                for i in range(4)
            ]
        )

    return df.select("media_id", feats(F.col("content")).alias("features"))


_AUDIO_BLOB_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def synthesize_audio(df: DataFrame) -> DataFrame:
    """Deterministic REAL WAV corpus: every ``(doc_id, text)`` document
    becomes a valid
    RIFF/WAVE PCM file written by stdlib ``wave`` — channels, sample
    rate, and frame count derived from the id (pure function, no RNG),
    sample bytes from the content md5.  Exists so the audio path can
    round-trip genuine containers in a container with no media files or
    codec libraries."""
    import wave

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for mid, txt in zip(pdf["doc_id"], pdf["text"]):
                ch = 1 + int(mid) % 2
                rate = 8000 + (int(mid) % 4) * 4000
                nf = 100 + int(mid) % 50
                seed = hashlib.md5(str(txt).encode()).digest()
                data = (seed * (nf * ch // 16 + 1))[: nf * ch]
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(ch)
                    w.setsampwidth(1)
                    w.setframerate(rate)
                    w.writeframes(data)
                blobs.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "content": blobs,
                }
            )

    return df.select("doc_id", "text").mapInPandas(kernel, _AUDIO_BLOB_SCHEMA)


_AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)


def _parse_wav(b: bytes):
    """RIFF/WAVE PCM metadata from the public container format (fmt +
    data chunk walk, word-aligned) — pure stdlib struct, the same
    header-parsing doctrine as _header_dims.  Returns None for
    non-WAV bytes."""
    import struct as _s

    try:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
            return None
        off, ch, rate, bits, data_sz = 12, None, None, None, None
        while off + 8 <= len(b):
            cid = b[off : off + 4]
            (sz,) = _s.unpack("<I", b[off + 4 : off + 8])
            if cid == b"fmt ":
                _, ch, rate = _s.unpack("<HHI", b[off + 8 : off + 16])
                (bits,) = _s.unpack("<H", b[off + 22 : off + 24])
            elif cid == b"data":
                data_sz = sz
            off += 8 + sz + (sz & 1)  # chunks are word-aligned
        if None in (ch, rate, bits, data_sz):
            return None
        n_frames = data_sz // (ch * bits // 8)
        return (ch, rate, bits, n_frames)
    except Exception:
        return None


def audio_meta(df: DataFrame) -> DataFrame:
    """Per-blob WAV metadata via mapInPandas: REAL container parsing
    (no stub tier — non-WAV bytes yield nulls), duration as
    frames/rate."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": pdf["media_id"].astype("int64"),
                "channels": [], "sample_rate": [], "bits": [],
                "n_frames": [], "duration_s": [],
            }
            for b in pdf["content"]:
                m = _parse_wav(bytes(b))
                if m is None:
                    for k in ("channels", "sample_rate", "bits", "n_frames",
                              "duration_s"):
                        rows[k].append(None)
                else:
                    ch, rate, bits, nf = m
                    rows["channels"].append(ch)
                    rows["sample_rate"].append(rate)
                    rows["bits"].append(bits)
                    rows["n_frames"].append(nf)
                    rows["duration_s"].append(round(nf / rate, 6))
            yield pd.DataFrame(
                {
                    "media_id": rows["media_id"],
                    "channels": pd.Series(rows["channels"], dtype="Int32"),
                    "sample_rate": pd.Series(rows["sample_rate"], dtype="Int32"),
                    "bits": pd.Series(rows["bits"], dtype="Int32"),
                    "n_frames": pd.Series(rows["n_frames"], dtype="Int32"),
                    "duration_s": pd.Series(rows["duration_s"], dtype="float64"),
                }
            )

    return df.select("media_id", "content").mapInPandas(
        kernel, _AUDIO_META_SCHEMA
    )


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    import struct as _s

    return _s.pack(">I", len(payload) + 8) + btype + payload


def synthesize_video(df: DataFrame) -> DataFrame:
    """Deterministic REAL MP4 (ISO base media) corpus from ``(doc_id,
    text)`` documents: ftyp + moov/mvhd
    boxes built to the public ISO/IEC 14496-12 layout — timescale 600,
    duration a pure function of the id, a brand string, and an mdat
    carrying the content md5 — so the video path round-trips genuine
    containers with no codec libraries."""
    import struct as _s

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for mid, txt in zip(pdf["doc_id"], pdf["text"]):
                ticks = 150 * (1 + int(mid) % 8)
                ftyp = _mp4_box(b"ftyp", b"isom" + _s.pack(">I", 512) + b"isomiso2")
                mvhd_payload = (
                    b"\x00\x00\x00\x00"          # version 0 + flags
                    + _s.pack(">II", 0, 0)        # ctime, mtime
                    + _s.pack(">I", 600)          # timescale
                    + _s.pack(">I", ticks)        # duration
                    + _s.pack(">i", 0x00010000)   # rate 1.0
                    + _s.pack(">h", 0x0100)       # volume 1.0
                    + b"\x00" * 10                # reserved
                    + b"\x00" * 36                # matrix
                    + b"\x00" * 24                # pre_defined
                    + _s.pack(">I", 2)            # next_track_id
                )
                moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd_payload))
                mdat = _mp4_box(b"mdat", hashlib.md5(str(txt).encode()).digest())
                blobs.append(ftyp + moov + mdat)
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "content": blobs,
                }
            )

    return df.select("doc_id", "text").mapInPandas(kernel, _AUDIO_BLOB_SCHEMA)


_VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("brand", T.StringType(), True),
        T.StructField("timescale", T.IntegerType(), True),
        T.StructField("duration_ticks", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)


def _parse_mp4(b: bytes):
    """ISO-BMFF top-level box walk -> (brand, timescale, duration) from
    ftyp + moov/mvhd (v0 and v1 layouts) — pure stdlib, public format.
    Returns None for non-MP4 bytes."""
    import struct as _s

    try:
        if len(b) < 12 or b[4:8] != b"ftyp":
            return None
        brand = b[8:12].decode("ascii")
        off, ts, dur = 0, None, None
        while off + 8 <= len(b):
            (sz,) = _s.unpack(">I", b[off : off + 4])
            btype = b[off + 4 : off + 8]
            if sz < 8:
                return None
            if btype == b"moov":
                ioff = off + 8
                end = off + sz
                while ioff + 8 <= end:
                    (isz,) = _s.unpack(">I", b[ioff : ioff + 4])
                    if isz < 8:  # malformed inner box: would loop forever
                        return None
                    if b[ioff + 4 : ioff + 8] == b"mvhd":
                        ver = b[ioff + 8]
                        if ver == 0:
                            ts, dur = _s.unpack(
                                ">II", b[ioff + 20 : ioff + 28]
                            )
                        else:  # v1: 64-bit times
                            (ts,) = _s.unpack(">I", b[ioff + 28 : ioff + 32])
                            (dur,) = _s.unpack(">Q", b[ioff + 32 : ioff + 40])
                    ioff += isz
            off += sz
        if ts is None:
            return None
        return (brand, ts, int(dur))
    except Exception:
        return None


def video_meta(df: DataFrame) -> DataFrame:
    """Per-blob MP4 metadata via mapInPandas: real box-walk parsing, null
    row for non-MP4 bytes (no stub tier)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"].astype("int64"),
                   "brand": [], "timescale": [], "duration_ticks": [],
                   "duration_s": []}
            for b in pdf["content"]:
                m = _parse_mp4(bytes(b))
                if m is None:
                    out["brand"].append(None)
                    out["timescale"].append(None)
                    out["duration_ticks"].append(None)
                    out["duration_s"].append(None)
                else:
                    brand, ts, dur = m
                    out["brand"].append(brand)
                    out["timescale"].append(ts)
                    out["duration_ticks"].append(dur)
                    out["duration_s"].append(round(dur / ts, 6))
            yield pd.DataFrame(
                {
                    "media_id": out["media_id"],
                    "brand": pd.Series(out["brand"], dtype="object"),
                    "timescale": pd.Series(out["timescale"], dtype="Int32"),
                    "duration_ticks": pd.Series(out["duration_ticks"], dtype="Int32"),
                    "duration_s": pd.Series(out["duration_s"], dtype="float64"),
                }
            )

    return df.select("media_id", "content").mapInPandas(
        kernel, _VIDEO_META_SCHEMA
    )
