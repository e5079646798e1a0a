"""Tier C multimodal columns (SURVEY.md §2 C5).

Model: media (image/audio/video) live as opaque ``binary`` payloads with a
typed metadata struct beside them — the standard large-scale layout (payload
in the lake, features extracted by Arrow-batched Python). Compressed codecs
(JPEG/MP3/H.264) need libraries absent from this environment, so those steps
use deterministic byte-level stand-ins with the identical Spark plumbing
(schema, batching, ``mapInPandas`` signature, partition behavior); image
decode is REAL for the uncompressed formats — :func:`decode_image_dims`
parses any BMP / P6-PPM header in pure Python.

The registered query derives a deterministic binary payload from
``documents.text`` (utf-8 bytes) so the byte-level feature extraction is
oracle-checkable end-to-end (sha256 + length have exact SQL equivalents).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import query

FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes int, payload_sha256 string, head_char_code int"
)


def _byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extractor over binary payloads.

    This is the exact shape a real image/audio decoder plugs into: per
    Arrow batch, vectorized work over ``bytes`` objects, schema declared
    up front. Replace the body with PIL/librosa calls when the codecs are
    available (see :func:`decode_image_stub`).
    """
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int32"),
                "payload_sha256": payloads.map(
                    lambda b: hashlib.sha256(b).hexdigest()
                ),
                # decode-then-inspect: the stand-in for a real codec step
                "head_char_code": payloads.map(
                    lambda b: ord(b.decode("utf-8")[0]) if len(b) else -1
                ).astype("int32"),
            }
        )


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the opaque binary column + typed metadata struct."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").alias("n_chars"),
            F.col("source").alias("source"),
        ).alias("media_meta"),
    )


def extract_byte_features(docs: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over the binary column.

    Scale: pure map — no shuffle; Arrow carries the binary column to
    Python in columnar batches (spark.sql.execution.arrow.maxRecordsPerBatch
    bounds batch memory). At 100 TB this is the one place Python is
    justified: codec work that no built-in expresses.
    """
    return with_binary_payload(docs).mapInPandas(_byte_features, FEATURE_SCHEMA)


FRAME_SIZE = 16
FRAME_STRIDE = 4
FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, frame_off int, frame_bytes int,"
    " frame_sha256 string"
)


def _frame_sample(
    batches: Iterator[pd.DataFrame],
    *,
    frame_size: int = FRAME_SIZE,
    stride: int = FRAME_STRIDE,
) -> Iterator[pd.DataFrame]:
    """Arrow-batched frame sampler: treat the payload as a sequence of
    fixed-size frames, emit every ``stride``-th frame's offset + digest.

    The stand-in for video keyframe extraction: a real implementation
    swaps the byte-slice for a codec seek (pyav/ffmpeg) with the same
    (doc_id → many frames) fan-out shape and schema contract.
    """
    for pdf in batches:
        out = {k: [] for k in
               ("doc_id", "frame_idx", "frame_off", "frame_bytes", "frame_sha256")}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            n_frames = max((n + frame_size - 1) // frame_size, 1)
            for idx in range(0, n_frames, stride):
                off = idx * frame_size
                chunk = bytes(payload[off : off + frame_size])
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                out["frame_off"].append(off)
                out["frame_bytes"].append(len(chunk))
                out["frame_sha256"].append(hashlib.sha256(chunk).hexdigest())
        yield pd.DataFrame(out).astype(
            {"frame_idx": "int32", "frame_off": "int32", "frame_bytes": "int32"}
        )


def sample_frames(docs: DataFrame) -> DataFrame:
    """One row per sampled frame per document (mapInPandas fan-out).

    Scale: map-only like :func:`extract_byte_features`, but row-expanding
    (×frames/stride) — at 100 TB size the downstream shuffle off the
    SAMPLED rows, never the raw payloads.
    """
    return with_binary_payload(docs).mapInPandas(_frame_sample, FRAME_SCHEMA)


@query(
    "c05_frame_sample",
    oracle="""
    WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
    f AS (
      SELECT t.doc_id, t.text, g.idx
      FROM t, LATERAL (SELECT unnest(range(
        0, greatest(CAST(ceil(t.n / 16.0) AS BIGINT), 1))) AS idx) g
    )
    SELECT doc_id,
           CAST(idx AS INT) AS frame_idx,
           CAST(idx * 16 AS INT) AS frame_off,
           CAST(length(substring(text, CAST(idx * 16 + 1 AS BIGINT), 16))
                AS INT) AS frame_bytes,
           sha256(substring(text, CAST(idx * 16 + 1 AS BIGINT), 16))
             AS frame_sha256
    FROM f WHERE idx % 4 = 0
    """,
    driver=True,
)
def c05_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5b: frame sampling over opaque media payloads — every 4th 16-byte
    frame's offset and sha256, the keyframe-extraction plumbing shape.

    Oracle note: the payload is the utf-8 encoding of ``text``, and the
    fixture corpus is pure ASCII (asserted in tests/test_multimodal.py),
    so DuckDB's character ``substring`` equals the operator's BYTE slice
    and the per-frame digests are exactly reproducible. The operator
    itself stays byte-domain — on non-ASCII payloads only the oracle's
    equivalence assumption (not the operator) would need revisiting.
    """
    return sample_frames(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C5e — real image decode: pure-Python header parsers for two uncompressed
# formats (no codec libraries needed). Works on ANY valid BMP/P6-PPM file,
# not just the synthetic fixtures below.
# --------------------------------------------------------------------------
def encode_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal valid 24-bpp BITMAPINFOHEADER BMP with deterministic pixels."""
    stride = ((3 * width + 3) // 4) * 4
    img_size = stride * height
    file_size = 54 + img_size
    header = (
        b"BM"
        + file_size.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")  # pixel-array offset
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER size
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB (uncompressed)
        + img_size.to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2  # 72 dpi x/y
        + (0).to_bytes(4, "little") * 2  # palette
    )
    pixels = bytes((seed + i) % 256 for i in range(img_size))
    return header + pixels


def encode_ppm(width: int, height: int, seed: int = 0) -> bytes:
    """Binary P6 PPM (ASCII dims header + raw RGB triples)."""
    pixels = bytes((seed + i) % 256 for i in range(3 * width * height))
    return f"P6\n{width} {height}\n255\n".encode("ascii") + pixels


def encode_png(width: int, height: int, seed: int = 0) -> bytes:
    """Minimal but fully valid 8-bit RGB PNG (IHDR + one IDAT + IEND),
    built with stdlib zlib only — deterministic pixels, correct CRCs."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    raw = b"".join(
        b"\x00"  # filter type None per scanline
        + bytes((seed + y + x) % 256 for x in range(3 * width))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def encode_jpeg_shell(width: int, height: int) -> bytes:
    """Structurally well-formed baseline-JPEG prefix: SOI + JFIF APP0 +
    SOF0 carrying real dimensions + EOI. NOT a pixel-decodable image (no
    DQT/DHT/SOS entropy data) — it exists to exercise the segment-scan
    path of :func:`decode_image_dims` the way a real camera file would.
    """
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x01\x00" + bytes(
        [0, 1, 0, 1, 0, 0]
    )
    # SOF0: len(17) precision(8) height width ncomp(3) + 3×(id,sampling,qt)
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + bytes([8])
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def decode_image_dims(payload: bytes) -> "tuple[str, int, int]":
    """Real image decode: (format, width, height) from the file header.

    PNG: big-endian u32 dims at offsets 16/20 (the IHDR chunk directly
    follows the 8-byte signature in any valid PNG). BMP: little-endian
    i32 dims at fixed offsets 18/22 of the BITMAPINFOHEADER (height may
    be negative for top-down rows — the logical height is its absolute
    value). P6 PPM: ASCII dims after the magic, comment lines allowed.
    JPEG: walk the marker segments to the first SOFn frame header
    (big-endian height/width at byte 3 of the segment body) — the same
    scan fast image pipelines use to get dimensions WITHOUT entropy
    decoding. Raises ValueError on anything else — unknown formats must
    go to quarantine, not silently pass.
    """
    if payload[:2] == b"\xff\xd8":  # JPEG SOI
        i = 2
        while i + 4 <= len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker == 0xD9:  # EOI before any frame header
                break
            if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone
                i += 2
                continue
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            # SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(payload):
                    break
                height = int.from_bytes(payload[i + 5 : i + 7], "big")
                width = int.from_bytes(payload[i + 7 : i + 9], "big")
                return ("jpeg", width, height)
            i += 2 + seg_len
        raise ValueError("corrupt JPEG: no SOF frame header found")
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) >= 24:
        if payload[12:16] != b"IHDR":
            raise ValueError("corrupt PNG: IHDR not first chunk")
        width = int.from_bytes(payload[16:20], "big")
        height = int.from_bytes(payload[20:24], "big")
        return ("png", width, height)
    if payload[:2] == b"BM" and len(payload) >= 26:
        width = int.from_bytes(payload[18:22], "little", signed=True)
        height = abs(int.from_bytes(payload[22:26], "little", signed=True))
        return ("bmp", width, height)
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        # logical-screen descriptor: u16le dims right after the signature
        width = int.from_bytes(payload[6:8], "little")
        height = int.from_bytes(payload[8:10], "little")
        return ("gif", width, height)
    if payload[:2] == b"P6":
        fields: list[bytes] = []
        i = 2
        while len(fields) < 2 and i < len(payload):
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":  # comment to end-of-line
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            fields.append(payload[i:j])
            i = j
        if len(fields) == 2:
            return ("ppm", int(fields[0]), int(fields[1]))
    raise ValueError(
        "unsupported image format (expected JPEG, PNG, GIF, BMP, or P6 PPM)"
    )


def decode_wav_header(payload: bytes) -> "tuple[int, int, int, int]":
    """(channels, sample_rate, bits_per_sample, n_frames) from a RIFF/WAVE
    header — the audio twin of :func:`decode_image_dims`: metadata without
    sample decode, by walking the chunk list (fmt may not be the first
    chunk in the wild, so fixed offsets are wrong; the walk is the
    correct parse). Raises ValueError on non-WAV / torn headers —
    quarantine, never silent."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    channels = sample_rate = bits = block_align = None
    data_size = None
    i = 12
    while i + 8 <= len(payload):
        cid = payload[i : i + 4]
        size = int.from_bytes(payload[i + 4 : i + 8], "little")
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            channels = int.from_bytes(body[2:4], "little")
            sample_rate = int.from_bytes(body[4:8], "little")
            block_align = int.from_bytes(body[12:14], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size % 2)  # chunks are word-aligned
    if channels is None or data_size is None or not block_align:
        raise ValueError("corrupt WAV: missing fmt or data chunk")
    return (channels, sample_rate, bits, data_size // block_align)


def encode_wav(
    channels: int, sample_rate: int, bits: int, n_frames: int
) -> bytes:
    """Minimal RIFF/WAVE file: fmt + zeroed data chunk (header metadata is
    the parse target; samples are silence)."""
    block_align = channels * (bits // 8)
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + (sample_rate * block_align).to_bytes(4, "little")
        + block_align.to_bytes(2, "little")
        + bits.to_bytes(2, "little")
    )
    data = bytes(n_frames * block_align)
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def encode_flac_header(
    sample_rate: int, channels: int, bits: int, total_samples: int
) -> bytes:
    """fLaC magic + a last-flagged STREAMINFO metadata block (34-byte
    body per the FLAC spec): enough for any header reader; no frames."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    body = (
        (4096).to_bytes(2, "big")       # min blocksize
        + (4096).to_bytes(2, "big")     # max blocksize
        + (0).to_bytes(3, "big")        # min framesize (unknown)
        + (0).to_bytes(3, "big")        # max framesize (unknown)
        + packed.to_bytes(8, "big")
        + bytes(16)                     # MD5 of unencoded audio (zeroed)
    )
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def decode_flac_streaminfo(payload: bytes) -> "tuple[int, int, int, int]":
    """(sample_rate, channels, bits_per_sample, total_samples) from a FLAC
    STREAMINFO block — walks the metadata-block list (STREAMINFO is
    mandated first, but the walk also rejects truncation explicitly).
    Raises ValueError on non-FLAC / torn payloads — quarantine, never
    silent (the C5 error discipline)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    if len(payload) >= 5 and (payload[4] & 0x7F) != 0:
        raise ValueError("corrupt FLAC: STREAMINFO must be the first block")
    if len(payload) < 8 + 34:
        raise ValueError("corrupt FLAC: truncated STREAMINFO")
    size = int.from_bytes(payload[5:8], "big")
    body = payload[8 : 8 + size]
    if size < 34 or len(body) < 34:
        raise ValueError("corrupt FLAC: truncated STREAMINFO")
    packed = int.from_bytes(body[10:18], "big")
    sample_rate = packed >> 44
    channels = ((packed >> 41) & 0x7) + 1
    bits = ((packed >> 36) & 0x1F) + 1
    total_samples = packed & ((1 << 36) - 1)
    if sample_rate == 0:
        raise ValueError("corrupt FLAC: zero sample rate")
    return (sample_rate, channels, bits, total_samples)


# MPEG1 Layer III tables (ISO/IEC 11172-3): bitrate index 1..14, kbps;
# sample-rate index 0..2.
_MP3_BITRATES = (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)
MP3_SAMPLES_PER_FRAME = 1152  # MPEG1 Layer III constant


def encode_mp3(
    bitrate_kbps: int, sample_rate: int, channels: int, *, id3_pad: int = 17
) -> bytes:
    """ID3v2 tag (synchsafe-sized padding) + one MPEG1 Layer III frame
    header + zeroed frame body — the minimal file every MP3 header
    reader must handle (the tag-skip is where naive parsers break)."""
    br_idx = _MP3_BITRATES.index(bitrate_kbps) + 1
    sr_idx = _MP3_RATES.index(sample_rate)
    tag = (
        b"ID3\x04\x00\x00"
        + bytes(
            [(id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
             (id3_pad >> 7) & 0x7F, id3_pad & 0x7F]
        )
        + bytes(id3_pad)
    )
    hdr = bytes(
        [
            0xFF,
            0xFB,  # sync + MPEG1 + Layer III + no CRC
            (br_idx << 4) | (sr_idx << 2),
            (0x03 if channels == 1 else 0x00) << 6,
        ]
    )
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate
    return tag + hdr + bytes(max(0, frame_len - 4))


def decode_mp3_header(payload: bytes) -> "tuple[int, int, int]":
    """(bitrate_kbps, sample_rate, channels) from the first MPEG1
    Layer III frame header, skipping a leading ID3v2 tag (synchsafe
    size). Raises ValueError on missing sync / reserved indices /
    non-MPEG1-Layer-III streams — quarantine, never silent."""
    i = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("corrupt MP3: truncated ID3v2 tag")
        size = (
            ((payload[6] & 0x7F) << 21)
            | ((payload[7] & 0x7F) << 14)
            | ((payload[8] & 0x7F) << 7)
            | (payload[9] & 0x7F)
        )
        i = 10 + size
    if len(payload) < i + 4:
        raise ValueError("corrupt MP3: no frame header after tag")
    b0, b1, b2, b3 = payload[i : i + 4]
    if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
        raise ValueError("not an MP3 frame (missing sync)")
    if (b1 >> 3) & 0x3 != 0x3 or (b1 >> 1) & 0x3 != 0x1:
        raise ValueError("unsupported MP3: expected MPEG1 Layer III")
    br_idx, sr_idx = b2 >> 4, (b2 >> 2) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        raise ValueError("corrupt MP3: reserved bitrate/samplerate index")
    channels = 1 if (b3 >> 6) == 0x3 else 2
    return (_MP3_BITRATES[br_idx - 1], _MP3_RATES[sr_idx], channels)


IMAGE_SCHEMA = "doc_id bigint, fmt string, width int, height int, img_bytes int"


def _image_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched encode→decode round trip: build a real image file per
    document (BMP for even doc_ids, PPM for odd), then recover its
    dimensions by parsing the bytes — the decoded values, not the inputs,
    are what the query emits, so the parser is on the verified path."""
    for pdf in batches:
        fmts, widths, heights, sizes = [], [], [], []
        for doc_id, w, h in zip(pdf["doc_id"], pdf["width"], pdf["height"]):
            enc = encode_bmp if doc_id % 2 == 0 else encode_ppm
            payload = enc(int(w), int(h), seed=int(doc_id) % 256)
            fmt, got_w, got_h = decode_image_dims(payload)
            fmts.append(fmt)
            widths.append(got_w)
            heights.append(got_h)
            sizes.append(len(payload))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "fmt": fmts,
                "width": pd.array(widths, dtype="int32"),
                "height": pd.array(heights, dtype="int32"),
                "img_bytes": pd.array(sizes, dtype="int32"),
            }
        )


@query(
    "c05_image_decode",
    oracle="""
    SELECT
      doc_id,
      CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
      CAST(n_chars % 64 + 1 AS INT) AS width,
      CAST(doc_id % 48 + 1 AS INT) AS height,
      CAST(CASE WHEN doc_id % 2 = 0
        THEN 54 + ((3 * (n_chars % 64 + 1) + 3) // 4) * 4 * (doc_id % 48 + 1)
        ELSE 3 + length(CAST(n_chars % 64 + 1 AS VARCHAR)) + 1
           + length(CAST(doc_id % 48 + 1 AS VARCHAR)) + 5
           + 3 * (n_chars % 64 + 1) * (doc_id % 48 + 1)
      END AS INT) AS img_bytes
    FROM documents
    """,
    driver=False,
)
def c05_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5e: REAL image decode — deterministic BMP/PPM files are written
    per document and their dimensions recovered by parsing the bytes
    (:func:`decode_image_dims`, a genuine header parser that works on any
    BMP/P6 file; no codec library required). The oracle recomputes the
    expected dims and exact file size arithmetically, so a parser bug
    (wrong offset, wrong endianness, missed row padding) breaks parity.

    Scale: map-only Arrow-batched Python — the codec shape of C5 — with
    dims bounded (≤64×48) so the synthetic payload cost stays O(rows).
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 64 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 48 + 1).cast("int").alias("height"),
    )
    return docs.mapInPandas(_image_decode, IMAGE_SCHEMA)


@query(
    "c05_multimodal_features",
    oracle="""
    SELECT
      doc_id,
      CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      sha256(text) AS payload_sha256,
      CAST(CASE WHEN length(text) > 0 THEN ascii(text) ELSE -1 END AS INT)
        AS head_char_code
    FROM documents
    """,
    driver=False,
)
def c05_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: binary-column feature extraction via Arrow-batched mapInPandas.

    The payload is utf-8 text bytes (deterministic), so sha256/length/first
    byte are exactly checkable against DuckDB — proving the binary plumbing
    (BinaryType schema, Arrow transfer, batch iterator contract) without
    needing codec libraries.
    """
    return extract_byte_features(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# C5c — resize / thumbnail (deterministic stand-in for image resample)
# --------------------------------------------------------------------------
THUMB_BYTES = 32
_TEXT_THUMB_SCHEMA = (
    "doc_id bigint, orig_bytes int, thumb_bytes int, thumb_sha256 string"
)


def _text_thumbnail(
    batches: Iterator[pd.DataFrame], *, out_chars: int = THUMB_BYTES
) -> Iterator[pd.DataFrame]:
    """Arrow-batched "resize": even-stride downsample of each text to a
    fixed budget — the plumbing shape of image thumbnailing (decode →
    resample → re-encode) with a deterministic fake in place of the
    codec. Over codepoints, so the sha256 has an exact cross-engine SQL
    spelling for ANY text encoding."""
    for pdf in batches:
        rows = {k: [] for k in ("doc_id", "orig_bytes", "thumb_bytes", "thumb_sha256")}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            n = len(text)
            if n <= out_chars:
                thumb = text
            else:
                thumb = "".join(text[i * n // out_chars] for i in range(out_chars))
            tb = thumb.encode("utf-8")
            rows["doc_id"].append(doc_id)
            rows["orig_bytes"].append(len(text.encode("utf-8")))
            rows["thumb_bytes"].append(len(tb))
            rows["thumb_sha256"].append(hashlib.sha256(tb).hexdigest())
        yield pd.DataFrame(rows).astype(
            {"orig_bytes": "int32", "thumb_bytes": "int32"}
        )


@query(
    "c05_resize_thumbnail",
    oracle=f"""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS INT) AS orig_bytes,
      CAST(octet_length(encode(thumb)) AS INT) AS thumb_bytes,
      sha256(thumb) AS thumb_sha256
    FROM (
      SELECT doc_id, text,
        CASE WHEN length(text) <= {THUMB_BYTES} THEN text
        ELSE array_to_string(list_transform(range(0, {THUMB_BYTES}),
               i -> substr(text, (i * length(text)) // {THUMB_BYTES} + 1, 1)),
             '')
        END AS thumb
      FROM documents)
    """,
    driver=False,
)
def c05_resize_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5c: resize/thumbnail plumbing — every document downsampled to a
    32-sample strided thumbnail reported by digest + size, the
    image-resample fan-in shape in Arrow-batched Python.

    Defined over CHARACTERS (codepoint stride, sha256 of the utf-8
    re-encoding) rather than raw payload bytes so the digest has an exact
    DuckDB spelling — ``sha256(VARCHAR)`` hashes the utf-8 bytes in both
    engines, making the oracle hold even for non-ASCII corpora.

    Scale: map-only Arrow-batched Python, no shuffle.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(_text_thumbnail, _TEXT_THUMB_SCHEMA)


# --------------------------------------------------------------------------
# C5d — audio-style windowed energy (deterministic stand-in for DSP)
# --------------------------------------------------------------------------
AUDIO_WINDOW = 64
_SIGNAL_SCHEMA = (
    "doc_id bigint, n_windows int, energy_sum bigint,"
    " rms_first double, rms_last double, rms_max double"
)


def _codepoint_energy(
    batches: Iterator[pd.DataFrame], *, window: int = AUDIO_WINDOW
) -> Iterator[pd.DataFrame]:
    """Windowed RMS over CODEPOINT values, unrounded.

    Exactness: window sums of squared codepoints are integers < 2^53
    (exact in float64 under any summation order), /64 is a power-of-two
    divide (exact), and IEEE sqrt is correctly rounded — so every emitted
    double is bit-identical to the SQL oracle's, no rounding needed.
    """
    import numpy as np

    for pdf in batches:
        rows = {k: [] for k in
                ("doc_id", "n_windows", "energy_sum", "rms_first",
                 "rms_last", "rms_max")}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            x = np.array([ord(c) for c in text], dtype=np.float64)
            rows["doc_id"].append(doc_id)
            if len(x) == 0:
                rows["n_windows"].append(0)
                rows["energy_sum"].append(0)
                rows["rms_first"].append(None)
                rows["rms_last"].append(None)
                rows["rms_max"].append(None)
                continue
            pad = (-len(x)) % window
            frames = np.pad(x, (0, pad)).reshape(-1, window)
            rms = np.sqrt((frames * frames).mean(axis=1))
            rows["n_windows"].append(frames.shape[0])
            rows["energy_sum"].append(int((x * x).sum()))
            rows["rms_first"].append(float(rms[0]))
            rows["rms_last"].append(float(rms[-1]))
            rows["rms_max"].append(float(rms.max()))
        yield pd.DataFrame(rows).astype(
            {"n_windows": "int32", "energy_sum": "int64"}
        )


_AUDIO_ORACLE = f"""
    WITH cps AS (
      SELECT doc_id, length(text) AS n,
        list_transform(range(1, length(text) + 1),
                       i -> ascii(substr(text, i, 1))) AS cp
      FROM documents
    )
    SELECT doc_id,
      CAST(CEIL(n / {AUDIO_WINDOW}.0) AS INT) AS n_windows,
      CAST(COALESCE(list_sum(list_transform(cp, x -> x * x)), 0) AS BIGINT)
        AS energy_sum,
      CASE WHEN n = 0 THEN NULL ELSE
        sqrt(CAST(list_sum(list_transform(cp[1:{AUDIO_WINDOW}], x -> x * x))
             AS DOUBLE) / {AUDIO_WINDOW}.0) END AS rms_first,
      CASE WHEN n = 0 THEN NULL ELSE
        sqrt(CAST(list_sum(list_transform(
          cp[(CAST(CEIL(n / {AUDIO_WINDOW}.0) AS BIGINT) - 1)
             * {AUDIO_WINDOW} + 1 : n], x -> x * x))
             AS DOUBLE) / {AUDIO_WINDOW}.0) END AS rms_last,
      CASE WHEN n = 0 THEN NULL ELSE
        list_max(list_transform(
          range(0, CAST(CEIL(n / {AUDIO_WINDOW}.0) AS BIGINT)),
          w -> sqrt(CAST(list_sum(list_transform(
                 cp[w * {AUDIO_WINDOW} + 1 :
                    least((w + 1) * {AUDIO_WINDOW}, n)], x -> x * x))
               AS DOUBLE) / {AUDIO_WINDOW}.0))) END AS rms_max
    FROM cps
"""


@query("c05_audio_energy", oracle=_AUDIO_ORACLE, driver=False)
def c05_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5d: audio-style windowed RMS energy — the DSP feature-extraction
    plumbing (frame → energy → aggregate) in Arrow-batched Python.

    Defined over CODEPOINT values (the text-as-signal reading of the
    payload) so every emitted double is bit-exact against the DuckDB
    oracle: integer squared sums are exact in float64, /64 is a
    power-of-two divide, IEEE sqrt is correctly rounded — no rounding
    tolerance anywhere. ``energy_sum`` additionally pins the whole-signal
    integer digest per row.

    Scale: map-only Arrow-batched Python, no shuffle.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(_codepoint_energy, _SIGNAL_SCHEMA)


# --------------------------------------------------------------------------
# C5g — audio container headers (WAV / FLAC / MP3), decode roundtrip
# --------------------------------------------------------------------------
_AUDIO_HDR_SCHEMA = (
    "doc_id bigint, fmt string, channels int, sample_rate int, "
    "depth int, n_frames bigint"
)


def _audio_headers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Encode a deterministic WAV / FLAC / MP3 file per document, then
    recover its parameters by PARSING the bytes — the decoded values are
    emitted, so every parser (chunk walk, STREAMINFO bit unpack, ID3
    skip + frame sync) is on the oracle-verified path, the
    c05_image_decode discipline applied to audio containers."""
    for pdf in batches:
        rows = {k: [] for k in
                ("fmt", "channels", "sample_rate", "depth", "n_frames")}
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            ch = 1 + d % 2
            # depth varies on (d // 3) so every format branch (fixed by
            # d % 3) still sees all three bit depths on the verified path
            if d % 3 == 0:
                sr, bits, nf = (
                    8000 * (1 + d % 5), 8 * (1 + (d // 3) % 3), 100 + d % 50
                )
                got = decode_wav_header(encode_wav(ch, sr, bits, nf))
                vals = ("wav", got[0], got[1], got[2], got[3])
            elif d % 3 == 1:
                sr, bits, total = (
                    8000 * (1 + d % 5), 8 * (1 + (d // 3) % 3), 1000 + d % 997
                )
                g = decode_flac_streaminfo(
                    encode_flac_header(sr, ch, bits, total)
                )
                vals = ("flac", g[1], g[0], g[2], g[3])
            else:
                br = _MP3_BITRATES[(d // 3) % 14]
                sr = _MP3_RATES[(d // 3) % 3]
                g = decode_mp3_header(encode_mp3(br, sr, ch))
                vals = ("mp3", g[2], g[1], g[0], MP3_SAMPLES_PER_FRAME)
            for k, v in zip(rows, vals):
                rows[k].append(v)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "fmt": rows["fmt"],
                "channels": pd.array(rows["channels"], dtype="int32"),
                "sample_rate": pd.array(rows["sample_rate"], dtype="int32"),
                "depth": pd.array(rows["depth"], dtype="int32"),
                "n_frames": pd.array(rows["n_frames"], dtype="int64"),
            }
        )


@query(
    "c05_audio_header",
    oracle="""
    SELECT
      doc_id,
      CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'flac' ELSE 'mp3' END
        AS fmt,
      CAST(1 + doc_id % 2 AS INT) AS channels,
      CAST(CASE WHEN doc_id % 3 = 2
        THEN CASE (doc_id // 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
             ELSE 32000 END
        ELSE 8000 * (1 + doc_id % 5) END AS INT) AS sample_rate,
      CAST(CASE WHEN doc_id % 3 = 2
        THEN CASE (doc_id // 3) % 14
             WHEN 0 THEN 32 WHEN 1 THEN 40 WHEN 2 THEN 48 WHEN 3 THEN 56
             WHEN 4 THEN 64 WHEN 5 THEN 80 WHEN 6 THEN 96 WHEN 7 THEN 112
             WHEN 8 THEN 128 WHEN 9 THEN 160 WHEN 10 THEN 192
             WHEN 11 THEN 224 WHEN 12 THEN 256 ELSE 320 END
        ELSE 8 * (1 + (doc_id // 3) % 3) END AS INT) AS depth,
      CAST(CASE doc_id % 3 WHEN 0 THEN 100 + doc_id % 50
           WHEN 1 THEN 1000 + doc_id % 997 ELSE 1152 END AS BIGINT)
        AS n_frames
    FROM documents
    """,
    driver=True,
)
def c05_audio_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5g: REAL audio container parsing — per document a deterministic
    WAV (RIFF chunk walk), FLAC (STREAMINFO 64-bit bit-unpack), or MP3
    (ID3v2 synchsafe skip + MPEG1 Layer III frame-header decode) file is
    encoded and its parameters recovered by parsing the bytes. The
    oracle recomputes every expected value arithmetically from doc_id,
    so a parser bug (wrong bit offset, un-skipped tag, misread
    endianness) breaks parity. ``depth`` is bits/sample for WAV/FLAC and
    bitrate-kbps for MP3; ``n_frames`` is data frames (WAV), total
    samples (FLAC), or the Layer III samples-per-frame constant (MP3).

    Scale: map-only Arrow-batched Python (the codec shape of C5), no
    shuffle; payloads are header-sized.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_audio_headers, _AUDIO_HDR_SCHEMA)


def payload_format(col: "str | F.Column") -> "F.Column":
    """JVM-side magic-byte format sniffing for a binary payload column —
    the dispatch step of a mixed-modality pipeline (route JPEGs to the
    image decoder, PCM to the DSP pass, quarantine the rest) executed as
    a codegen CASE over the first bytes, so filtering and partitioning
    by modality never leave the JVM. The Python decoders
    (:func:`decode_image_dims`) stay for the per-format parsing; THIS
    keeps the corpus-wide scan that decides who parses what on the fast
    path. Returns 'jpeg' | 'png' | 'gif' | 'bmp' | 'ppm' | 'wav' |
    'flac' | 'mp3' | 'unknown'. MP3 is sniffed by the ID3v2 tag or the
    common MPEG1/2 Layer III sync byte pairs (a raw sync needs a
    bit-mask; the four whole-byte prefixes cover the files real
    encoders emit).
    """
    b = F.col(col) if isinstance(col, str) else col
    return (
        F.when(F.substring(b, 1, 2) == F.lit(b"\xff\xd8"), "jpeg")
        .when(F.substring(b, 1, 8) == F.lit(b"\x89PNG\r\n\x1a\n"), "png")
        .when(F.substring(b, 1, 4) == F.lit(b"GIF8"), "gif")
        .when(F.substring(b, 1, 2) == F.lit(b"BM"), "bmp")
        .when(F.substring(b, 1, 2) == F.lit(b"P6"), "ppm")
        .when(F.substring(b, 1, 4) == F.lit(b"RIFF"), "wav")
        .when(F.substring(b, 1, 4) == F.lit(b"fLaC"), "flac")
        .when(F.substring(b, 1, 3) == F.lit(b"ID3"), "mp3")
        .when(
            (F.substring(b, 1, 2) == F.lit(b"\xff\xfb"))
            | (F.substring(b, 1, 2) == F.lit(b"\xff\xfa"))
            | (F.substring(b, 1, 2) == F.lit(b"\xff\xf3"))
            | (F.substring(b, 1, 2) == F.lit(b"\xff\xf2")),
            "mp3",
        )
        .otherwise("unknown")
    )
