"""Multimodal plumbing tests (C5): frame sampling + skew-salted joins."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load
from stock_data_pipeline_spark.functions.skew import salted_join
from stock_data_pipeline_spark.operators.multimodal import (
    FRAME_SIZE,
    FRAME_STRIDE,
    sample_frames,
)


def test_frame_sample_matches_local_recompute(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    got = {
        (r.doc_id, r.frame_idx): (r.frame_off, r.frame_bytes, r.frame_sha256)
        for r in sample_frames(docs).collect()
    }
    raw = docs.select("doc_id", "text").collect()
    want = {}
    for r in raw:
        payload = r.text.encode("utf-8")
        n_frames = max(-(-len(payload) // FRAME_SIZE), 1)
        for idx in range(0, n_frames, FRAME_STRIDE):
            off = idx * FRAME_SIZE
            chunk = payload[off : off + FRAME_SIZE]
            want[(r.doc_id, idx)] = (
                off, len(chunk), hashlib.sha256(chunk).hexdigest()
            )
    assert got == want


def test_frame_sample_empty_payload_single_frame(spark):
    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = sample_frames(docs).collect()
    assert len(rows) == 1
    assert rows[0].frame_bytes == 0


def test_salted_join_equals_plain_join_on_skewed_data(spark):
    # 90% of the big side on one hot key — the AQE-skew scenario.
    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1800, F.lit(7)).otherwise(F.col("id") % 50)
        .cast("long").alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim_val")
    )
    plain = big.join(small, "k").select("k", "payload", "dim_val")
    salted = salted_join(big, small, "k", n_salts=8).select(
        "k", "payload", "dim_val"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_left_outer_preserves_unmatched(spark):
    big = spark.createDataFrame(
        [(1, "a"), (2, "b"), (99, "orphan")], "k long, v string"
    )
    small = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, d double")
    out = salted_join(big, small, "k", n_salts=4, how="left").collect()
    assert len(out) == 3
    orphan = [r for r in out if r.k == 99][0]
    assert orphan.d is None


def test_salted_join_spreads_hot_key_over_salts(spark):
    """The salt column must actually split the hot key's rows into multiple
    distinct (key, salt) groups — the whole point of the rewrite."""
    big = spark.range(0, 1000).select(
        F.lit(7).cast("long").alias("k"), F.col("id").alias("payload")
    )
    from stock_data_pipeline_spark.functions.skew import SALT_COL

    salted = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*big.columns), F.lit(8)).cast("int")
    )
    n_groups = salted.select(SALT_COL).distinct().count()
    assert n_groups >= 6  # ~8 salts in use for 1000 rows


def test_audio_energy_empty_payload(spark):
    """An empty signal has no windows, zero energy and NULL RMS figures:
    the branch the c05_audio_energy oracle's ``n = 0`` cases encode."""
    from stock_data_pipeline_spark.operators.multimodal import (
        _SIGNAL_SCHEMA,
        _codepoint_energy,
    )

    docs = spark.createDataFrame([(1, "")], "doc_id long, text string")
    (row,) = docs.mapInPandas(_codepoint_energy, _SIGNAL_SCHEMA).collect()
    assert row.n_windows == 0 and row.energy_sum == 0
    assert row.rms_first is None and row.rms_last is None
    assert row.rms_max is None


def test_two_phase_count_distinct_equals_direct(spark):
    from stock_data_pipeline_spark.functions.skew import two_phase_count_distinct

    # hot key 7 with many duplicate values — the straggler scenario
    df = spark.range(0, 5000).select(
        F.when(F.col("id") < 4500, F.lit(7)).otherwise(F.col("id") % 13)
        .cast("long").alias("k"),
        (F.col("id") % 97).alias("v"),
    )
    got = {
        r.k: r.n_distinct_v
        for r in two_phase_count_distinct(df, "k", "v").collect()
    }
    want = {
        r.k: r.want
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("want")).collect()
    }
    assert got == want


def test_decode_image_dims_bmp_ppm_roundtrip():
    from stock_data_pipeline_spark.operators.multimodal import (
        decode_image_dims,
        encode_bmp,
        encode_ppm,
    )

    for w, h in [(1, 1), (64, 48), (640, 480), (3, 200)]:
        assert decode_image_dims(encode_bmp(w, h)) == ("bmp", w, h)
        assert decode_image_dims(encode_ppm(w, h)) == ("ppm", w, h)


def test_decode_image_dims_real_format_variants():
    from stock_data_pipeline_spark.operators.multimodal import decode_image_dims

    # top-down BMP (negative height) — logical height is abs()
    bmp = bytearray(
        b"BM" + (54 + 120).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (10).to_bytes(4, "little", signed=True)
        + (-4).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little") + b"\x00" * 24
    )
    assert decode_image_dims(bytes(bmp)) == ("bmp", 10, 4)
    # PPM with a comment line between magic and dims (spec-legal)
    assert decode_image_dims(b"P6\n# made by hand\n7 9\n255\n" + b"\x00" * 189) == (
        "ppm", 7, 9,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image_dims(b"\x89PNG\r\n\x1a\n")


def test_image_decode_query_dims_match_encoded(spark, sf_dir):
    from stock_data_pipeline_spark.registry import get

    rows = get("c05_image_decode").fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.fmt == ("bmp" if r.doc_id % 2 == 0 else "ppm")
        assert 1 <= r.width <= 64 and 1 <= r.height <= 48


def test_salted_join_rejects_small_side_outer_joins(spark):
    """right/full would emit every unmatched small-side row once per salt."""
    import pytest

    big = spark.createDataFrame([(1, "a")], "k long, v string")
    small = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, d double")
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(big, small, "k", n_salts=4, how=how)


def test_decode_image_dims_png_roundtrip_and_validity():
    import struct
    import zlib

    from stock_data_pipeline_spark.operators.multimodal import (
        decode_image_dims,
        encode_png,
    )

    for w, h in [(1, 1), (13, 7), (64, 48)]:
        payload = encode_png(w, h, seed=3)
        assert decode_image_dims(payload) == ("png", w, h)
        # The file must be a VALID png, not just a recognizable header:
        # walk the chunks, verify every CRC, and inflate the scanlines.
        i, idat = 8, b""
        while i < len(payload):
            (length,) = struct.unpack(">I", payload[i : i + 4])
            tag = payload[i + 4 : i + 8]
            body = payload[i + 8 : i + 8 + length]
            (crc,) = struct.unpack(
                ">I", payload[i + 8 + length : i + 12 + length]
            )
            assert crc == (zlib.crc32(tag + body) & 0xFFFFFFFF), tag
            if tag == b"IDAT":
                idat += body
            i += 12 + length
        assert tag == b"IEND"
        raw = zlib.decompress(idat)
        assert len(raw) == h * (1 + 3 * w)  # filter byte + RGB per line
    with pytest.raises(ValueError):
        decode_image_dims(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4 + b"XXXX" + b"\x00" * 8)


def test_jpeg_sof_dimension_scan():
    """JPEG dims come from the SOFn segment scan, wherever it sits."""
    from stock_data_pipeline_spark.operators.multimodal import (
        decode_image_dims,
        encode_jpeg_shell,
    )

    for w, h in [(1, 1), (640, 480), (65535, 2)]:
        assert decode_image_dims(encode_jpeg_shell(w, h)) == ("jpeg", w, h)
    # SOI but no frame header -> quarantine, not a silent zero
    import pytest

    with pytest.raises(ValueError):
        decode_image_dims(b"\xff\xd8\xff\xd9")
    # progressive marker (SOF2) parses the same frame-header layout
    shell = bytearray(encode_jpeg_shell(33, 44))
    shell[shell.index(b"\xff\xc0") + 1] = 0xC2
    assert decode_image_dims(bytes(shell)) == ("jpeg", 33, 44)


def test_payload_format_sniffing_is_jvm_side(spark):
    """Magic-byte dispatch agrees with the Python decoders on every
    format and stays out of Python in the plan."""
    from stock_data_pipeline_spark.operators.multimodal import (
        encode_bmp,
        encode_jpeg_shell,
        encode_png,
        encode_ppm,
        payload_format,
    )

    rows = [
        ("jpeg", encode_jpeg_shell(4, 3)),
        ("png", encode_png(4, 3)),
        ("bmp", encode_bmp(4, 3)),
        ("ppm", encode_ppm(4, 3)),
        ("gif", b"GIF89a" + b"\x10\x00\x08\x00"),  # supported since round 4
        ("wav", b"RIFF\x00\x00\x00\x00WAVE"),
        ("unknown", b"FLIF not a real format"),
        ("unknown", b""),
    ]
    df = spark.createDataFrame(rows, "want string, payload binary")
    out = df.select("want", payload_format("payload").alias("got"))
    for r in out.collect():
        assert r.want == r.got, r
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# GIF + WAV header decoders (round 4)
# --------------------------------------------------------------------------
def _make_gif(width: int, height: int) -> bytes:
    import struct

    return (
        b"GIF89a"
        + struct.pack("<HH", width, height)
        + b"\x80\x00\x00"          # GCT flag, bg, aspect
        + b"\x00\x00\x00\xff\xff\xff"  # 2-entry palette
        + b"\x3b"                  # trailer
    )


def _make_wav(channels: int, rate: int, n_frames: int, bits: int = 16) -> bytes:
    import struct

    block = channels * bits // 8
    data = b"\x00" * (n_frames * block)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_gif_dims_decode_and_dispatch(spark):
    from stock_data_pipeline_spark.operators.multimodal import (
        decode_image_dims,
        payload_format,
    )

    gif = _make_gif(320, 200)
    assert decode_image_dims(gif) == ("gif", 320, 200)
    df = spark.createDataFrame([(0, bytearray(gif))], "id long, payload binary")
    assert df.select(payload_format("payload").alias("f")).collect()[0].f == "gif"


def test_wav_header_walk_and_dispatch(spark):
    from stock_data_pipeline_spark.operators.multimodal import (
        decode_wav_header,
        payload_format,
    )

    wav = _make_wav(2, 44100, 1000)
    assert decode_wav_header(wav) == (2, 44100, 16, 1000)
    # chunk-walk robustness: an extra chunk BEFORE fmt must not break it
    import struct

    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = wav[:12] + extra + wav[12:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert decode_wav_header(patched) == (2, 44100, 16, 1000)
    df = spark.createDataFrame([(0, bytearray(wav))], "id long, payload binary")
    assert df.select(payload_format("payload").alias("f")).collect()[0].f == "wav"


def test_corrupt_gif_wav_raise(spark):
    import pytest as _pytest

    from stock_data_pipeline_spark.operators.multimodal import (
        decode_image_dims,
        decode_wav_header,
    )

    with _pytest.raises(ValueError):
        decode_image_dims(b"GIF9")  # bad signature
    with _pytest.raises(ValueError):
        decode_wav_header(b"RIFFxxxxNOPE")
    with _pytest.raises(ValueError):
        decode_wav_header(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


# --------------------------------------------------------------------------
# C5g — audio container headers (WAV / FLAC / MP3)
# --------------------------------------------------------------------------
def test_flac_streaminfo_roundtrip_and_corruption():
    from stock_data_pipeline_spark.operators.multimodal import (
        decode_flac_streaminfo,
        encode_flac_header,
    )

    # bit-boundary values: 20-bit sample rate, 3-bit channels, 5-bit bps,
    # 36-bit total samples
    for sr, ch, bits, total in [
        (8000, 1, 8, 0),
        (96000, 8, 32, (1 << 36) - 1),
        (44100, 2, 16, 123456789),
    ]:
        assert decode_flac_streaminfo(
            encode_flac_header(sr, ch, bits, total)
        ) == (sr, ch, bits, total)

    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac_streaminfo(b"fLaX" + bytes(40))
    with pytest.raises(ValueError, match="truncated"):
        decode_flac_streaminfo(b"fLaC" + bytes([0x80, 0, 0, 34]) + bytes(10))
    with pytest.raises(ValueError, match="first block"):
        # a padding block (type 1) where STREAMINFO must be
        decode_flac_streaminfo(b"fLaC" + bytes([0x01, 0, 0, 34]) + bytes(34))


def test_mp3_header_roundtrip_tag_skip_and_corruption():
    from stock_data_pipeline_spark.operators.multimodal import (
        decode_mp3_header,
        encode_mp3,
    )

    for br in (32, 128, 320):
        for sr in (44100, 48000, 32000):
            for ch in (1, 2):
                assert decode_mp3_header(encode_mp3(br, sr, ch)) == (br, sr, ch)
    # a tag-less raw frame must also parse (sync-first file)
    raw = encode_mp3(192, 44100, 2)
    tagless = raw[raw.index(b"\xff\xfb"):]
    assert decode_mp3_header(tagless) == (192, 44100, 2)
    # and a big synchsafe tag size must be skipped correctly (>7 bits)
    big = encode_mp3(64, 32000, 1, id3_pad=300)
    assert decode_mp3_header(big) == (64, 32000, 1)

    with pytest.raises(ValueError, match="missing sync"):
        decode_mp3_header(bytes([0xFE, 0xFB, 0x92, 0x00]))
    with pytest.raises(ValueError, match="reserved"):
        decode_mp3_header(bytes([0xFF, 0xFB, 0xF0, 0x00]))  # bitrate idx 15
    with pytest.raises(ValueError, match="MPEG1 Layer III"):
        decode_mp3_header(bytes([0xFF, 0xF9, 0x92, 0x00]))  # MPEG2
    with pytest.raises(ValueError, match="no frame header"):
        decode_mp3_header(b"ID3\x04\x00\x00\x00\x00\x00\x10")  # tag only


def test_payload_format_dispatches_audio_containers(spark):
    from stock_data_pipeline_spark.operators.multimodal import (
        encode_flac_header,
        encode_mp3,
        encode_wav,
        payload_format,
    )

    rows = (
        spark.createDataFrame(
            [
                (1, encode_flac_header(8000, 1, 8, 10)),
                (2, encode_mp3(128, 44100, 2)),             # ID3-prefixed
                (3, bytes([0xFF, 0xFB, 0x92, 0x00])),       # raw sync
                (4, encode_wav(1, 8000, 8, 10)),
                (5, b"\x00garbage"),
            ],
            "id int, payload binary",
        )
        .select("id", payload_format("payload").alias("fmt"))
        .collect()
    )
    assert {(r.id, r.fmt) for r in rows} == {
        (1, "flac"), (2, "mp3"), (3, "mp3"), (4, "wav"), (5, "unknown")
    }


def test_fixture_corpus_is_ascii_for_frame_oracle(spark, sf_check_dir):
    """c05_frame_sample's oracle relies on char-substring == byte-slice,
    which holds iff the fixture text is pure ASCII. Pin the assumption:
    if the driver ever regenerates documents with multibyte text, THIS
    fails (with a clear pointer) instead of a confusing digest
    mismatch."""
    from stock_data_pipeline_spark.catalog import load

    n_multibyte = (
        load(spark, sf_check_dir, "documents")
        .filter(F.octet_length(F.encode("text", "UTF-8")) != F.length("text"))
        .count()
    )
    assert n_multibyte == 0, (
        "documents fixture now contains non-ASCII text; drop "
        "c05_frame_sample's oracle (byte-slice != char-substring there)"
    )
