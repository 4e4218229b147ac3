"""Multimodal plumbing tests (SURVEY.md §7 M5): schema, batch shape,
determinism, explode semantics, ANN hand-off. The decode codecs are
stubbed (deterministic fake) — these tests pin the Spark-side
contract that a real codec drop-in must keep.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gmall_realtime2021_spark.multimodal import (
    MEDIA_SCHEMA,
    decode_media,
    extract_features,
    frame_sample,
    resize_images,
    synthesize_media,
)
from gmall_realtime2021_spark.operators.similarity import cosine_topk
from gmall_realtime2021_spark.tables import load

SF = "/root/testdata/sf0.001"


def _media(spark):
    return synthesize_media(load(spark, SF, "documents"))


def test_media_schema_and_kinds(spark):
    media = _media(spark)
    # simpleString ignores nullability (literal-derived fields are non-null)
    assert media.schema.simpleString() == MEDIA_SCHEMA.simpleString()
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}


def test_metadata_filter_never_reads_payload(spark):
    plan = (
        _media(spark)
        .filter(F.col("meta.width") > 100)
        .select("media_id", "kind", "meta.width")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "payload" not in plan  # column pruning: binary column absent from the scan


def test_decode_deterministic_and_complete(spark):
    media = _media(spark)
    out = decode_media(media)
    assert out.count() == media.count()
    row = out.filter(F.col("media_id") == out.agg(F.min("media_id")).collect()[0][0]).collect()[0]
    again = decode_media(media).filter(F.col("media_id") == row.media_id).collect()[0]
    assert (row.byte_ct, row.mean_byte, row.decoder) == (again.byte_ct, again.mean_byte, again.decoder)
    assert row.decoder == "fake"  # synthesized payloads are text, not image bytes
    assert row.byte_ct > 0 and row.width is None and row.height is None


def test_decode_and_frames_null_payload(spark):
    """NULL payloads (NULL-text docs synthesize them) must produce
    byte_ct=0 fake rows — matching the multimodal_decode /
    multimodal_frames oracles — never a crash."""
    rows = [
        (1, "image", None, {"width": 10, "height": 10, "sample_rate": None, "duration_ms": None}),
        (2, "video", None, {"width": None, "height": None, "sample_rate": None, "duration_ms": 3000}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    dec = {r.media_id: r for r in decode_media(media).collect()}
    assert len(dec) == 2
    for r in dec.values():
        assert r.byte_ct == 0 and r.mean_byte == 0.0 and r.decoder == "fake"
    frames = frame_sample(media).collect()
    assert {f.media_id for f in frames} == {2}
    assert all(f.frame_payload == b"" for f in frames)


def _encode_png(width: int, height: int, channels: int, pixels: bytes, filters: list[int]) -> bytes:
    """Minimal in-test PNG encoder (the FILTER direction) so decoding
    through the library is a true roundtrip, not the decoder checking
    itself. One filter byte per scanline from ``filters``."""
    import struct
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload))
        )

    stride = width * channels
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = pixels[y * stride : (y + 1) * stride]
        f = filters[y % len(filters)]
        enc = bytearray(line)
        if f == 1:  # Sub: subtract left
            for i in range(stride - 1, channels - 1, -1):
                enc[i] = (enc[i] - line[i - channels]) & 0xFF
        elif f == 2:  # Up: subtract above
            for i in range(stride):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                enc[i] = (enc[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(enc)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_real_png_decode_through_mapinpandas(spark):
    """A REAL PNG — all five scanline filter types — streamed through
    the same mapInPandas decode path: true dimensions and mean pixel
    value come out, decoder='real'. This closes the 'plumbing-real,
    kernel-stubbed' gap: the real path executes in this container via
    the stdlib baseline-PNG decoder (no codec library needed)."""
    w, h, ch = 5, 5, 3
    pixels = bytes(((x * 7 + y * 31 + c * 13) % 256) for y in range(h) for x in range(w) for c in range(ch))
    png = _encode_png(w, h, ch, pixels, filters=[0, 1, 2, 3, 4])
    gray = bytes((x * 11 + y * 3) % 256 for y in range(4) for x in range(4))
    png_gray = _encode_png(4, 4, 1, gray, filters=[4, 3, 2, 1])
    rows = [
        (1, "image", bytearray(png), None),
        (2, "image", bytearray(png_gray), None),
        (3, "image", bytearray(b"not a png at all"), None),  # falls back to fake
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_media(media).collect()}
    assert (got[1].decoder, got[1].width, got[1].height) == ("real", w, h)
    assert abs(got[1].mean_byte - sum(pixels) / len(pixels)) < 1e-9
    assert (got[2].decoder, got[2].width, got[2].height) == ("real", 4, 4)
    assert abs(got[2].mean_byte - sum(gray) / len(gray)) < 1e-9
    assert got[3].decoder == "fake" and got[3].width is None


def test_png_wavefront_unfilter_roundtrip_property():
    """Hypothesis pin for the r09 anti-diagonal wavefront unfilter:
    encode random pixels with random per-row filters (the in-test
    encoder is the FILTER direction, so this is a true roundtrip) and
    decode_png must return the exact pixels. Dimensions are chosen to
    ENGAGE the wavefront (width >= 32 and runs of >= 4 Average/Paeth
    rows — the existing 5x5 fixtures never reach it) and the filter
    strategy is biased toward 3/4 so long runs with mixed
    Average/Paeth actually occur; short runs and other filters fall
    through to the scalar/vector row paths in the same image, pinning
    the block-boundary prev-row chaining too."""
    from hypothesis import given, settings, strategies as st

    from gmall_realtime2021_spark.multimodal.png import decode_png

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(32, 61),   # width (>= _WAVE_MIN_WIDTH)
        st.integers(5, 24),    # height
        st.sampled_from([1, 2, 3, 4]),
        st.randoms(use_true_random=False),
    )
    def roundtrip(w, h, ch, rng):
        pixels = bytes(rng.randrange(256) for _ in range(w * h * ch))
        filters = [rng.choice((0, 1, 2, 3, 3, 4, 4, 4)) for _ in range(h)]
        got = decode_png(_encode_png(w, h, ch, pixels, filters))
        assert got == (w, h, ch, pixels), (w, h, ch, filters)

    roundtrip()


def test_png_wavefront_chunk_boundary_roundtrip():
    """A 300-row all-Paeth RGB image crosses the 128-row wavefront
    chunk boundary twice — the prev row must chain exactly across
    chunks (a off-by-one there corrupts every row after 128 silently
    on tall images only)."""
    from gmall_realtime2021_spark.multimodal.png import decode_png

    w, h, ch = 40, 300, 3
    pixels = bytes(((x * 7 + y * 131 + c * 29) ^ (y * x % 251)) % 256 for y in range(h) for x in range(w) for c in range(ch))
    png = _encode_png(w, h, ch, pixels, filters=[4])
    assert decode_png(png) == (w, h, ch, pixels)
    # and a mixed tall image: alternating runs straddling the boundary
    filters = ([4] * 100 + [3] * 60 + [2] + [4] * 100 + [0] + [3] * 38)[:h]
    png2 = _encode_png(w, h, ch, pixels, filters=filters)
    assert decode_png(png2) == (w, h, ch, pixels)


def test_resize_contract(spark):
    out = resize_images(_media(spark), width=8, height=4).collect()
    assert out and all(len(r.payload) == 32 for r in out)


def test_frame_sample_explode_counts(spark):
    media = _media(spark)
    frames = frame_sample(media, every_ms=1000)
    per_media = {r.media_id: r.ct for r in frames.groupBy("media_id").agg(F.count("*").alias("ct")).collect()}
    expected = {
        r.media_id: max(1, r.meta.duration_ms // 1000)
        for r in media.filter(F.col("kind") == "video").collect()
    }
    assert per_media == expected


def test_features_feed_ann(spark):
    media = _media(spark).limit(50)
    feats = extract_features(media, dim=16).withColumnRenamed("media_id", "vec_id")
    queries = feats.limit(3)
    topk = cosine_topk(queries, feats, k=2, vec_col="embedding")
    got = topk.collect()
    assert len(got) == 6  # 3 queries × k=2
    # self-similarity must rank first with cosine ≈ 1
    best = {r.asDict()["query_id"]: r for r in got if r.asDict()["rank"] == 1}
    for qid, r in best.items():
        d = r.asDict()
        assert d["neighbor_id"] == qid and abs(d["cos"] - 1.0) < 1e-5


def test_png_zlib_bomb_rejected_without_allocation():
    """Adversarial IDAT: a few-KB zlib stream inflating to ~64 MB must
    be rejected by the geometry-bounded decompressor (decode_png caps
    the inflate at the IHDR-derived scanline size), and an IHDR
    claiming absurd geometry must fail before any inflate at all."""
    import struct
    import zlib

    import pytest

    from gmall_realtime2021_spark.multimodal.png import decode_png

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload))
        )

    magic = b"\x89PNG\r\n\x1a\n"
    # claims 4x4 gray (expected = 4*(4+1) = 20 bytes) but IDAT inflates to 64 MB
    ihdr_small = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = magic + chunk(b"IHDR", ihdr_small) + chunk(
        b"IDAT", zlib.compress(bytes(1 << 26))
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bad scanline payload"):
        decode_png(bomb)

    # IHDR claiming 50000x50000 RGBA (~10 GB) must fail on the budget
    ihdr_huge = struct.pack(">IIBBBBB", 50_000, 50_000, 8, 6, 0, 0, 0)
    huge = magic + chunk(b"IHDR", ihdr_huge) + chunk(
        b"IDAT", zlib.compress(b"\x00")
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="decode budget"):
        decode_png(huge)

    # trailing garbage AFTER a well-formed zlib stream inside IDAT
    # must be rejected (strict-stream semantics: unused_data != b"")
    good_raw = bytes(4 * (4 + 1))  # 4x4 gray, filter 0 scanlines
    trailing = magic + chunk(b"IHDR", ihdr_small) + chunk(
        b"IDAT", zlib.compress(good_raw) + b"\xde\xad\xbe\xef"
    ) + chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bad scanline payload"):
        decode_png(trailing)


def _encode_wav(sample_rate: int, channels: int, sampwidth: int, samples: list[int]) -> bytes:
    """Minimal in-test WAV encoder (stdlib wave, the WRITE direction)
    so decoding through the library is a true roundtrip."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        if sampwidth == 1:
            w.writeframes(bytes(s & 0xFF for s in samples))
        else:
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_real_wav_decode_through_mapinpandas(spark):
    """A REAL PCM WAV streamed through the same mapInPandas decode
    path: true sample rate, duration and full-scale-normalized mean
    amplitude, decoder='real' — from the stdlib wave reader (no codec
    library needed). Corrupt bytes fall back to the fake path."""
    # 16-bit mono, 8000 Hz, 4000 frames = 500 ms, constant |amp| 16384
    pcm16 = _encode_wav(8000, 1, 2, [16384, -16384] * 2000)
    # 8-bit stereo, 16000 Hz, 800 frames = 50 ms, constant |amp-128| 64
    pcm8 = _encode_wav(16000, 2, 1, [192, 64] * 800)
    rows = [
        (1, "audio", bytearray(pcm16), None),
        (2, "audio", bytearray(pcm8), None),
        (3, "audio", bytearray(b"RIFFgarbage that is not a wav"), None),
        (4, "video", bytearray(pcm16), None),  # no real decoder for video
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_media(media).collect()}

    r1 = got[1]
    assert (r1.decoder, r1.sample_rate, r1.duration_ms) == ("real", 8000, 500)
    assert abs(r1.mean_byte - 0.5) < 1e-9  # 16384/32768
    assert r1.width is None and r1.height is None

    r2 = got[2]
    assert (r2.decoder, r2.sample_rate, r2.duration_ms) == ("real", 16000, 50)
    assert abs(r2.mean_byte - 0.5) < 1e-9  # |192-128| = |64-128| = 64 → 64/128

    assert got[3].decoder == "fake" and got[3].sample_rate is None
    assert got[4].decoder == "fake" and got[4].duration_ms is None


# ---------------------------------------------------------------- phash


def _hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_real_gradient_extremes():
    """Analytic pins of the real-pixel dHash: a strictly increasing
    left-to-right grayscale gradient sets every comparison bit (all
    64 bits = signed -1); the reversed gradient clears them all."""
    from gmall_realtime2021_spark.multimodal.phash import py_dhash_real

    w, h = 36, 16  # 4 px per col block, 2 rows per row block
    inc = bytes(x * 5 for _ in range(h) for x in range(w))
    dec = bytes((w - 1 - x) * 5 for _ in range(h) for x in range(w))
    assert py_dhash_real(w, h, 1, inc) == -1
    assert py_dhash_real(w, h, 1, dec) == 0


def test_dhash_real_brightness_invariance():
    """dHash only compares ADJACENT cell means, so a uniform
    brightness shift must not move the hash — the property that makes
    it a perceptual hash rather than a checksum."""
    from gmall_realtime2021_spark.multimodal.phash import py_dhash_real

    w, h, ch = 27, 16, 3
    base = bytes((i * 2654435761) % 199 for i in range(w * h * ch))
    brighter = bytes(min(255, b + 40) for b in base)  # 199+40 < 256: no clipping
    assert py_dhash_real(w, h, ch, base) == py_dhash_real(w, h, ch, brighter)


def test_image_phash_real_transformed_copy_recall(spark):
    """The quality pin the r06 verdict asked for: a REAL PNG and a
    slightly perturbed re-render of it must pair within the Hamming
    budget through the registered pairing machinery, while an
    unrelated image stays far away — on the real decode path
    (decoder='real'), not the fake fallback."""
    from gmall_realtime2021_spark.multimodal.phash import image_dhash
    from gmall_realtime2021_spark.operators.dedup import hamming_band_pairs
    from gmall_realtime2021_spark.plans.media_dedup import MEDIA_MAX_HAMMING

    w, h, ch = 27, 16, 3
    base = bytearray((i * 2654435761) % 256 for i in range(w * h * ch))
    pert = bytearray(base)
    for k in range(5):  # five single-byte nudges
        pert[(k * 257) % len(pert)] ^= 4
    other = bytearray((i * 40503 + 77) % 256 for i in range(w * h * ch))
    rows = [
        (1, "image", bytearray(_encode_png(w, h, ch, bytes(base), [0, 1, 2, 3, 4])), None),
        (2, "image", bytearray(_encode_png(w, h, ch, bytes(pert), [4, 3, 2, 1, 0])), None),
        (3, "image", bytearray(_encode_png(w, h, ch, bytes(other), [0])), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fp = image_dhash(media)
    got = {r.media_id: r for r in fp.collect()}
    assert {r.decoder for r in got.values()} == {"real"}
    assert _hamming64(got[1].dhash, got[2].dhash) <= MEDIA_MAX_HAMMING
    assert _hamming64(got[1].dhash, got[3].dhash) > MEDIA_MAX_HAMMING
    pairs = {
        (r.a, r.b)
        for r in hamming_band_pairs(
            fp, max_hamming=MEDIA_MAX_HAMMING, id_col="media_id", fp_col="dhash", bits=64
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_dhash_fake_matches_duckdb_twin():
    """The fake-path kernel and the generated SQL packing must agree
    code-point-for-code-point — including non-ASCII text, where
    Python ord() and DuckDB ascii() must both mean 'Unicode code
    point'. Empty text hashes to nothing on both sides."""
    import duckdb

    from gmall_realtime2021_spark.multimodal.phash import py_dhash_fake
    from gmall_realtime2021_spark.plans.images import _CELLS, _dhash_pack_sql

    sql = f"""
    WITH img AS (SELECT regexp_extract_all(?, '(?s).') AS cs),
    grid AS (
        SELECT list_transform(generate_series(0, {_CELLS - 1}),
                              i -> ascii(cs[(i * len(cs)) // {_CELLS} + 1])) AS g
        FROM img WHERE len(cs) > 0
    )
    SELECT {_dhash_pack_sql()} AS h FROM grid
    """
    con = duckdb.connect()
    cases = [
        "the quick brown fox jumps over the lazy dog " * 4,
        "短文本的測試字符串 mixed with latin 123 and punctuation!?",
        "x" * 71,  # shorter than the grid: indices repeat
        "a",
        "ab" * 200,
        "éèê accented résumé naïve " * 9,
    ]
    for s in cases:
        rows = con.execute(sql, [s]).fetchall()
        assert rows and rows[0][0] == py_dhash_fake(s), s
    assert con.execute(sql, [""]).fetchall() == [] and py_dhash_fake("") is None
    con.close()


# ------------------------------------------------------------ audio afp


def test_afp_real_ramp_extremes():
    """Analytic pins of the real-audio envelope hash: a rising
    |amplitude| ramp sets every adjacent-window comparison bit (all
    64 -> signed -1); the falling ramp clears them all."""
    from gmall_realtime2021_spark.multimodal.afp import py_afp_real

    rising = _encode_wav(8000, 1, 2, [i * 8 for i in range(3900)])
    falling = _encode_wav(8000, 1, 2, [(3899 - i) * 8 for i in range(3900)])
    assert py_afp_real(rising) == -1
    assert py_afp_real(falling) == 0


def test_afp_real_gain_invariance():
    """Doubling every sample must not move the fingerprint on a
    signal whose window energies are well separated — only the ORDER
    of adjacent window means matters (the property that makes this a
    perceptual fingerprint)."""
    from gmall_realtime2021_spark.multimodal.afp import py_afp_real

    base = [((i * 389) % 97 - 48) * 64 for i in range(2600)]
    assert py_afp_real(_encode_wav(8000, 1, 2, base)) == py_afp_real(
        _encode_wav(8000, 1, 2, [v * 2 for v in base])
    )


def test_audio_afp_real_transformed_copy_recall(spark):
    """A REAL PCM WAV and a slightly perturbed copy pair within the
    Hamming budget through the registered band machinery, while an
    unrelated clip stays far — on the real decode path."""
    from gmall_realtime2021_spark.multimodal.afp import audio_afp
    from gmall_realtime2021_spark.operators.dedup import hamming_band_pairs
    from gmall_realtime2021_spark.plans.media_dedup import MEDIA_MAX_HAMMING

    base = [((i * 389) % 97 - 48) * 64 for i in range(2600)]
    pert = list(base)
    for k in range(6):
        pert[(k * 431) % len(pert)] += 24
    other = [((i * 97) % 389 - 194) * 32 for i in range(2600)]
    rows = [
        (1, "audio", bytearray(_encode_wav(8000, 1, 2, base)), None),
        (2, "audio", bytearray(_encode_wav(8000, 1, 2, pert)), None),
        (3, "audio", bytearray(_encode_wav(8000, 1, 2, other)), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    fp = audio_afp(media)
    got = {r.media_id: r for r in fp.collect()}
    assert {r.decoder for r in got.values()} == {"real"}
    assert _hamming64(got[1].afp, got[2].afp) <= MEDIA_MAX_HAMMING
    assert _hamming64(got[1].afp, got[3].afp) > MEDIA_MAX_HAMMING
    pairs = {
        (r.a, r.b)
        for r in hamming_band_pairs(
            fp, max_hamming=MEDIA_MAX_HAMMING, id_col="media_id", fp_col="afp", bits=64
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_afp_fake_matches_duckdb_twin():
    """Fake-path kernel vs the generated SQL window/pack expressions —
    code-point-for-code-point, including non-ASCII; empty text hashes
    to nothing on both sides."""
    import duckdb

    from gmall_realtime2021_spark.multimodal.afp import py_afp_fake
    from gmall_realtime2021_spark.plans.audio import _afp_fp_cte

    cte = _afp_fp_cte(
        "SELECT 1 AS media_id, list_transform(regexp_extract_all(?, '(?s).'), c -> ascii(c)) AS env"
    )
    sql = f"WITH {cte} SELECT afp FROM fp"
    con = duckdb.connect()
    cases = [
        "the quick brown fox jumps over the lazy dog " * 4,
        "短文本的測試字符串 mixed with latin 123 and punctuation!?",
        "x" * 64,  # shorter than the window count: windows re-sample
        "a",
        "ab" * 200,
        "éèê accented résumé naïve " * 9,
    ]
    for s in cases:
        rows = con.execute(sql, [s]).fetchall()
        assert rows and rows[0][0] == py_afp_fake(s), s
    assert con.execute(sql, [""]).fetchall() == [] and py_afp_fake("") is None
    con.close()


# ------------------------------------------------------------ video fp


@pytest.mark.slow
def test_video_fingerprint_majority_fold_recall(spark):
    """The r07-verdict video family, pinned on constructed MULTI-FRAME
    payloads: a copy with one fully-corrupted frame fingerprints
    IDENTICALLY (majority fold absorbs single-frame damage), a copy
    with small per-frame noise stays within the Hamming budget and
    pairs through the registered band-join machinery, and an
    unrelated video stays out."""
    from gmall_realtime2021_spark.multimodal.video import video_fingerprints
    from gmall_realtime2021_spark.operators.dedup import hamming_band_pairs
    from gmall_realtime2021_spark.plans.media_dedup import MEDIA_MAX_HAMMING

    chunk = bytes((i * 31 + (i >> 3) * 7) % 256 for i in range(256))
    base = bytearray(chunk * 8)  # 8 frames, all slicing the same 64-byte view
    one_bad = bytearray(base)
    for i in range(3 * 256, 3 * 256 + 64):  # frame 3 fully corrupted
        one_bad[i] ^= 0xFF
    noisy = bytearray(base)
    for i in range(0, len(noisy), 17):  # small per-frame noise everywhere
        noisy[i] = (noisy[i] + 3) % 256
    other = bytearray(((i * 97 + 13) % 251 for i in range(2048)))
    meta = {"width": None, "height": None, "sample_rate": None, "duration_ms": 8000}
    media = spark.createDataFrame(
        [
            (1, "video", base, meta),
            (2, "video", one_bad, meta),
            (3, "video", noisy, meta),
            (4, "video", other, meta),
        ],
        MEDIA_SCHEMA,
    )
    fp = video_fingerprints(media)
    got = {r.media_id: r for r in fp.collect()}
    assert all(r.n_frames == 8 for r in got.values())
    assert got[2].vhash == got[1].vhash  # single-frame corruption absorbed
    assert _hamming64(got[3].vhash, got[1].vhash) <= MEDIA_MAX_HAMMING
    assert _hamming64(got[4].vhash, got[1].vhash) > MEDIA_MAX_HAMMING

    pairs = hamming_band_pairs(
        fp.select("media_id", "vhash"),
        max_hamming=MEDIA_MAX_HAMMING,
        id_col="media_id",
        fp_col="vhash",
        bits=64,
    )
    got_pairs = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (1, 3) in got_pairs
    assert not any(4 in p for p in got_pairs)


# ----------------------------------------------------------- JPEG (r10)


def _jpeg_smooth(w, h, ch):
    return bytes(
        (x * 2 + y * 3 + c * 40 + ((x * y) >> 4)) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


@pytest.mark.parametrize(
    "w,h,ch,sub,rst",
    [
        (16, 16, 1, "444", 0),     # grayscale
        (17, 13, 1, "444", 0),     # odd dims (partial edge blocks)
        (24, 16, 3, "444", 0),     # RGB no subsampling
        (32, 24, 3, "420", 0),     # 4:2:0 (the dominant web profile)
        (20, 12, 3, "422", 0),     # 4:2:2, odd MCU coverage
        (48, 32, 3, "420", 2),     # restart markers every 2 MCUs
    ],
)
def test_jpeg_decode_matches_encoder_expectation(w, h, ch, sub, rst):
    """JPEG is lossy, but the loss is fully determined at quantization:
    the in-test encoder (tools/jpeg_ref.py) computes the exact pixels a
    correct decoder must emit from its own quantized coefficients with
    a spec-literal scalar pipeline (direct 2-D IDCT, T.81 A.3.3) on
    every baseline profile: gray/RGB, 4:4:4/4:2:2/4:2:0, odd dims,
    restart intervals.

    Tolerance contract (ADVICE r10): the shipped decoder pins its IDCT
    association — (Aᵀ·C)·A chained BLAS-free einsum — but the scalar reference
    associates differently, so a coefficient landing within fp-noise
    of the floor(x+0.5) boundary may legitimately flip a pixel by ONE
    LSB. The pin is therefore |Δ| ≤ 1 on ≤0.5% of pixels and
    byte-equality everywhere else — anything beyond that is a real
    decoder defect, while exact-equality-always would be asserting a
    property the two pipelines don't actually share."""
    from tools.jpeg_ref import encode_jpeg

    from gmall_realtime2021_spark.multimodal.jpeg import decode_jpeg

    for pixels in (_jpeg_smooth(w, h, ch), bytes((i * 89 + 7) % 256 for i in range(w * h * ch))):
        data, expected = encode_jpeg(w, h, ch, pixels, subsampling=sub, restart_interval=rst)
        got = decode_jpeg(data)
        assert got[:3] == (w, h, ch)
        diffs = [abs(a - b) for a, b in zip(got[3], expected) if a != b]
        assert max(diffs, default=0) <= 1, "pixel divergence beyond one LSB"
        assert len(diffs) <= max(1, len(expected) // 200), (
            f"{len(diffs)}/{len(expected)} pixels off by one LSB — beyond fp boundary noise"
        )


def test_jpeg_rejects_unsupported_and_corrupt():
    """Non-baseline or corrupt streams raise ValueError (the decode
    path's fall-back-to-fake contract), never a different exception."""
    from tools.jpeg_ref import encode_jpeg

    from gmall_realtime2021_spark.multimodal.jpeg import decode_jpeg

    data, _ = encode_jpeg(16, 16, 3, _jpeg_smooth(16, 16, 3), subsampling="420")
    for bad in (
        b"",
        b"\xff\xd8",                      # bare SOI
        b"\xff\xd8\xff\xc2\x00\x04ab",     # progressive SOF2
        data[:40],                          # truncated in the tables
        data[:-20],                         # truncated scan
        b"not a jpeg",
    ):
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_real_jpeg_decode_through_mapinpandas(spark):
    """A REAL baseline JPEG streamed through the same mapInPandas
    decode path as PNG/WAV: true dimensions and the mean pixel value
    of the encoder-predicted reconstruction come out, decoder='real'.
    This extends the real-media path to the dominant web-corpus image
    format (VERDICT r09 item #7)."""
    from tools.jpeg_ref import encode_jpeg

    w, h, ch = 24, 16, 3
    pixels = _jpeg_smooth(w, h, ch)
    jpg, expected = encode_jpeg(w, h, ch, pixels, subsampling="420")
    gray_jpg, gray_expected = encode_jpeg(9, 7, 1, _jpeg_smooth(9, 7, 1), subsampling="444")
    rows = [
        (1, "image", bytearray(jpg), None),
        (2, "image", bytearray(gray_jpg), None),
        (3, "image", bytearray(b"\xff\xd8 but junk after the magic"), None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_media(media).collect()}
    assert (got[1].decoder, got[1].width, got[1].height) == ("real", w, h)
    assert abs(got[1].mean_byte - sum(expected) / len(expected)) < 1e-9
    assert (got[2].decoder, got[2].width, got[2].height) == ("real", 9, 7)
    assert abs(got[2].mean_byte - sum(gray_expected) / len(gray_expected)) < 1e-9
    assert got[3].decoder == "fake" and got[3].width is None


def test_image_phash_real_jpeg_near_copy_recall():
    """Fingerprint usefulness on real JPEGs: the SAME image encoded at
    4:4:4 and 4:2:0 (different reconstruction bytes) must land at a
    small dHash Hamming distance, while an unrelated image stays far —
    the property the near-dup band join depends on."""
    from tools.jpeg_ref import encode_jpeg

    from gmall_realtime2021_spark.multimodal.jpeg import decode_jpeg
    from gmall_realtime2021_spark.multimodal.phash import py_dhash_real

    w, h = 64, 48
    base = _jpeg_smooth(w, h, 3)
    other = bytes((i * 151 + 13) % 256 for i in range(w * h * 3))
    h444 = py_dhash_real(*decode_jpeg(encode_jpeg(w, h, 3, base, "444")[0]))
    h420 = py_dhash_real(*decode_jpeg(encode_jpeg(w, h, 3, base, "420")[0]))
    hoth = py_dhash_real(*decode_jpeg(encode_jpeg(w, h, 3, other, "444")[0]))
    near = bin((h444 ^ h420) & ((1 << 64) - 1)).count("1")
    far = bin((h444 ^ hoth) & ((1 << 64) - 1)).count("1")
    assert near <= 6, f"subsampling variant drifted {near} bits"
    assert far >= 16, f"unrelated image only {far} bits away"


def test_avi_demux_roundtrip():
    """Container round-trip against the independent in-test muxer
    (tools/avi_ref.py shares no code with multimodal/avi.py): frame
    bytes come back IDENTICAL — including odd-sized frames (word-pad
    handling) — with the header geometry/timing; the 'rec '
    interleave layout and the idx1 index (which the sequential demux
    must skip) are exercised too."""
    from tools.avi_ref import mux_avi

    from gmall_realtime2021_spark.multimodal.avi import parse_avi

    frames = [bytes((i * 13 + j) % 256 for i in range(101 + j)) for j in range(5)]  # odd sizes
    for rec in (False, True):
        avi = mux_avi(32, 24, 4, frames, use_rec_lists=rec)
        vid = parse_avi(avi)
        assert (vid.width, vid.height, vid.usec_per_frame) == (32, 24, 250_000)
        assert vid.frames == frames
        assert vid.duration_ms == 5 * 250


def test_avi_demux_rejects_malformed():
    import pytest

    from tools.avi_ref import mux_avi

    from gmall_realtime2021_spark.multimodal.avi import parse_avi

    good = mux_avi(8, 8, 2, [b"xx", b"yy"])
    for bad in (
        b"",
        b"RIFF\x00\x00\x00\x00WAVE",              # not an AVI form
        good[:30],                                  # truncated in hdrl
        good[:-6],                                  # truncated final chunk
        good.replace(b"MJPG", b"H264"),             # non-MJPEG stream
        mux_avi(8, 8, 2, []),                       # zero frames
    ):
        with pytest.raises(ValueError):
            parse_avi(bad)


def test_avi_deeply_nested_rec_lists_parse_iteratively():
    """ADVICE r11: a crafted payload with >recursion-limit nested
    'rec ' LISTs must PARSE (it is a valid container), not blow the
    interpreter stack — a RecursionError would escape media.py's
    ValueError/struct.error containment and fail the whole Spark
    task. Also pins frame ORDER: a frame inside the nested rec lists
    precedes a later top-level frame (frames[0] feeds the real JPEG
    decode, so order is observable)."""
    import struct
    import sys

    from tools.avi_ref import _chunk, _list, mux_avi

    from gmall_realtime2021_spark.multimodal.avi import _chunks, parse_avi

    frames = [b"first-frame", b"second-frame"]
    base = mux_avi(8, 8, 2, frames)
    hdrl_bytes = None
    for fourcc, lo, hi in _chunks(base, 12, len(base)):
        if fourcc == b"LIST" and base[lo : lo + 4] == b"hdrl":
            hdrl_bytes = base[lo - 8 : hi + ((hi - lo) & 1)]
    assert hdrl_bytes is not None
    depth = sys.getrecursionlimit() + 200
    inner = _chunk(b"00dc", frames[0])
    for _ in range(depth):
        inner = _list(b"rec ", inner)
    movi = _list(b"movi", inner + _chunk(b"00dc", frames[1]))
    payload = b"AVI " + hdrl_bytes + movi
    avi = b"RIFF" + struct.pack("<I", len(payload)) + payload
    vid = parse_avi(avi)  # pre-fix: RecursionError
    assert vid.frames == frames  # nested frame FIRST — order preserved


def test_avi_rejects_negative_width():
    """ADVICE r11: a negative biWidth (invalid BITMAPINFOHEADER —
    only biHeight may be negative, meaning top-down rows) must be
    rejected as degenerate geometry, not served as a usable
    container."""
    import struct

    from tools.avi_ref import mux_avi

    from gmall_realtime2021_spark.multimodal.avi import parse_avi

    good = mux_avi(8, 8, 2, [b"xx", b"yy"])
    i = good.index(b"strf")
    neg = good[: i + 8 + 4] + struct.pack("<i", -8) + good[i + 8 + 8 :]
    with pytest.raises(ValueError):
        parse_avi(neg)


def test_frame_sample_real_avi_through_mapinpandas(spark):
    """The real video path (VERDICT r10 item #5): an MJPEG AVI payload
    demuxes through frame_sample — sampled instants map to the stream
    frames covering them, frame_payload is the COMPLETE per-frame JPEG
    (decodable by decode_jpeg), and a non-RIFF payload in the same
    batch keeps the bit-identical fake slicing."""
    from tools.avi_ref import mux_avi
    from tools.jpeg_ref import encode_jpeg

    from gmall_realtime2021_spark.multimodal.jpeg import decode_jpeg
    from gmall_realtime2021_spark.multimodal.media import MEDIA_SCHEMA, frame_sample

    w, h = 16, 16
    jpegs, decodes = [], []
    for j in range(6):
        px = bytes(((x + y * 3 + j * 40) % 256) for y in range(h) for x in range(w) for _ in range(3))
        data, expected = encode_jpeg(w, h, 3, px, subsampling="444")
        jpegs.append(data)
        decodes.append(expected)
    avi = mux_avi(w, h, 2, jpegs)  # 2 fps × 6 frames = 3000 ms
    fake_payload = b"plain text payload, sliced by the fake path"
    meta = {"width": None, "height": None, "sample_rate": None, "duration_ms": 2000, "codec": None}
    media = spark.createDataFrame(
        [(1, "video", bytearray(avi), meta), (2, "video", bytearray(fake_payload), meta)],
        MEDIA_SCHEMA,
    )
    rows = frame_sample(media, every_ms=1000, frame_bytes=16).collect()
    real = sorted((r for r in rows if r.media_id == 1), key=lambda r: r.frame_idx)
    # 3000 ms / 1000 ms → 3 sampled instants; frame at t: t*1000 // 500000us
    assert [r.frame_ms for r in real] == [0, 1000, 2000]
    assert [bytes(r.frame_payload) for r in real] == [jpegs[0], jpegs[2], jpegs[4]]
    # every sampled payload is a complete, really-decodable JPEG
    for r, want in zip(real, (decodes[0], decodes[2], decodes[4])):
        got = decode_jpeg(bytes(r.frame_payload))
        assert got[:3] == (w, h, 3) and got[3] == want
    # the fake row is untouched by the dispatch: 2 slices of 16 bytes
    fake = sorted((r for r in rows if r.media_id == 2), key=lambda r: r.frame_idx)
    n = len(fake_payload)
    assert [bytes(r.frame_payload) for r in fake] == [
        fake_payload[0:16],
        fake_payload[n // 2 : n // 2 + 16],
    ]


def test_decode_media_real_video(spark):
    """decode_media on a real MJPEG AVI: decoder='real', geometry and
    duration from the container, mean_byte = mean pixel of the first
    decoded frame; a truncated AVI and the synthesized text payloads
    stay on the fake path."""
    from tools.avi_ref import mux_avi
    from tools.jpeg_ref import encode_jpeg

    from gmall_realtime2021_spark.multimodal.media import MEDIA_SCHEMA, decode_media

    w, h = 24, 16
    px = _jpeg_smooth(w, h, 3)
    jpg, expected = encode_jpeg(w, h, 3, px, subsampling="420")
    avi = mux_avi(w, h, 5, [jpg] * 10)  # 10 frames @5fps = 2000 ms
    meta = {"width": None, "height": None, "sample_rate": None, "duration_ms": 1, "codec": None}
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(avi), meta),
            (2, "video", bytearray(avi[: len(avi) // 2]), meta),
            (3, "video", bytearray(b"not media at all"), meta),
        ],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in decode_media(media).collect()}
    assert (got[1].decoder, got[1].width, got[1].height, got[1].duration_ms) == ("real", w, h, 2000)
    assert abs(got[1].mean_byte - sum(expected) / len(expected)) < 1e-9
    assert got[2].decoder == "fake" and got[2].width is None
    assert got[3].decoder == "fake"


def test_video_fingerprint_real_avi_near_copy_recall(spark):
    """Fingerprint usefulness on REAL videos: the same frame content
    muxed from two different encodings (4:4:4 vs 4:2:0 — entirely
    different compressed bytes) must land within the pairing family's
    Hamming budget, because frame hashes run over DECODED pixels; a
    different video must land outside it. Also pins that a re-muxed
    copy (same frames, rec-list layout) is Hamming-0."""
    from tools.avi_ref import mux_avi
    from tools.jpeg_ref import encode_jpeg

    from gmall_realtime2021_spark.multimodal.media import MEDIA_SCHEMA
    from gmall_realtime2021_spark.multimodal.video import video_fingerprints
    from gmall_realtime2021_spark.plans.media_dedup import MEDIA_MAX_HAMMING

    w, h, nf = 32, 24, 4
    def frames(sub, shift=0):
        out = []
        for j in range(nf):
            px = bytes(
                ((x * 5 + y * 9 + c * 30 + j * 25 + shift) % 256)
                for y in range(h) for x in range(w) for c in range(3)
            )
            out.append(encode_jpeg(w, h, 3, px, subsampling=sub)[0])
        return out

    a = mux_avi(w, h, 1, frames("444"))           # 4 s @1fps → 4 sampled frames
    a_remux = mux_avi(w, h, 1, frames("444"), use_rec_lists=True)
    b = mux_avi(w, h, 1, frames("420"))           # same content, other encoding
    other = mux_avi(w, h, 1, frames("444", shift=111))  # different content
    meta = {"width": None, "height": None, "sample_rate": None, "duration_ms": 1, "codec": None}
    media = spark.createDataFrame(
        [(1, "video", bytearray(a), meta), (2, "video", bytearray(a_remux), meta),
         (3, "video", bytearray(b), meta), (4, "video", bytearray(other), meta)],
        MEDIA_SCHEMA,
    )
    got = {r.media_id: r for r in video_fingerprints(media).collect()}
    assert all(r.n_frames == nf for r in got.values())
    assert got[2].vhash == got[1].vhash                       # re-mux: identical pixels
    assert _hamming64(got[3].vhash, got[1].vhash) <= MEDIA_MAX_HAMMING
    assert _hamming64(got[4].vhash, got[1].vhash) > MEDIA_MAX_HAMMING
