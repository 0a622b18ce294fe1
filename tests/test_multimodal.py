"""Multimodal column surface tests (schema, Arrow plumbing, codec stubs).

Oracle parity for q_mm_* runs in test_relational_oracle.py; here we test
the parts the oracle can't see: the ASCII invariant the oracles rely on,
the stubbed codec boundary, fake-decoder determinism, and pixel stats
through the real BMP decoder.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from bigdatagenomic_spark.operators.multimodal import (
    FRAME_BYTES,
    FRAME_STRIDE,
    attach_payloads,
    decode_images,
    fake_image_decoder,
    sample_frames,
)
from bigdatagenomic_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def mm(spark):
    return attach_payloads(load_table(spark, SF_DIR, "documents"))


def test_ascii_invariant(spark):
    """The oracles equate byte and char offsets — driver text must be ASCII."""
    d = load_table(spark, SF_DIR, "documents")
    n_bad = d.where(
        F.octet_length(F.encode("text", "UTF-8")) != F.length("text")
    ).count()
    assert n_bad == 0


def test_payload_schema(mm):
    schema = dict(mm.dtypes)
    assert schema["payload"] == "binary"
    assert schema["meta"] == "struct<mime:string,n_bytes:int,sha256:string>"


def test_frame_sample_matches_local(spark, mm):
    got = {
        (r.doc_id, r.frame_idx): (r.frame_len, r.frame_md5)
        for r in sample_frames(mm).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    want = {}
    for r in docs:
        buf = r.text.encode()
        n_frames = (len(buf) + FRAME_BYTES - 1) // FRAME_BYTES
        for i in range(0, n_frames, FRAME_STRIDE):
            frame = buf[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
            want[(r.doc_id, i)] = (len(frame), hashlib.md5(frame).hexdigest())
    assert got == want


def test_decode_without_codec_raises(mm):
    with pytest.raises(NotImplementedError, match="codec"):
        decode_images(mm)


def test_decode_with_fake_decoder(spark, mm):
    got = {r.doc_id: (r.width, r.height, r.pixel_checksum)
           for r in decode_images(mm, decoder=fake_image_decoder).collect()}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs)
    for r in docs:
        assert got[r.doc_id] == fake_image_decoder(r.text.encode())
    widths = {w for (w, _, _) in got.values()}
    assert widths <= set(range(16, 32))


def _bmp_fixture_rows():
    """Deterministic 24-bpp BMPs of varying dims (incl. widths needing
    row padding) with known pixel bytes."""
    from bigdatagenomic_spark.operators.multimodal import encode_bmp

    rows = []
    for doc_id, (w, h) in enumerate([(5, 3), (4, 7), (1, 1), (32, 2)]):
        rgb = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        rows.append((doc_id, w, h, rgb, encode_bmp(w, h, rgb)))
    return rows


def test_real_bmp_decoder_roundtrip():
    """encode_bmp -> bmp_image_decoder round-trips dims and checksums
    the exact top-down RGB bytes (pure python, no Spark)."""
    import zlib

    from bigdatagenomic_spark.operators.multimodal import bmp_image_decoder

    for _doc_id, w, h, rgb, payload in _bmp_fixture_rows():
        assert payload[:2] == b"BM"
        assert bmp_image_decoder(payload) == (w, h, zlib.crc32(rgb))
    with pytest.raises(ValueError, match="not a BMP"):
        bmp_image_decoder(b"PNG garbage that is long enough to parse....")


def test_real_bmp_decoder_through_resize_plan(spark):
    """VERDICT r5 #9: the codec boundary exercised end-to-end with a
    REAL decoder — actual BMP payloads flow through resize_images'
    Arrow-batched mapInPandas plan (not the fake), and the output dims,
    aspect-preserving thumbnail sizes, and checksums match the
    pure-python expectation."""
    import zlib

    from bigdatagenomic_spark.operators.multimodal import (
        THUMB_BOX,
        bmp_image_decoder,
        resize_images,
    )

    rows = _bmp_fixture_rows()
    mm = spark.createDataFrame(
        [(doc_id, payload) for doc_id, _w, _h, _rgb, payload in rows],
        "doc_id LONG, payload BINARY",
    )
    got = {
        r.doc_id: (r.width, r.height, r.out_w, r.out_h, r.thumb_checksum)
        for r in resize_images(mm, decoder=bmp_image_decoder).collect()
    }
    assert len(got) == len(rows)
    for doc_id, w, h, rgb, _payload in rows:
        m = max(w, h)
        ow, oh = (w * THUMB_BOX) // m, (h * THUMB_BOX) // m
        csum = zlib.crc32(rgb)
        assert got[doc_id] == (w, h, ow, oh, (csum * ow + oh) % 2147483647)


def test_phash_pairs_finds_planted_near_identical_payloads(spark):
    """Two payloads differing in one byte land within Hamming 3 and are
    found through chunk blocking; an unrelated payload stays out."""
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.operators.multimodal import phash_pairs

    base = bytes(range(64)) * 4
    near = bytes([1]) + base[1:]
    other = bytes(reversed(base))
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(near)), (3, bytearray(other))],
        "doc_id LONG, payload BINARY",
    )
    got = {(r.a_id, r.b_id): r.hamming for r in phash_pairs(df).collect()}
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in got)


def test_ahash32_deterministic_and_integer_exact(spark):
    from bigdatagenomic_spark.operators.multimodal import ahash32

    df = spark.createDataFrame(
        [(1, bytearray(b"abcdefgh" * 8)), (2, bytearray(b""))],
        "doc_id LONG, payload BINARY",
    )
    a = {r.doc_id: r.h for r in df.select("doc_id", ahash32("payload").alias("h")).collect()}
    b = {r.doc_id: r.h for r in df.select("doc_id", ahash32("payload").alias("h")).collect()}
    assert a == b
    assert a[2] == 0  # empty payload -> zero hash, not an error


def test_trim_flat_frames_gates_on_variance(spark):
    from bigdatagenomic_spark.operators.multimodal import trim_flat_frames

    flat = bytes([100] * 64)            # zero variance frame
    noisy = bytes(range(64))            # high variance frame
    df = spark.createDataFrame(
        [(1, bytearray(flat + noisy + flat))], "doc_id LONG, payload BINARY"
    )
    out = {r.frame_idx: r for r in trim_flat_frames(df).collect()}
    assert len(out) == 3
    assert not out[0].kept and out[0].variance_num == 0
    assert out[1].kept
    assert not out[2].kept


def test_phash_pairs_excludes_null_and_empty_payloads(spark):
    """NULL/empty payloads must not enter the candidate join: they all
    hash to signature 0 and would pair with each other, which the
    oracle's n > 0 guard excludes."""
    from bigdatagenomic_spark.operators.multimodal import phash_pairs

    base = bytes(range(64)) * 4
    rows = [
        (1, bytearray(base)),
        (2, bytearray(bytes([1]) + base[1:])),  # near-dup of 1
        (3, None),                              # NULL payload
        (4, bytearray(b"")),                    # empty payload
        (5, None),                              # second NULL: would pair w/ 3
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, payload BINARY")
    got = {(r.a_id, r.b_id) for r in phash_pairs(df).collect()}
    assert (1, 2) in got
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in got)


def test_trim_flat_frames_null_payload_yields_no_frames(spark):
    """A NULL payload (NULL-text doc) produces zero frame rows instead
    of raising inside mapInPandas — mirroring the oracle, where a NULL
    codes list unnests to nothing."""
    from bigdatagenomic_spark.operators.multimodal import trim_flat_frames

    df = spark.createDataFrame(
        [(1, None), (2, bytearray(bytes(range(64))))],
        "doc_id LONG, payload BINARY",
    )
    out = trim_flat_frames(df).collect()
    assert {r.doc_id for r in out} == {2}
    assert len(out) == 1 and out[0].kept


def test_shot_boundaries_planted_cut(spark):
    """Planted video: three 64-byte frames, two flat at byte 10, one
    flat at byte 200 in the middle — exactly two cuts (into and out of
    the middle shot), each with delta 190, and no boundary at frame 0
    (lag is NULL there, not zero)."""
    from bigdatagenomic_spark.operators.multimodal import shot_boundaries

    shot_a = bytes([10] * 64)
    shot_b = bytes([200] * 64)
    df = spark.createDataFrame(
        [(7, bytearray(shot_a + shot_b + shot_a)),
         (8, bytearray(shot_a * 3))],            # no cuts at all
        "doc_id LONG, payload BINARY",
    )
    got = [
        (r.doc_id, r.frame_idx, r.prev_mean, r.mean_byte, r.delta)
        for r in shot_boundaries(df).orderBy("doc_id", "frame_idx").collect()
    ]
    assert got == [
        (7, 1, 10.0, 200.0, 190.0),
        (7, 2, 200.0, 10.0, 190.0),
    ]


# ---------------------------------------------------------------------------
# real BMP pixel decoder through the pixel_stats plan
# ---------------------------------------------------------------------------

def test_real_bmp_pixel_stats_through_plan(spark):
    """The pixel-stats codec boundary exercised end-to-end with the
    REAL BMP decoder: channel sums and the Rec.601 luma over actual
    decoded pixel bytes (incl. padded-row widths)."""
    from bigdatagenomic_spark.operators.multimodal import (
        bmp_rgb_decoder,
        encode_bmp,
        pixel_stats,
    )

    rows = []
    for doc_id, (w, h) in enumerate([(5, 3), (4, 7), (1, 1), (32, 2)]):
        rgb = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        rows.append((doc_id, w, h, rgb, encode_bmp(w, h, rgb)))
    mm = spark.createDataFrame(
        [(doc_id, payload) for doc_id, _w, _h, _rgb, payload in rows],
        "doc_id LONG, payload BINARY",
    )
    got = {
        r.doc_id: (r.n_px, r.sum_r, r.sum_g, r.sum_b, r.mean_lum_milli)
        for r in pixel_stats(mm, decoder=bmp_rgb_decoder).collect()
    }
    for doc_id, w, h, rgb, _payload in rows:
        sr, sg, sb = sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3])
        n_px = w * h
        assert got[doc_id] == (
            n_px, sr, sg, sb, (299 * sr + 587 * sg + 114 * sb) // n_px
        )


def test_pixel_stats_requires_decoder(spark):
    import pytest

    from bigdatagenomic_spark.operators.multimodal import pixel_stats

    mm = spark.createDataFrame([(0, b"x")], "doc_id LONG, payload BINARY")
    with pytest.raises(NotImplementedError):
        pixel_stats(mm)
