"""Codec unit tests — FIXTURES.md F5 vectors."""

import numpy as np
import pytest

from lucene_spark.codec import (
    vb_encode,
    vb_decode,
    delta_encode,
    delta_decode,
    encode_blocks,
    decode_blocks,
    freq_stream_encode,
    freq_stream_decode,
    NORM_TABLE,
    encode_norm,
    decode_norm,
    encode_norm_array,
    length_norm,
)


def test_vint_boundary_vectors():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**31 - 1, 2**62], dtype=np.uint64)
    buf = vb_encode(vals)
    out = vb_decode(buf)
    assert (out == vals).all()
    # wire format: LSB-first 7-bit groups, 0x80 continuation
    assert vb_encode(np.array([127])) == b"\x7f"
    assert vb_encode(np.array([128])) == b"\x80\x01"
    assert vb_encode(np.array([16384])) == b"\x80\x80\x01"


def test_vint_random_roundtrip():
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**40, size=10000).astype(np.uint64)
    assert (vb_decode(vb_encode(vals)) == vals).all()


def test_delta_roundtrip():
    docs = np.array([3, 7, 8, 100, 101], dtype=np.int64)
    gaps = delta_encode(docs, base=0)
    assert (gaps == [3, 4, 1, 92, 1]).all()
    assert (delta_decode(gaps, base=0) == docs).all()


def test_posting_block_roundtrip_with_positions():
    # three blocks laid end to end: [2, 5, 9] [100, 140] [141]
    docs = np.array([2, 5, 9, 100, 140, 141], dtype=np.int64)
    tfs = np.array([2, 1, 3, 1, 2, 1], dtype=np.int64)
    dls = np.array([4, 1, 9, 3, 7, 200], dtype=np.int64)
    starts = np.array([0, 3, 5])
    # 1-based positions, concatenated per posting
    pos = np.array([1, 4, 2, 3, 7, 9, 1, 5, 6, 130], dtype=np.int64)
    db, tb, lb, pb = encode_blocks(docs, tfs, dls, starts, pos)
    assert len(db) == len(tb) == len(lb) == len(pb) == 3
    # a block's first doc gap is 1; position gaps reset at each posting
    assert vb_decode(db[1]).tolist() == [1, 40]
    assert vb_decode(pb[1]).tolist() == [1, 5, 1]
    doc_base, n = docs[starts], np.array([3, 2, 1])
    d2, t2, l2, p2 = decode_blocks(doc_base, n, db, tb, lb, pb)
    assert (d2 == docs).all() and (t2 == tfs).all() and (l2 == dls).all()
    assert (p2 == pos).all()
    # any subset of blocks decodes on its own
    d3, t3, _, p3 = decode_blocks(doc_base[1:], n[1:], db[1:], tb[1:], None, pb[1:])
    assert (d3 == docs[3:]).all() and (t3 == tfs[3:]).all()
    assert (p3 == pos[6:]).all()


def test_posting_block_base_offsets():
    # keyword postings: tf 1, dl 1, position 0 — one 0x00 byte each
    docs = np.array([1000, 1001, 1005, 9000], dtype=np.int64)
    ones = np.ones(4, dtype=np.int64)
    starts = np.array([0, 3])
    db, tb, lb, pb = encode_blocks(docs, ones, ones, starts, np.zeros(4, np.int64))
    assert pb == [b"\x00" * 3, b"\x00"]
    assert db[1] == b"\x01"
    d2, t2, l2, p2 = decode_blocks([1000, 9000], [3, 1], db, tb, lb, pb)
    assert (d2 == docs).all() and (t2 == 1).all() and (l2 == 1).all()
    assert (p2 == 0).all()
    # positions not stored: no position streams, docs-only decode
    _, _, _, none = encode_blocks(docs, ones, ones, starts)
    assert none is None
    d4, t4, l4, p4 = decode_blocks([1000, 9000], [3, 1], db)
    assert (d4 == docs).all() and t4 is None and l4 is None and p4 is None


def test_freq_stream_reference_parity():
    # tf==1 folded into doc gap LSB (AbstractSegmentWriter.php:371-380)
    docs = np.array([0, 3, 4, 10], dtype=np.int64)
    tfs = np.array([1, 5, 1, 2], dtype=np.int64)
    buf = freq_stream_encode(docs, tfs)
    vals = vb_decode(buf)
    assert list(vals) == [1, 6, 5, 3, 12, 2]
    d2, t2 = freq_stream_decode(buf)
    assert (d2 == docs).all() and (t2 == tfs).all()


def test_norm_table_reference_anchors():
    # values pinned from the reference 256-entry table
    assert NORM_TABLE[0] == 0.0
    assert abs(NORM_TABLE[1] - 5.820766e-10) < 1e-16
    assert abs(NORM_TABLE[107] - 0.0546875) < 1e-12  # IndexTest norm anchor
    assert abs(NORM_TABLE[124] - 1.0) < 1e-12
    assert abs(NORM_TABLE[255] - 7.5161928e9) < 1e3
    assert (np.diff(NORM_TABLE) > 0).all()  # monotone → searchsorted valid


def test_norm_encode_decode_roundtrip():
    for b in range(256):
        assert encode_norm(decode_norm(b)) == b


def test_norm_encode_semantics():
    assert encode_norm(0.0) == 0
    assert encode_norm(-5.0) == 0
    assert encode_norm(1e20) == 255  # saturate
    # IndexTest anchor: norm for a 334-token field ≈ 0.054688
    n = length_norm(334)
    assert decode_norm(encode_norm(n)) == pytest.approx(0.0546875, abs=1e-7)


def test_norm_zero_length_field():
    # lengthNorm(0) = 1e10 → saturates to byte 255 (DocumentWriter.php:143-158)
    assert encode_norm(length_norm(0)) == 255


def test_norm_encode_array_matches_scalar():
    rng = np.random.default_rng(7)
    xs = rng.uniform(0, 2.0, 1000)
    arr = encode_norm_array(xs)
    for x, b in zip(xs[:50], arr[:50]):
        assert encode_norm(float(x)) == b
