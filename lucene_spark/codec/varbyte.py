"""Delta + varbyte posting codec, numpy-vectorized (no per-element Python).

Wire format matches the reference's VInt codec semantics — LSB-first
7-bit groups, 0x80 continuation bit on every byte except the last
(reference: src/Storage/File/AbstractFile.php:281-292 read, :364-372
write) — but our posting *blocks* store docIDs, TFs, doc lengths and position
gaps as four separate varbyte streams instead of the reference's
interleaved ``.frq`` stream (AbstractSegmentWriter.php:371-380).
Separate streams let boolean/AND queries decode docIDs without touching
TFs or positions. :func:`encode_blocks` / :func:`decode_blocks` are the
one place that knows the block byte layout.
``freq_stream_encode/decode`` reproduce the interleaved reference
encoding exactly for parity tests.

All encoders accept non-negative int arrays up to 2^63-1 (9 varbytes).
"""

from __future__ import annotations

import numpy as np

_SEVEN = np.uint64(7)
_MASK7 = np.uint64(0x7F)


def _vb_pack(v: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Shared packing body: (stream bytes, per-value end byte offsets).
    Vectorized O(maxbytes); the single source of the continuation-bit
    layout for both whole-array and sliced encoding."""
    # bytes needed per value (1..10)
    nb = np.ones(v.size, dtype=np.int64)
    x = v >> _SEVEN
    while x.any():
        nb += x > 0
        x >>= _SEVEN
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    maxb = int(nb.max())
    for j in range(maxb):
        mask = nb > j
        pos = starts[mask] + j
        byte = (v[mask] >> np.uint64(7 * j)) & _MASK7
        # continuation bit on all bytes except each value's last
        cont = np.where(nb[mask] - 1 > j, np.uint64(0x80), np.uint64(0))
        out[pos] = (byte | cont).astype(np.uint8)
    return out.tobytes(), ends


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a non-negative integer array. Vectorized O(maxbytes)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _vb_pack(v)[0]


def vb_encode_sliced(values: np.ndarray, bounds: np.ndarray) -> list[bytes]:
    """Encode ONE array, return per-slice streams: slice i covers values
    [bounds[i], bounds[i+1]). Byte-identical to calling :func:`vb_encode`
    on each slice (varbyte is per-value independent), but the encode —
    the dominant per-block cost in the segment inverter — runs once over
    the whole segment instead of once per 128-posting block."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    bounds = np.asarray(bounds, dtype=np.int64)
    if v.size == 0:
        return [b""] * max(len(bounds) - 1, 0)
    buf, ends = _vb_pack(v)
    # value-index bounds → byte offsets; tolist() first so the slice
    # loop runs on Python ints (np-scalar slice indices cost ~2.6× —
    # this loop runs once per posting block per stream)
    byte_off = np.concatenate(([0], ends))[bounds].tolist()
    return [buf[a:z] for a, z in zip(byte_off[:-1], byte_off[1:])]


def vb_decode(buf: bytes) -> np.ndarray:
    """Decode a varbyte stream to uint64 array. Vectorized O(maxbytes)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    last = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty(last.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = last[:-1] + 1
    lengths = last - starts + 1
    vals = np.zeros(last.size, dtype=np.uint64)
    maxb = int(lengths.max())
    for j in range(maxb):
        mask = lengths > j
        vals[mask] |= (b[starts[mask] + j].astype(np.uint64) & _MASK7) << np.uint64(
            7 * j
        )
    return vals


def delta_encode(sorted_vals: np.ndarray, base: int = 0) -> np.ndarray:
    """Gaps of a sorted array relative to ``base`` (first gap = v0 - base)."""
    v = np.asarray(sorted_vals, dtype=np.int64)
    return np.diff(v, prepend=np.int64(base)).astype(np.uint64)


def delta_decode(gaps: np.ndarray, base: int = 0) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64).astype(np.int64)
    return np.cumsum(g) + np.int64(base)


def encode_blocks(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    positions: np.ndarray | None = None,
) -> tuple[list[bytes], list[bytes], list[bytes], list[bytes] | None]:
    """Pack a run of posting blocks into per-block varbyte streams —
    the ONLY writer of the block byte layout (:func:`decode_blocks` is
    its inverse).

    ``docs``/``tfs``/``dls`` hold one entry per posting, blocks laid
    end to end; block i covers postings [starts[i], starts[i+1]) (so
    starts[0] == 0) with ascending doc ids. ``positions`` concatenates
    each posting's tf positions (ascending within the posting), or is
    None when positions are not stored. Per block, returns:

    - docs stream: doc gaps; a block's first gap is always 1 (its first
      doc id is stored as the block's ``doc_base`` metadata)
    - tf stream, dl stream: the raw values
    - pos stream: position gaps that reset at each posting (the first
      gap is the position itself; 1-based text positions, 0 for a
      keyword — one 0x00 byte). Per-posting counts are the tfs, so no
      length stream is needed.

    Each stream encodes ONCE over the whole run and is sliced at block
    boundaries (varbyte is per-value independent, so this is
    byte-identical to encoding block by block)."""
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    bounds = np.append(starts, len(docs))
    dgaps = np.diff(docs, prepend=np.int64(0))
    dgaps[starts] = 1
    docs_bins = vb_encode_sliced(dgaps, bounds)
    tfs_bins = vb_encode_sliced(tfs, bounds)
    dls_bins = vb_encode_sliced(np.asarray(dls, dtype=np.int64), bounds)
    pos_bins = None
    if positions is not None:
        p = np.asarray(positions, dtype=np.int64)
        run_starts = np.cumsum(tfs) - tfs
        pgaps = np.diff(p, prepend=np.int64(0))
        pgaps[run_starts] = p[run_starts]
        pos_bounds = np.append(run_starts[starts], int(tfs.sum()))
        pos_bins = vb_encode_sliced(pgaps, pos_bounds)
    return docs_bins, tfs_bins, dls_bins, pos_bins


def decode_blocks(
    doc_base: np.ndarray,
    n: np.ndarray,
    docs_bins,
    tfs_bins=None,
    dls_bins=None,
    pos_bins=None,
) -> tuple[np.ndarray, np.ndarray | None, np.ndarray | None, np.ndarray | None]:
    """Batched inverse of :func:`encode_blocks` over a frame of blocks:
    (doc ids, tfs, dls, flat positions) as int64 arrays, each stream
    None when its binaries are not given. ``doc_base``/``n`` are the
    blocks' first doc id and posting count.

    Varbyte is self-delimiting, so each stream's binaries concatenate
    into ONE :func:`vb_decode` call and the per-block doc-id and
    per-posting position reconstruction is pure numpy over the flat
    arrays — no per-block Python (it dominated decode time for
    stop-word-scale terms). A stream given as empty binaries on some
    blocks decodes to the concatenated values of the others. Decoding
    positions needs the tf stream (a posting's run length is its tf)."""
    n = np.asarray(n, dtype=np.int64)
    doc_base = np.asarray(doc_base, dtype=np.int64)
    starts = np.cumsum(n) - n
    gaps = _vb_decode_all(docs_bins)
    cs = np.cumsum(gaps)
    # each block restarts at its doc_base: subtract the running sum
    # through the block's first gap
    docs = cs + np.repeat(doc_base - cs[starts], n)
    tfs = None if tfs_bins is None else _vb_decode_all(tfs_bins)
    dls = None if dls_bins is None else _vb_decode_all(dls_bins)
    positions = None
    if pos_bins is not None:
        pcs = np.cumsum(_vb_decode_all(pos_bins))
        run_starts = np.cumsum(tfs) - tfs
        prior = np.where(run_starts > 0, pcs[run_starts - 1], 0)
        positions = pcs - np.repeat(prior, tfs)
    return docs, tfs, dls, positions


def _vb_decode_all(bins) -> np.ndarray:
    return vb_decode(b"".join(bins)).astype(np.int64)


def freq_stream_encode(doc_ids: np.ndarray, tfs: np.ndarray, base: int = 0) -> bytes:
    """Reference-parity interleaved freq stream.

    Per posting: VInt(docDelta<<1 | (tf==1)), then VInt(tf) iff tf>1
    (reference: AbstractSegmentWriter.php:371-380).
    """
    deltas = delta_encode(doc_ids, base)
    tf = np.asarray(tfs, dtype=np.uint64)
    first = (deltas << np.uint64(1)) | (tf == 1).astype(np.uint64)
    counts = np.where(tf > 1, 2, 1)
    starts = np.cumsum(counts) - counts
    out = np.zeros(int(counts.sum()), dtype=np.uint64)
    out[starts] = first
    multi = tf > 1
    out[starts[multi] + 1] = tf[multi]
    return vb_encode(out)


def freq_stream_decode(buf: bytes, base: int = 0) -> tuple[np.ndarray, np.ndarray]:
    vals = vb_decode(buf)
    doc_ids: list[int] = []
    tfs: list[int] = []
    i = 0
    prev = base
    n = vals.size
    # Interleaving makes head positions data-dependent; parity codec is
    # only used on small fixtures, so a scalar walk is acceptable here
    # (the production block format uses the vectorized separate streams).
    while i < n:
        head = int(vals[i])
        delta = head >> 1
        prev += delta
        doc_ids.append(prev)
        if head & 1:
            tfs.append(1)
            i += 1
        else:
            tfs.append(int(vals[i + 1]))
            i += 2
    return np.asarray(doc_ids, dtype=np.int64), np.asarray(tfs, dtype=np.int64)
