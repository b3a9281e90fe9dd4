"""Property-based tests (hypothesis) defending the round-2 derivations:

1. The ft_phrase_sloppy SQL oracle's closed form equals the reference's
   candidate-queue algorithm (phrase.sloppy_phrase_freq) for two-slot
   phrases — anchor multiplicity 2^max(i−2,0), later-in-window-b
   multiplicity 2^(rank−1), contribution mult/(d+1).
2. The per-block Pareto impact frontier attains the block's true max
   BM25 impact for every (k1, b, avgdl) — the exactness premise of the
   WAND bound.
3. The posting-block codec (encode_blocks / decode_blocks) round-trips
   any run of blocks, whole or split at any block boundary.
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark.codec.varbyte import decode_blocks, encode_blocks
from lucene_spark.index.builder import pareto_impacts
from lucene_spark.search.phrase import sloppy_phrase_freq
from lucene_spark.search.similarity import bm25_partial


def _closed_form(pa, pb, delta, slop):
    """The ft_phrase_sloppy oracle's formula (mirrors the SQL)."""
    freq = 0.0
    for i, a in enumerate(pa):
        w = 2.0 ** max(i - 1, 0)
        r = 0
        for j, b in enumerate(pb):
            d = abs(b - a - delta)
            if j == 0:
                if d <= slop:
                    freq += w / (d + 1)
            else:
                if d <= slop:
                    freq += w * (2.0**r) / (d + 1)
                    r += 1
    return freq


positions = st.lists(
    st.integers(min_value=1, max_value=60), min_size=1, max_size=7, unique=True
).map(sorted)


@settings(max_examples=300, deadline=None)
@given(pa=positions, pb=positions, delta=st.integers(1, 4), slop=st.integers(1, 5))
def test_sloppy_closed_form_matches_queue(pa, pb, delta, slop):
    want = sloppy_phrase_freq([pa, pb], [0, delta], slop)
    got = _closed_form(pa, pb, delta, slop)
    assert abs(want - got) < 1e-9 * max(1.0, abs(want))


@settings(max_examples=500, deadline=None)
@given(pa=positions, pb=positions, delta=st.integers(1, 4), slop=st.integers(0, 5))
def test_sloppy_2slot_vectorized_bit_identical(pa, pb, delta, slop):
    """The numpy queue reconstruction must match the Python queue
    BITWISE (== on floats, not approx): np.cumsum adds the same
    contributions in the same left-to-right order, so near-tied rank
    parity survives the vectorization."""
    from lucene_spark.search.phrase import sloppy_phrase_freq_2slot

    want = sloppy_phrase_freq([pa, pb], [0, delta], slop)
    got = sloppy_phrase_freq_2slot(np.asarray(pa), np.asarray(pb), delta, slop)
    assert want == got


@settings(max_examples=300, deadline=None)
@given(pa=positions, pb=positions, delta=st.integers(1, 4), slop=st.integers(0, 5))
def test_sloppy_2slot_closed_matches_queue(pa, pb, delta, slop):
    """The numpy closed form (_sloppy_2slot_closed — the escape hatch
    for position counts where the queue is exponentially infeasible)
    must equal the queue's VALUE at float tolerance on every feasible
    input (accumulation order differs, so == is not expected)."""
    from lucene_spark.search.phrase import _sloppy_2slot_closed

    want = sloppy_phrase_freq([pa, pb], [0, delta], slop)
    got = _sloppy_2slot_closed(
        np.asarray(pa, np.int64), np.asarray(pb, np.int64), delta, slop
    )
    assert abs(want - got) < 1e-9 * max(1.0, abs(want))


@settings(max_examples=200, deadline=None)
@given(
    docs=st.lists(
        st.tuples(positions, positions), min_size=1, max_size=12
    ),
    delta=st.integers(1, 4),
    slop=st.integers(0, 5),
    budget=st.sampled_from([7, 2_000_000]),
)
def test_sloppy_2slot_closed_batch_matches_queue(docs, delta, slop, budget):
    """The BATCHED closed form (round 5 — one flat (doc, i, j)
    expansion replacing the per-doc Python loop in the phrase kernels)
    must equal the reference queue's value per doc at float tolerance,
    including with a pair budget small enough to force multi-chunk
    processing and single-doc-over-budget chunks."""
    from lucene_spark.search.phrase import _sloppy_2slot_closed_batch

    fa = np.concatenate([np.asarray(a, np.int64) for a, _ in docs])
    fb = np.concatenate([np.asarray(b, np.int64) for _, b in docs])
    na = np.array([len(a) for a, _ in docs], np.int64)
    nb = np.array([len(b) for _, b in docs], np.int64)
    sa = np.cumsum(na) - na
    sb = np.cumsum(nb) - nb
    got = _sloppy_2slot_closed_batch(
        fa, sa, na, fb, sb, nb, delta, slop, pair_budget=budget
    )
    for i, (pa, pb) in enumerate(docs):
        want = sloppy_phrase_freq([list(pa), list(pb)], [0, delta], slop)
        assert abs(want - got[i]) < 1e-9 * max(1.0, abs(want))


def test_sloppy_2slot_closed_batch_custom_sf():
    """Custom vectorized sloppyFreq flows through the batch path (the
    multiplicity structure is sf-independent); zero-weight in-window
    pairs must be indexed out, not multiplied (inf · 0.0 = NaN)."""
    from lucene_spark.search.phrase import (
        _sloppy_2slot_closed,
        _sloppy_2slot_closed_batch,
    )

    def sf_np(d):
        return np.where(d > 1, 0.0, 0.5 / (d + 1.0))

    pa = np.arange(0, 40, dtype=np.int64)  # 40 anchors -> 2^i weights
    pb = pa + 1
    got = _sloppy_2slot_closed_batch(
        pa, np.array([0]), np.array([40]),
        pb, np.array([0]), np.array([40]),
        1, 2, sf_np=sf_np,
    )
    want = _sloppy_2slot_closed(pa, pb, 1, 2, sf_np=sf_np)
    assert np.isfinite(got[0]) and got[0] > 0
    assert abs(got[0] - want) < 1e-9 * max(1.0, abs(want))


def test_sloppy_2slot_hot_positions_feasible():
    """tf-40 × tf-40 docs (natural hot-hot text) must compute in O(A·B)
    instead of materializing the 2^A-candidate queue (observed as a
    32 TiB allocation before the closed-form escape hatch)."""
    from lucene_spark.search.phrase import sloppy_phrase_freq_2slot

    pa = np.arange(0, 400, 10, dtype=np.int64)  # 40 positions
    pb = pa + 1
    got = sloppy_phrase_freq_2slot(pa, pb, 1, 2)
    assert np.isfinite(got) and got > 0


blocks = st.lists(
    st.tuples(st.integers(1, 50), st.integers(1, 500)), min_size=1, max_size=128
)


@settings(max_examples=300, deadline=None)
@given(
    pairs=blocks,
    k1=st.floats(0.1, 3.0),
    b=st.floats(0.0, 1.0),
    avgdl=st.floats(1.0, 300.0),
)
def test_pareto_frontier_attains_block_max_impact(pairs, k1, b, avgdl):
    t = np.array([p[0] for p in pairs], dtype=np.int64)
    dl = np.array([p[1] for p in pairs], dtype=np.int64)
    ft, fdl = pareto_impacts(t, dl)
    # frontier is a subset of the block's pairs
    assert set(zip(ft.tolist(), fdl.tolist())) <= set(pairs)

    def partial(tf, d):
        return (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * d / avgdl))

    true_max = max(partial(x, y) for x, y in pairs)
    frontier_max = max(partial(x, y) for x, y in zip(ft, fdl))
    assert frontier_max == true_max


def test_bm25_partial_monotone_spotcheck():
    # the premise the frontier proof rests on: increasing in tf,
    # decreasing in dl
    assert bm25_partial(3, 10, 50.0) > bm25_partial(2, 10, 50.0)
    assert bm25_partial(3, 10, 50.0) > bm25_partial(3, 20, 50.0)


# one posting: (doc gap ≥ 1, dl, ascending position-gap list of length tf)
_posting = st.tuples(
    st.integers(1, 2**40),
    st.integers(1, 5000),
    st.lists(st.integers(1, 300), min_size=1, max_size=6),
)


@settings(max_examples=300, deadline=None)
@given(
    blocks=st.lists(st.lists(_posting, min_size=1, max_size=20), min_size=1,
                    max_size=8),
    keyword=st.booleans(),
    cut=st.integers(0, 8),
)
def test_posting_block_codec_round_trip(blocks, keyword, cut):
    gaps = [g for blk in blocks for g, _dl, _p in blk]
    docs = np.cumsum(np.asarray(gaps, dtype=np.int64))
    dls = np.asarray([dl for blk in blocks for _g, dl, _p in blk], np.int64)
    if keyword:  # keyword postings: tf 1, position 0
        tfs = np.ones(len(docs), dtype=np.int64)
        pos = np.zeros(len(docs), dtype=np.int64)
    else:
        runs = [np.cumsum(p) for blk in blocks for _g, _dl, p in blk]
        tfs = np.asarray([len(r) for r in runs], dtype=np.int64)
        pos = np.concatenate(runs).astype(np.int64)
    n = np.asarray([len(blk) for blk in blocks], dtype=np.int64)
    starts = np.cumsum(n) - n
    db, tb, lb, pb = encode_blocks(docs, tfs, dls, starts, pos)
    d2, t2, l2, p2 = decode_blocks(docs[starts], n, db, tb, lb, pb)
    assert (d2 == docs).all() and (t2 == tfs).all() and (l2 == dls).all()
    assert (p2 == pos).all()
    # blocks are self-contained: a suffix decodes alone
    c = min(cut, len(blocks) - 1)
    lo = int(starts[c])
    d3, t3, _l, p3 = decode_blocks(
        docs[starts[c:]], n[c:], db[c:], tb[c:], None, pb[c:]
    )
    assert (d3 == docs[lo:]).all() and (t3 == tfs[lo:]).all()
    assert (p3 == pos[int(tfs[:lo].sum()):]).all()
