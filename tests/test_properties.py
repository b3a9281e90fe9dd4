"""Property-based tests (hypothesis) defending the round-2 derivations:

1. The ft_phrase_sloppy SQL oracle's closed form equals the reference's
   candidate-queue algorithm (phrase.sloppy_phrase_freq) for two-slot
   phrases — anchor multiplicity 2^max(i−1,0), later-in-window-b
   multiplicity 2^(rank−1), contribution mult/(d+1) — and so does the
   engine's n-slot kernel (phrase.sloppy_freq_batch).
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
from lucene_spark.search.phrase import sloppy_freq_batch, sloppy_phrase_freq
from lucene_spark.search.similarity import bm25_partial


def _closed_form(pa, pb, delta, slop, sf=lambda d: 1.0 / (d + 1)):
    """The ft_phrase_sloppy oracle's formula (mirrors the SQL)."""
    freq = 0.0
    for i, a in enumerate(pa):
        w = 2.0 ** max(i - 1, 0)
        r = 0
        for j, b in enumerate(pb):
            d = abs(b - a - delta)
            if j == 0:
                if d <= slop:
                    freq += w * sf(d)
            else:
                if d <= slop:
                    freq += w * (2.0**r) * sf(d)
                    r += 1
    return freq


def _slots(docs):
    """sloppy_freq_batch's ``(flat, starts, counts)`` per slot from
    ``docs[r][t]`` = doc r's positions in slot t."""
    out = []
    for t in range(len(docs[0])):
        counts = np.asarray([len(d[t]) for d in docs], np.int64)
        flat = np.concatenate([np.asarray(d[t], np.int64) for d in docs])
        out.append((flat, np.cumsum(counts) - counts, counts))
    return out


def _close(want, got):
    return abs(want - got) < 1e-9 * max(1.0, abs(want))


positions = st.lists(
    st.integers(min_value=1, max_value=60), min_size=1, max_size=7, unique=True
).map(sorted)


@settings(max_examples=300, deadline=None)
@given(pa=positions, pb=positions, delta=st.integers(1, 4), slop=st.integers(1, 5))
def test_sloppy_closed_form_matches_queue(pa, pb, delta, slop):
    want = sloppy_phrase_freq([pa, pb], [0, delta], slop)
    got = _closed_form(pa, pb, delta, slop)
    assert _close(want, got)


@settings(max_examples=300, deadline=None)
@given(pa=positions, pb=positions, delta=st.integers(1, 4), slop=st.integers(0, 5))
def test_sloppy_2slot_closed_matches_queue(pa, pb, delta, slop):
    """sloppy_freq_batch on one 2-slot doc equals the queue's VALUE at
    float tolerance (accumulation order differs, so == is not
    expected)."""
    want = sloppy_phrase_freq([pa, pb], [0, delta], slop)
    got = sloppy_freq_batch(_slots([[pa, pb]]), [0, delta], slop)
    assert got.shape == (1,) and _close(want, got[0])


@settings(max_examples=200, deadline=None)
@given(
    docs=st.lists(
        st.tuples(positions, positions), min_size=1, max_size=12
    ),
    delta=st.integers(1, 4),
    slop=st.integers(0, 5),
    budget=st.sampled_from([7, 1 << 20]),
)
def test_sloppy_2slot_closed_batch_matches_queue(docs, delta, slop, budget):
    """Many 2-slot docs in one call equal the reference queue per doc,
    also with a tuple budget small enough to cut the work into pieces
    and to cut single docs."""
    got = sloppy_freq_batch(
        _slots([list(d) for d in docs]), [0, delta], slop, budget=budget
    )
    for i, (pa, pb) in enumerate(docs):
        want = sloppy_phrase_freq([list(pa), list(pb)], [0, delta], slop)
        assert _close(want, got[i])


def test_sloppy_2slot_closed_batch_custom_sf():
    """A custom vectorized sloppyFreq flows through the kernel; zero-
    weight in-window tuples must be indexed out, not multiplied
    (inf · 0.0 = NaN)."""

    def sf_np(d):
        return np.where(d > 1, 0.0, 0.5 / (d + 1.0))

    def sf(d):
        return 0.0 if d > 1 else 0.5 / (d + 1.0)

    pa = np.arange(0, 40, dtype=np.int64)  # 40 anchors -> 2^i weights
    pb = pa + 1
    got = sloppy_freq_batch(_slots([[pa, pb]]), [0, 1], 2, sf_np=sf_np)
    want = _closed_form(pa.tolist(), pb.tolist(), 1, 2, sf)
    assert np.isfinite(got[0]) and got[0] > 0
    assert _close(want, got[0])


def test_sloppy_2slot_hot_positions_feasible():
    """Hot docs (tf 40-80 in every slot, natural hot-hot text) compute
    in polynomial time instead of materializing the 2^tf-candidate
    queue, for two slots and for three."""
    pa = np.arange(0, 400, 10, dtype=np.int64)  # 40 positions
    got = sloppy_freq_batch(_slots([[pa, pa + 1]]), [0, 1], 2)
    assert np.isfinite(got[0]) and got[0] > 0
    rng = np.random.default_rng(3)
    docs = [
        [np.sort(rng.choice(2000, 80, replace=False)) for _ in range(3)]
        for _ in range(200)
    ]
    got = sloppy_freq_batch(_slots(docs), [0, 1, 2], 2)
    assert np.isfinite(got).all() and (got > 0).any()


def _sf_shifted(d):
    return 1.0 / (d + 2.0)


def _sf_zero_at_1(d):
    return np.where(d == 1, 0.0, 1.0 / (d + 1.0))


_SF = {  # vectorized sloppyFreq -> the scalar one the queue takes
    None: None,
    _sf_shifted: _sf_shifted,
    _sf_zero_at_1: lambda d: 0.0 if d == 1 else 1.0 / (d + 1.0),
}
_small_positions = st.lists(
    st.integers(min_value=1, max_value=30), min_size=0, max_size=5, unique=True
).map(sorted)


@settings(max_examples=300, deadline=None)
@given(
    data=st.data(),
    n_slots=st.integers(2, 4),
    gaps=st.lists(st.integers(1, 3), min_size=3, max_size=3),
    n_docs=st.integers(1, 6),
    slop=st.integers(0, 4),
    sf_np=st.sampled_from(list(_SF)),
    budget=st.sampled_from([1, 5, 1 << 20]),
)
def test_sloppy_freq_batch_matches_queue(
    data, n_slots, gaps, n_docs, slop, sf_np, budget
):
    """The n-slot kernel equals the reference queue per doc at 1e-9:
    2-4 slots, gapped offsets, slots sharing a term (the same position
    list twice), empty slots, a custom sloppyFreq and tuple budgets
    that cut the work down to single tuples."""
    offsets = [0] + np.cumsum(gaps[: n_slots - 1]).tolist()
    # slot t reads term term_of[t]; repeats model "a b a"-style phrases
    term_of = data.draw(
        st.lists(st.integers(0, n_slots - 1), min_size=n_slots, max_size=n_slots)
    )
    docs = []
    for _ in range(n_docs):
        terms = [data.draw(_small_positions) for _ in range(n_slots)]
        docs.append([terms[t] for t in term_of])
    got = sloppy_freq_batch(_slots(docs), offsets, slop, sf_np, budget=budget)
    for r, doc in enumerate(docs):
        want = (
            0.0
            if not all(doc)
            else sloppy_phrase_freq(doc, offsets, slop, sf=_SF[sf_np])
        )
        assert _close(want, got[r]), (doc, offsets, slop)


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
