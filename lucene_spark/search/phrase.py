"""Phrase frequency algorithms.

Reference: exact — Phrase.php:378-415; sloppy — Phrase.php:425-491 with
sloppyFreq(d)=1/(d+1) accumulation (DefaultSimilarity.php:62-65).

:func:`sloppy_phrase_freq` is the reference's candidate queue, verbatim:
the pure-Python model's scorer and the test oracle. The Spark executor
scores sloppy phrases with :func:`sloppy_freq_batch`, the queue's value in
closed form, polynomial in a doc's position counts.
"""

from __future__ import annotations

import numpy as np

from lucene_spark.search.similarity import sloppy_freq


class PhraseQueueBudgetExceeded(RuntimeError):
    """The reference queue (:func:`sloppy_phrase_freq`) exceeded its
    candidate budget. Only that queue raises it — the pure-Python model
    and test oracles; the Spark executor computes the same value with
    :func:`sloppy_freq_batch` and never builds the queue. Subclasses
    RuntimeError so broad handlers keep working."""


def exact_phrase_freq(positions: list[list[int]], offsets: list[int]) -> float:
    """Count alignments anchored on the rarest term's positions."""
    low = min(range(len(positions)), key=lambda i: len(positions[i]))
    others = [
        (i, set(positions[i])) for i in range(len(positions)) if i != low
    ]
    freq = 0
    for p in positions[low]:
        ok = True
        for i, pset in others:
            if p + (offsets[i] - offsets[low]) not in pset:
                ok = False
                break
        if ok:
            freq += 1
    return float(freq)


def sloppy_phrase_freq(
    positions: list[list[int]], offsets: list[int], slop: int, sf=None
) -> float:
    """Candidate-tuple construction + min-shift distance, verbatim
    semantics of the reference's incremental phrase queue. ``sf``
    overrides the sloppyFreq weighting (pluggable Similarity hook);
    default is the reference 1/(d+1)."""
    sf = sf or sloppy_freq
    phrase_queue: list[dict[int, int]] = [{}]
    last_term: int | None = None
    for term_id in range(len(positions)):
        first_pass = True
        for pos in positions[term_id]:
            # The queue MULTIPLIES candidates per position — the
            # reference's own algorithm is exponential in a doc's
            # position counts. Failing loudly beats an hours-long
            # hang / OOM.
            if len(phrase_queue) > QUEUE_CANDIDATE_BUDGET:
                raise PhraseQueueBudgetExceeded(
                    f"sloppy-phrase candidate queue exceeded "
                    f"{QUEUE_CANDIDATE_BUDGET} candidates (exponential "
                    f"in per-doc position counts; positions: "
                    f"{[len(p) for p in positions]})"
                )
            if first_pass:
                for cand in phrase_queue:
                    cand[term_id] = pos
            else:
                for cand in list(phrase_queue):
                    if last_term is not None and abs(
                        pos - cand[last_term] - (offsets[term_id] - offsets[last_term])
                    ) > slop:
                        continue
                    new = dict(cand)
                    new[term_id] = pos
                    phrase_queue.append(new)
            first_pass = False
        last_term = term_id
    freq = 0.0
    for cand in phrase_queue:
        min_distance = None
        for shift in range(-slop, slop + 1):
            distance = 0
            start = next(iter(cand.values())) - offsets[0] + shift
            for term_id in range(len(positions)):
                distance += abs(cand[term_id] - offsets[term_id] - start)
                if distance > slop:
                    break
            if min_distance is None or distance < min_distance:
                min_distance = distance
        if min_distance is not None and min_distance <= slop:
            freq += sf(min_distance)
    return freq


QUEUE_CANDIDATE_BUDGET = 4_000_000  # hard cap on materialized sloppy-
# queue candidates (~hundreds of MB of dicts)


def sloppy_freq_batch(
    slots, offsets: list[int], slop: int, sf_np=None, budget: int = 1 << 20
):
    """Sloppy phrase frequency of many docs at once: the VALUE of
    :func:`sloppy_phrase_freq`'s candidate queue for any number of slots,
    in closed form and with no per-doc Python.

    ``slots``: one ``(flat, starts, counts)`` per phrase slot; doc r's
    positions in the slot are ``flat[starts[r]:starts[r] + counts[r]]``,
    ascending (a repeated phrase word passes the same arrays twice).
    Returns per-doc frequencies as float64, 0 where a slot is empty.

    The queue holds 2^E copies of each position tuple (x_0..x_{n-1}) and
    adds sf(d) per copy whose min-shift distance d ≤ slop:
    - slot 0's i-th position appends one copy per earlier candidate, so
      an anchor starts at E = max(i − 1, 0);
    - a later slot's first position overwrites every candidate in place:
      E += 0, no window test;
    - its later position j copies every candidate whose previous-slot
      position is within slop of it; those j form one range lo..hi and
      the copies made at lo..j−1 are copied again, so E += j − lo;
    - d = Σ_t |y_t − median(y)| with y_t = x_t − off_t − (x_0 − off_0).
      As d ≥ |y_t|, a tuple is dropped once some |y_t| > slop, which
      leaves at most 2·slop + 2 choices per slot.

    Tuples grow slot by slot in doc order. A level holding more than
    ``budget`` tuples runs in pieces cut at doc boundaries (a doc over
    the budget alone is cut by its own counts), so a doc's float sum
    depends on its own positions only, never on the batch around it.
    Zero-weight tuples are indexed out (2^E overflows to inf past
    E ≈ 1023 and inf · 0 is NaN); totals clamp at 1.7e308.
    """
    if sf_np is None:

        def sf_np(d):
            return 1.0 / (d + 1.0)

    n_slots, n_docs = len(slots), len(slots[0][1])
    out = np.zeros(n_docs, dtype=np.float64)
    # each slot regathered doc by doc and keyed doc·2^32 + position, so
    # one searchsorted bounds a window in any doc (a bound past the doc's
    # ends falls among a neighbour's keys and is clipped back)
    pos, keys, first, end = [], [], [], []
    for flat, starts, counts in slots:
        counts = np.asarray(counts, dtype=np.int64)
        c0 = np.cumsum(counts) - counts
        p = np.asarray(flat, dtype=np.int64)[
            np.repeat(np.asarray(starts, dtype=np.int64) - c0, counts)
            + np.arange(int(counts.sum()), dtype=np.int64)
        ]
        doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), counts)
        pos.append(p)
        keys.append((doc_of << 32) + p)
        first.append(c0)
        end.append(c0 + counts)

    def grow(t, doc, e, base, ys):
        if not len(doc):
            return
        if t == n_slots:
            y = np.stack(ys, axis=1)
            med = np.sort(y, axis=1)[:, n_slots // 2]
            d = np.abs(y - med[:, None]).sum(axis=1)
            sel = np.flatnonzero(d <= slop)
            w = sf_np(d[sel].astype(np.float64))
            sel, w = sel[w != 0.0], w[w != 0.0]
            if len(sel):
                with np.errstate(over="ignore"):  # inf clamps at return
                    w = np.exp2(e[sel].astype(np.float64)) * w
                dd = doc[sel]
                out[dd[0] : dd[-1] + 1] += np.bincount(dd - dd[0], weights=w)
            return
        key, c, s = doc << 32, base + offsets[t], first[t][doc]
        y0 = pos[t][s] - c
        take0 = (np.abs(y0) <= slop).astype(np.int64)
        ks, hi_doc = keys[t], end[t][doc]
        # later positions in the previous slot's window, then in |y| ≤ slop
        win = key + c + ys[-1]
        w_lo = np.clip(np.searchsorted(ks, win - slop), s + 1, hi_doc)
        w_hi = np.clip(np.searchsorted(ks, win + slop, "right"), s + 1, hi_doc)
        lo = np.clip(np.searchsorted(ks, key + c - slop), w_lo, w_hi)
        hi = np.clip(np.searchsorted(ks, key + c + slop, "right"), lo, w_hi)
        m = take0 + hi - lo
        for a, b in _doc_pieces(doc, m, budget):
            mm = m[a:b]

            def rep(v):
                return np.repeat(v[a:b], mm)

            r = np.arange(int(mm.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(mm) - mm, mm
            )
            has0 = rep(take0)
            is0 = r < has0
            j = np.where(is0, rep(s), rep(lo) + r - has0)
            grow(
                t + 1,
                rep(doc),
                rep(e) + np.where(is0, 0, j - rep(w_lo)),
                rep(base),
                [rep(y) for y in ys] + [pos[t][j] - rep(c)],
            )

    # anchors: every slot-0 position of the docs where no slot is empty
    live = np.flatnonzero(np.all([e > f for f, e in zip(first, end)], axis=0))
    n0 = end[0][live] - first[0][live]
    i = np.arange(int(n0.sum()), dtype=np.int64)
    i -= np.repeat(np.cumsum(n0) - n0, n0)
    base = pos[0][np.repeat(first[0][live], n0) + i] - offsets[0]
    e0 = np.maximum(i - 1, 0)
    grow(1, np.repeat(live, n0), e0, base, [np.zeros_like(base)])
    return np.minimum(out, 1.7e308)


def _doc_pieces(doc, m, budget: int):
    """``(a, b)`` tuple ranges whose ``m`` sums stay within ``budget``,
    cut at the starts of docs (``doc`` ascending); a doc whose own sum
    exceeds the budget is cut by its own cumulative counts."""
    cum = np.cumsum(m)
    a, n = 0, len(m)
    while a < n:
        b = int(np.searchsorted(cum, cum[a] - m[a] + budget, "right"))
        if b < n:
            cut = int(np.searchsorted(doc, doc[b]))
            b = cut if cut > a else b
        b = max(b, a + 1)
        yield a, b
        a = b


def phrase_freq(
    positions: list[list[int]], offsets: list[int], slop: int, sf=None
) -> float:
    if slop == 0:
        return exact_phrase_freq(positions, offsets)
    return sloppy_phrase_freq(positions, offsets, slop, sf=sf)
