"""Expected top-k answers, computed from the generated corpus alone.

The oracle never touches Spark or the executor's plans: it holds its own
numpy inverted index over :class:`corpus.Corpus` token arrays and scores
query specs (:class:`queries.Spec`) directly — the structure the query
string was printed from, not a parse of it. Scoring follows the engine's
documented formulas (``lucene_spark.search.similarity``):

- BM25: ``Σ boost·ln(1+(N−df+0.5)/(df+0.5))·tf(k1+1)/(tf+k1(1−b+b·dl/avgdl))``
  over matched non-prohibited leaves; a phrase scores its phrase freq with
  the rarest term's df.
- classic (term and boolean shapes only): ``sqrt(tf)·idf²·queryNorm·norm``
  with the 1-byte norm codebook, ``coord`` for optional clauses, and
  top-score normalization.

Statistics (``N``, ``df``, ``avgdl``) count logically deleted docs, as the
engine does until an optimize; deleted docs are only dropped from hits.
Exact and two-term sloppy phrase frequencies are computed here; sloppy
phrases of three terms use the reference queue
(``lucene_spark.search.phrase.sloppy_phrase_freq``, the pure-Python
model's path), which the query generator keeps small.
"""

from __future__ import annotations

import math

import numpy as np

from lucene_spark.codec.norms import decode_norm_array, encode_norm_array
from lucene_spark.search.phrase import sloppy_phrase_freq

K1, B = 1.2, 0.75
FUZZY_MIN_SIM = 0.5
FUZZY_PREFIX = 3
SCORE_TOL = 1e-6


def bm25_idf(df, n):
    return np.log(1.0 + (n - df + 0.5) / (df + 0.5))


def classic_idf(df, n):
    return np.log(n / (df + 1.0)) + 1.0


def fuzzy_similarity(word: str, text: str) -> float:
    """The reference's fuzzy similarity for a term sharing the prefix."""
    prefix = word[:FUZZY_PREFIX]
    p = len(prefix)
    rest, target = word[p:], text[p:]
    if not rest:
        return 0.0 if p == 0 else 1.0 - len(target) / p
    if not target:
        return 0.0 if p == 0 else 1.0 - len(rest) / p
    if int((1.0 - FUZZY_MIN_SIM) * (min(len(rest), len(target)) + p)) < abs(len(rest) - len(target)):
        return 0.0
    return 1.0 - _edit_distance(rest, target) / (p + min(len(rest), len(target)))


def _edit_distance(a: str, b: str) -> int:
    row = np.arange(len(b) + 1)
    for i, ca in enumerate(a, 1):
        prev, row = row, np.empty_like(row)
        row[0] = i
        for j, cb in enumerate(b, 1):
            row[j] = min(prev[j] + 1, row[j - 1] + 1, prev[j - 1] + (ca != cb))
    return int(row[-1])


class Oracle:
    """Inverted index over a corpus snapshot; call :meth:`refresh` after
    the corpus grows or docs are deleted."""

    def __init__(self, corpus):
        self.corpus = corpus
        self.deleted: set[int] = set()
        self.refresh()

    def refresh(self) -> None:
        c = self.corpus
        lens = np.fromiter((len(t) for t in c.tokens), np.int64, c.n_docs)
        docs = np.repeat(np.arange(c.n_docs, dtype=np.int64), lens)
        terms = np.concatenate(c.tokens) if c.tokens else np.zeros(0, np.int64)
        pos = np.arange(len(terms)) - np.repeat(np.cumsum(lens) - lens, lens) + 1
        order = np.lexsort((pos, docs, terms))
        self._t, self._d, self._p = terms[order], docs[order], pos[order]
        self._starts = np.searchsorted(self._t, np.arange(len(c.vocab) + 1))
        first = np.ones(len(terms), bool)
        first[1:] = (self._t[1:] != self._t[:-1]) | (self._d[1:] != self._d[:-1])
        self._df = np.bincount(self._t[first], minlength=len(c.vocab))
        self.dl = lens
        self.n = c.n_docs
        self.avgdl = lens[lens > 0].mean()
        self.norm = decode_norm_array(encode_norm_array(1.0 / np.sqrt(np.maximum(lens, 1))))
        convs = np.asarray(c.conv_ids)
        self._conv_sorted = np.argsort(convs, kind="stable")
        self._conv_keys = convs[self._conv_sorted]
        self.vocab_sorted = sorted(t for t, df in zip(c.vocab, self._df) if df > 0)

    # ---------------------------------------------------------- postings
    def postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(sorted doc ids, tf) of a text term."""
        tid = self.corpus.term_id.get(term)
        if tid is None:
            return np.zeros(0, np.int64), np.zeros(0, np.int64)
        d = self._d[self._starts[tid]:self._starts[tid + 1]]
        docs, tf = np.unique(d, return_counts=True)
        return docs, tf

    def positions(self, term: str, doc: int) -> list[int]:
        tid = self.corpus.term_id[term]
        lo, hi = self._starts[tid], self._starts[tid + 1]
        d = self._d[lo:hi]
        a, b = np.searchsorted(d, doc), np.searchsorted(d, doc, side="right")
        return self._p[lo:hi][a:b].tolist()

    def df(self, term: str) -> int:
        tid = self.corpus.term_id.get(term)
        return 0 if tid is None else int(self._df[tid])

    def conv_docs(self, conv: str) -> np.ndarray:
        a = np.searchsorted(self._conv_keys, conv)
        b = np.searchsorted(self._conv_keys, conv, side="right")
        return np.sort(self._conv_sorted[a:b])

    # --------------------------------------------------------- expansion
    def expand(self, spec) -> list[tuple[str, float]]:
        """Terms (with clause boosts) a wildcard/fuzzy/range spec covers."""
        v = self.vocab_sorted
        if spec.shape == "wildcard":
            pre = spec.terms[0]
            i = np.searchsorted(v, pre)
            out = []
            while i < len(v) and v[i].startswith(pre):
                out.append((v[i], 1.0))
                i += 1
            return out
        if spec.shape == "range":
            lo, hi = spec.terms
            return [(t, 1.0) for t in v[np.searchsorted(v, lo):np.searchsorted(v, hi, side="right")]]
        if spec.shape == "fuzzy":
            word = spec.terms[0]
            pre = word[:FUZZY_PREFIX]
            out = []
            for t in v[np.searchsorted(v, pre):]:
                if not t.startswith(pre):
                    break
                sim = fuzzy_similarity(word, t)
                if sim > FUZZY_MIN_SIM:
                    out.append((t, (sim - FUZZY_MIN_SIM) / (1.0 - FUZZY_MIN_SIM)))
            if len(out) == 1:  # a single match rewrites to an unboosted term
                out = [(out[0][0], 1.0)]
            return out
        raise ValueError(spec.shape)

    # ----------------------------------------------------------- scoring
    def _bm25(self, term: str, boost: float = 1.0) -> tuple[np.ndarray, np.ndarray]:
        docs, tf = self.postings(term)
        dl = self.dl[docs]
        part = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
        return docs, boost * bm25_idf(len(docs), self.n) * part

    def _sum(self, parts, required=(), prohibited=()) -> dict[int, float]:
        acc: dict[int, float] = {}
        for docs, sc in parts:
            for d, s in zip(docs.tolist(), sc.tolist()):
                acc[d] = acc.get(d, 0.0) + s
        for req in required:
            keep = set(req.tolist())
            acc = {d: s for d, s in acc.items() if d in keep}
        for pro in prohibited:
            for d in pro.tolist():
                acc.pop(d, None)
        return acc

    def scores(self, spec) -> dict[int, float]:
        """doc → score over every matching live doc."""
        if spec.mode == "classic":
            out = self._classic(spec)
        else:
            out = self._bm25_scores(spec)
        out = {d: s for d, s in out.items() if s != 0.0 and d not in self.deleted}
        if spec.mode == "classic" and out:
            top = max(out.values())
            if top > 1.0:
                out = {d: s / top for d, s in out.items()}
        return out

    def _bm25_scores(self, spec) -> dict[int, float]:
        sh, ts = spec.shape, spec.terms
        if sh == "term":
            return self._sum([self._bm25(ts[0])])
        if sh == "or":
            return self._sum([self._bm25(t) for t in ts])
        if sh == "and":
            parts = [self._bm25(t) for t in ts]
            return self._sum(parts, required=[p[0] for p in parts])
        if sh == "not":
            return self._sum([self._bm25(ts[0])], prohibited=[self.postings(ts[1])[0]])
        if sh == "conv_scoped":
            cdocs = self.conv_docs(ts[0])
            conv = (cdocs, np.full(len(cdocs), bm25_idf(len(cdocs), self.n)))
            text = self._bm25(ts[1])
            return self._sum([conv, text], required=[cdocs, text[0]])
        if sh in ("wildcard", "range", "fuzzy"):
            return self._sum([self._bm25(t, b) for t, b in self.expand(spec)])
        if sh.startswith("phrase"):
            return self._phrase(spec)
        raise ValueError(sh)

    def _phrase(self, spec) -> dict[int, float]:
        ts = spec.terms
        posts = [self.postings(t)[0] for t in ts]
        cand = posts[0]
        for p in posts[1:]:
            cand = np.intersect1d(cand, p, assume_unique=True)
        idf = bm25_idf(min(len(p) for p in posts), self.n)
        offsets = list(range(len(ts)))
        out = {}
        for d in cand.tolist():
            pos = [self.positions(t, d) for t in ts]
            if spec.slop == 0:
                later = [set(p) for p in pos[1:]]
                freq = sum(all(p + i + 1 in s for i, s in enumerate(later)) for p in pos[0])
            elif len(ts) == 2:
                freq = _sloppy_pair_freq(pos[0], pos[1], spec.slop)
            else:
                freq = sloppy_phrase_freq(pos, offsets, spec.slop)
            if freq:
                dl = self.dl[d]
                out[d] = idf * freq * (K1 + 1.0) / (freq + K1 * (1.0 - B + B * dl / self.avgdl))
        return out

    def _classic(self, spec) -> dict[int, float]:
        sh, ts = spec.shape, spec.terms
        signs = {"term": [True], "and": [True] * len(ts), "or": [None] * len(ts),
                 "not": [True, False]}[sh]
        idfs = [classic_idf(self.df(t), self.n) for t in ts]
        ssw = sum(i * i for i, s in zip(idfs, signs) if s is not False)
        qn = 1.0 / math.sqrt(ssw)
        max_coord = sum(s is not False for s in signs)
        acc: dict[int, list[float]] = {}
        for t, idf, s in zip(ts, idfs, signs):
            if s is False:
                continue
            docs, tf = self.postings(t)
            vals = np.sqrt(tf) * idf * idf * qn * self.norm[docs]
            for d, v in zip(docs.tolist(), vals.tolist()):
                acc.setdefault(d, []).append(v)
        prohibited = set(self.postings(ts[1])[0].tolist()) if sh == "not" else set()
        out = {}
        for d, vals in acc.items():
            if d in prohibited or (sh == "and" and len(vals) < len(ts)):
                continue
            out[d] = sum(vals) * (len(vals) / max_coord if None in signs else 1.0)
        return out

    # ------------------------------------------------------------- check
    def check(self, spec, rows: list[tuple[int, float]], k: int) -> str | None:
        """None when ``rows`` is a correct top-k, else what is wrong.

        Ties make the doc-id set of a top-k ambiguous at the cut, so the
        check is: every returned doc matches with its true score, ids are
        distinct, and the returned score list equals the true top-k score
        list — no better-scoring doc was left out.
        """
        truth = self.scores(spec)
        want = sorted(truth.values(), reverse=True)[:k]
        if len(rows) != len(want):
            return f"{len(rows)} hits, expected {len(want)}"
        if len({d for d, _ in rows}) != len(rows):
            return "duplicate doc ids"
        for (d, s), w in zip(rows, want):
            if d not in truth:
                return f"doc {d} should not match"
            if not (_close(s, truth[d]) and _close(s, w)):
                return f"doc {d} score {s!r}, true {truth[d]!r}, rank wants {w!r}"
        return None


def _sloppy_pair_freq(a: list[int], b: list[int], slop: int) -> float:
    """The reference queue's two-term sloppy frequency, summed without
    building the queue (which is exponential in position counts).

    The queue holds the i-th position of the first term ``2^(i-1)`` times
    (once for i = 0). The second term's first position is set on every
    candidate; each later position within ``slop`` of a candidate's anchor
    copies that candidate, so an anchor's copies double per in-window
    position. A candidate adds ``1/(d+1)`` for ``d = |b − a − 1| <= slop``.
    """
    freq = 0.0
    for i, pa in enumerate(a):
        w = 1.0 if i == 0 else 2.0 ** (i - 1)
        d0 = abs(b[0] - pa - 1)
        acc = 1.0 / (d0 + 1) if d0 <= slop else 0.0
        copies = 1.0
        for pb in b[1:]:
            d = abs(pb - pa - 1)
            if d <= slop:
                acc += copies / (d + 1)
                copies *= 2.0
        freq += w * acc
    return freq


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= SCORE_TOL * max(1.0, abs(b))
