"""Seeded query-stream generator shared by every workload.

A query is a :class:`Spec` — shape, terms, score mode — printed to the
Lucene query syntax for the engine and scored from the structure by the
oracle. Terms are drawn from the corpus vocabulary by document-frequency
band, with a fixed band for every term slot of every shape, and shapes
come round-robin in a fixed order: a round has the same mix of shapes and
bands whatever the seed, so the seed changes which terms are asked for
but not what kind of work they need. A fixed share of queries re-issues
an earlier query of the same shape, so driver-side df-cache hits versus
first-seen terms are a property of the input, not of timing.

A warm-up round (one query of every shape in the stream, so Python
workers, kernels and the JIT are warm) is drawn first from its own bands;
where the vocabulary is large enough to hold such bands out, its terms are
then barred from fresh draws, so warm-up does not pre-fill the df cache
for measured terms.

The engine picks some plans by document frequency: a conjunction or
phrase whose rarest required term is in fewer than 1/256 of the docs
first narrows every decode to that term's doc ranges. The bands keep each
shape on one side of that line — ``phrase_sloppy3`` (rare first term) and
``conv_scoped`` (conversations of at most ``MAX_CONV_DOCS`` turns) on the
narrowed plan, the other phrases on the full decode — so the plan a shape
gets does not change with the seed.

Expansion shapes are kept to a few dictionary terms: the engine looks up
each expanded term separately, and the reference refuses more than 1024
terms per query (``w12*`` on a 300k-doc Zipf index exceeds it), which is
input misuse, not an engine failure.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

SHAPES = (
    "term", "and", "or", "not", "conv_scoped", "phrase", "phrase_sloppy",
    "phrase_sloppy3", "wildcard", "fuzzy", "range",
)
CLASSIC_SHAPES = ("term", "and", "or", "not")
# every REPEAT_EVERY-th query re-issues an earlier query of its shape
# (warm-up included); the slots rotate over the shapes from round to round
# because a round has len(SHAPES) = 11 queries
REPEAT_EVERY = 3
# band of each term slot; "later" is the band of a phrase's later terms,
# which are whatever follows its first term in a real doc
SHAPE_BANDS = {
    "term": ("hot",), "and": ("mid", "hot"), "or": ("hot", "mid", "rare"),
    "not": ("mid", "hot"), "conv_scoped": ("hot",),
    "phrase": ("mid", "later"), "phrase_sloppy": ("hot", "later"),
    "phrase_sloppy3": ("rare", "later", "later"),
    "wildcard": ("rare",), "fuzzy": ("mid",), "range": ("rare",),
}
PHRASE_FORM = {"phrase": 0, "phrase_sloppy": 2, "phrase_sloppy3": 2}  # slop
RANGE_TERMS = 4
MAX_CONV_DOCS = 12  # 12 × 256 ≤ the smallest index served (4,000 docs)
# sloppy-phrase queue candidates allowed per doc: the reference queue is
# exponential in per-doc position counts; hot Zipf terms overflow the
# engine's budget (PhraseQueueBudgetExceeded — a known failure kept out
# of the stream, see README.md)
MAX_QUEUE = 4096


@dataclass(frozen=True)
class Spec:
    shape: str
    terms: tuple[str, ...]
    mode: str = "bm25"
    slop: int = 0

    def text(self) -> str:
        t = self.terms
        if self.shape == "term":
            return f"text:{t[0]}"
        if self.shape == "and":
            return " ".join(f"+text:{x}" for x in t)
        if self.shape == "or":
            return " ".join(f"text:{x}" for x in t)
        if self.shape == "not":
            return f"+text:{t[0]} -text:{t[1]}"
        if self.shape.startswith("phrase"):
            return f'text:"{" ".join(t)}"' + (f"~{self.slop}" if self.slop else "")
        if self.shape == "wildcard":
            return f"text:{t[0]}*"
        if self.shape == "fuzzy":
            return f"text:{t[0]}~"
        if self.shape == "range":
            return f"text:[{t[0]} TO {t[1]}]"
        if self.shape == "conv_scoped":
            return f"+conv_id:{t[0]} +text:{t[1]}"
        raise ValueError(self.shape)


class QueryStream:
    """Deterministic stream of :class:`Spec` over an oracle's corpus.

    ``bands`` maps each band name of ``SHAPE_BANDS`` to a [lo, hi) rank
    range of the df-sorted vocabulary (terms with df ≥ 2). Narrow ranges
    keep the cost of a band's terms alike; on Zipf text the top two terms,
    in most docs, are left out. ``warm_bands`` are the ranges the warm-up
    round draws from; when given, its terms are held out of the measured
    stream (default: ``bands``, nothing held out). ``expansion`` maps ``wildcard``
    and ``fuzzy`` to the (min, max) number of terms they may expand to,
    and a range covers ``RANGE_TERMS`` terms: each expanded term costs the
    engine a lookup, so a fixed size keeps that cost from varying with the
    seed. ``shapes`` is the round the stream cycles through; in each round
    one of its ``CLASSIC_SHAPES``, in rotation, scores classic.
    """

    def __init__(self, oracle, seed: int, bands: dict[str, tuple[int, int]],
                 expansion: dict[str, tuple[int, int]],
                 warm_bands: dict[str, tuple[int, int]] | None = None,
                 shapes: tuple[str, ...] = SHAPES):
        self.o = oracle
        self.shapes = shapes
        self.expansion = expansion
        self.blocks = 0
        self.n_issued = 0
        self.rng = np.random.default_rng([seed, 3])
        vocab = [t for t in oracle.corpus.vocab if oracle.df(t) >= 2]
        vocab.sort(key=lambda t: (-oracle.df(t), t))
        self.bands = {b: vocab[lo:hi] for b, (lo, hi) in bands.items()}
        self.warm_bands = {b: vocab[lo:hi] for b, (lo, hi) in (warm_bands or bands).items()}
        self.holdout = warm_bands is not None
        self.barred: set[str] = set()
        self.issued: dict[str, list[Spec]] = {s: [] for s in SHAPES}
        self._block: list[str] = []

    # ------------------------------------------------------------ public
    def warmup(self) -> list[Spec]:
        """One query of every shape from the warm-up bands; on a held-out
        stream their terms are barred from later fresh draws."""
        measured, self.bands = self.bands, self.warm_bands
        specs = [self._fresh(s) for s in self.shapes]
        self.bands = measured
        for sp in specs:
            self.issued[sp.shape].append(sp)
            if self.holdout:
                self.barred.update(sp.terms)
        return specs

    def next(self) -> Spec:
        if not self._block:
            self._block = list(reversed(self.shapes))
            self.blocks += 1
        shape = self._block.pop()
        past = self.issued[shape]
        self.n_issued += 1
        if past and self.n_issued % REPEAT_EVERY == 0:
            return past[int(self.rng.integers(len(past)))]
        sp = self._fresh(shape)
        classic = [s for s in self.shapes if s in CLASSIC_SHAPES]
        if classic and shape == classic[self.blocks % len(classic)]:
            sp = Spec(sp.shape, sp.terms, "classic", sp.slop)
        past.append(sp)
        return sp

    # ----------------------------------------------------------- drawing
    def _term(self, band: str, exclude=()) -> str:
        ts = self.bands[band]
        for _ in range(200):
            t = ts[int(self.rng.integers(len(ts)))]
            if t not in self.barred and t not in exclude:
                return t
        raise RuntimeError("query generator ran out of terms")

    def _fresh(self, shape: str) -> Spec:
        for _ in range(2000):
            sp = self._try(shape)
            if sp is not None:
                return sp
        raise RuntimeError(f"query generator found no {shape} query")

    def _try(self, shape: str) -> Spec | None:
        o, rng, bands = self.o, self.rng, SHAPE_BANDS[shape]
        if shape in CLASSIC_SHAPES:
            terms: list[str] = []
            for band in bands:
                terms.append(self._term(band, exclude=terms))
            return Spec(shape, tuple(terms))
        if shape in PHRASE_FORM:
            terms = self._window(bands, PHRASE_FORM[shape])
            if terms is None or (len(terms) > 2 and not self._queue_ok(terms)):
                return None
            return Spec(shape, terms, slop=PHRASE_FORM[shape])
        if shape in ("wildcard", "fuzzy"):
            t = self._term(bands[0])
            if shape == "fuzzy":
                sp = Spec("fuzzy", (t,))
            else:
                if len(t) < 4:
                    return None
                sp = Spec("wildcard", (t[: int(rng.integers(3, len(t)))],))
            lo, hi = self.expansion[shape]
            return sp if lo <= len(o.expand(sp)) <= hi else None
        if shape == "range":
            v = o.vocab_sorted
            i = v.index(self._term(bands[0]))
            if i + RANGE_TERMS > len(v) or self.barred.intersection(v[i:i + RANGE_TERMS]):
                return None
            return Spec("range", (v[i], v[i + RANGE_TERMS - 1]))
        if shape == "conv_scoped":
            c = o.corpus
            doc = int(rng.integers(c.n_docs))
            if len(o.conv_docs(c.conv_ids[doc])) > MAX_CONV_DOCS:
                return None
            ok = set(self.bands[bands[0]]) - self.barred
            words = [w for w in (c.vocab[x] for x in c.tokens[doc]) if w in ok]
            if not words:
                return None
            return Spec("conv_scoped", (c.conv_ids[doc], words[int(rng.integers(len(words)))]))
        raise ValueError(shape)

    def _window(self, bands: tuple[str, ...], slop: int) -> tuple[str, ...] | None:
        """Distinct terms seen within ``slop`` + 1 of each other in a real
        doc, each from its slot's band, so the phrase has at least one
        hit."""
        o, rng, c = self.o, self.rng, self.o.corpus
        first = self._term(bands[0])
        docs, _tf = o.postings(first)
        doc = int(docs[int(rng.integers(len(docs)))])
        toks = c.tokens[doc]
        p = int(rng.choice(np.flatnonzero(toks == c.term_id[first])))
        out = [first]
        for band in bands[1:]:
            p += 1 + int(rng.integers(0, slop + 1))
            if p >= len(toks):
                return None
            w = c.vocab[toks[p]]
            if w in out or w in self.barred or w not in self.bands[band]:
                return None
            out.append(w)
        return tuple(out)

    def _queue_ok(self, terms: tuple[str, ...]) -> bool:
        """Bound the reference sloppy queue on every candidate doc: each
        term's positions after its first at most double the candidates."""
        posts = [self.o.postings(t) for t in terms]
        common = posts[0][0]
        for d, _ in posts[1:]:
            common = np.intersect1d(common, d, assume_unique=True)
        doublings = sum(tf[np.searchsorted(d, common)] - 1 for d, tf in posts)
        return bool(np.all(doublings <= np.log2(MAX_QUEUE)))
