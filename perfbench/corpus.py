"""Seeded corpus generators and the tokenized view the oracle reads.

Two corpus shapes, both built in the driver from ``numpy`` draws so the
same seed always gives the same rows:

- ``transcripts``: conversation turns over a 31-word vocabulary, drawn
  uniformly, 24 tokens a turn with shorter conversation tails. Every term
  sits in about half the turns, so scoring and phrase kernels carry the
  cost and dictionary work is negligible.
- ``zipf``: the ``tools/wand_bench.py`` shape — Zipf(1.25) draws from a
  30,000-term vocabulary with log-normal document lengths — grouped into
  8-doc conversations. Tail terms make rewrite and per-query scheduling
  dominate; head terms keep some long decodes.

Rows come out sorted by ``(conv_id, turn_idx)``, which is the order in
which ``build_index`` assigns dense doc ids, so row ``i`` is doc ``i``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

TRANSCRIPT_WORDS = (
    "table spark vector window order fast value query index search token "
    "merge batch shard cache score field phrase block delta range plan scan "
    "join sort group stream write read node task"
).split()
TURN_TOKENS = 24
ZIPF_VOCAB = 30_000
ZIPF_A = 1.25
ZIPF_DOCS_PER_CONV = 8


@dataclass
class Corpus:
    """Generated rows plus the tokenized arrays the oracle scores from.

    ``tokens[i]`` holds doc ``i``'s term ids in position order; ``vocab``
    maps a term id to its text. Docs appended later extend every list.
    """

    conv_ids: list[str]
    turn_idx: np.ndarray
    texts: list[str]
    tokens: list[np.ndarray]
    vocab: list[str]
    term_id: dict[str, int] = field(default_factory=dict)

    def __post_init__(self):
        self.term_id = {t: i for i, t in enumerate(self.vocab)}

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "conv_id": self.conv_ids,
                "turn_idx": self.turn_idx.astype(np.int32),
                "text": self.texts,
            }
        )

    def input_bytes(self) -> int:
        return sum(len(t) for t in self.texts) + sum(len(c) for c in self.conv_ids)

    def extend(self, other: "Corpus") -> None:
        """Append ``other``'s docs (ids continue after this corpus)."""
        remap = np.array([self._intern(t) for t in other.vocab], dtype=np.int64)
        self.conv_ids += other.conv_ids
        self.turn_idx = np.concatenate([self.turn_idx, other.turn_idx])
        self.texts += other.texts
        self.tokens += [remap[t] for t in other.tokens]

    def _intern(self, term: str) -> int:
        tid = self.term_id.get(term)
        if tid is None:
            tid = self.term_id[term] = len(self.vocab)
            self.vocab.append(term)
        return tid


def _texts(vocab: list[str], tokens: list[np.ndarray]) -> list[str]:
    words = np.asarray(vocab, dtype=object)
    return [" ".join(words[t]) for t in tokens]


def transcripts(seed: int, n_turns: int, conv_prefix: str = "c") -> Corpus:
    rng = np.random.default_rng([seed, 1])
    sizes: list[int] = []
    while sum(sizes) < n_turns:
        sizes.append(int(rng.integers(8, 41)))
    sizes[-1] -= sum(sizes) - n_turns
    conv_ids, turn_idx, tokens = [], [], []
    for c, size in enumerate(sizes):
        for t in range(size):
            n = TURN_TOKENS if t < size - 1 else int(rng.integers(4, TURN_TOKENS + 1))
            tokens.append(rng.integers(0, len(TRANSCRIPT_WORDS), n))
            conv_ids.append(f"{conv_prefix}{c:06d}")
            turn_idx.append(t)
    vocab = list(TRANSCRIPT_WORDS)
    return Corpus(conv_ids, np.asarray(turn_idx), _texts(vocab, tokens), tokens, vocab)


def zipf(seed: int, n_docs: int) -> Corpus:
    rng = np.random.default_rng([seed, 2])
    lens = np.clip(rng.lognormal(3.0, 1.0, n_docs).astype(np.int64) + 3, 3, 2000)
    draws = rng.zipf(ZIPF_A, int(lens.sum())) % ZIPF_VOCAB
    # compact the ids of the terms that occur to 0..V-1
    present, dense = np.unique(draws, return_inverse=True)
    vocab = [f"w{v}" for v in present]
    tokens = np.split(dense.astype(np.int64), np.cumsum(lens)[:-1])
    conv = np.arange(n_docs) // ZIPF_DOCS_PER_CONV
    return Corpus(
        [f"z{c:06d}" for c in conv],
        np.arange(n_docs) % ZIPF_DOCS_PER_CONV,
        _texts(vocab, tokens),
        tokens,
        vocab,
    )
