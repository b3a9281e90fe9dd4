"""Round-4 query-tree fuzzer: N random boolean/phrase/range/wildcard/
fuzzy trees over two differently-shaped corpora, model <-> Spark score
equality in BOTH score modes, with the pruning strategies forced in
rotation and the conjunction and phrase cogroup kernels driven
directly on eligible shapes — the standing defense of strategy
agreement (round-3 verdict item 7).

Determinism: every case derives from a numpy seed, and the SAME seed
builds the query twice (once per reader), so model and Spark always see
identical fresh trees. Set LUCENE_SPARK_FUZZ_N to scale the case count
(default 200 across the two corpora)."""

import os

import numpy as np
import pytest

from lucene_spark.search.executor import (
    SparkSearcher,
    topk_and_cogrouped,
    topk_phrase_cogrouped,
)
from lucene_spark.search.query import (
    BooleanQuery,
    FuzzyQuery,
    MultiTermQuery,
    PhraseQuery,
    RangeQuery,
    Term,
    TermQuery,
    WildcardQuery,
)
from lucene_spark.search.similarity import bm25_idf

N_CASES = int(os.environ.get("LUCENE_SPARK_FUZZ_N", "200"))
K = 10
PRUNING_CYCLE = ("off", "auto", "force")


@pytest.fixture(scope="module")
def zipf_corpus(spark, tmp_path_factory):
    """Second corpus shape: heavier Zipf skew, shorter docs, a few very
    hot words — the regime where block pruning and the cogroup kernels
    actually route differently from the transcripts corpus."""
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.model import PyIndex

    rng = np.random.default_rng(20260818)
    vocab = [
        "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta",
        "kappa", "sigma", "omega", "query", "spark", "index", "merge",
        "table", "value", "fast", "slow", "hot", "cold", "rare",
        "common", "stream", "batch", "shard",
    ]
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.4
    w /= w.sum()
    rows = []
    for i in range(240):
        n = int(rng.integers(3, 18))
        words = rng.choice(vocab, size=n, p=w)
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path_factory.mktemp("fuzz_zipf"))
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=64)
    ix = build_index(spark, df, d, cfg, order_cols=["doc_id"])
    m = PyIndex(field_policy={"text": "text"})
    for _i, text in rows:
        m.add_document({"text": text})
    return ix, m, vocab, rows


def _rand_query(rng: np.random.Generator, vocab: list[str], depth: int = 0):
    """One random query node; recursion bounded at depth 2."""
    choice = rng.random()
    if depth < 2 and choice < 0.35:
        q = BooleanQuery()
        n = int(rng.integers(2, 5))
        signs = []
        for _ in range(n):
            signs.append(
                (True, False, None)[int(rng.integers(0, 3))]
            )
        if not any(s is not False for s in signs):
            signs[0] = True  # all-prohibited optimizes to EmptyResult
        for s in signs:
            q.add_subquery(_rand_query(rng, vocab, depth + 1), s)
        return q
    if choice < 0.55:
        t = TermQuery(Term(str(rng.choice(vocab + ["zzznope"])), "text"))
        if rng.random() < 0.3:
            t.boost = float(np.round(rng.uniform(0.25, 3.0), 2))
        return t
    if choice < 0.7:
        words = rng.choice(vocab, size=int(rng.integers(2, 4)), replace=False)
        slop = int(rng.integers(0, 4)) if rng.random() < 0.5 else 0
        return PhraseQuery([Term(str(x), "text") for x in words], slop=slop)
    if choice < 0.8:
        lo, hi = sorted(rng.choice(vocab, size=2, replace=False))
        return RangeQuery(
            Term(str(lo), "text"), Term(str(hi), "text"),
            bool(rng.random() < 0.7),
        )
    if choice < 0.9:
        word = str(rng.choice([v for v in vocab if len(v) >= 5]))
        cut = int(rng.integers(3, len(word)))  # >= min_prefix_length
        return WildcardQuery(Term(word[:cut] + "*", "text"))
    word = str(rng.choice(vocab))
    return FuzzyQuery(
        Term(word, "text"),
        float(rng.choice([0.4, 0.5, 0.6])),
        prefix_length=int(rng.integers(0, 3)),
    )


def _model_pairs(model, q, mode):
    return [(h.doc_id, h.score) for h in model.find(q, score_mode=mode)]


def _assert_case(ix, model, vocab, seed, mode, pruning):
    q_model = _rand_query(np.random.default_rng(seed), vocab)
    q_spark = _rand_query(np.random.default_rng(seed), vocab)
    want = _model_pairs(model, q_model, mode)
    got = [
        (r["doc_id"], r["score"])
        for r in SparkSearcher(ix)
        .search(q_spark, k=K, score_mode=mode, pruning=pruning)
        .collect()
    ]
    ctx = (seed, mode, pruning, str(q_model))
    assert len(got) == min(K, len(want)), ctx
    want_scores = sorted((s for _d, s in want), reverse=True)[: len(got)]
    got_scores = sorted((s for _d, s in got), reverse=True)
    for g, w in zip(got_scores, want_scores):
        assert g == pytest.approx(w, abs=1e-6), ctx
    lookup = dict(want)
    for d, s in got:
        assert d in lookup, ctx
        assert s == pytest.approx(lookup[d], abs=1e-6), ctx


def _kernel_rotation(ix, model, q_opt, want, seed):
    """Drive the specialized kernels directly on eligible optimized
    shapes and require the same top-k scores as the model."""
    checked = []

    def check(name, df):
        got = sorted(
            (r["score"] for r in df.collect()), reverse=True
        )
        want_scores = sorted((s for _d, s in want), reverse=True)[: len(got)]
        assert len(got) == min(K, len(want)), (name, seed)
        for g, w in zip(got, want_scores):
            assert g == pytest.approx(w, abs=1e-6), (name, seed)
        checked.append(name)

    if isinstance(q_opt, MultiTermQuery):
        signs = q_opt.signs
        active = [
            (t, True if signs is None else signs[i])
            for i, t in enumerate(q_opt.terms)
        ]
        scorable = [(t, s) for t, s in active if s is not False]
        pro = [t for t, s in active if s is False]
        # kernel contract (executor.py topk_and_cogrouped): unique
        # scorable terms, scorable ∩ prohibited empty — the engine's
        # query layer routes other shapes to the exact path
        keys = [(t.field, t.text) for t, _s in scorable]
        pro_keys = {(t.field, t.text) for t in pro}
        if scorable and len(set(keys)) == len(keys) and not (
            set(keys) & pro_keys
        ):
            terms = [t for t, _s in scorable]
            weights = [
                q_opt.boost * bm25_idf(ix.doc_freq(t), ix.n_docs)
                for t in terms
            ]
            required = [s is True or signs is None for _t, s in scorable]
            df, _ = topk_and_cogrouped(
                ix, terms, weights, required, pro, k=K
            )
            check("cogroup", df)
    elif isinstance(q_opt, PhraseQuery) and len(q_opt.terms) >= 2:
        df, _ = topk_phrase_cogrouped(ix, q_opt, k=K)
        check("phrase_cogroup", df)
    return checked


@pytest.mark.parametrize("corpus_name", ["transcripts", "zipf"])
def test_fuzz_model_spark_equality(
    corpus_name, spark_index, model_index, zipf_corpus, request
):
    if corpus_name == "transcripts":
        ix, model = spark_index, model_index
        vocab = [
            "spark", "index", "term", "query", "search", "merge",
            "segment", "token", "posting", "score", "rank", "table",
            "vector", "filter", "phrase", "value", "fast", "cache",
        ]
        base_seed = 10_000
    else:
        ix, model, vocab, _rows = zipf_corpus
        base_seed = 20_000
    n = N_CASES // 2
    kernel_checks = 0
    for i in range(n):
        seed = base_seed + i
        mode = "bm25" if i % 2 == 0 else "classic"
        pruning = PRUNING_CYCLE[i % 3] if mode == "bm25" else "off"
        _assert_case(ix, model, vocab, seed, mode, pruning)
        # every 4th bm25 case: drive the specialized kernels directly
        # on the optimized shape (cogroup / phrase_cogroup) against the
        # same model oracle
        if mode == "bm25" and i % 4 == 0:
            q = _rand_query(np.random.default_rng(seed), vocab)
            q_opt = q.rewrite(ix).optimize(ix)
            want = _model_pairs(model, _rand_query(
                np.random.default_rng(seed), vocab), "bm25")
            kernel_checks += len(
                _kernel_rotation(ix, model, q_opt, want, seed)
            )
    # the rotation must actually fire (eligible shapes are common);
    # threshold scales with the case budget so a small smoke run passes
    assert kernel_checks >= max(1, n // 30), (kernel_checks, n)


# ---------------------------------------------------- round-5 additions


def _assert_pairs_match(got, want, ctx):
    """Same contract as _assert_case's comparison: top-k size, score
    multiset at 1e-6, and every returned doc present in the model's
    result with its model score."""
    assert len(got) == min(K, len(want)), ctx
    want_scores = sorted((s for _d, s in want), reverse=True)[: len(got)]
    got_scores = sorted((s for _d, s in got), reverse=True)
    for g, w in zip(got_scores, want_scores):
        assert g == pytest.approx(w, abs=1e-6), ctx
    lookup = dict(want)
    for d, s in got:
        assert d in lookup, ctx
        assert s == pytest.approx(lookup[d], abs=1e-6), ctx


def test_fuzz_multishard(spark, zipf_corpus, tmp_path_factory):
    """Round-5: the same fuzz trees through a 3-shard MultiSearcher
    with global stats. The shards split the corpus into CONTIGUOUS
    doc ranges in order, so MultiSearcher's offset-shifted global ids
    equal the model's ids and (doc_id, score) parity is exact —
    including wildcard/fuzzy/range trees, which rewrite once against
    the merged cross-shard dictionary."""
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.search.multi import MultiSearcher

    _ix, model, vocab, rows = zipf_corpus
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=64)
    cuts = [(0, 80), (80, 160), (160, 240)]
    shards = []
    for si, (lo, hi) in enumerate(cuts):
        # rename the global id: build_index must assign DENSE 0-based
        # local ids per shard (ordered by the old id), so that
        # MultiSearcher's offset shift reproduces the global numbering
        df = spark.createDataFrame(
            [r for r in rows if lo <= r[0] < hi], "old_id long, text string"
        )
        d = str(tmp_path_factory.mktemp(f"fuzz_shard{si}"))
        shards.append(build_index(spark, df, d, cfg, order_cols=["old_id"]))
    ms = MultiSearcher(shards)
    assert ms.total_docs == len(rows)
    n = max(12, N_CASES // 8)
    for i in range(n):
        seed = 50_000 + i
        mode = "bm25" if i % 2 == 0 else "classic"
        q_model = _rand_query(np.random.default_rng(seed), vocab)
        q_spark = _rand_query(np.random.default_rng(seed), vocab)
        want = _model_pairs(model, q_model, mode)
        got = [
            (r["doc_id"], r["score"])
            for r in ms.search(
                q_spark, k=K, score_mode=mode, global_stats=True
            ).collect()
        ]
        _assert_pairs_match(got, want, (seed, mode, "multishard", str(q_model)))


def test_fuzz_lifecycle_interleaved(spark, zipf_corpus, tmp_path_factory):
    """Round-5: fuzz queries interleaved with the index lifecycle —
    logical deletes (reference semantics: df/idf keep counting deleted
    docs, results don't), then optimize (dense renumber, deletes
    expunged), then a second round of deletes on the optimized index.
    The model mirrors each step; every phase must stay in full parity
    across the pruning rotation."""
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.index.lifecycle import delete_docs, optimize_index
    from lucene_spark.model import PyIndex

    _ix, _model, vocab, rows = zipf_corpus
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=64)
    d0 = str(tmp_path_factory.mktemp("fuzz_lc"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ix = build_index(spark, df, d0, cfg, order_cols=["doc_id"])
    model = PyIndex(field_policy={"text": "text"})
    for _i, text in rows:
        model.add_document({"text": text})

    n = max(8, N_CASES // 16)

    def fuzz_phase(ix_, model_, base_seed):
        for i in range(n):
            seed = base_seed + i
            mode = "bm25" if i % 2 == 0 else "classic"
            pruning = PRUNING_CYCLE[i % 3] if mode == "bm25" else "off"
            _assert_case(ix_, model_, vocab, seed, mode, pruning)

    # phase 1: logical deletes
    dels = [r[0] for r in rows if r[0] % 7 == 3]
    delete_docs(ix, dels)
    for d in dels:
        model.delete(d)
    fuzz_phase(ix, model, 60_000)

    # phase 2: optimize — dense renumber in old-id order; rebuild the
    # model from survivors so ids align again
    d1 = str(tmp_path_factory.mktemp("fuzz_lc_opt"))
    ix2 = optimize_index(ix, d1)
    survivors = [r for r in rows if r[0] not in set(dels)]
    model2 = PyIndex(field_policy={"text": "text"})
    for _i, text in survivors:
        model2.add_document({"text": text})
    assert ix2.n_docs == len(survivors)
    fuzz_phase(ix2, model2, 61_000)

    # phase 3: a second delete generation on the optimized index
    dels2 = [i for i in range(len(survivors)) if i % 5 == 1]
    delete_docs(ix2, dels2)
    for d in dels2:
        model2.delete(d)
    fuzz_phase(ix2, model2, 62_000)
