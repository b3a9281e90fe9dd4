"""Round-3 regression tests: ADVICE.md fixes (boost convention through
WAND, legacy delta-meta/plan resume, hash_split remainder) and the new
round-3 operators."""

import json
import os

import pytest

from lucene_spark.search.executor import SparkSearcher
from lucene_spark.search.query import MultiTermQuery, Term, TermQuery


# ---------------------------------------------------------- ADVICE #1
# WAND weights are q.boost * idf per unique term; the exact path scores
# idf * partial per leaf and multiplies the aggregate by q.boost — the
# two conventions must agree or pruning='force' changes boosted scores.


def _ranked(searcher, q, pruning, k=25):
    return [
        (r["doc_id"], round(r["score"], 9))
        for r in searcher.search(
            q, k=k, score_mode="bm25", pruning=pruning
        ).collect()
    ]


def test_boosted_disjunction_wand_parity(spark_index):
    q = MultiTermQuery(
        [Term("spark", "text"), Term("index", "text")], [None, None]
    )
    q.boost = 2.5
    s = SparkSearcher(spark_index)
    exact = _ranked(s, q, "off")
    pruned = _ranked(s, q, "force")
    assert [e[0] for e in exact] == [p[0] for p in pruned]
    for e, p in zip(exact, pruned):
        assert e[1] == pytest.approx(p[1], abs=1e-9)


def test_boosted_term_wand_parity(spark_index):
    q = TermQuery(Term("spark", "text"))
    q.boost = 3.0
    s = SparkSearcher(spark_index)
    exact = _ranked(s, q, "off")
    pruned = _ranked(s, q, "force")
    assert exact == pruned or all(
        e[0] == p[0] and e[1] == pytest.approx(p[1], abs=1e-9)
        for e, p in zip(exact, pruned)
    )


# ------------------------------------------------- WAND-AND (round 3 #1)
# The forced pruned plan for required conjunctions (the cogroup
# kernel): pruning='force' on +a +b [-c] queries must return EXACTLY
# the full-decode result — ids and scores — for every sign mix, k
# regime, and tier layout.


def _assert_and_parity(searcher, q, k):
    """Exactness up to legitimate tie permutation: near-tied docs sum
    their 2-3 float contributions in nondeterministic aggregation
    order on BOTH paths, so raw rank comparison flips at ulp-level
    ties. Assert instead that (a) the pruned top-k's rounded score
    multiset equals the exact top-k's, and (b) every pruned doc
    carries its exact-path score at 1e-9."""
    full = {
        r["doc_id"]: r["score"]
        for r in searcher.search(q, k=0, score_mode="bm25", pruning="off").collect()
    }
    pruned = [
        (r["doc_id"], r["score"])
        for r in searcher.search(
            q, k=k, score_mode="bm25", pruning="force"
        ).collect()
    ]
    assert len(pruned) == min(k, len(full))
    for doc, score in pruned:
        assert doc in full, f"pruned returned non-hit doc {doc}"
        assert score == pytest.approx(full[doc], abs=1e-9)
    exact_topk = sorted((round(s, 9) for s in full.values()), reverse=True)[:k]
    assert sorted((round(s, 9) for _d, s in pruned), reverse=True) == exact_topk


@pytest.mark.parametrize(
    "q",
    [
        "+text:spark +text:index",
        "+text:spark +text:index -text:vector",
        "+text:spark +text:index +text:merge",
        "+text:table -text:vector",
    ],
)
@pytest.mark.parametrize("k", [5, 25, 200])
def test_wand_and_parity(spark_index, q, k):
    _assert_and_parity(SparkSearcher(spark_index), q, k)


def test_wand_and_mixed_signs_parity(spark_index):
    """required + optional + prohibited in one MultiTermQuery: optional
    terms score, the conjunction check only covers the required one."""
    q = MultiTermQuery(
        [Term("spark", "text"), Term("index", "text"), Term("vector", "text")],
        [True, None, False],
    )
    _assert_and_parity(SparkSearcher(spark_index), q, 25)


def test_wand_and_boosted_parity(spark_index):
    q = MultiTermQuery(
        [Term("spark", "text"), Term("index", "text")], [True, True]
    )
    q.boost = 2.5
    _assert_and_parity(SparkSearcher(spark_index), q, 25)


def test_wand_and_duplicate_required_term(spark_index):
    """'+spark +spark index' — the duplicated required term must carry a
    doubled weight into the kernel or its score falls below the exact
    plan's."""
    q = MultiTermQuery(
        [Term("spark", "text"), Term("spark", "text"), Term("index", "text")],
        [True, True, None],
    )
    _assert_and_parity(SparkSearcher(spark_index), q, 25)


def test_wand_and_on_tiered_index(spark, tmp_path_factory):
    """Conjunction pruning must stay exact when unmerged streaming tiers
    are attached (block identity includes doc_base)."""
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import IndexConfig, build_index, load_index

    d = str(tmp_path_factory.mktemp("wand_and_delta"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    base_rows = [
        (
            "c0",
            i,
            "user",
            ("alpha beta " + "alpha " * (i % 4)) + ("gamma " if i % 3 else ""),
            None,
            None,
        )
        for i in range(40)
    ]
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=16)
    build_index(spark, spark.createDataFrame(base_rows, schema), d, cfg)
    inc.IncrementalIndexWriter(d, cfg).process_batch(
        spark.createDataFrame(
            [
                ("c9", i, "user", "alpha beta alpha beta gamma", None, None)
                for i in range(6)
            ],
            schema,
        ),
        0,
    )
    ix = load_index(spark, d)
    s = SparkSearcher(ix)
    for q in ["+text:alpha +text:beta", "+text:alpha +text:beta -text:gamma"]:
        _assert_and_parity(s, q, 30)
    assert any(doc >= 40 for doc, _ in _ranked(s, "+text:alpha +text:beta", "off", k=30))
    # cogroup kernel across tiers: a range holds every tier's blocks of
    # its docs (doc ids are disjoint across tiers)
    from lucene_spark.search.executor import topk_and_cogrouped

    terms, weights, req, pro = _and_query_parts(
        ix, "+text:alpha +text:beta -text:gamma"
    )
    c, st = topk_and_cogrouped(
        ix, terms, weights, req, pro, k=30, collect_stats=True
    )
    assert st["path"] == "cogroup"
    exact = {
        r["doc_id"]: r["score"]
        for r in s.search(
            "+text:alpha +text:beta -text:gamma", k=0,
            score_mode="bm25", pruning="off",
        ).collect()
    }
    got = {r["doc_id"]: r["score"] for r in c.collect()}
    assert set(got) <= set(exact) and len(got) == min(30, len(exact))
    for doc, sc_ in got.items():
        assert sc_ == pytest.approx(exact[doc], abs=1e-9)


# ------------------------------------------- cogroup vs exact (round 3)
# Every multi-term shape with a required term runs the co-grouped range
# kernel; driven directly it must return the exact top-k.


def _and_query_parts(ix, qs):
    from lucene_spark.search.executor import _pruned_shape
    from lucene_spark.search.parser import parse_query

    q = parse_query(qs).rewrite(ix).optimize(ix)
    return _pruned_shape(ix, q)


@pytest.mark.parametrize(
    "qs",
    [
        "+text:spark +text:index",
        "+text:spark +text:index -text:vector",
        "+text:spark text:index",
    ],
)
def test_intersect_and_bucket_paths_agree(spark_index, qs):
    """The co-grouped range kernel returns the exact plan's top-k (ids
    and 9-decimal scores) for AND, AND-NOT and required+optional."""
    from lucene_spark.search.executor import topk_and_cogrouped

    terms, weights, req, pro = _and_query_parts(spark_index, qs)
    c, sc_ = topk_and_cogrouped(
        spark_index, terms, weights, req, pro, k=25, collect_stats=True
    )
    assert sc_["path"] == "cogroup"
    assert sc_["blocks_decoded"] <= sc_["blocks_total"]
    exact = SparkSearcher(spark_index).search(
        qs, k=25, score_mode="bm25", pruning="off"
    )
    rc = sorted((r["doc_id"], round(r["score"], 9)) for r in c.collect())
    re_ = sorted((r["doc_id"], round(r["score"], 9)) for r in exact.collect())
    assert rc == re_


def test_doc_filter_kernel(spark_index):
    """decode_postings(doc_filter=ids) ≡ decode-then-filter, and the
    empty filter emits nothing."""
    import numpy as np

    from lucene_spark.search.executor import decode_postings

    t = Term("spark", "text")
    full = decode_postings(spark_index, [t]).collect()
    docs = sorted({r["doc_id"] for r in full})
    pick = np.asarray(docs[::3], dtype=np.int64)
    picked = set(pick.tolist())
    got = decode_postings(spark_index, [t], doc_filter=pick).collect()
    want = [r for r in full if r["doc_id"] in picked]
    key = lambda r: (r["qid"], r["doc_id"])  # noqa: E731
    assert sorted((key(r), r["tf"], r["dl"]) for r in got) == sorted(
        (key(r), r["tf"], r["dl"]) for r in want
    )
    assert (
        decode_postings(
            spark_index, [t], doc_filter=np.asarray([], dtype=np.int64)
        ).count()
        == 0
    )
    # Round 4 made position decodes filterable too (executor.py doc_filter
    # + need_positions): same decode-then-filter equivalence with positions.
    full_pos = decode_postings(spark_index, [t], need_positions=True).collect()
    got_pos = decode_postings(
        spark_index, [t], need_positions=True, doc_filter=pick
    ).collect()
    want_pos = [r for r in full_pos if r["doc_id"] in picked]
    assert sorted(
        (key(r), r["tf"], list(r["positions"])) for r in got_pos
    ) == sorted((key(r), r["tf"], list(r["positions"])) for r in want_pos)


# ---------------------------------------------------------- ADVICE #2
def test_batch_base_falls_back_without_doc_base(tmp_path):
    """A batch's doc-id base is the catalog's high-water mark: the max of
    stats n_docs and doc_base + n_docs over the durable batches numbered
    below it — a later-numbered batch (9) never moves it."""
    from lucene_spark.index import tiers
    from lucene_spark.streaming.incremental import IncrementalIndexWriter

    d = str(tmp_path / "ix")
    os.makedirs(d)
    with open(os.path.join(d, "stats.json"), "w") as fh:
        json.dump({"n_docs": 100}, fh)
    metas = [(0, 7, 100), (1, 5, 107), (9, 99, 500)]  # (batch, n_docs, doc_base)
    for bid, nd, db in metas:
        tiers.write_delta_meta(d, bid, nd, db, {})
    w = IncrementalIndexWriter(d)
    prior = max(db + nd for bid, nd, db in metas if bid < 3)
    assert w._batch_base(3) == max(100, prior) == 112
    assert w._batch_base(0) == 100
    # the stats side wins once a merge folded the batches into the base
    with open(os.path.join(d, "stats.json"), "w") as fh:
        json.dump({"n_docs": 120}, fh)
    assert w._batch_base(3) == 120


# ---------------------------------------------------------- ADVICE #3
def test_chunk_span_legacy_resume(tmp_path):
    from lucene_spark.index.builder import (
        MAX_BUILD_CHUNKS,
        IndexConfig,
        _resolve_chunk_span,
    )

    cfg = IndexConfig(seg_size=1, segments_per_commit=1)
    max_doc = MAX_BUILD_CHUNKS * 4  # uncapped would need 4x the cap
    # fresh build: cap applies
    d1 = str(tmp_path / "fresh")
    os.makedirs(d1)
    span = _resolve_chunk_span(d1, cfg, max_doc, set(), resume=True)
    assert span > 1 and (max_doc // span) + 1 <= MAX_BUILD_CHUNKS
    # plan persisted and honored on a later resume, even with done work
    assert _resolve_chunk_span(d1, cfg, max_doc, {0, 1}, resume=True) == span
    # done chunks but no build_plan.json: guessing a span could remap
    # chunk ids and skip segments, so the resume refuses and names the file
    d2 = str(tmp_path / "planless")
    os.makedirs(d2)
    with pytest.raises(ValueError, match="build_plan.json"):
        _resolve_chunk_span(d2, cfg, max_doc, {0, 1, 2}, resume=True)
    assert not os.path.exists(os.path.join(d2, "build_plan.json"))


# ---------------------------------------------------------- ADVICE #4
def test_hash_split_requires_full_allocation(spark):
    from lucene_spark.ops.sampling import hash_split

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="rest_name"):
        hash_split(df, "doc_id", {"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError, match="rest_name"):
        hash_split(df, "doc_id", {"train": 0.5})
    with pytest.raises(ValueError, match="<= 1"):
        hash_split(df, "doc_id", {"train": 0.8, "val": 0.4})
    # explicit remainder label: the leftover 10% lands in 'rest'
    out = hash_split(
        df, "doc_id", {"train": 0.8, "val": 0.1}, rest_name="rest"
    )
    counts = {r["split"]: r["n"] for r in out.groupBy("split").count()
              .withColumnRenamed("count", "n").collect()}
    assert set(counts) == {"train", "val", "rest"}
    assert counts["train"] > counts["val"] + counts["rest"]
    # exact allocation still works without rest_name
    ok = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    assert ok.count() == 500


# ----------------------------------------------- docs-phase JVM fast path
def test_docs_lengths_jvm_path_matches_python(spark):
    """_docs_with_lengths' codegen token-count path (no text through
    Arrow) must produce byte-identical len/norm columns to the Python
    kernel, across stop words, min length, lowercase, per-field boosts,
    doc boosts and per-doc-field boosts."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.index.builder import (
        IndexConfig,
        _docs_with_lengths,
        _jvm_token_count,
    )

    rows = [
        (0, "The quick brown Fox and a dog 42", "en", 2.0, 1.5),
        (1, "", None, None, None),
        (2, "a an of to at", "de", 0.5, None),
        (3, None, "fr", 1.0, 3.0),
        (4, "Xy z qq multiWord tokens HERE the", "en", None, 0.25),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, db double, boost_text double"
    )
    ana = Analyzer(
        "[a-zA-Z0-9]+",
        lowercase=True,
        stop_words=frozenset({"the", "a", "an", "of", "to", "at", "and"}),
        min_length=2,
        name="t",
    )
    cfg = IndexConfig(
        field_policy={"text": "text", "lang": "keyword"},
        analyzer=ana,
        field_boosts={"text": 1.25},
        doc_boost_col="db",
    )
    assert _jvm_token_count(ana, None) is not None  # fast path engaged
    fast = {r["doc_id"]: r for r in _docs_with_lengths(df, cfg).collect()}

    # force the Python kernel by making the analyzer non-JVM-expressible
    # (translit=True changes nothing on this pure-ASCII corpus)
    ana_py = Analyzer(
        ana.token_pattern, lowercase=True, stop_words=ana.stop_words,
        min_length=2, translit=True, name="t",
    )
    cfg_py = IndexConfig(
        field_policy=cfg.field_policy, analyzer=ana_py,
        field_boosts=cfg.field_boosts, doc_boost_col="db",
    )
    assert _jvm_token_count(ana_py, None) is None
    slow = {r["doc_id"]: r for r in _docs_with_lengths(df, cfg_py).collect()}
    for d in fast:
        for c in ["len_text", "norm_text", "len_lang", "norm_lang"]:
            assert fast[d][c] == slow[d][c], (d, c, fast[d][c], slow[d][c])


def test_docs_lengths_jvm_path_rejects_unsupported(spark):
    from lucene_spark.analysis import Analyzer, text_ci
    from lucene_spark.index.builder import _jvm_token_count

    assert _jvm_token_count(text_ci(), None) is None  # translit
    assert _jvm_token_count(Analyzer(r"[^\W\d_]+"), None) is None  # \W class


def test_cogroup_missing_required_term_empty(spark_index):
    from lucene_spark.search.executor import topk_and_cogrouped

    terms = [Term("spark", "text"), Term("zzznotaterm", "text")]
    out, _ = topk_and_cogrouped(
        spark_index, terms, [1.0, 1.0], [True, True], k=10
    )
    assert out.count() == 0


def test_cogroup_rejects_contradictory_signs(spark_index):
    from lucene_spark.search.executor import topk_and_cogrouped

    t = Term("spark", "text")
    with pytest.raises(ValueError):
        topk_and_cogrouped(
            spark_index, [t], [1.0], [True], pro_terms=[t], k=5
        )


def test_cogroup_pure_disjunction_parity(spark_index):
    """n_req=0 degenerate case: the cogroup kernel serves a pure OR
    (bounded-shuffle strategy for uniform-impact corpora) and must
    match the exact disjunction top-k."""
    from lucene_spark.search.executor import topk_and_cogrouped
    from lucene_spark.search.similarity import bm25_idf

    terms = [Term("spark", "text"), Term("index", "text"), Term("merge", "text")]
    N = spark_index.n_docs
    w = [bm25_idf(spark_index.doc_freq(t), N) for t in terms]
    out, _ = topk_and_cogrouped(
        spark_index, terms, w, [False, False, False], k=25
    )
    got = sorted((r["doc_id"], round(r["score"], 9)) for r in out.collect())
    s = SparkSearcher(spark_index)
    exact = s.search(
        "text:spark text:index text:merge", k=25,
        score_mode="bm25", pruning="off",
    ).collect()
    want = sorted((r["doc_id"], round(r["score"], 9)) for r in exact)
    assert got == want
