"""Round-2 coverage: terms_from pagination, AND-default operator,
index-time boosts, pre-sort result_set_limit on the Spark engine,
global-stats MultiSearcher, dense-id fallback on malformed turn_idx,
dedup shingle cap, and crash-safe delta merge."""

import os

import pytest
from pyspark.sql import functions as F

from lucene_spark.index import IndexConfig, build_index
from lucene_spark.model import PyIndex
from lucene_spark.search.executor import SparkSearcher
from lucene_spark.search.parser import parse_query
from lucene_spark.search.query import FuzzyQuery, Term, WildcardQuery


# ------------------------------------------------- terms_from pagination


@pytest.fixture(scope="module")
def wide_vocab_index(spark, tmp_path_factory):
    """1500-term vocabulary — past the old 1026-row truncation window."""
    from lucene_spark.analysis import Analyzer

    rows = [(i, f"t{i:05d} filler", i % 7) for i in range(1500)]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp int")
    d = str(tmp_path_factory.mktemp("widevocab"))
    cfg = IndexConfig(
        field_policy={"text": "text"},
        analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="alnum"),
        seg_size=400,
        # several term_dict files: terms_from merges their sorted
        # streams across file boundaries
        merge_partitions=8,
    )
    return build_index(spark, df, d, cfg, order_cols=["doc_id"])


def test_terms_from_sees_whole_range(wide_vocab_index):
    terms = list(wide_vocab_index.terms_from("text", "", page_size=128))
    expected = sorted({f"t{i:05d}" for i in range(1500)} | {"filler"})
    assert terms == expected  # paginated scan = full sorted dictionary


def test_terms_from_cursor_start(wide_vocab_index):
    terms = list(wide_vocab_index.terms_from("text", "t01400", page_size=37))
    assert terms == [f"t{i:05d}" for i in range(1400, 1500)]


def test_wildcard_matches_past_old_window(wide_vocab_index):
    """'t0*9' spans 1500 dictionary terms but matches only 150 — the old
    single-call limit silently dropped every match past the 1026th
    dictionary row (reference scans the whole range: Wildcard.php:91-178)."""
    old = WildcardQuery.min_prefix_length
    WildcardQuery.min_prefix_length = 2
    try:
        q = WildcardQuery(Term("t0*9", "text")).rewrite(wide_vocab_index)
    finally:
        WildcardQuery.min_prefix_length = old
    got = {t.text for t in q.query_terms()}
    want = {f"t{i:05d}" for i in range(1500) if i % 10 == 9}
    assert got == want
    assert "t01499" in got  # dictionary position 1500 > old 1026 cutoff


def test_fuzzy_scans_past_old_window(wide_vocab_index):
    """prefix_length=0 scans the whole 1501-term dictionary (reference:
    Fuzzy.php:147-298); the old 1026-row window never reached t01499,
    so the query's own exact term was silently missing."""
    q = FuzzyQuery(Term("t01499", "text"), 0.6, prefix_length=0).rewrite(
        wide_vocab_index
    )
    got = {t.text for t in q.query_terms()}
    assert "t01499" in got


def test_terms_from_skipto_edges(wide_vocab_index):
    """Mirrors the reference's terms-stream skipTo edge cases
    (IndexTest.php:374-480): before-first, between-terms, past-last,
    unknown field."""
    ix = wide_vocab_index
    assert list(ix.terms_from("text", "zzzz")) == []  # past last
    assert next(iter(ix.terms_from("text", "t00000a"))) == "t00001"  # between
    assert next(iter(ix.terms_from("text", ""))) == "filler"  # before first
    assert list(ix.terms_from("nope", "")) == []  # unknown field
    got = list(ix.terms_from("text", "t01379", page_size=50))
    assert got == [f"t{i:05d}" for i in range(1379, 1500)]


def test_range_limit_still_raises(wide_vocab_index):
    from lucene_spark.search.query import RangeQuery

    with pytest.raises(ValueError, match="Terms per query limit"):
        RangeQuery(Term("a", "text"), Term("z", "text"), True).rewrite(
            wide_vocab_index
        )


# ------------------------------------------------- AND-default operator


def _tiny_model():
    ix = PyIndex(field_policy={"text": "text"}, default_field="text")
    ix.add_document({"text": "alpha beta"})
    ix.add_document({"text": "alpha"})
    ix.add_document({"text": "beta gamma"})
    return ix


def test_default_operator_and_requires_bare_terms():
    ix = _tiny_model()
    or_hits = {h.doc_id for h in ix.find("alpha beta", score_mode="bm25")}
    and_hits = {
        h.doc_id
        for h in ix.find("alpha beta", score_mode="bm25", default_operator="AND")
    }
    assert or_hits == {0, 1, 2}
    assert and_hits == {0}


def test_default_operator_and_rewrite_string():
    q = parse_query("alpha beta", "text", default_operator="AND")
    assert str(q) == "+(text:alpha) +(text:beta)"
    # explicit signs win over the default (QueryParserContext.php:357 ??)
    q2 = parse_query("alpha -beta", "text", default_operator="AND")
    assert str(q2) == "+(text:alpha) -(text:beta)"


def test_default_operator_and_equals_explicit_plus():
    ix = _tiny_model()
    a = [(h.doc_id, round(h.score, 9)) for h in ix.find(
        "alpha beta", score_mode="bm25", default_operator="AND")]
    b = [(h.doc_id, round(h.score, 9)) for h in ix.find(
        "+alpha +beta", score_mode="bm25")]
    assert a == b


def test_default_operator_and_boolean_style_unaffected():
    ix = _tiny_model()
    a = [h.doc_id for h in ix.find("alpha OR beta", default_operator="AND",
                                   score_mode="bm25")]
    b = [h.doc_id for h in ix.find("alpha OR beta", score_mode="bm25")]
    assert a == b


def test_default_operator_and_error_fallback():
    from lucene_spark.analysis import default_analyzer

    q = parse_query(
        "alpha AND",  # ends with an operator → parse error → fallback
        "text",
        suppress_errors=True,
        analyzer=default_analyzer(),
        default_operator="AND",
    )
    # fallback terms required under B_AND (QueryParser.php:363-371)
    assert str(q).startswith("+(")


def test_spark_search_default_operator(spark_index, model_index):
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(spark_index)
        .search("spark merge", k=0, default_field="text",
                default_operator="AND")
        .collect()
    ]
    want = [
        (h.doc_id, round(h.score, 9))
        for h in model_index.find("text:spark AND text:merge",
                                  score_mode="bm25")
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-6)


# ---------------------------------------------------- index-time boosts


def test_index_time_boosts_classic_golden(spark, tmp_path_factory):
    rows = [
        (0, "alpha beta gamma", "news", 1.0),
        (1, "alpha beta", "blog", 3.0),
        (2, "alpha", "news", 0.5),
        (3, "beta gamma delta alpha", "blog", 1.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, src string, w double")
    d = str(tmp_path_factory.mktemp("boosted"))
    cfg = IndexConfig(
        field_policy={"text": "text", "src": "keyword"},
        field_boosts={"text": 2.0, "src": 0.25},
        doc_boost_col="w",
        seg_size=2,
    )
    ix = build_index(spark, df, d, cfg, order_cols=["doc_id"])
    model = PyIndex(
        field_policy={"text": "text", "src": "keyword"},
        field_boosts={"text": 2.0, "src": 0.25},
    )
    for _id, text, src, w in rows:
        model.add_document({"text": text, "src": src}, boost=w)
    s = SparkSearcher(ix)
    for q in ["text:alpha", "text:beta text:gamma", "src:news text:alpha"]:
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in s.search(q, k=0, score_mode="classic").collect()
        ]
        want = [
            (h.doc_id, round(h.score, 9))
            for h in model.find(q, score_mode="classic")
        ]
        assert [g[0] for g in got] == [w[0] for w in want], q
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6), (q, g, w)


def test_optimize_preserves_boosts(spark, tmp_path_factory):
    """optimize rebuilds norms from config — index-time boosts must
    survive the round trip through stats.json or every boosted norm
    byte silently changes."""
    from lucene_spark.index.lifecycle import optimize_index

    rows = [
        (0, "alpha beta gamma", 1.0),
        (1, "alpha beta", 3.0),
        (2, "alpha", 0.5),
        (3, "beta gamma delta alpha", 1.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, w double")
    d1 = str(tmp_path_factory.mktemp("boost_pre"))
    d2 = str(tmp_path_factory.mktemp("boost_post"))
    cfg = IndexConfig(
        field_policy={"text": "text"},
        field_boosts={"text": 2.0},
        doc_boost_col="w",
        seg_size=2,
    )
    ix = build_index(spark, df, d1, cfg, order_cols=["doc_id"])
    before = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(ix).search("text:alpha", k=0, score_mode="classic").collect()
    ]
    ix2 = optimize_index(ix, d2)
    after = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(ix2).search("text:alpha", k=0, score_mode="classic").collect()
    ]
    assert before == after


def test_per_doc_field_boost_columns(spark, tmp_path_factory):
    """boost_<field> columns ≙ the reference's per-Field-instance boost
    (Field.php) — composed with config field_boosts and doc boost."""
    rows = [
        (0, "alpha beta gamma", 1.0, 2.0),
        (1, "alpha beta", 1.5, 1.0),
        (2, "alpha", 1.0, 0.25),
        (3, "beta gamma delta alpha", 2.0, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, w double, boost_text double"
    )
    d = str(tmp_path_factory.mktemp("fboost"))
    cfg = IndexConfig(
        field_policy={"text": "text"},
        field_boosts={"text": 1.5},
        doc_boost_col="w",
        seg_size=2,
    )
    ix = build_index(spark, df, d, cfg, order_cols=["doc_id"])
    model = PyIndex(field_policy={"text": "text"}, field_boosts={"text": 1.5})
    for _id, text, w, bt in rows:
        model.add_document({"text": text}, boost=w, field_boosts={"text": bt})
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(ix).search("text:alpha", k=0, score_mode="classic").collect()
    ]
    want = [
        (h.doc_id, round(h.score, 9))
        for h in model.find("text:alpha", score_mode="classic")
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-6)


# ------------------------------------------- pre-sort result_set_limit


@pytest.mark.parametrize("mode", ["bm25", "classic"])
@pytest.mark.parametrize("limit", [3, 10])
def test_result_set_limit_parity(spark_index, model_index, mode, limit):
    """Spark engine reproduces the reference's pre-sort limit quirk
    (src/Index.php:705-735) — truncate by docId, then normalize+sort."""
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(spark_index)
        .search("text:spark text:index", k=0, score_mode=mode,
                result_set_limit=limit)
        .collect()
    ]
    want = [
        (h.doc_id, round(h.score, 9))
        for h in model_index.find("text:spark text:index", limit=limit,
                                  score_mode=mode)
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-6)


def test_duplicate_query_term_wand_parity(spark_index, model_index):
    """Duplicated terms through the WAND path: the block bound must
    carry the SUMMED weight or pruning drops true top-k docs."""
    q = "text:spark text:spark"
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(spark_index)
        .search(q, k=10, score_mode="bm25", pruning="force")
        .collect()
    ]
    want = [
        (h.doc_id, round(h.score, 9))
        for h in model_index.find(q, score_mode="bm25")
    ][:10]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-6)


@pytest.mark.parametrize("mode", ["bm25", "classic"])
def test_duplicate_query_term_parity(spark_index, model_index, mode):
    """'+spark +spark' — duplicate required terms must intersect (not
    empty out) and score the term twice, like the reference MultiTerm."""
    q = "+text:spark +text:spark"
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in SparkSearcher(spark_index).search(q, k=0, score_mode=mode).collect()
    ]
    want = [
        (h.doc_id, round(h.score, 9)) for h in model_index.find(q, score_mode=mode)
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-6)


@pytest.mark.parametrize("mode", ["bm25", "classic"])
@pytest.mark.parametrize(
    "q",
    [
        "+conv_id:conv00000003 +text:spark",
        "+text:cache +text:spark",
        "+text:timeout +text:index -text:merge",
        "+text:retry text:spark text:index",
        'text:"spark index"',
        'text:"index term"~2',
        '+conv_id:conv00000003 +text:"spark index"',  # scoped phrase
        '+text:cache +(text:spark text:merge) -text:wildcard',  # nested
    ],
)
def test_conjunction_range_pruning_parity(
    spark_index, model_index, mode, q, monkeypatch
):
    """Force-engage conjunction range pruning (bucket quantum 1 — exact
    doc buckets, maximal pruning) and require full parity vs the model.
    The production gate (df·Q·4 ≤ N) only engages on selective required
    terms; the restriction must be invisible to results either way."""
    import lucene_spark.search.executor as ex

    from tests.conftest import assert_rank_parity

    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)
    got = [
        (r["doc_id"], r["score"])
        for r in SparkSearcher(spark_index).search(q, k=0, score_mode=mode).collect()
    ]
    want = [
        (h.doc_id, h.score) for h in model_index.find(q, score_mode=mode)
    ]
    assert_rank_parity(got, want, msg=f"{q} ({mode})")


# ------------------------------------------- global-stats MultiSearcher


def test_global_stats_multisearcher(spark, transcripts_df, tmp_path_factory):
    """Two shards with skewed stats rank identically to one merged index
    when global_stats=True (the reference's @todo, fixed)."""
    from lucene_spark.search.multi import MultiSearcher

    convs = sorted(r["conv_id"] for r in transcripts_df.select("conv_id").distinct().collect())
    # skewed split: first 10 conversations vs the rest
    head = set(convs[:10])
    df_a = transcripts_df.where(F.col("conv_id").isin(list(head)))
    df_b = transcripts_df.where(~F.col("conv_id").isin(list(head)))
    cfg = IndexConfig(seg_size=100)
    d_a = str(tmp_path_factory.mktemp("shard_a"))
    d_b = str(tmp_path_factory.mktemp("shard_b"))
    d_m = str(tmp_path_factory.mktemp("merged"))
    ix_a = build_index(spark, df_a, d_a, cfg)
    ix_b = build_index(spark, df_b, d_b, cfg)
    ix_m = build_index(spark, transcripts_df, d_m, cfg)

    ms = MultiSearcher([ix_a, ix_b])
    for mode in ("bm25", "classic"):
        for q in ["text:spark", "text:spark text:index"]:
            got = [
                (r["doc_id"], round(r["score"], 9))
                for r in ms.search(q, k=15, score_mode=mode, global_stats=True).collect()
            ]
            want = [
                (r["doc_id"], round(r["score"], 9))
                for r in SparkSearcher(ix_m).search(q, k=15, score_mode=mode).collect()
            ]
            # shards were split in conv order, so shifted ids == merged
            # ids; classic mode additionally checks that top-score
            # normalization happens GLOBALLY, not per shard
            assert [g[0] for g in got] == [w[0] for w in want], (mode, q)
            for g, w in zip(got, want):
                assert g[1] == pytest.approx(w[1], abs=1e-6), (mode, q, g, w)


# --------------------------------------- dense-id fallback on bad input


def test_dense_ids_fall_back_on_duplicate_turns(spark):
    from lucene_spark.index.builder import assign_doc_ids_dense

    rows = [
        ("c1", 0, "a"), ("c1", 1, "b"), ("c1", 1, "b2"), ("c1", 3, "c"),
        ("c2", 0, "d"), ("c2", 1, "e"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = assign_doc_ids_dense(df, "conv_id", "turn_idx")
    ids = sorted(r["doc_id"] for r in out.collect())
    # min==0/max==cnt-1 alone would accept [0,1,1,3] and emit duplicate
    # ids; the distinct-count check forces the windowed-rank fallback
    assert ids == list(range(6))


# -------------------------------------------------- dedup shingle cap


def test_ngram_jaccard_shingle_cap(spark):
    from lucene_spark.ops.dedup import ngram_jaccard_pairs

    rows = [(i, f"common u{i} v{i}") for i in range(30)]
    rows += [(100, "common x y z"), (101, "common x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.5, max_shingle_df=5
    )
    # the near-dup pair shares rare shingles → found either way, with
    # the SAME exact jaccard (verification uses full sets)
    assert {(r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in capped.collect()} == {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6)) for r in exact.collect()
    } == {(100, 101, 1.0)}
    # candidate generation is bounded: the universal shingle ('common',
    # df=32 > cap) no longer produces 32²/2 candidate pairs
    from lucene_spark.ops.dedup import _shingle_df

    sh = _shingle_df(df, "doc_id", "text", 1)
    hot_df = sh.groupBy("shingle").count().where(F.col("shingle") == "common").collect()[0]["count"]
    assert hot_df == 32  # the cap was actually load-bearing


# ------------------------------------------------ embedding LSH pairs


def test_rp_lsh_pairs_subset_of_exact(spark):
    import numpy as np

    from lucene_spark.ops.similarity import cosine_pairs, rp_lsh_pairs

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 16))
    rows = []
    vid = 0
    for b in base:
        for _ in range(3):  # near-dup clusters
            v = b + rng.normal(scale=0.05, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["id_a"], r["id_b"]): round(r["cos"], 9)
        for r in cosine_pairs(df, "vec_id", "embedding", 0.9).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): round(r["cos"], 9)
        for r in rp_lsh_pairs(df, "vec_id", "embedding", 0.9).collect()
    }
    # verified candidates ⊆ exact pairs, with identical cosine values
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    # near-dup clusters (cos ≈ 0.99) should be recalled by sign-LSH
    assert len(lsh) >= len(exact) // 2


# ----------------------------------------------- deterministic sampling


def test_hash_split_deterministic_and_stable(spark):
    from lucene_spark.ops.sampling import hash_sample, hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    ratios = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["id"]: r["split"] for r in hash_split(df, "doc_id", ratios).collect()}
    b = {r["id"]: r["split"] for r in hash_split(df, "doc_id", ratios).collect()}
    assert a == b  # reproducible
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    assert abs(counts["val"] / 2000 - 0.1) < 0.03
    # growth stability: ids keep their split when the corpus doubles
    big = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    c = {r["id"]: r["split"] for r in hash_split(big, "doc_id", ratios).collect()}
    assert all(c[i] == s for i, s in a.items())
    # sample ⊆ population, deterministic, disjoint under different salts
    s1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2).collect()}
    assert s1 == s2 and abs(len(s1) / 2000 - 0.2) < 0.05
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", {"a": 0.0})


def test_stratified_hash_sample_fractions(spark):
    from lucene_spark.ops.sampling import stratified_hash_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_hash_sample(
        df, "doc_id", "lang", {"en": 0.25}, default_fraction=1.0
    ).collect()
    en = sum(1 for r in out if r["lang"] == "en")
    de = sum(1 for r in out if r["lang"] == "de")
    assert de == 2000  # unlisted stratum kept whole
    assert abs(en / 2000 - 0.25) < 0.05


def test_pack_sequences_tape_invariants(spark):
    from lucene_spark.ops.packing import pack_sequences

    rows = [(i, 10 + (i % 7) * 30) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = pack_sequences(df, "doc_id", "n", budget=256, n_buckets=8).collect()
    n_of = dict(rows)
    per_bucket: dict[int, list] = {}
    for r in out:
        per_bucket.setdefault(r["bucket"], []).append(r)
    assert sum(len(v) for v in per_bucket.values()) == 500
    for rows_b in per_bucket.values():
        rows_b.sort(key=lambda r: r["id"])
        off = 0
        for r in rows_b:
            # head-to-tail tape: each doc starts where the previous ended
            assert r["start_offset"] == off
            assert r["win"] == off // 256
            off += n_of[r["id"]]
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "n", budget=0)


# --------------------------------------------------- input table seam


def test_read_transcripts_seam(spark, transcripts_df, tmp_path_factory):
    from lucene_spark.sources import read_transcripts

    p = str(tmp_path_factory.mktemp("tr_src") / "t.parquet")
    transcripts_df.write.mode("overwrite").parquet(p)
    by_path = read_transcripts(spark, p)
    assert by_path.count() == transcripts_df.count()
    # catalog-identifier branch (spark.read.table) via a temp view
    transcripts_df.createOrReplaceTempView("tr_seam_view")
    by_table = read_transcripts(spark, "tr_seam_view")
    assert by_table.count() == transcripts_df.count()
    bad = str(tmp_path_factory.mktemp("bad_src") / "b.parquet")
    spark.createDataFrame([(1, "x")], "a long, b string").write.mode(
        "overwrite"
    ).parquet(bad)
    with pytest.raises(ValueError, match="missing required columns"):
        read_transcripts(spark, bad)


def test_wand_on_delta_attached_index(spark, tmp_path_factory):
    """The pruned path must stay exact when unmerged streaming tiers are
    attached (delta blocks carry impact pairs from the same kernel)."""
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import load_index

    d = str(tmp_path_factory.mktemp("wand_delta"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    base_rows = [
        ("c0", i, "user", "alpha beta " + "alpha " * (i % 4), None, None)
        for i in range(40)
    ]
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=16)
    ix = build_index(spark, spark.createDataFrame(base_rows, schema), d, cfg)
    inc.IncrementalIndexWriter(d, cfg).process_batch(
        spark.createDataFrame(
            [("c9", i, "user", "alpha gamma alpha alpha", None, None) for i in range(6)],
            schema,
        ),
        0,
    )
    ix = load_index(spark, d)
    s = SparkSearcher(ix)
    exact = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.search("text:alpha", k=30, pruning="off").collect()
    ]
    pruned = [
        (r["doc_id"], round(r["score"], 9))
        for r in s.search("text:alpha", k=30, pruning="force").collect()
    ]
    assert exact == pruned
    assert any(doc >= 40 for doc, _ in exact)  # delta docs rank in


def test_range_pruning_on_delta_attached_index(spark, tmp_path_factory, monkeypatch):
    """Conjunction range pruning must stay exact across streaming tiers
    (block identity includes doc_base — tiers can share seg/block ids)."""
    import lucene_spark.search.executor as ex
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import load_index

    d = str(tmp_path_factory.mktemp("rp_delta"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    base_rows = [("c0", i, "user", f"alpha beta tag{i % 5}", None, None) for i in range(40)]
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=16)
    ix = build_index(spark, spark.createDataFrame(base_rows, schema), d, cfg)
    inc.IncrementalIndexWriter(d, cfg).process_batch(
        spark.createDataFrame(
            [("c9", i, "user", "alpha tag9 gamma", None, None) for i in range(6)],
            schema,
        ),
        0,
    )
    ix = load_index(spark, d)
    s = SparkSearcher(ix)
    q = "+text:tag9 +text:alpha"  # tag9 df=6: engages at quantum 1
    unrestricted = [
        (r["doc_id"], round(r["score"], 9)) for r in s.search(q, k=0).collect()
    ]
    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)  # force engagement
    restricted = [
        (r["doc_id"], round(r["score"], 9)) for r in s.search(q, k=0).collect()
    ]
    assert unrestricted == restricted
    assert any(doc >= 40 for doc, _ in restricted)  # delta docs included


# -------------------------------------------- generation-tiered merges


def test_promote_delta_generations(spark, tmp_path_factory):
    """LSM tiering: promote seals delta batches into compact generations
    at O(delta) cost; queries see base+gens+live delta; the full merge
    absorbs everything exactly once."""
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import load_index

    d = str(tmp_path_factory.mktemp("gens"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    base_rows = [("c0", i, "user", f"base doc {i} alpha", None, None) for i in range(6)]
    cfg = IndexConfig(field_policy={"text": "text", "role": "keyword"}, seg_size=4)
    ix = build_index(spark, spark.createDataFrame(base_rows, schema), d, cfg)
    w = inc.IncrementalIndexWriter(d, cfg)
    w.process_batch(
        spark.createDataFrame(
            [("c8", i, "user", f"first beta {i}", None, None) for i in range(3)], schema
        ),
        0,
    )
    w.process_batch(
        spark.createDataFrame(
            [("c9", i, "user", f"second beta {i}", None, None) for i in range(2)], schema
        ),
        1,
    )
    ix = inc.promote_delta(ix, cfg)
    assert os.path.isdir(os.path.join(d, "gens", "gen=0"))
    assert ix.n_docs == 11
    assert len(SparkSearcher(ix).search("text:beta", k=0).collect()) == 5

    # promote is idempotent — nothing new to seal
    ix = inc.promote_delta(ix, cfg)
    assert not os.path.isdir(os.path.join(d, "gens", "gen=1"))

    # a newer batch lands in the live delta alongside the generation
    w.process_batch(
        spark.createDataFrame(
            [("d1", i, "user", f"third beta gamma {i}", None, None) for i in range(4)],
            schema,
        ),
        2,
    )
    ix = load_index(spark, d)
    assert ix.n_docs == 15
    assert len(SparkSearcher(ix).search("text:beta", k=0).collect()) == 9
    assert len(SparkSearcher(ix).search("text:gamma", k=0).collect()) == 4

    # second promotion seals only the new batch
    ix = inc.promote_delta(ix, cfg)
    assert os.path.isdir(os.path.join(d, "gens", "gen=1"))
    assert ix.n_docs == 15

    # full merge absorbs base + both generations, no double counting
    ix = inc.merge_delta(ix, cfg)
    assert ix.n_docs == 15
    assert ix.docs.count() == 15
    assert not os.path.isdir(os.path.join(d, "gens"))
    assert not os.path.isdir(os.path.join(d, "delta"))
    assert len(SparkSearcher(ix).search("text:beta", k=0).collect()) == 9


def test_maybe_compact_policy(spark, tmp_path_factory):
    import lucene_spark.streaming.incremental as inc

    d = str(tmp_path_factory.mktemp("policy"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    rows = [("c0", i, "user", f"base {i} alpha", None, None) for i in range(20)]
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=8)
    ix = build_index(spark, spark.createDataFrame(rows, schema), d, cfg)
    w = inc.IncrementalIndexWriter(d, cfg)
    w.process_batch(
        spark.createDataFrame([("c8", 0, "user", "tiny beta", None, None)], schema), 0
    )
    from lucene_spark.index.builder import load_index

    ix = load_index(spark, d)
    # 1 doc over 20 base docs < 25% → promotes (cheap tier)
    ix = inc.maybe_compact(ix, cfg)
    assert os.path.isdir(os.path.join(d, "gens"))
    w.process_batch(
        spark.createDataFrame(
            [("c9", i, "user", f"bulk beta {i}", None, None) for i in range(10)], schema
        ),
        1,
    )
    ix = load_index(spark, d)
    # 11 docs ≥ 25% of 20 → full merge
    ix = inc.maybe_compact(ix, cfg)
    assert not os.path.isdir(os.path.join(d, "gens"))
    assert ix.n_docs == 31


# ---------------------------------------------- crash-safe delta merge


def test_merge_delta_crash_recovery(spark, tmp_path_factory):
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import load_index

    d = str(tmp_path_factory.mktemp("mergesafe"))
    base_rows = [("c0", i, "user", f"base doc {i} alpha", None, None) for i in range(6)]
    df = spark.createDataFrame(
        base_rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    )
    cfg = IndexConfig(
        field_policy={"text": "text", "role": "keyword"}, seg_size=4
    )
    ix = build_index(spark, df, d, cfg)
    delta_rows = [("c9", i, "user", f"delta doc {i} beta", None, None) for i in range(4)]
    ddf = spark.createDataFrame(delta_rows, df.schema)
    inc.IncrementalIndexWriter(d, cfg).process_batch(ddf, 0)

    # simulate a crash right after the commit marker is written
    real_swap = inc._finish_merge_swap
    calls = {"n": 0}

    def crashing_swap(index_dir):
        calls["n"] += 1
        raise RuntimeError("simulated crash before swap")

    inc._finish_merge_swap = crashing_swap
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            inc.merge_delta(ix, cfg)
    finally:
        inc._finish_merge_swap = real_swap
    assert os.path.exists(os.path.join(d, inc._MERGE_MARKER))

    # opening the index completes the committed merge (recovery)
    ix2 = load_index(spark, d)
    assert not os.path.exists(os.path.join(d, inc._MERGE_MARKER))
    assert not os.path.isdir(os.path.join(d, inc.DELTA_DIR))
    assert ix2.n_docs == 10
    assert ix2.docs.count() == 10  # no double-appended doc rows
    hits = SparkSearcher(ix2).search("text:beta", k=0).collect()
    assert len(hits) == 4

    # re-running merge on the recovered index is a no-op
    ix3 = inc.merge_delta(ix2, cfg)
    assert ix3.n_docs == 10 and ix3.docs.count() == 10


def test_merge_recovery_preserves_post_crash_batches(spark, tmp_path_factory):
    """Batches appended BETWEEN the merge commit marker and the swap
    (restarted streaming writer) must survive recovery — cleanup is
    scoped to the marker's merged_batch_ids."""
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import load_index

    d = str(tmp_path_factory.mktemp("scoped"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    base_rows = [("c0", i, "user", f"base {i} alpha", None, None) for i in range(4)]
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=4)
    ix = build_index(spark, spark.createDataFrame(base_rows, schema), d, cfg)
    w = inc.IncrementalIndexWriter(d, cfg)
    w.process_batch(
        spark.createDataFrame([("c8", 0, "user", "merged beta", None, None)], schema), 0
    )

    real_swap = inc._finish_merge_swap
    inc._finish_merge_swap = lambda p: (_ for _ in ()).throw(RuntimeError("crash"))
    try:
        with pytest.raises(RuntimeError, match="crash"):
            inc.merge_delta(ix, cfg)
    finally:
        inc._finish_merge_swap = real_swap
    # a restarted writer appends a NEW batch after the commit marker
    w.process_batch(
        spark.createDataFrame([("c9", 0, "user", "late gamma", None, None)], schema), 1
    )
    ix2 = load_index(spark, d)  # recovery completes the committed merge
    assert ix2.n_docs == 6  # base 4 + merged 1 + surviving late 1
    assert len(SparkSearcher(ix2).search("text:gamma", k=0).collect()) == 1
    assert len(SparkSearcher(ix2).search("text:beta", k=0).collect()) == 1
    # the late batch is still in delta, mergeable later
    ix3 = inc.merge_delta(ix2, cfg)
    assert ix3.n_docs == 6 and ix3.docs.count() == 6
    assert not os.path.isdir(os.path.join(d, "delta"))


def test_promote_reclaims_orphan_gen_dir(spark, tmp_path_factory):
    import lucene_spark.streaming.incremental as inc

    d = str(tmp_path_factory.mktemp("orphan"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    rows = [("c0", i, "user", f"base {i} alpha", None, None) for i in range(4)]
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=4)
    ix = build_index(spark, spark.createDataFrame(rows, schema), d, cfg)
    # fake a crashed promote: gen dir without durable meta
    os.makedirs(os.path.join(d, "gens", "gen=0", "postings"), exist_ok=True)
    inc.IncrementalIndexWriter(d, cfg).process_batch(
        spark.createDataFrame([("c8", 0, "user", "new beta", None, None)], schema), 0
    )
    from lucene_spark.index.builder import load_index

    ix = inc.promote_delta(load_index(spark, d), cfg)
    # the orphan slot was reclaimed (overwritten), not numbered past
    assert os.path.exists(os.path.join(d, "gens", "gen=0", "meta", "_SUCCESS"))
    assert not os.path.isdir(os.path.join(d, "gens", "gen=1"))
    assert len(SparkSearcher(ix).search("text:beta", k=0).collect()) == 1
