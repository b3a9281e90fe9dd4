"""Physical-plan regression tests: the scale-critical plan properties
documented in PLANS.md, asserted so they can't silently rot.

These look at the EXECUTED plan string — pushdown, column pruning,
join strategies, codegen — the properties that decide whether the same
query is viable at 100 TB."""

import pytest

from lucene_spark.search.executor import SparkSearcher, topk_wand
from lucene_spark.search.query import Term
from lucene_spark.search.similarity import bm25_idf


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def searcher(spark_index):
    return SparkSearcher(spark_index)


def test_term_query_scan_is_pruned(searcher):
    p = _plan(searcher.search("text:spark", k=10))
    # filter pushed into the parquet scan's DataFilters
    assert "FileScan parquet" in p and "(term" in p
    # column pruning: the positions stream must NOT be read for a
    # non-phrase query (it is the largest column in the index)
    assert "pos_bin" not in p
    # scoring is codegen'd column arithmetic ('*(n)' stage prefixes),
    # not a Python eval — the only Python is the decode MapInPandas
    assert "*(1)" in p
    assert "ArrowEvalPython" not in p


def test_phrase_reads_positions_and_only_phrase(searcher, spark_index):
    p_phrase = _plan(searcher.search('text:"spark index"', k=10))
    assert "pos_bin" in p_phrase  # positions read here…
    p_bool = _plan(searcher.search("+text:spark +text:index", k=10))
    assert "pos_bin" not in p_bool  # …and only here


def test_phrase_single_arrow_eval(searcher):
    # the freq UDF must appear ONCE in the executed plan — a collapsed
    # filter+project would evaluate the Python kernel twice per row
    # (the round-2 double-ArrowEvalPython regression)
    for q in ('text:"spark index"', 'text:"spark index"~2'):
        p = _plan(searcher.search(q, k=10, pruning="off"))
        assert p.count("ArrowEvalPython") == 1, q


def test_multi_term_single_scan_single_exchange(searcher):
    p = _plan(searcher.search("+text:spark +text:index", k=10, pruning="off"))
    # both terms arrive via ONE scan (OR-pushed filter)…
    assert p.count("FileScan parquet") == 1
    # …and one hash exchange on doc_id for the aggregation
    assert p.count("Exchange hashpartitioning(doc_id") == 1


def test_prohibited_terms_merge_into_one_scan(searcher):
    """Merged-scan NOT (round 5): a prohibited TERM must not cost a
    second postings scan or any join — it rides in the scorable leaf
    decode with value 0 and is dropped by the max(_pro) flag filter,
    so the NOT plan is shape-identical to AND."""
    p = _plan(searcher.search("+text:spark -text:merge", k=10, pruning="off"))
    assert "LeftAnti" not in p and "Join" not in p
    assert p.count("FileScan") == 1
    assert p.count("MapInPandas") == 1
    # both terms in ONE pushed-down scan filter
    assert "spark" in p and "merge" in p


def test_prohibited_nonterm_children_keep_anti_join(searcher):
    """Non-term prohibited children (a phrase) cannot ride the leaf
    decode — they keep the left-anti join (broadcast under the df
    bound)."""
    p = _plan(searcher.search('+text:spark -text:"merge segment"', k=10))
    assert "LeftAnti" in p


def test_wand_filter_is_metadata_only(spark_index):
    t = Term("spark", "text")
    spark_index.prefetch_terms([t])
    idf = bm25_idf(spark_index.doc_freq(t), spark_index.n_docs)
    df, _ = topk_wand(spark_index, t, idf, k=10)
    p = _plan(df)
    # the survivor filter is the impact-pair bound evaluated IN the scan
    # filter (higher-order expression over the metadata arrays)…
    assert "array_max" in p and "zip_with" in p
    # …and the final answer is a distributed TakeOrdered, k rows out
    assert "TakeOrderedAndProject" in p


def test_dedup_lsh_never_cross_joins(spark, spark_index):
    from lucene_spark.ops.dedup import minhash_lsh_pairs

    docs = spark_index.docs.select("doc_id", "text")
    p = _plan(minhash_lsh_pairs(docs, "doc_id", "text", 0.5))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_cogroup_conjunction_plan_shape(spark_index, searcher, monkeypatch):
    """The co-grouped range intersection must shuffle the block
    BINARIES once (hashpartitioning on _rng into one
    FlatMapGroupsInPandas kernel) and never explode postings into a
    row-level exchange — the property that makes hot-hot conjunctions
    viable at 100 TB (shuffle bytes ≈ compressed posting lists). Every
    multi-term shape and every phrase 'auto' routes (pure OR, AND,
    AND-NOT, narrowed AND, exact and sloppy phrases) must get that same
    plan, and none of them a join."""
    import lucene_spark.search.executor as ex
    from lucene_spark.search.executor import topk_and_cogrouped
    from lucene_spark.search.similarity import bm25_idf

    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)  # narrow the scoped AND
    terms = [Term("spark", "text"), Term("index", "text")]
    w = [bm25_idf(spark_index.doc_freq(t), spark_index.n_docs) for t in terms]
    df, _ = topk_and_cogrouped(spark_index, terms, w, [True, True], k=10)
    plans = {"direct": _plan(df)}
    for q in (
        "text:spark text:index",
        "+text:spark +text:index",
        "+text:spark +text:index -text:merge",
        "+conv_id:conv00000003 +text:spark",
        'text:"spark index"',
        'text:"spark index"~2',
    ):
        plans[q] = _plan(searcher.search(q, k=10))
    for q, p in plans.items():
        assert "Join" not in p, q
        assert p.count("FlatMapGroupsInPandas") == 1, q
        assert p.count("Exchange hashpartitioning(_rng") == 1, q
        # no per-posting exchange: doc_id exists only AFTER the kernel,
        # so a doc_id hash exchange would mean posting rows were shuffled
        assert "Exchange hashpartitioning(doc_id" not in p, q


def test_every_postings_column_is_read(searcher, monkeypatch):
    """The postings schema holds no write-only column: every column is
    read by some query plan — exact or pruned — or by the term
    dictionary aggregation (cf, builder.write_term_dict). A column
    no reader touches is index bytes paid on every build for nothing.
    Narrowing is forced (quantum 1) so the narrowed plans' reader of
    max_docid is seen on this small corpus."""
    import re

    import lucene_spark.search.executor as ex
    from lucene_spark.index.builder import POSTINGS_SCHEMA

    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)
    queries = (
        "text:spark",
        "+text:spark +text:index",
        "text:spark text:index",
        "+text:spark -text:merge",
        'text:"spark index"',
        "+conv_id:conv00000003 +text:spark",
        '+conv_id:conv00000003 +text:"spark index"',
    )
    read = {"cf"}
    for q in queries:
        for pruning in ("off", "force"):
            p = _plan(searcher.search(q, k=10, pruning=pruning))
            for cols in re.findall(r"FileScan parquet \[([^\]]*)\]", p):
                names = {re.sub(r"#\d+L?$", "", c) for c in cols.split(",")}
                if "field" in names:  # a postings scan (docs has no field)
                    read |= names
    assert read == {f.name for f in POSTINGS_SCHEMA.fields}


def test_plans_md_invariants_not_stale(spark):
    """PLANS.md's `## Invariants` JSON must equal a LIVE re-derivation
    of every documented section (round-3 verdict: a stale phrase
    section re-flagged an already-fixed bug). Regenerate with
    `python tools/explain_plans.py` after any plan-shaping change."""
    import json
    import os
    import re
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    sys.path.insert(0, root)
    import explain_plans as ep

    import __spark_entry__ as e

    md = open(os.path.join(root, "PLANS.md")).read()
    m = re.search(r"## Invariants\n+```json\n(.*?)\n```", md, re.S)
    assert m, "PLANS.md lacks the machine-readable Invariants block"
    documented = json.loads(m.group(1))

    sections = ep.build_sections(spark, e, "/root/testdata/sf0.01")
    live = {key: ep.plan_invariants(df) for key, _t, df, _w in sections}
    assert set(live) == set(documented), (
        "PLANS.md sections diverge from tools/explain_plans.py — regenerate"
    )
    for key in live:
        assert live[key] == documented[key], (
            f"PLANS.md is stale for section '{key}': documented "
            f"{documented[key]}, live {live[key]} — regenerate with "
            f"python tools/explain_plans.py"
        )


def test_repetition_stats_explode_barrier_holds(spark):
    """The Gopher stats are computed once per row behind an
    explode(array(struct)) Generate barrier. Without it, a filter on
    the stat columns is pushed into the projection and re-derives the
    tokenize/sort/fold tree per referenced column (measured 9-23×
    slower at 200k-1.4M docs). Guard the barrier and the fold count so
    an optimizer change or refactor can't silently collapse it."""
    from lucene_spark.ops.cleaning import gopher_repetition_filter

    df = spark.createDataFrame(
        [(1, "a b\nc d"), (2, "a b\na b")], "doc_id long, text string"
    )
    plan = _plan(gopher_repetition_filter(df, "doc_id", "text").where("keep"))
    assert plan.count("Generate explode") == 1, plan[:400]
    # let-bound folds: line_chars, dup_chars, tok_chars (×2 — once per
    # gram frac), and one top-run fold per gram size. More means the
    # barrier or a _let binding regressed and a fold is re-evaluated.
    assert plan.count("aggregate(") <= 9, plan.count("aggregate(")
