"""Round-3 (cont.): co-grouped phrase top-k — the 100-TB plan for
hot-hot phrases. Parity against the exact phrase plan (which is itself
golden-tested against the reference semantics), tier safety, routing,
and the plan-shape property that makes it scale."""

import pytest

from lucene_spark.search.executor import (
    SparkSearcher,
    topk_phrase_cogrouped,
)
from lucene_spark.search.parser import parse_query


def _phrase_q(ix, qs):
    return parse_query(qs).rewrite(ix).optimize(ix)


def _ranked(rows):
    return [(r["doc_id"], round(r["score"], 9)) for r in rows]


@pytest.mark.parametrize(
    "qs",
    [
        '"spark index"',        # exact, both terms hot
        '"spark index"~2',      # sloppy 2-slot (vectorized kernel)
        '"index spark"~3',      # reordered sloppy (negative delta)
        '"spark spark"~1',      # duplicate word shares one decoded term
        '"spark index query"',  # 3 slots exact
        '"spark index query"~4',  # 3 slots sloppy (generic queue)
    ],
)
def test_phrase_cogroup_parity(spark_index, qs):
    """Per-doc scores must BIT-match the exact phrase plan — both call
    _phrase_freq_batch, so freq (accumulation order included) and the
    BM25 arithmetic are shared; only the plan shape differs."""
    s = SparkSearcher(spark_index)
    q = _phrase_q(spark_index, qs)
    exact = _ranked(s.execute(q, k=25, pruning="off").collect())
    got, st = topk_phrase_cogrouped(spark_index, q, k=25, collect_stats=True)
    assert st["path"] == "phrase_cogroup"
    assert _ranked(got.collect()) == exact


def test_phrase_cogroup_boost(spark_index):
    s = SparkSearcher(spark_index)
    q = _phrase_q(spark_index, '"spark index"^2.5')
    exact = _ranked(s.execute(q, k=10, pruning="off").collect())
    got, _ = topk_phrase_cogrouped(spark_index, q, k=10)
    assert _ranked(got.collect()) == exact


def test_phrase_cogroup_missing_term_empty(spark_index):
    q = _phrase_q(spark_index, '"spark zzznotaterm"')
    from lucene_spark.search.query import PhraseQuery

    if not isinstance(q, PhraseQuery):
        pytest.skip("optimizer folded the dead phrase away")
    got, _ = topk_phrase_cogrouped(spark_index, q, k=10)
    assert got.count() == 0


def test_phrase_cogroup_routing(spark_index):
    """pruning='force' routes PhraseQuery through the cogroup kernel
    (FlatMapGroupsInPandas in the executed plan) and returns the same
    rounded top-k as the exact plan."""
    s = SparkSearcher(spark_index)
    exact = s.search(
        '"spark index"~2', k=10, score_mode="bm25",
        default_field="text", pruning="off",
    ).collect()
    routed_df = s.search(
        '"spark index"~2', k=10, score_mode="bm25",
        default_field="text", pruning="force",
    )
    p = routed_df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in p
    assert _ranked(routed_df.collect()) == _ranked(exact)


def test_phrase_cogroup_plan_shape(spark_index):
    """One binary-level shuffle (hashpartitioning on _rng into one
    FlatMapGroupsInPandas), positions never explode into a row-level
    doc_id exchange, and no ArrowEvalPython (the freq UDF of the exact
    plan) — the kernel does decode+freq+score in one pass."""
    q = _phrase_q(spark_index, '"spark index"')
    df, _ = topk_phrase_cogrouped(spark_index, q, k=10)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("FlatMapGroupsInPandas") == 1
    assert "Exchange hashpartitioning(_rng" in p
    assert "Exchange hashpartitioning(doc_id" not in p
    assert "ArrowEvalPython" not in p


def test_phrase_cogroup_on_tiered_index(spark, tmp_path_factory):
    """Ranges key on doc_base (globally unique across streaming tiers),
    so delta-attached indexes cannot collide blocks — phrase scores
    must stay exact with unmerged tiers attached."""
    import lucene_spark.streaming.incremental as inc
    from lucene_spark.index.builder import IndexConfig, build_index, load_index

    d = str(tmp_path_factory.mktemp("phrase_cg_delta"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    base_rows = [
        (
            "c0",
            i,
            "user",
            "alpha beta gamma " + ("alpha beta " * (i % 3)),
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
                ("c9", i, "user", "alpha beta alpha gamma beta", None, None)
                for i in range(6)
            ],
            schema,
        ),
        0,
    )
    ix = load_index(spark, d)
    s = SparkSearcher(ix)
    for qs in ['"alpha beta"', '"alpha beta"~2']:
        q = _phrase_q(ix, qs)
        exact = _ranked(s.execute(q, k=50, pruning="off").collect())
        got, _ = topk_phrase_cogrouped(ix, q, k=50)
        assert _ranked(got.collect()) == exact
    # delta docs are reachable
    q = _phrase_q(ix, '"alpha beta"')
    got, _ = topk_phrase_cogrouped(ix, q, k=50)
    assert any(r["doc_id"] >= 40 for r in got.collect())


def test_hot_sloppy3_returns_on_both_plans(spark, tmp_path_factory):
    """A 3-term sloppy phrase over hot terms (each term ~30 times per
    doc, past what the reference queue can build) returns under
    pruning='off' and 'force' with BIT-identical scores."""
    import numpy as np

    from lucene_spark.index.builder import IndexConfig, build_index
    from lucene_spark.search.phrase import (
        PhraseQueueBudgetExceeded,
        sloppy_phrase_freq,
    )

    rng = np.random.default_rng(11)
    rows = [
        (
            "c0", i, "user",
            " ".join(rng.choice(["alpha", "beta", "gamma", "delta"], 120)),
            None, None,
        )
        for i in range(30)
    ]
    tokens = rows[0][3].split()
    positions = [
        [p for p, w in enumerate(tokens) if w == t]
        for t in ("alpha", "beta", "gamma")
    ]
    with pytest.raises(PhraseQueueBudgetExceeded):
        sloppy_phrase_freq(positions, [0, 1, 2], 2)

    d = str(tmp_path_factory.mktemp("hot_sloppy3"))
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string"
    )
    cfg = IndexConfig(field_policy={"text": "text"}, seg_size=8)
    ix = build_index(spark, spark.createDataFrame(rows, schema), d, cfg)
    s = SparkSearcher(ix)
    got = {
        mode: [
            (r["doc_id"], r["score"])
            for r in s.search(
                '"alpha beta gamma"~2', k=20, score_mode="bm25",
                default_field="text", pruning=mode,
            ).collect()
        ]
        for mode in ("off", "force")
    }
    assert len(got["off"]) == 20
    assert got["off"] == got["force"]
