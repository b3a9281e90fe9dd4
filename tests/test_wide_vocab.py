"""Adversarial-vocabulary regime: every text token unique (df=1), so
after the BLOCK_DOC_RANGE split virtually every posting block holds ONE
posting and the inverter's single-posting fast path (builder.py
`_invert_segment`) produces ~all rows. Pins that regime end to end:

- dump_postings round-trip == the explode/groupBy recomputation from
  the raw text (tokenize → invert → pack → merge → decode is lossless);
- block metadata invariants on n==1 blocks: the Pareto frontier and
  cf of a one-posting block ARE the posting;
- positions survive the fast path (a planted two-word phrase is
  findable, and only where planted);
- the keyword field (multi-posting blocks, slow path) coexists in the
  same segments.

The small-n twin of tools/vocab_smoke.py (BASELINE §9.24)."""

import numpy as np
from pyspark.sql import functions as F

from lucene_spark.analysis import Analyzer
from lucene_spark.index.builder import IndexConfig, build_index
from lucene_spark.search.executor import SparkSearcher, dump_postings

N = 3_000
PHRASE = "amber kite"


def _synth(spark):
    oid = F.col("id")
    toks = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda j: F.concat(
                F.lit("t"), F.hex(F.xxhash64(oid * 31 + j, F.lit("wv")))
            ),
        ),
    )
    text = F.when(
        oid % 500 == 0, F.concat(toks, F.lit(" " + PHRASE))
    ).otherwise(toks)
    turn = (oid % 100).cast("long")
    return spark.range(N).select(
        oid.alias("oid"),
        F.concat(F.lit("c"), (oid / 100).cast("long").cast("string")).alias(
            "conv_id"
        ),
        turn.cast("int").alias("turn_idx"),
        text.alias("text"),
    )


def test_wide_vocab_index_round_trip(spark, tmp_path):
    cfg = IndexConfig(
        field_policy={"text": "text", "conv_id": "keyword"},
        analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="wv"),
        seg_size=512,
    )
    df = _synth(spark)
    ix = build_index(
        spark, df, str(tmp_path / "ix"), cfg, order_cols=["conv_id", "turn_idx"]
    )

    # ---- 1. posting round-trip vs the raw-text recomputation
    dumped = {
        (r["term"], r["doc_id"]): (r["tf"], r["dl"])
        for r in dump_postings(ix, "text").collect()
    }
    docs = ix.docs.select("doc_id", "oid").join(
        df.select("oid", "text"), "oid"
    )
    expect = {}
    for r in docs.collect():
        toks = r["text"].lower().split()
        for t in toks:
            k = (t, r["doc_id"])
            tf, _ = expect.get(k, (0, 0))
            expect[k] = (tf + 1, len(toks))
    assert dumped == expect
    # df=1 everywhere except the planted phrase words
    n_unique = sum(1 for (t, _) in dumped if t not in ("amber", "kite"))
    assert n_unique == N * 20

    # ---- 2. n==1 block metadata invariants (the fast path's output)
    blocks = ix.postings.where(
        (F.col("field") == "text") & (F.col("n") == 1)
    ).collect()
    assert len(blocks) >= N * 20  # ~every hash token
    rng = np.random.RandomState(7)
    for r in [blocks[i] for i in rng.choice(len(blocks), 200, replace=False)]:
        tf, dl = dumped[(r["term"], r["doc_base"])]
        assert r["doc_base"] == r["max_docid"]
        assert list(r["imp_tfs"]) == [r["cf"]] == [tf]
        assert list(r["imp_dls"]) == [dl]

    # ---- 3. positions through the fast path: the phrase is findable,
    # and exactly where planted
    ix.set_default_search_field("text")
    s = SparkSearcher(ix)
    got = {
        r["oid"]
        for r in s.search(f'text:"{PHRASE}"', k=100)
        .join(ix.docs.select("doc_id", "oid"), "doc_id")
        .select("oid")
        .collect()
    }
    assert got == {i for i in range(0, N, 500)}


def test_wide_vocab_keyword_field_coexists(spark, tmp_path):
    cfg = IndexConfig(
        field_policy={"text": "text", "conv_id": "keyword"},
        analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="wv"),
        seg_size=512,
    )
    df = _synth(spark)
    ix = build_index(
        spark, df, str(tmp_path / "ix2"), cfg, order_cols=["conv_id", "turn_idx"]
    )
    # conv_id c0 has exactly 100 turns — a multi-posting keyword block
    kw = {
        (r["term"], r["doc_id"])
        for r in dump_postings(ix, "conv_id").collect()
        if r["term"] == "c0"
    }
    assert len(kw) == 100
