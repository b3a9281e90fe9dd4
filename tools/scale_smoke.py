"""Large-corpus smoke: build at tens of millions of turns, compare
exact vs block-max-pruned single-term top-k latency.

Usage: python tools/scale_smoke.py [replicate]   (default 3000 ≈ 40.7M turns)
Prints one JSON line; paste into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lucene_spark.analysis import Analyzer  # noqa: E402
from lucene_spark.data import synthesize_transcripts  # noqa: E402
from lucene_spark.index.builder import IndexConfig, build_index  # noqa: E402
from lucene_spark.search.executor import SparkSearcher  # noqa: E402
from lucene_spark.search.parser import parse_query  # noqa: E402
from lucene_spark.session import get_spark  # noqa: E402


def main():
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="scale_smoke", master=f"local[{cpus}]",
                      shuffle_partitions=max(2 * cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        + "/documents.parquet"
    )
    tr = (
        synthesize_transcripts(docs)
        .crossJoin(spark.range(replicate).select(F.col("id").alias("rep")))
        .select(
            F.concat_ws("_", "conv_id", F.col("rep").cast("string")).alias("conv_id"),
            "turn_idx", "role", "text", "tool", "ts",
        )
    )
    d = tempfile.mkdtemp(prefix="scale_smoke_")
    try:
        t0 = time.time()
        cfg = IndexConfig(
            field_policy={"text": "text", "conv_id": "keyword", "role": "keyword",
                          "tool": "keyword"},
            analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="bench"),
            seg_size=16384, segments_per_commit=1024,
        )
        ix = build_index(spark, tr, d, cfg, order_cols=["conv_id", "turn_idx"])
        build_sec = time.time() - t0
        s = SparkSearcher(ix)
        q = parse_query("text:table").rewrite(ix).optimize(ix)

        t0 = time.time()
        exact = s.execute(q, k=10, pruning="off").collect()
        t_exact = time.time() - t0
        t0 = time.time()
        pruned = s.execute(q, k=10, pruning="force").collect()
        t_pruned = time.time() - t0
        assert [(r["doc_id"], round(r["score"], 9)) for r in exact] == [
            (r["doc_id"], round(r["score"], 9)) for r in pruned
        ], "pruned top-k must equal exact"
        t0 = time.time()
        bool_exact = s.search("+table +spark -vector", k=10).collect()
        t_bool = time.time() - t0
        # the same hot conjunction through the routed pruned plan — the
        # co-grouped range kernel (one binary-level shuffle by doc range)
        t0 = time.time()
        bool_pruned = s.search(
            "+table +spark -vector", k=10, pruning="force"
        ).collect()
        t_bool_pruned = time.time() - t0
        # tie-robust parity (near-tied docs sum floats in nondeterministic
        # aggregation order on both paths): same rounded score multiset
        assert sorted(
            (round(r["score"], 9) for r in bool_exact), reverse=True
        ) == sorted((round(r["score"], 9) for r in bool_pruned), reverse=True), (
            "pruned conjunction top-k must equal exact"
        )
        # conversation-scoped conjunction: the rare required keyword term
        # engages range pruning — the hot text term decodes only blocks
        # overlapping that conversation's contiguous doc range
        conv = ix.docs.select("conv_id").limit(1).collect()[0]["conv_id"]
        t0 = time.time()
        scoped = s.search(f"+conv_id:{conv} +text:table", k=10).collect()
        t_scoped = time.time() - t0
        assert len(scoped) > 0
        from lucene_spark.search.executor import topk_term_pruned
        from lucene_spark.search.query import Term

        rows, stats = topk_term_pruned(ix, Term("table", "text"), k=10)
        assert [(r["doc_id"], round(r["score"], 9)) for r in exact] == [
            (r["doc_id"], round(r["score"], 9)) for r in rows
        ], "topk_term_pruned must equal exact"

        from lucene_spark.search.executor import topk_and_cogrouped
        from lucene_spark.search.similarity import bm25_idf

        and_terms = [Term("table", "text"), Term("spark", "text")]
        and_w = [bm25_idf(ix.doc_freq(t), ix.n_docs) for t in and_terms]
        _df, and_stats = topk_and_cogrouped(
            ix, and_terms, and_w, [True, True], [Term("vector", "text")],
            k=10, collect_stats=True,
        )

        # hot-hot phrase: exact row-level plan vs the co-grouped range
        # kernel (r3) — both words are corpus-hot, so the exact plan's
        # conjunction range pruning cannot engage
        pq = parse_query('text:"fast value"').rewrite(ix).optimize(ix)
        t0 = time.time()
        ph_exact = s.execute(pq, k=10, pruning="off").collect()
        t_ph_exact = time.time() - t0
        from lucene_spark.search.executor import topk_phrase_cogrouped

        t0 = time.time()
        ph_cg = topk_phrase_cogrouped(ix, pq, k=10)[0].collect()
        t_ph_cg = time.time() - t0
        assert sorted(
            (round(r["score"], 9) for r in ph_exact), reverse=True
        ) == sorted((round(r["score"], 9) for r in ph_cg), reverse=True), (
            "cogroup phrase top-k must equal exact"
        )
        # round-5: hot-hot SLOPPY phrase through the cogroup kernel —
        # the batched 2-slot closed form replaced the per-doc Python
        # loop that made this the slowest default shape at 149M
        # (23.7 s vs 7.5 s exact phrase). Verdict bar: ≤ 2× the exact
        # phrase's cogroup time. Exact-plan control (and the score
        # parity assert) only below ~60M turns — the exact sloppy plan
        # is row-level and was already 327 s for slop=0 at 149M.
        sq = parse_query('text:"fast value"~2').rewrite(ix).optimize(ix)
        t0 = time.time()
        sl_cg = topk_phrase_cogrouped(ix, sq, k=10)[0].collect()
        t_sl_cg = time.time() - t0
        t_sl_exact = None
        if ix.n_docs < 60_000_000:
            t0 = time.time()
            sl_exact = s.execute(sq, k=10, pruning="off").collect()
            t_sl_exact = round(time.time() - t0, 2)
            assert sorted(
                (round(r["score"], 9) for r in sl_exact), reverse=True
            ) == sorted(
                (round(r["score"], 9) for r in sl_cg), reverse=True
            ), "cogroup sloppy top-k must equal exact"

        # round-4: conversation-scoped PHRASE — the rare conv_id term's
        # doc ids row-filter the phrase's position decode inside the
        # kernel (doc_filter with need_positions), on top of block-span
        # restriction. Pick a conversation that provably contains the
        # phrase (the exact phrase query's top doc) so the scoped query
        # returns rows.
        top_doc = ph_exact[0]["doc_id"]
        conv_ph = (
            ix.docs.where(F.col("doc_id") == top_doc)
            .select("conv_id").collect()[0]["conv_id"]
        )
        spq = parse_query(
            f'+conv_id:{conv_ph} +text:"fast value"'
        ).rewrite(ix).optimize(ix)
        t0 = time.time()
        scoped_ph = s.execute(spq, k=10).collect()
        t_scoped_ph = time.time() - t0
        # value parity vs the Python model oracle is pytest-covered
        # (tests/test_round4.py::test_scoped_phrase_parity); here assert
        # the row-filtered plan still finds the known matching doc
        assert top_doc in {r["doc_id"] for r in scoped_ph}, (
            "scoped phrase must contain the phrase's known top doc"
        )
        print(json.dumps({
            "n_turns": int(ix.n_docs),
            "build_sec": round(build_sec, 1),
            "turns_per_sec": round(ix.n_docs / build_sec),
            "q_term_exact_sec": round(t_exact, 2),
            "q_term_pruned_sec": round(t_pruned, 2),
            "wand_blocks_total": stats["blocks_total"],
            "wand_blocks_decoded": stats["blocks_decoded"],
            "q_bool_sec": round(t_bool, 2),
            "q_bool_pruned_sec": round(t_bool_pruned, 2),
            "and_blocks_total": and_stats["blocks_total"],
            "and_blocks_decoded": and_stats["blocks_decoded"],
            "q_phrase_exact_sec": round(t_ph_exact, 2),
            "q_phrase_cogroup_sec": round(t_ph_cg, 2),
            "q_sloppy_exact_sec": t_sl_exact,
            "q_sloppy_cogroup_sec": round(t_sl_cg, 2),
            "q_conv_scoped_sec": round(t_scoped, 2),
            "q_conv_phrase_sec": round(t_scoped_ph, 2),
            "cpus": cpus,
        }))
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
