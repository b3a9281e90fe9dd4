"""Pruned top-k validation on a corpus with REAL tf/dl variance.

The bench transcripts corpus has near-constant token counts per turn,
so block upper bounds barely separate and pruning cannot pay
(BASELINE.md §5.5). This tool synthesizes a corpus the way natural text
behaves — Zipf term frequencies + log-normal document lengths — builds
an index, and times, for every query shape, the exact full-scan plan
against the routed pruned plan (``pruning='force'``: block-max WAND for
a single term, the co-grouped range kernel for every multi-term shape
and every phrase):

- asserts pruned top-k == exact top-k (scores at 1e-9, tie-robust);
- reports the routed path and blocks_decoded / blocks_total per query;
- reports warm latency for both plans (each is run once untimed
  before its timed run).

Usage: python tools/wand_bench.py [n_docs]   (default 200_000)
Prints one JSON line; paste into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.analysis import Analyzer  # noqa: E402
from lucene_spark.index.builder import IndexConfig, build_index  # noqa: E402
from lucene_spark.search.executor import (  # noqa: E402
    SparkSearcher,
    _pruned_shape,
    topk_and_cogrouped,
    topk_phrase_cogrouped,
    topk_wand,
)
from lucene_spark.search.parser import parse_query  # noqa: E402
from lucene_spark.search.query import PhraseQuery  # noqa: E402
from lucene_spark.session import get_spark  # noqa: E402

VOCAB_SIZE = 30_000
ZIPF_A = 1.25


def varied_corpus(spark, n_docs: int):
    """Deterministic Zipf-term / log-normal-length corpus, generated in
    parallel (per-batch rng seeded by the first id — reproducible at any
    partitioning)."""
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )

    def gen(it):
        for pdf in it:
            ids = pdf["id"].to_numpy(np.int64)
            if len(ids) == 0:
                continue
            rng = np.random.default_rng(917_000_003 + int(ids[0]))
            lens = np.clip(
                rng.lognormal(3.0, 1.0, size=len(ids)).astype(np.int64) + 3,
                3,
                2000,
            )
            total = int(lens.sum())
            z = rng.zipf(ZIPF_A, size=total) % VOCAB_SIZE
            words = np.char.add("w", z.astype("U8"))
            ends = np.cumsum(lens)
            starts = ends - lens
            texts = [
                " ".join(words[s:e]) for s, e in zip(starts, ends)
            ]
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return spark.range(n_docs).mapInPandas(gen, schema)


def routed_stats(ix, q) -> dict:
    """Block counts of the plan pruning='force' routes ``q`` to (the
    stats jobs run outside the timed window)."""
    if isinstance(q, PhraseQuery):
        return topk_phrase_cogrouped(ix, q, k=10, collect_stats=True)[1]
    terms, weights, required, pro = _pruned_shape(ix, q)
    if len(terms) == 1 and not pro:
        stats = topk_wand(ix, terms[0], weights[0], k=10, collect_stats=True)[1]
        return {**stats, "path": "wand"}
    return topk_and_cogrouped(
        ix, terms, weights, required, pro, k=10, collect_stats=True
    )[1]


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="wand_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = varied_corpus(spark, n_docs)
    d = tempfile.mkdtemp(prefix="wand_bench_")
    out: dict = {"n_docs": n_docs, "cpus": cpus, "queries": {}}
    try:
        t0 = time.time()
        cfg = IndexConfig(
            field_policy={"text": "text"},
            analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="bench"),
            seg_size=16384,
            # positions stored for the phrase cases below; non-phrase
            # queries never read pos_bin (column pruning), so the
            # WAND/conjunction numbers are unaffected — only build_sec
            # pays for the extra stream
            store_positions=True,
        )
        ix = build_index(spark, corpus, d, cfg, order_cols=["doc_id"])
        out["build_sec"] = round(time.time() - t0, 1)
        s = SparkSearcher(ix)

        # Zipf rank 1 = w1 (hottest); w50 mid; w2000 rare. or_hot_rare
        # is WAND's favorable shape for bounds (θ set by the hot term);
        # or_mid is the uniform-impact shape; the phrases are hot-hot
        # (no rare term — range pruning can't help the exact plan),
        # 2- and 3-term, and hot-mid, sloppy ones through the shared
        # quirk-faithful kernel.
        cases = {
            "hot_term": "text:w1",
            "mid_term": "text:w50",
            "rare_term": "text:w2000",
            "or_hot_rare": "text:w1 OR text:w2000",
            "or_mid": "text:w50 OR text:w300 OR text:w2000",
            "or_rare": "text:w800 OR text:w1200 OR text:w2000",
            "and_hot_hot": "+text:w1 +text:w5",
            "and_hot_mid": "+text:w1 +text:w50",
            "and_mid_mid": "+text:w50 +text:w300",
            "and_rare_hot": "+text:w2000 +text:w1",
            "and_not": "+text:w1 +text:w5 -text:w2000",
            "phrase_hot_hot": '"w1 w2"',
            "phrase_hot_hot_sloppy": '"w1 w2"~3',
            "phrase_hot3_sloppy": '"w1 w2 w3"~2',
            "phrase_hot_mid": '"w1 w50"~2',
        }
        for name, qs in cases.items():
            q = parse_query(qs).rewrite(ix).optimize(ix)
            # one untimed run of each plan first: a path's first use in
            # the session (Python worker start, kernel imports, codegen)
            # would otherwise be charged to whichever row reaches it first
            for mode in ("off", "force"):
                s.execute(q, k=10, pruning=mode).collect()
            t0 = time.time()
            exact = s.execute(q, k=10, pruning="off").collect()
            t_exact = time.time() - t0
            t0 = time.time()
            pruned = s.execute(q, k=10, pruning="force").collect()
            t_pruned = time.time() - t0
            # tie-robust: nondeterministic float-sum order can flip
            # ulp-tied neighbours; scores must match as a multiset
            assert sorted(
                (round(r["score"], 9) for r in exact), reverse=True
            ) == sorted(
                (round(r["score"], 9) for r in pruned), reverse=True
            ), f"{name}: pruned != exact"
            stats = routed_stats(ix, q)
            uniq = {(t.field, t.text): t for t in q.query_terms()}.values()
            out["queries"][name] = {
                "path": stats["path"],
                "df": sum(ix.doc_freq(t) for t in uniq),
                "exact_sec": round(t_exact, 2),
                "pruned_sec": round(t_pruned, 2),
                "blocks_total": stats["blocks_total"],
                "blocks_decoded": stats["blocks_decoded"],
                "pruning_rate": round(
                    1 - stats["blocks_decoded"] / max(1, stats["blocks_total"]), 4
                ),
            }
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
