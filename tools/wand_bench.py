"""Pruned top-k validation on a corpus with REAL tf/dl variance.

The bench transcripts corpus has near-constant token counts per turn,
so block upper bounds barely separate and pruning cannot pay
(BASELINE.md §5.5). This tool synthesizes a corpus the way natural text
behaves — Zipf term frequencies + log-normal document lengths — builds
an index, and times, for every query shape, the exact full-scan plan
(``pruning='off'``) against the routed plan (``'auto'``, what a search
is served; ``'force'`` also routes single terms below WAND's df gate):
block-max WAND for a single term, the co-grouped range kernel for every
multi-term shape and every phrase.

- asserts routed top-k == exact top-k (scores at 1e-9, tie-robust),
  outside the timed window;
- reports the plan 'force' routes to and blocks_decoded / blocks_total;
- reports warm latency per plan: each plan timed is run once untimed
  first, then ``--rounds`` times, the plan order flipped every round.

``--corpus transcripts`` times the bench.py corpus instead
(``SPARK_GRAFT_SF_DIR``, ``SPARK_GRAFT_REPLICATE``; n_docs is ignored).
``--index DIR`` builds the index into DIR and keeps it, or reopens it
if DIR already holds one, so each row can run in a process of its own
(``--rows``) without rebuilding: rows timed together in one session
skew each other (BASELINE.md §10.6).

Usage: python tools/wand_bench.py [n_docs] [--corpus zipf|transcripts]
           [--index DIR] [--rows a,b] [--plans off,auto] [--rounds N]
Prints one JSON line; paste into BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.analysis import Analyzer  # noqa: E402
from lucene_spark.data import synthesize_transcripts  # noqa: E402
from lucene_spark.index.builder import (  # noqa: E402
    IndexConfig,
    build_index,
    load_index,
)
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


# Zipf rank 1 = w1 (hottest); w50 mid; w2000 rare. or_hot_rare is WAND's
# favorable shape for bounds (θ set by the hot term); or_mid is the
# uniform-impact shape; the phrases are hot-hot (no rare term — range
# pruning can't help the exact plan), 2- and 3-term, and hot-mid, sloppy
# ones through the shared quirk-faithful kernel.
ZIPF_CASES = {
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
# bench.py's query set, plus its conversation-scoped conjunction ({conv}
# is the index's first conversation)
TRANSCRIPT_CASES = {
    "term": "text:table",
    "and": "+text:table +text:spark",
    "or": "text:table text:spark text:vector text:window",
    "not": "+text:table -text:vector",
    "conv_scoped": "+conv_id:{conv} +text:table",
    "phrase": 'text:"fast value"',
    "phrase_sloppy": 'text:"fast value"~2',
}


def transcripts_corpus(spark):
    """bench.py's input: the synthesized transcripts, replicated
    SPARK_GRAFT_REPLICATE times with distinct conv_ids."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "64"))
    base = synthesize_transcripts(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    if replicate <= 1:
        return base
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    return base.crossJoin(reps).select(
        F.concat_ws("_", "conv_id", F.col("rep").cast("string")).alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
    )


def open_index(spark, corpus: str, n_docs: int, d: str):
    """The index in ``d``: reopened when ``d`` holds one, else built
    there (bench.py's config for transcripts)."""
    if os.path.exists(os.path.join(d, "stats.json")):
        return load_index(spark, d), None
    analyzer = Analyzer("[a-zA-Z0-9]+", lowercase=True, name="bench")
    t0 = time.time()
    if corpus == "transcripts":
        cfg = IndexConfig(
            field_policy={"text": "text", "conv_id": "keyword", "role": "keyword",
                          "tool": "keyword"},
            analyzer=analyzer,
            seg_size=4096,
        )
        ix = build_index(
            spark, transcripts_corpus(spark), d, cfg, order_cols=["conv_id", "turn_idx"]
        )
    else:
        cfg = IndexConfig(
            field_policy={"text": "text"},
            analyzer=analyzer,
            seg_size=16384,
            # positions stored for the phrase cases; non-phrase queries
            # never read pos_bin (column pruning), so the WAND/conjunction
            # numbers are unaffected — only build_sec pays for the stream
            store_positions=True,
        )
        ix = build_index(spark, varied_corpus(spark, n_docs), d, cfg, order_cols=["doc_id"])
    return ix, round(time.time() - t0, 1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_docs", nargs="?", type=int, default=200_000)
    ap.add_argument("--corpus", choices=("zipf", "transcripts"), default="zipf")
    ap.add_argument("--index", help="index dir: reopened if built, else built and kept")
    ap.add_argument("--rows", help="comma-separated row names (default: all)")
    ap.add_argument("--plans", default="off,force", help="plans to time, in order")
    ap.add_argument("--rounds", type=int, default=1, help="timed runs per plan")
    args = ap.parse_args()
    plans = args.plans.split(",")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="wand_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    d = args.index or tempfile.mkdtemp(prefix="wand_bench_")
    try:
        ix, build_sec = open_index(spark, args.corpus, args.n_docs, d)
        out: dict = {
            "corpus": args.corpus, "n_docs": ix.n_docs, "cpus": cpus,
            "build_sec": build_sec, "rounds": args.rounds, "queries": {},
        }
        s = SparkSearcher(ix)
        cases = dict(ZIPF_CASES if args.corpus == "zipf" else TRANSCRIPT_CASES)
        if args.rows:
            cases = {name: cases[name] for name in args.rows.split(",")}
        if any("{conv}" in qs for qs in cases.values()):
            conv = ix.docs.select("conv_id").limit(1).collect()[0]["conv_id"]
            cases = {name: qs.format(conv=conv) for name, qs in cases.items()}
        for name, qs in cases.items():
            q = parse_query(qs).rewrite(ix).optimize(ix)
            # one untimed run of each timed plan first: a path's first
            # use in the session (Python worker start, kernel imports,
            # codegen) would otherwise be charged to whichever row or
            # plan reaches it first
            for mode in plans:
                s.execute(q, k=10, pruning=mode).collect()
            secs: dict[str, list[float]] = {mode: [] for mode in plans}
            for r in range(args.rounds):
                for mode in plans if r % 2 == 0 else plans[::-1]:
                    t0 = time.time()
                    s.execute(q, k=10, pruning=mode).collect()
                    secs[mode].append(round(time.time() - t0, 3))
            exact, pruned = (
                s.execute(q, k=10, pruning=mode).collect() for mode in ("off", "force")
            )
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
                **{f"{mode}_sec": statistics.median(v) for mode, v in secs.items()},
                "runs": secs,
                "blocks_total": stats["blocks_total"],
                "blocks_decoded": stats["blocks_decoded"],
                "pruning_rate": round(
                    1 - stats["blocks_decoded"] / max(1, stats["blocks_total"]), 4
                ),
            }
        print(json.dumps(out), flush=True)
    finally:
        if not args.index:
            shutil.rmtree(d, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
