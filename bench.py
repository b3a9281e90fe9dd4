"""Benchmark harness: index-build throughput (turns/sec) + ranked-query
latency over the transcripts-shaped corpus.

Env:
  SPARK_GRAFT_SF_DIR     data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       local[] threads (default 32)
  SPARK_GRAFT_REPLICATE  transcript corpus replication factor (default 64,
                         ≈869k turns at sf0.1 — the recorded baselines in
                         BASELINE.md §5.3 use this default)
  SPARK_GRAFT_REPS       per-query repetitions (default 3); each query
                         reports its BEST run — the VM's run-to-run noise
                         is ±30-50% (BASELINE.md §6.3), so a single sample
                         cannot grade a round

Prints ONE JSON line:
  {"metric": ..., "value": <total suite sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "build_sec": ..., "n_turns": ..., "turns_per_sec": ..., "cpus": ...}

The input is the deterministic transcripts synthesis from the documents
table (input_hint shape: conv_id, turn_idx, role, text, tool, ts),
replicated REPLICATE× with distinct conv_ids so the build has real
shuffle volume. Scaling-efficiency evidence (same input, local[8] vs
local[32]) is produced by tools/scaling_bench.py and recorded in
BASELINE.md / BENCH notes.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from lucene_spark.data import synthesize_transcripts  # noqa: E402
from lucene_spark.index.builder import IndexConfig, build_index  # noqa: E402
from lucene_spark.search.executor import SparkSearcher, topk_term_pruned  # noqa: E402
from lucene_spark.search.query import Term  # noqa: E402
from lucene_spark.session import get_spark  # noqa: E402
from lucene_spark.analysis import Analyzer  # noqa: E402

QUERY_SET = [
    ("q_term", "text:table"),
    ("q_and", "+table +spark"),
    ("q_or", "table spark vector window"),
    ("q_not", "+table -vector"),
    ("q_phrase", '"fast value"'),
    ("q_phrase_sloppy", '"fast value"~2'),
    ("q_wildcard", "tab*"),
    ("q_range", "text:[order TO spark]"),
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "64"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

    spark = get_spark(
        app_name="lucene_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = synthesize_transcripts(docs)
    tr = (
        base.crossJoin(
            spark.range(replicate).select(F.col("id").alias("rep"))
        )
        .select(
            F.concat_ws("_", "conv_id", F.col("rep").cast("string")).alias("conv_id"),
            "turn_idx", "role", "text", "tool", "ts",
        )
        if replicate > 1
        else base
    )

    # Materialize the synthetic input BEFORE the build clock (same
    # protocol as tools/scaling_bench.py): the builder scans its input
    # twice (conv-stats pass, then the join+write pass), and on a real
    # parquet/Iceberg source the first pass is a 2-column pruned scan —
    # but on this synthesized crossJoin each pass re-runs the generator
    # (~5 s at sf0.1), which would charge the GENERATOR, not the
    # engine, to build_sec.
    tr = tr.persist()
    tr.count()

    idx_dir = tempfile.mkdtemp(prefix="lucene_spark_bench_")
    timings: dict[str, float] = {}
    t_suite = time.time()
    try:
        t0 = time.time()
        cfg = IndexConfig(
            field_policy={"text": "text", "conv_id": "keyword", "role": "keyword",
                          "tool": "keyword"},
            analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="bench"),
            seg_size=4096,
        )
        ix = build_index(spark, tr, idx_dir, cfg, order_cols=["conv_id", "turn_idx"])
        build_sec = time.time() - t0
        # queries run against the on-disk index — don't let the cached
        # input compete with query execution memory
        tr.unpersist()
        n_turns = ix.n_docs
        timings["build"] = round(build_sec, 3)

        searcher = SparkSearcher(ix)
        for name, q in QUERY_SET:
            runs = []
            for _ in range(reps):
                t0 = time.time()
                searcher.search(q, k=10, score_mode="bm25", default_field="text").collect()
                runs.append(time.time() - t0)
            timings[name] = round(min(runs), 3)

        # block-max-pruned single-term top-k (the serving fast path)
        runs = []
        for _ in range(reps):
            t0 = time.time()
            topk_term_pruned(ix, Term("table", "text"), k=10, collect_stats=False)
            runs.append(time.time() - t0)
        timings["q_wand_term"] = round(min(runs), 3)

        # pruned hot conjunction: the co-grouped range kernel, the plan
        # 'auto' and 'force' both route every multi-term shape to
        runs = []
        for _ in range(reps):
            t0 = time.time()
            searcher.search(
                "+table +spark -vector", k=10, score_mode="bm25",
                default_field="text", pruning="force",
            ).collect()
            runs.append(time.time() - t0)
        timings["q_bool_pruned"] = round(min(runs), 3)

        # conversation-scoped conjunction: the rare conv_id keyword term
        # engages range pruning, so the hot text term decodes only the
        # conversation's block range
        conv = ix.docs.select("conv_id").limit(1).collect()[0]["conv_id"]
        runs = []
        for _ in range(reps):
            t0 = time.time()
            searcher.search(f"+conv_id:{conv} +text:table", k=10).collect()
            runs.append(time.time() - t0)
        timings["q_conv_scoped"] = round(min(runs), 3)

        query_secs = [v for k, v in timings.items() if k.startswith("q_")]
        out = {
            "metric": "index_build+bm25_topk_suite",
            "value": round(time.time() - t_suite, 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf_dir,
            "build_sec": round(build_sec, 3),
            "n_turns": int(n_turns),
            "turns_per_sec": round(n_turns / build_sec, 1),
            "query_p50_sec": round(statistics.median(query_secs), 3),
            "cpus": cpus,
            "replicate": replicate,
            "reps": reps,
            "per_query_stat": "best_of_reps",
        }
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
