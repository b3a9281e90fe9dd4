"""Duplicated-span ops scale smoke: exact-substring span detection and
keep-first removal (ops/spans.py) at tens of millions of documents —
the same closed-form treatment as tools/cleaning_smoke.py.

The corpus is synthesized deterministically in pure Catalyst with
KNOWN span structure (k = 5 throughout; every count asserted exactly):

- every doc: 24 per-doc pseudo-random [a-z0-9]+ tokens, each carrying
  the doc id as a literal suffix — so base tokens are globally unique
  BY CONSTRUCTION and no window touching one can duplicate across
  docs (md5 randomness alone is not enough: a window straddling into
  the shared boilerplate has 4 fixed tokens, so ONE 24-bit token
  collision between two class-A docs duplicates it — observed as +24
  covered tokens at 1M docs before the id suffix);
- ``id % 50 == 0`` (class A): a FIXED 10-token boilerplate span is
  appended → its interior 5-windows occur N/50 times corpus-wide,
  every window straddling the unique prefix occurs once;
- ``id % 70 == 0`` (class B): the doc's own first 6 tokens are
  appended → a WITHIN-DOC duplicated pair of 6-token spans (each
  contains two 5-windows occurring twice in this one doc and nowhere
  else);
- ``id % 350 == 0`` (A∩B): layout base24 + rep6 + bp10 — the rep-tail
  and boilerplate covered runs are ADJACENT and must merge into one
  maximal span (the interval-union edge case, asserted).

Closed forms (N forced to a multiple of 350):
  docs with dup_tokens>0 = N/50 + N/70 − N/350
  Σ dup_tokens          = 10·N/50 + 12·N/70
  Σ n_spans             = N/50 + 2·N/70 − N/350   (the A∩B merge)
  keep-first removal    = 10·(N/50 − 1) + 6·N/70  tokens removed
  (doc 0 is first for every boilerplate window and keeps the one
  canonical copy; every B doc keeps its prefix copy and loses the
  tail repeat.)

Usage: python tools/spans_smoke.py [n_docs]   (default 20_000_000)
Prints one JSON line; paste into BASELINE.md.

Local-mode memory: at 40M docs (~1B windows) the 32 concurrent
count-stage tasks share ONE driver heap — set SPARK_DRIVER_MEM=32g
(the get_spark default of 8g OOMs in stage 5 around 30M+). On a real
cluster this pressure is per-executor and the aggregation spills.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from lucene_spark.ops.spans import (  # noqa: E402
    duplicated_span_stats,
    remove_duplicated_spans,
)
from lucene_spark.session import get_spark  # noqa: E402

K = 5
BASE_TOKS = 24
MODULUS = 350  # lcm(50, 70) — makes every closed form exact

BP = " ".join(f"bp{i}token" for i in range(10))  # the shared 10-token span


def _tok(seed: F.Column, uniq: F.Column) -> F.Column:
    # the trailing x<id> makes every base token globally unique: no
    # cross-doc window collision is possible, within-doc repeats (the
    # planted rep span) still compare equal
    return F.concat(F.lit("w"), F.substring(F.md5(seed), 1, 6), F.lit("x"), uniq)


def _toks(seed: F.Column, uniq: F.Column, n: int) -> list[F.Column]:
    return [_tok(F.concat(seed, F.lit(f"_{i}")), uniq) for i in range(n)]


def synth_corpus(spark, n_docs: int) -> DataFrame:
    sid = F.col("id").cast("string")
    base = _toks(sid, sid, BASE_TOKS)
    rep = F.when(
        F.col("id") % 70 == 0, F.concat(F.lit(" "), F.concat_ws(" ", *base[:6]))
    ).otherwise(F.lit(""))
    bp = F.when(F.col("id") % 50 == 0, F.lit(" " + BP)).otherwise(F.lit(""))
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.concat_ws(" ", *base), rep, bp).alias("text"),
    )


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000_000
    n_docs -= n_docs % MODULUS
    assert n_docs > 0, f"n_docs must be >= {MODULUS}"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="spans_smoke", master=f"local[{cpus}]",
                      shuffle_partitions=max(2 * cpus, 16))
    # removed on every exit: at tens of millions of docs the
    # checkpoint is several GB, and a failed assert must not leak it
    ckpt = tempfile.mkdtemp(prefix="spans_smoke_ckpt_")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        docs = synth_corpus(spark, n_docs)
        nA, nB, nAB = n_docs // 50, n_docs // 70, n_docs // 350

        # --- span stats ---------------------------------------------------
        t0 = time.time()
        stats = duplicated_span_stats(docs, "doc_id", "text", k=K)
        agg = stats.agg(
            F.count(F.when(F.col("dup_tokens") > 0, 1)).alias("n_dup_docs"),
            F.sum("dup_tokens").alias("sum_dup"),
            F.sum("n_spans").alias("sum_spans"),
            F.max("dup_frac").alias("max_frac"),
        ).collect()[0]
        t_stats = time.time() - t0
        assert agg["n_dup_docs"] == nA + nB - nAB, (agg["n_dup_docs"], nA + nB - nAB)
        assert agg["sum_dup"] == 10 * nA + 12 * nB, (agg["sum_dup"], 10 * nA + 12 * nB)
        assert agg["sum_spans"] == nA + 2 * nB - nAB, (
            agg["sum_spans"], nA + 2 * nB - nAB,
        )  # the A∩B adjacent-run merge

        # --- keep-first removal (checkpointed to parquet: the re-scan
        # below must time the scan of the CLEANED corpus, not a lazy
        # recompute of the whole removal pipeline — and a parquet handoff
        # is both the production shape between pipeline phases and ~3×
        # lighter on local disk than caching raw rows) ---------------------
        t0 = time.time()
        remove_duplicated_spans(docs, "doc_id", "text", k=K).write.mode(
            "overwrite"
        ).parquet(ckpt)
        cleaned = spark.read.parquet(ckpt)
        row = cleaned.agg(
            F.count("*").alias("n"),
            F.sum("removed_tokens").alias("removed"),
        ).collect()[0]
        t_remove = time.time() - t0
        want_removed = 10 * (nA - 1) + 6 * nB
        assert row["n"] == n_docs, (row["n"], n_docs)
        assert row["removed"] == want_removed, (row["removed"], want_removed)

        # --- idempotence: a second stats pass on the cleaned corpus finds
        # only the one kept boilerplate copy (df=1 → nothing duplicated) ---
        t0 = time.time()
        n_still = (
            duplicated_span_stats(cleaned, "id", "clean_text", k=K)
            .where("dup_tokens > 0")
            .count()
        )
        t_recheck = time.time() - t0
        assert n_still == 0, n_still

        n_tokens = n_docs * BASE_TOKS + 6 * nB + 10 * nA
        out = {
            "metric": "duplicated_spans_smoke",
            "n_docs": n_docs,
            "n_tokens": n_tokens,
            "cpus": cpus,
            "k": K,
            "stats_sec": round(t_stats, 1),
            "stats_docs_per_sec": round(n_docs / t_stats, 1),
            "remove_sec": round(t_remove, 1),
            "recheck_sec": round(t_recheck, 1),
            "dup_docs": int(agg["n_dup_docs"]),
            "removed_tokens": int(row["removed"]),
            "all_asserts": "green",
        }
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
