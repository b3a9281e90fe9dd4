"""The two workloads: a read-only query stream and an ingest cycle.

Both run one client thread in a closed loop — the next operation is sent
when the previous one returns. The read stream is served by one
long-lived searcher; ingest reopens its searcher after every append. The
end-to-end numbers come from untraced runs, where each operation is one
public call (``SparkSearcher.search(...).collect()``, ``process_batch``,
...). A traced run splits each query into its public steps (parse,
rewrite/optimize, execute, collect) and records per-layer numbers.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import numpy as np

import corpus as corpus_mod
from oracle import Oracle
from queries import SHAPES, QueryStream
from tracing import Tracer

from lucene_spark.analysis import Analyzer
from lucene_spark.index.builder import IndexConfig, build_index, load_index
from lucene_spark.index.lifecycle import delete_docs
from lucene_spark.search.executor import SparkSearcher
from lucene_spark.search.parser import parse_query
from lucene_spark.streaming.incremental import (
    IncrementalIndexWriter,
    maybe_compact,
    merge_delta,
)

K = 10
SETUP_REPEATS = 2
BUILD_PHASES = ("docs", "seg_plan", "segments", "merge", "term_dict")
INDEX_PARTS = ("docs", "postings", "term_dict", "term_dict_fc")

# Sizes for a 4-core box; see README.md for how they were chosen.
ZIPF_DOCS = 4_000
ZIPF_BANDS = {"hot": (2, 10), "mid": (30, 100), "rare": (1000, 3000), "later": (10, 200)}
# warm-up draws from the next ranks down, so measured terms stay unseen
ZIPF_WARM_BANDS = {"hot": (10, 20), "mid": (100, 200), "rare": (3000, 5000),
                   "later": (10, 300)}
# numeric Zipf terms are dense: a fuzzy match on a three-character head
# term takes its ten one-digit extensions, a long wildcard prefix a few
ZIPF_EXPANSION = {"wildcard": (3, 6), "fuzzy": (8, 12)}
INGEST_BASE_TURNS = 4_000
INGEST_BATCH_TURNS = 800
# the ingest cycle serves a few mixed queries, one per kernel family:
# posting decode, narrowed conjunction, positions, dictionary expansion
INGEST_SHAPES = ("term", "conv_scoped", "phrase_sloppy", "wildcard")
TRANSCRIPT_BANDS = {"hot": (0, 10), "mid": (10, 20), "rare": (20, 31), "later": (10, 31)}
TRANSCRIPT_EXPANSION = {"wildcard": (1, 5), "fuzzy": (1, 5)}
EPILOGUE_BATCH_DOCS = 500
# A run measures a fixed amount of work, so that every run times the same
# mix: per ROUND_SECONDS of --seconds (about the time a unit takes on a
# 4-core box), one round of all shapes (search_zipf) or one append cycle
# (ingest).
ROUND_SECONDS = 10


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _file_state(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of files created or rewritten between two snapshots."""
    return sum(size for p, (size, m) in after.items() if before.get(p) != (size, m))


class Run:
    """State shared by both workloads for one benchmark run."""

    def __init__(self, spark, work_dir: str, seed: int, seconds: float, trace: bool,
                 session_s: float):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(spark, trace)
        self.trace = trace
        self.session_s = session_s
        self.tracer.add("session.start_s", session_s)
        self.cfg = IndexConfig(
            field_policy={"text": "text", "conv_id": "keyword"},
            analyzer=Analyzer("[a-zA-Z0-9]+", lowercase=True, name="bench"),
            seg_size=4096,
        )
        self.attempted = 0
        self.failures: dict[str, int] = defaultdict(int)
        self.wrong: list[str] = []
        self.query_ms: list[float] = []
        self.op_s: list[float] = []
        self.pending: list[tuple] = []  # (spec, rows) not yet checked

    # ------------------------------------------------------------ setup
    def setup(self, corpus) -> tuple[object, str]:
        """Build the index and open it, SETUP_REPEATS times over.

        Set-up is everything before the first query can be served:
        session start plus the median build-and-open. The first build is
        the session's first Spark work and also pays for JIT and Python
        worker start-up, as a fresh server does; the second is warm, and
        the median of the two is their mean. Each build goes to a fresh
        directory; the last one serves the workload.
        """
        frame = self.spark.createDataFrame(corpus.frame())
        setups = []
        for i in range(SETUP_REPEATS):
            if i:
                shutil.rmtree(index_dir)
            index_dir = os.path.join(self.work, f"index{i}")
            with self.tracer.span("index.builder", "build") as info:
                ix = build_index(self.spark, frame, index_dir, self.cfg,
                                 order_cols=["conv_id", "turn_idx"])
            with self.tracer.span("index.builder", "open") as op:
                searcher = SparkSearcher(load_index(self.spark, index_dir))
            setups.append(info["s"] + op["s"])
            phases = ix.stats["build_timings_sec"]
            for p in BUILD_PHASES:
                self.tracer.add(f"index.builder.{p}_s", phases[p])
            self.tracer.add("index.builder.stats_s",
                            info["s"] - sum(phases[p] for p in BUILD_PHASES))
            self.tracer.add("index.builder.turns_per_s", corpus.n_docs / info["s"])
            if self.trace:
                self.tracer.add("index.builder.jobs", info["jobs"])
                self.tracer.add("index.builder.tasks", info["tasks"])
        for part in INDEX_PARTS:
            self.tracer.add(f"index.builder.bytes.{part}",
                            dir_bytes(os.path.join(index_dir, part)))
        self.bytes_ratio = dir_bytes(index_dir) / corpus.input_bytes()
        self.setup_s = self.session_s + statistics.median(setups)
        log(f"build+open {[round(s, 2) for s in setups]}")
        return searcher, index_dir

    # ---------------------------------------------------------- queries
    def query(self, searcher, spec, oracle, measured: bool = True) -> None:
        """One query, timed; the answer is kept for checking later."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if self.trace and measured:
                rows = self._traced_query(searcher, spec)
            else:
                rows = searcher.search(spec.text(), k=K, score_mode=spec.mode,
                                       default_field="text").collect()
        except Exception:
            self.failures[spec.shape] += 1
            self.wrong.append(f"{spec.text()}: {traceback.format_exc(limit=2)}")
            return
        dt = time.perf_counter() - t0
        rows = [(int(r["doc_id"]), float(r["score"])) for r in rows]
        self.pending.append((spec, rows))
        log(f"{dt * 1e3:7.0f} ms  {spec.mode:7s} {spec.text()}")
        if measured:
            self.query_ms.append(dt * 1e3)
            self.op_s.append(dt)
            self.tracer.add(f"search.shape.{spec.shape}.p50_ms", dt * 1e3)

    def _traced_query(self, searcher, spec):
        tr, ix = self.tracer, searcher.index
        with tr.span("search.parser", "parse"):
            ix.set_default_search_field("text")
            q = parse_query(spec.text(), "text")
        with tr.span("search.query", "rewrite"):
            q = q.rewrite(ix).optimize(ix)
        tr.add("search.query.expanded_terms", len(q.query_terms()))
        with tr.span("search.executor", "plan") as pl:
            df = searcher.execute(q, k=K, score_mode=spec.mode)
        with tr.span("search.executor", "collect") as co:
            rows = df.collect()
        for key in ("stages", "tasks", "failed_tasks"):
            tr.add(f"search.executor.{key}", pl[key] + co[key])
        m = tr.plan_metrics(df)
        for key in ("scan_rows", "scan_bytes", "shuffle_bytes", "python_rows",
                    "python_ms", "jvm_pipeline_ms"):
            tr.add(f"search.executor.{key}", m[key])
        tr.add("search.executor.rows_per_hit", m["scan_rows"] / max(1, len(rows)))
        return rows

    def check(self, oracle) -> None:
        """Score every kept answer against the oracle (outside timing);
        called before the corpus or its deletions change."""
        for spec, rows in self.pending:
            err = oracle.check(spec, rows, K)
            if err:
                self.failures[spec.shape] += 1
                self.wrong.append(f"{spec.text()} [{spec.mode}]: {err}")
        self.pending = []

    # --------------------------------------------------------- write path
    def append(self, state: dict, batch, needle: str, needle_doc: int) -> None:
        """Append one batch, reopen, and probe for its needle."""
        tr, b = self.tracer, state["batch"]
        frame = self.spark.createDataFrame(batch.frame())
        before = _file_state(state["dir"]) if self.trace else None
        self.attempted += 1
        with tr.span("streaming.incremental", "append") as ap:
            state["writer"].process_batch(frame, b)
        with tr.span("streaming.incremental", "reopen") as ro:
            ix = load_index(self.spark, state["dir"])
            state["searcher"] = SparkSearcher(ix)
        with tr.span("streaming.incremental", "probe") as pr:
            rows = state["searcher"].search(f"text:{needle}", k=K,
                                            default_field="text").collect()
        if self.trace:
            state["written"] += _written(before, _file_state(state["dir"]))
        state["appended_bytes"] += batch.input_bytes()
        state["batch"] += 1
        self.op_s += [ap["s"], ro["s"], pr["s"]]
        self.query_ms.append(pr["s"] * 1e3)
        tr.add("streaming.incremental.visible_ms", (ap["s"] + ro["s"] + pr["s"]) * 1e3)
        tr.add("streaming.incremental.append_turns_per_s", batch.n_docs / ap["s"])
        tr.add("streaming.incremental.tiers", state["gens"] + 1)
        if [r["doc_id"] for r in rows] != [needle_doc]:
            self.failures["needle"] += 1
            self.wrong.append(f"needle {needle}: got {rows}, want doc {needle_doc}")

    def delete(self, state: dict, oracle, rng) -> str:
        """Delete a seeded conversation; returns its id."""
        conv = oracle.corpus.conv_ids[int(rng.integers(oracle.corpus.n_docs))]
        ids = oracle.conv_docs(conv).tolist()
        self.attempted += 1
        with self.tracer.span("index.lifecycle", "delete") as de:
            delete_docs(state["searcher"].index, ids)
        oracle.deleted.update(ids)
        self.op_s.append(de["s"])
        return conv

    def compact(self, state: dict, conv: str) -> None:
        """``maybe_compact``, then check the deleted conversation is gone."""
        tr = self.tracer
        ix = state["searcher"].index
        before = _file_state(state["dir"]) if self.trace else None
        base_docs = ix.stats["n_docs"]
        self.attempted += 1
        with tr.span("streaming.incremental", "compact") as co:
            ix = maybe_compact(ix, self.cfg)
        merged = ix.stats["n_docs"] > base_docs
        tr.add(f"streaming.incremental.{'merge' if merged else 'promote'}_ms", co["s"] * 1e3)
        state["searcher"] = SparkSearcher(ix)
        state["gens"] = 0 if merged else state["gens"] + 1
        state["compact_s"] += co["s"]
        if self.trace:
            state["written"] += _written(before, _file_state(state["dir"]))
        self.attempted += 1
        t0 = time.perf_counter()
        rows = state["searcher"].search(f"conv_id:{conv}", k=K).collect()
        dt = time.perf_counter() - t0
        self.op_s += [co["s"], dt]
        self.query_ms.append(dt * 1e3)
        if rows:
            self.failures["deleted"] += 1
            self.wrong.append(f"deleted conversation {conv} still matches: {rows}")

    def final_merge(self, state: dict) -> None:
        tr = self.tracer
        before = _file_state(state["dir"]) if self.trace else None
        self.attempted += 1
        with tr.span("streaming.incremental", "merge") as me:
            ix = merge_delta(state["searcher"].index, self.cfg)
        state["searcher"] = SparkSearcher(ix)
        self.op_s.append(me["s"])
        state["compact_s"] += me["s"]
        tr.add("streaming.incremental.compact_s", state["compact_s"])
        if self.trace:
            state["written"] += _written(before, _file_state(state["dir"]))
            tr.add("streaming.incremental.write_amp",
                   state["written"] / state["appended_bytes"])

    # ----------------------------------------------------------- result
    def result(self) -> dict:
        failed = sum(self.failures.values())
        for line in self.wrong[:20]:
            print("WRONG:", line, file=sys.stderr)
        print(f"attempted={self.attempted} failed={failed} by_shape={dict(self.failures)} "
              f"queries={len(self.query_ms)} ops={len(self.op_s)}", file=sys.stderr)
        if self.trace:
            metrics = self.tracer.summary()
            metrics["trace.overhead_ms"] = self.tracer.overhead_ms()
        else:
            metrics = {
                "setup_s": self.setup_s,
                "query_p50_ms": statistics.median(self.query_ms),
                "ops_per_s": len(self.op_s) / sum(self.op_s),
                "index_bytes_per_input_byte": self.bytes_ratio,
                "success_rate": (self.attempted - failed) / self.attempted,
            }
        return {"correct": failed == 0, "attempted": self.attempted,
                "failed": failed, "metrics": metrics}


def rounds(seconds: float) -> int:
    return max(1, round(seconds / ROUND_SECONDS))


def _plant_needle(batch, b: int, rng) -> tuple[str, int]:
    """Replace one token of one doc with a token no other doc has."""
    needle = f"needle{b:04d}"
    doc = int(rng.integers(batch.n_docs))
    tid = batch._intern(needle)
    toks = batch.tokens[doc]
    toks[int(rng.integers(len(toks)))] = tid
    batch.texts[doc] = " ".join(batch.vocab[t] for t in toks)
    return needle, doc


def _write_state(run: Run, searcher, index_dir: str) -> dict:
    return {"dir": index_dir, "searcher": searcher, "batch": 0, "gens": 0,
            "written": 0, "appended_bytes": 0, "compact_s": 0.0,
            "writer": IncrementalIndexWriter(index_dir, run.cfg)}


def _write_cycle(run: Run, state: dict, oracle, batch, rng, queries=()) -> None:
    """Append a batch with a planted needle, reopen and probe; delete a
    seeded conversation; serve ``queries`` from the tiered index with its
    tombstones; compact, and check the conversation is gone."""
    needle, doc = _plant_needle(batch, state["batch"], rng)
    run.append(state, batch, needle, oracle.corpus.n_docs + doc)
    oracle.corpus.extend(batch)
    oracle.refresh()
    conv = run.delete(state, oracle, rng)
    for spec in queries:
        run.query(state["searcher"], spec, oracle)
    run.check(oracle)
    run.compact(state, conv)


def search_zipf(run: Run) -> dict:
    corpus = corpus_mod.zipf(run.seed, ZIPF_DOCS)
    oracle = Oracle(corpus)
    stream = QueryStream(oracle, run.seed, ZIPF_BANDS, expansion=ZIPF_EXPANSION,
                         warm_bands=ZIPF_WARM_BANDS)
    searcher, index_dir = run.setup(corpus)
    log(f"setup {run.setup_s:.2f}s")
    for spec in stream.warmup():
        run.query(searcher, spec, oracle, measured=False)
    log("warm")
    for _ in range(rounds(run.seconds) * len(SHAPES)):
        run.query(searcher, stream.next(), oracle)
    log("measured")
    run.check(oracle)
    if run.trace:
        # one write cycle on this corpus shape, so that every per-layer
        # metric has a value
        rng = np.random.default_rng([run.seed, 5])
        state = _write_state(run, searcher, index_dir)
        batch = corpus_mod.zipf(run.seed * 100, EPILOGUE_BATCH_DOCS)
        batch.conv_ids = [f"y_{c}" for c in batch.conv_ids]
        _write_cycle(run, state, oracle, batch, rng)
        run.final_merge(state)
    return run.result()


def ingest(run: Run) -> dict:
    base = corpus_mod.transcripts(run.seed, INGEST_BASE_TURNS)
    oracle = Oracle(base)
    # a traced run serves every shape, so that each has its per-layer time
    stream = QueryStream(oracle, run.seed, TRANSCRIPT_BANDS, expansion=TRANSCRIPT_EXPANSION,
                         shapes=SHAPES if run.trace else INGEST_SHAPES)
    searcher, index_dir = run.setup(base)
    log(f"setup {run.setup_s:.2f}s")
    for spec in stream.warmup():
        run.query(searcher, spec, oracle, measured=False)
    run.check(oracle)
    log("warm")
    rng = np.random.default_rng([run.seed, 4])
    state = _write_state(run, searcher, index_dir)
    for b in range(rounds(run.seconds)):
        batch = corpus_mod.transcripts(run.seed * 1000 + b, INGEST_BATCH_TURNS,
                                       conv_prefix=f"n{b:04d}_")
        _write_cycle(run, state, oracle, batch, rng,
                     [stream.next() for _ in stream.shapes])
    run.final_merge(state)
    return run.result()


WORKLOADS = {"search_zipf": search_zipf, "ingest": ingest}
