"""Query execution: primitive query tree → DataFrame program.

The compile steps (parse → rewrite → optimize → weights) are driver-side
pure Python shared with the model; THIS module turns the optimized tree
into a declarative DataFrame plan that Catalyst executes:

- leaf terms: ONE filtered scan of the postings table for ALL query
  terms (filter pushed to parquet; postings are sorted by (field, term)
  so row-group stats prune), then one Arrow-batched decode pass
  (numpy varbyte) → rows (qid, doc_id, tf, dl[, positions])
- boolean algebra: unions + a single groupBy(doc_id) per node computing
  (sum score, matched count, required-matched count, prohibited-hit
  flag). Prohibited TERMS ride in the same leaf decode with value 0 and
  are dropped by a max-flag filter — no second scan, no anti-join; only
  non-term prohibited children (phrases, nested booleans) fall back to
  a left-anti join (Catalyst/AQE pick the physical join)
- scoring: literal weight constants computed on the driver from the
  term dictionary (exactly the model's weight math), so the executor
  emits pure column arithmetic (whole-stage codegen, no Python)
- phrases: positions arrays joined per term, frequency computed by the
  SAME python function the model uses (lucene_spark.search.phrase),
  Arrow-batched
- top-k: ORDER BY score DESC, doc_id ASC LIMIT k (Spark's TakeOrdered)

Two pruned BM25 top-k kernels sit next to the exact plan, both exact by
construction, and which one a query takes depends on its shape:
single-term block-max WAND (:func:`topk_wand`) ranks block upper bounds
on the driver and decodes only blocks that can reach the top-k; every
multi-term shape (OR, AND, AND-NOT) and every phrase runs a co-grouped
range kernel (:func:`topk_and_cogrouped`, :func:`topk_phrase_cogrouped`)
that shuffles the compressed block binaries once by doc range and emits
each range's top-k. A selective required term narrows a range kernel's
scan the way it narrows the exact plan's (:func:`_candidate_docs`), and
both kernels drop tombstoned docs themselves.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.codec.norms import NORM_TABLE
from lucene_spark.codec.varbyte import decode_blocks
from lucene_spark.index.builder import BLOCK_DOC_RANGE, SparkIndex
from lucene_spark.search.query import (
    BooleanQuery,
    EmptyResult,
    Insignificant,
    MultiTermQuery,
    PhraseQuery,
    Query,
    Term,
    TermQuery,
)
from lucene_spark.search.parser import parse_query
from lucene_spark.search.similarity import (
    BM25_B,
    BM25_K1,
    bm25_idf,
    get_default,
)


# ---------------------------------------------------------------- decode

_DECODE_SCHEMA = StructType(
    [
        StructField("qid", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("tf", IntegerType()),
        StructField("dl", IntegerType()),
    ]
)
_DECODE_POS_SCHEMA = StructType(
    _DECODE_SCHEMA.fields + [StructField("positions", ArrayType(IntegerType()))]
)


def _cand_span_cond(cand: np.ndarray):
    """Scan predicate keeping the posting blocks whose doc span overlaps
    the sorted candidate ids ``cand`` (pushed down on doc_base and
    max_docid); no block for an empty set."""
    if not len(cand):
        return F.lit(False)
    return (F.col("doc_base") <= int(cand[-1])) & (F.col("max_docid") >= int(cand[0]))


def decode_postings(
    index: SparkIndex,
    terms: list[Term],
    need_positions: bool = False,
    doc_filter: "np.ndarray | None" = None,
    where: Column | None = None,
) -> DataFrame:
    """One scan+decode for all query terms → (qid, doc_id, tf, dl[, pos]).

    qid = position of the term in ``terms``. The filter is an OR of
    (field, term) equalities — pushed down to the parquet scan — and
    ``where``, if given (WAND's block-bound filter). A term appearing
    TWICE in ``terms`` (e.g. the user query '+table +table') gets its
    postings emitted once per qid, so required-count checks and per-qid
    weights stay correct.

    Rows of the index's tombstoned docs are dropped inside the kernel:
    a doc's score depends only on its own rows and every hit comes out
    of this decode, so this is the reference's deletion-bitmap check
    while collecting hits (src/Index.php:705-724), with no join.

    ``doc_filter`` (doc ids, broadcast to the executors) is the
    candidate set of a conjunction: any hit must carry the rarest
    required term, whose ids the driver read (:func:`_candidate_docs`).
    Blocks outside [min, max] of the set never leave the scan, blocks
    whose [doc_base, max_docid] span holds no candidate are skipped
    before decoding, and rows of other docs are dropped after it —
    block-level pruning alone cannot cut rows for uniformly scattered
    terms, where every block overlaps some candidate (BASELINE §6.1).
    """
    qid_lists: dict[tuple[str, str], list[int]] = {}
    for i, t in enumerate(terms):
        qid_lists.setdefault((t.field, t.text), []).append(i)
    qid_map = {k: v[0] for k, v in qid_lists.items()}
    dup_map = {v[0]: v[1:] for v in qid_lists.values() if len(v) > 1}
    # explicit projection: mapInPandas consumes whatever it is given, so
    # without this select the parquet scan reads ALL columns — including
    # pos_bin, the largest in the index — even for non-phrase queries.
    # (.explain ReadSchema confirms the pruning.)
    cols = ["field", "term", "doc_base", "n", "docs_bin", "tfs_bin", "dls_bin"]
    if need_positions:
        cols.append("pos_bin")
    cond = _terms_cond(terms)
    if where is not None:
        cond = cond & where
    tomb_bc = index.tombstones_broadcast() if doc_filter is None else None
    cand = None
    if doc_filter is not None:
        cand = np.unique(np.asarray(doc_filter, dtype=np.int64))
        if index.tombstones is not None:
            cand = np.setdiff1d(cand, index.tombstones, assume_unique=True)
        cols.append("max_docid")
        cond = cond & _cand_span_cond(cand)
    blocks = index.postings.where(cond).select(*cols)
    schema = _DECODE_POS_SCHEMA if need_positions else _DECODE_SCHEMA
    # broadcasts, not closure captures: the id sets can be MBs and must
    # ship to each executor once, not per task. Both are the index's:
    # the tombstones' made once per refresh, a candidate set's once per
    # distinct set (a repeated query reuses it)
    cand_bc = None if cand is None else index.ids_broadcast(cand)

    def decode(it):
        for pdf in it:
            qids_row = np.array(
                [qid_map.get((f, t), -1) for f, t in zip(pdf["field"], pdf["term"])],
                dtype=np.int32,
            )
            keep = qids_row >= 0
            if cand_bc is not None and len(pdf):
                # skip blocks whose doc span holds no candidate
                c = cand_bc.value
                lo = np.searchsorted(c, pdf["doc_base"].to_numpy(np.int64))
                hi = np.searchsorted(c, pdf["max_docid"].to_numpy(np.int64), "right")
                keep &= hi > lo
            if not keep.any():
                continue
            pdf, qids_row = pdf[keep], qids_row[keep]
            n = pdf["n"].to_numpy(np.int64)
            docs, tfs, dls, pos = decode_blocks(
                pdf["doc_base"],
                n,
                pdf["docs_bin"],
                pdf["tfs_bin"],
                pdf["dls_bin"],
                pdf["pos_bin"] if need_positions else None,
            )
            res = pd.DataFrame(
                {
                    "qid": np.repeat(qids_row, n),
                    "doc_id": docs,
                    "tf": tfs.astype(np.int32),
                    "dl": dls.astype(np.int32),
                }
            )
            if need_positions:
                # split on the decoded tf run lengths BEFORE the row mask
                splits = np.cumsum(tfs)[:-1]
                res["positions"] = np.split(pos.astype(np.int32), splits)
            if cand_bc is not None or tomb_bc is not None:
                rows = np.ones(len(docs), dtype=bool)
                if cand_bc is not None:
                    rows &= _member(cand_bc.value, docs)
                if tomb_bc is not None:
                    rows &= ~_member(tomb_bc.value, docs)
                res = res[rows]
                if len(res) == 0:
                    continue
            if dup_map:
                # duplicate query terms: re-emit their rows per extra qid
                copies = [res]
                for first_qid, extras in dup_map.items():
                    sub = res[res["qid"] == first_qid]
                    for q2 in extras:
                        copies.append(sub.assign(qid=np.int32(q2)))
                res = pd.concat(copies, ignore_index=True)
            yield res

    return blocks.mapInPandas(decode, schema)


def _member(sorted_ids: np.ndarray, docs: np.ndarray) -> np.ndarray:
    """Mask of ``docs`` found in the sorted array ``sorted_ids``."""
    if not len(sorted_ids):
        return np.zeros(len(docs), dtype=bool)
    idx = np.minimum(np.searchsorted(sorted_ids, docs), len(sorted_ids) - 1)
    return sorted_ids[idx] == docs


def dump_postings(index: SparkIndex, field: str) -> DataFrame:
    """Decode EVERY posting block of one field → (term, doc_id, tf, dl).

    The round-trip check for the whole build path (tokenize → invert →
    block-pack → merge → decode): its output must equal the plain
    explode/groupBy recomputation from the raw text. One Arrow-batched
    decode pass over the postings scan, no shuffle.
    """
    blocks = index.postings.where(F.col("field") == field).select(
        "term", "doc_base", "n", "docs_bin", "tfs_bin", "dls_bin"
    )
    schema = StructType(
        [
            StructField("term", StringType()),
            StructField("doc_id", LongType()),
            StructField("tf", IntegerType()),
            StructField("dl", IntegerType()),
        ]
    )

    def decode(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            n = pdf["n"].to_numpy(np.int64)
            docs, tfs, dls, _ = decode_blocks(
                pdf["doc_base"], n, pdf["docs_bin"], pdf["tfs_bin"], pdf["dls_bin"]
            )
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(dtype=object), n),
                    "doc_id": docs,
                    "tf": tfs.astype(np.int32),
                    "dl": dls.astype(np.int32),
                }
            )

    return blocks.mapInPandas(decode, schema)


def _phrase_freq_batch(
    qid_cache: dict,
    slot_qid: list[int],
    offsets: list[int],
    slop: int,
    n_rows: int,
    sf_np,
) -> "np.ndarray":
    """Per-row phrase frequency over flat position arrays — the ONE
    kernel body shared by the phrase pandas UDF (:meth:`_phrase_df`)
    and the co-grouped phrase kernel (:func:`topk_phrase_cogrouped`),
    so both plans score BIT-identically (accumulation order included).

    ``qid_cache[qid] = (rows, flat, lens, bounds)``: ``rows`` the row
    index per position, ``flat`` the positions, ``lens`` per-row
    position counts, ``bounds`` row boundaries into ``flat`` (row r's
    positions are ``flat[bounds[r]:bounds[r+1]]``, ascending).

    slop == 0 — batch-vectorized exact phrase: an alignment at start s
    exists iff s ∈ ∩_i (positions_i − offset_i); encode (row,
    shifted_pos) as one int64 key and reduce with sort-based np.isin —
    no per-row Python (Phrase.php:378-415 semantics).

    slop > 0 — :func:`phrase.sloppy_freq_batch`, the closed form of the
    reference's candidate queue (Phrase.php:425-491) for any slot count
    and any Similarity's ``sf_np``; a row's value depends on its own
    positions only, whatever batch it arrives in.
    """
    n_slots = len(slot_qid)
    if slop == 0:
        slot_keys = []
        for i in range(n_slots):
            rows, flat, _l, _b = qid_cache[slot_qid[i]]
            slot_keys.append(
                (rows << np.int64(32)) | (flat - offsets[i] + 2048)
            )
        common = slot_keys[0]
        for i in range(1, n_slots):
            common = common[np.isin(common, slot_keys[i])]
        freq = np.zeros(n_rows, dtype=np.float64)
        if len(common):
            rws, counts = np.unique(common >> np.int64(32), return_counts=True)
            freq[rws] = counts
        return freq

    from lucene_spark.search.phrase import sloppy_freq_batch

    slots = [
        (qid_cache[j][1], qid_cache[j][3][:-1], qid_cache[j][2]) for j in slot_qid
    ]
    return sloppy_freq_batch(slots, offsets, slop, sf_np)


def _uniq_slots(terms: list[Term]) -> tuple[list[Term], list[int]]:
    """(unique terms, slot→unique index) for a phrase's term list —
    duplicate phrase words share one decoded term."""
    uniq: list[Term] = []
    slot_qid: list[int] = []
    for t in terms:
        key = (t.field, t.text)
        for j, u in enumerate(uniq):
            if (u.field, u.text) == key:
                slot_qid.append(j)
                break
        else:
            slot_qid.append(len(uniq))
            uniq.append(t)
    return uniq, slot_qid


# ------------------------------------------------------------- searcher

PROHIBITED_BROADCAST_MAX_DF = 2_000_000  # ≈16 MB of doc ids — broadcast
# the prohibited-set anti-join below this (Σ df bound, driver-known);
# above it, fall back to the shuffled anti-join (AQE picks the strategy).
# Only NON-TERM prohibited children (phrases, nested booleans) take this
# join at all — prohibited TERMS merge into the scorable leaf scan with
# value 0 and are dropped by the aggregate's max(_pro) flag (round 5)

RANGE_PRUNE_QUANTUM = 64  # conjunction narrowing engages when the
# rarest required term's docs could cover at most ~1/4 of the doc space
# in buckets of this many docs even if perfectly spread (df · Q · 4 ≤ N)

RAREST_FETCH_MAX_DF = 1_000_000  # bound on the rarest required term's
# doc ids read to the driver (≤ 8 MB of int64) as a conjunction's
# candidate set. Above it the conjunction is not narrowed at all, not
# even by block spans: with the gate above that takes a corpus of
# 256M+ docs, a case no benchmark covers


def _candidate_docs(ix: SparkIndex, req_terms: list[Term]) -> np.ndarray | None:
    """Sorted doc ids of the rarest of ``req_terms`` when it is selective
    (the gates above), else None — the distributed analogue of driving a
    posting-list intersection by its shortest list. Exact: every hit of
    a conjunction contains the rare term, so each decode under it may
    drop other docs (``decode_postings(doc_filter=...)``). The ids are
    decoded from the term's blocks read with pyarrow on the driver: no
    Spark job."""
    rare = min(req_terms, key=ix.doc_freq)
    df = ix.doc_freq(rare)
    if df * RANGE_PRUNE_QUANTUM * 4 > ix.n_docs or df > RAREST_FETCH_MAX_DF:
        return None
    t = ix.read_blocks(rare, ["doc_base", "n", "docs_bin"])
    docs, _tf, _dl, _pos = decode_blocks(
        t.column("doc_base").to_numpy(),
        t.column("n").to_numpy(),
        t.column("docs_bin").to_pylist(),
    )
    return np.unique(docs)


class SparkSearcher:
    """Executes primitive query trees against a SparkIndex."""

    def __init__(self, index: SparkIndex):
        self.index = index
        self.spark = index.spark

    def _empty(self) -> DataFrame:
        # built only on the paths that return it: createDataFrame is a
        # driver round trip of its own
        return self.spark.createDataFrame([], "doc_id long, score double")

    # ---- public API --------------------------------------------------
    def search(
        self,
        query: str | Query,
        k: int = 10,
        score_mode: str = "bm25",
        default_field: str | None = None,
        sort_fields: list[tuple[str, str]] | None = None,
        pruning: str = "auto",
        default_operator: str = "OR",
        result_set_limit: int = 0,
        classic_normalize: bool = True,
    ) -> DataFrame:
        """Parse/compile + execute; returns (doc_id, score) top-k DF.

        ``sort_fields``: optional [(stored_col, 'asc'|'desc'), ...] —
        reference T4 sort-by-stored-fields (src/Index.php:742-825): hits
        are ordered by the docs table's column values (id ASC tiebreak)
        instead of score.

        ``pruning``: pruned top-k policy for eligible BM25 queries —
        'off' (exact plan), 'auto' (the routed plan: a range kernel for
        a phrase or a multi-term shape, WAND for a single term past its
        df gate) or 'force' (the same, WAND's df gate ignored); see
        :meth:`execute`.

        ``default_operator``: 'OR' | 'AND' — bare query terms optional
        vs required (``QueryParser::setDefaultOperator``; string queries
        only).

        ``result_set_limit``: reference parity mode for
        ``Lucene::setResultSetLimit`` — truncates matched docs in
        doc_id order BEFORE normalization/sorting (see :meth:`execute`).
        """
        ix = self.index
        if isinstance(query, str):
            ix.set_default_search_field(default_field)
            query = parse_query(query, default_field, default_operator=default_operator)
        q = query.rewrite(ix).optimize(ix)
        if sort_fields:
            hits = self.execute(
                q, k=0, score_mode=score_mode, result_set_limit=result_set_limit
            )
            cols = [c for c, _d in sort_fields]
            joined = hits.join(ix.docs.select("doc_id", *cols), "doc_id")
            order = [
                F.col(c).desc() if d.lower().startswith("d") else F.col(c).asc()
                for c, d in sort_fields
            ] + [F.col("doc_id").asc()]
            out = joined.orderBy(*order).select("doc_id", "score", *cols)
            return out.limit(k) if k else out
        return self.execute(
            q,
            k=k,
            score_mode=score_mode,
            pruning=pruning,
            result_set_limit=result_set_limit,
            classic_normalize=classic_normalize,
        )

    def execute(
        self,
        q: Query,
        k: int = 10,
        score_mode: str = "bm25",
        pruning: str = "auto",
        result_set_limit: int = 0,
        classic_normalize: bool = True,
    ) -> DataFrame:
        """Execute an optimized primitive tree.

        ``pruning`` selects a pruned top-k plan for eligible queries
        (BM25, k>0; a phrase, a single term, a pure-OR MultiTerm, or a
        MultiTerm with at least one required term). The routed plan
        depends on the shape only: the co-grouped range kernel for a
        phrase and for every multi-term shape, block-max WAND for a
        single term. Each runs 2 Spark jobs (WAND 1), with or without
        tombstones, and the results equal the exact plan's:

        - ``'off'``   — always the exact full-scan plan;
        - ``'auto'``  (default) — the routed plan, except that a single
          term below AUTO_PRUNING_MIN_DF keeps the exact plan. Without
          the presence join the range kernels run 2 jobs to the exact
          plan's 2 and measured faster on every multi-term and phrase
          row at 4k-200k Zipf docs and 868k-4.34M turns (BASELINE.md
          §10.8);
        - ``'force'`` — the same routed plan, WAND's df gate ignored
          (bench/validation). It never selects a plan 'auto' cannot
          reach.

        The value must be one of these strings — a boolean raises, so a
        caller can never pass True and silently get 'off'.

        ``result_set_limit`` > 0 reproduces the reference's pre-sort
        resultSetLimit quirk (src/Index.php:705-735): the matched set is
        truncated to the first N hits in docId order, and top-score
        normalization (classic) plus the final score sort run on the
        TRUNCATED set. Incompatible with pruning (WAND selects by score,
        not docId) — pruning is bypassed when a limit is set.

        The exact plan schedules only its own jobs: the scan+decode, the
        groupBy(doc_id) exchange and the final TakeOrdered. Conjunction
        narrowing reads the rare term's doc ids on the driver, and
        tombstoned docs drop inside the decode (:func:`decode_postings`).
        Classic scores are normalized on one partition with no extra
        job: a ``result_set_limit`` set after its truncation, else for
        k > 0 the k rows after the TakeOrdered (only k = 0 takes a max
        aggregate and a cross join). Dividing by the top score keeps
        the order, so those k rows are
        the first k of the k = 0 result — unless two raw scores that
        differ become equal after the division right at the k-th slot,
        where the k = 0 order breaks the new tie by doc_id and may take
        the doc this plan left out.
        """
        if pruning not in ("off", "auto", "force"):
            raise TypeError(
                f"pruning must be 'off', 'auto' or 'force' (got {pruning!r})"
            )
        if isinstance(q, (Insignificant, EmptyResult)):
            return self._empty()
        if (
            pruning != "off"
            and k
            and not result_set_limit
            and score_mode == "bm25"
        ):
            out = self._pruned_topk(q, k, force=pruning == "force")
            if out is not None:
                return out
        terms = _collect_terms(q)
        self.index.prefetch_terms(terms)
        if score_mode == "classic":
            # lazy import: model ↔ executor would otherwise be a cycle
            # (model.pymodel imports search.query via the package init)
            from lucene_spark.model.pymodel import _ClassicScorer

            scorer = _ClassicScorer(self.index, q)  # weight math only
            df = self._node_df(q, scorer.query_norm, "classic")
        else:
            df = self._node_df(q, 1.0, "bm25")
        if df is None:
            return self._empty()
        # tombstoned docs never get here: decode_postings drops their rows
        out = df.where(F.col("score") != 0.0)
        order = (F.col("score").desc(), F.col("doc_id").asc())
        if result_set_limit:
            # QUIRK parity: truncate in docId order BEFORE normalization
            # and the score sort (src/Index.php:705-724) — the reference
            # stops collecting hits at the limit while iterating
            # matchedDocs (a docId-ordered array)
            out = out.orderBy(F.col("doc_id").asc()).limit(int(result_set_limit))
        if score_mode != "classic" or not classic_normalize:
            out = out.orderBy(*order)
            return out.limit(k) if k else out
        # top-score normalization when top > 1 (src/Index.php:731-735);
        # callers that re-rank across shards (global-stats MultiSearcher)
        # normalize GLOBALLY instead and pass classic_normalize=False
        if k or result_set_limit:
            # the top row of the k best is the global max: normalize the
            # k rows after TakeOrdered (or the docId-truncated set). A
            # limit leaves one partition, so one window group adds no
            # exchange. Its key is true on every row (no score is null)
            # but is not a literal: Spark drops a literal key, then logs
            # a WARN about moving all data to one partition on every
            # classic query, at the default log level, for a move that
            # does not happen here
            if not result_set_limit:
                out = out.orderBy(*order).limit(k)
            one = Window.partitionBy(F.col("score").isNotNull())
            out = _top_normalized(out, F.max("score").over(one))
            return out.limit(k) if k else out
        top = out.agg(F.max("score").alias("m"))
        out = _top_normalized(out.crossJoin(F.broadcast(top)), F.col("m"))
        return out.limit(k) if k else out

    def _pruned_topk(self, q: Query, k: int, force: bool) -> DataFrame | None:
        """The routed pruned top-k plan for ``q``, or None for the exact
        plan: phrases → :func:`topk_phrase_cogrouped`; a single term →
        :func:`topk_wand`; every other eligible MultiTerm (pure OR, AND,
        AND-NOT) → :func:`topk_and_cogrouped`. ``force`` skips WAND's df
        gate, never the shape check."""
        ix = self.index
        if isinstance(q, PhraseQuery):
            return topk_phrase_cogrouped(ix, q, k=k)[0]
        shape = _pruned_shape(ix, q)
        if shape is None:
            return None
        terms, weights, required, pro = shape
        if len(terms) == 1 and not pro:
            if not force and ix.doc_freq(terms[0]) < AUTO_PRUNING_MIN_DF:
                return None
            return topk_wand(ix, terms[0], weights[0], k=k)[0]
        # every multi-term shape: one binary-level shuffle whose cost
        # does not depend on the impact distribution (BASELINE.md §10.2)
        return topk_and_cogrouped(ix, terms, weights, required, pro, k=k)[0]

    # ---- leaf scoring -------------------------------------------------
    def _leaf_df(
        self, terms: list[Term], boosts: list[float], values: list[float],
        mode: str, doc_filter=None,
    ) -> DataFrame:
        """Decoded postings for leaf terms with a per-row 'score' column.

        classic: score = sqrt(tf) · value_qid · norm(doc, field) · boost
        bm25:    score = boost · idf_qid · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl))
        value/idf arrive as per-qid literal arrays (driver-computed).
        ``doc_filter``: an enclosing conjunction's candidate doc ids.
        """
        ix = self.index
        sim = get_default()  # pluggable classic hooks (setDefault)
        df = decode_postings(ix, terms, doc_filter=doc_filter)
        val_arr = F.array(*[F.lit(float(v)) for v in values])
        boost_arr = F.array(*[F.lit(float(b)) for b in boosts])
        if mode == "bm25":
            avgdl_arr = F.array(
                *[F.lit(float(ix.avg_field_len(t.field))) for t in terms]
            )
            k1, b = float(BM25_K1), float(BM25_B)
            partial = (
                F.col("tf") * F.lit(k1 + 1.0)
            ) / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * F.col("dl")
                    / F.element_at(avgdl_arr, F.col("qid") + 1)
                )
            )
            score = (
                F.element_at(boost_arr, F.col("qid") + 1)
                * F.element_at(val_arr, F.col("qid") + 1)
                * partial
            )
            return df.select("qid", "doc_id", score.alias("score"))
        # classic: need norm byte per (doc, field) → join docs projection
        fields = sorted({t.field for t in terms})
        field_idx = F.array(
            *[F.lit(fields.index(t.field)) for t in terms]
        )
        norm_cols = [
            F.col(f"norm_{f}").cast("int").alias(f"_n{i}")
            for i, f in enumerate(fields)
        ]
        docs_proj = self.index.docs.select(F.col("doc_id"), *norm_cols)
        df = df.join(docs_proj, "doc_id")
        norm_byte = F.element_at(
            F.array(*[F.col(f"_n{i}") for i in range(len(fields))]),
            F.element_at(field_idx, F.col("qid") + 1) + 1,
        )
        norm_table = F.array(*[F.lit(float(x)) for x in NORM_TABLE])
        norm = F.element_at(norm_table, norm_byte + 1)
        score = (
            sim.tf_expr(F.col("tf"))
            * F.element_at(val_arr, F.col("qid") + 1)
            * norm
            * F.element_at(boost_arr, F.col("qid") + 1)
        )
        return df.select("qid", "doc_id", score.alias("score"))

    # ---- recursive node compilation -----------------------------------
    def _node_df(
        self, q: Query, qn: float, mode: str, doc_filter=None
    ) -> DataFrame | None:
        """DF (doc_id, score) with only score≠0 rows (matched docs).

        ``doc_filter``: candidate doc ids handed down by an enclosing
        conjunction with a selective required term (:func:`_candidate_docs`)
        — any hit carries that term, so every decode in the subtree
        drops the other docs inside the kernel.
        """
        ix = self.index
        N = ix.n_docs
        sim = get_default()

        def term_value(t: Term, owner_boost: float, chain_qn: float) -> float:
            idf = sim.idf(ix.doc_freq(t), N)
            return idf * owner_boost * chain_qn * idf

        if isinstance(q, TermQuery):
            if mode == "classic":
                v = term_value(q.term, q.boost, qn)
                df = self._leaf_df([q.term], [q.boost], [v], mode, doc_filter)
            else:
                df = self._leaf_df(
                    [q.term], [q.boost], [bm25_idf(ix.doc_freq(q.term), N)],
                    mode, doc_filter,
                )
            return df.select("doc_id", "score")

        if isinstance(q, MultiTermQuery):
            signs = q.signs
            active = [
                (t, True if signs is None else signs[i])
                for i, t in enumerate(q.terms)
            ]
            scorable = [(t, s) for t, s in active if s is not False]
            prohibited = [t for t, s in active if s is False]
            if mode == "classic":
                child_qn = qn * q.boost
                values = [term_value(t, q.boost, child_qn) for t, _ in scorable]
            else:
                values = [bm25_idf(ix.doc_freq(t), N) for t, _ in scorable]
            req_terms = [
                t for t, s in scorable if s is True or signs is None
            ]
            # conjunction narrowing: when the rarest REQUIRED term is
            # selective, every term's decode (optional and prohibited
            # included — hits must contain the rare term regardless)
            # keeps only its docs. The '+conv_id:X +text:hot' shape
            # decodes a handful of blocks instead of the hot term's list.
            if doc_filter is None and req_terms:
                doc_filter = _candidate_docs(ix, req_terms)
            # merged-scan NOT: prohibited terms ride in the SAME leaf
            # decode with value/boost 0 (zero score contribution). The
            # aggregate keeps a max-flag `_mp` of "any prohibited term
            # hit this doc"; filtering `_mp == 0` replaces the old
            # decode→distinct→anti-join pipeline — one scan, one decode
            # kernel, one exchange for the whole NOT query (the plan is
            # now shape-identical to AND). Surviving docs carry no
            # prohibited rows, so `_m` (coord) and `_s` stay exact;
            # `_m` still counts only scorable rows for belt-and-braces.
            n_sc = len(scorable)
            leaf = self._leaf_df(
                [t for t, _ in scorable] + prohibited,
                [1.0] * n_sc + [0.0] * len(prohibited),
                values + [0.0] * len(prohibited),
                mode,
                doc_filter,
            )
            req_ids = [
                i for i, (_t, s) in enumerate(scorable) if s is True or signs is None
            ]
            is_req = F.col("qid").isin(req_ids) if req_ids else F.lit(False)
            aggs = [
                F.sum("score").alias("_s"),
                F.sum((F.col("qid") < n_sc).cast("int")).alias("_m"),
                F.sum(is_req.cast("int")).alias("_mr"),
            ]
            if prohibited:
                aggs.append(
                    F.max((F.col("qid") >= n_sc).cast("int")).alias("_mp")
                )
            agg = leaf.groupBy("doc_id").agg(*aggs)
            if req_ids:
                agg = agg.where(F.col("_mr") == len(req_ids))
            if prohibited:
                agg = agg.where(F.col("_mp") == 0)
            if mode == "classic":
                if signs is None:
                    coord = sim.coord(len(q.terms), len(q.terms))
                    score = F.col("_s") * F.lit(coord) * F.lit(q.boost)
                else:
                    max_coord = len(scorable)
                    score = (
                        F.col("_s")
                        * sim.coord_expr(F.col("_m"), max_coord)
                        * F.lit(q.boost)
                    )
            else:
                score = F.col("_s") * F.lit(q.boost)
            return agg.select("doc_id", score.alias("score"))

        if isinstance(q, BooleanQuery):
            signs = q.signs
            child_qn = qn * q.boost
            # subtree conjunction narrowing: a selective REQUIRED
            # TermQuery child (e.g. '+conv_id:X' next to a phrase)
            # narrows every sibling's decode — any doc matching the
            # Boolean must contain it, so the proof from the MultiTerm
            # case carries over to arbitrary subtrees (phrases included)
            req_term_children = [
                sub.term
                for i, sub in enumerate(q.subqueries)
                if isinstance(sub, TermQuery) and (signs is None or signs[i] is True)
            ]
            if doc_filter is None and req_term_children:
                doc_filter = _candidate_docs(ix, req_term_children)
            # Batch TermQuery children into ONE leaf decode: a fuzzy/
            # wildcard rewrite emits up to 1024 per-term-boosted
            # TermQuery clauses (Fuzzy.php:147-298 boost ordering), and
            # per-clause execution would run one scan+decode per clause
            # (observed: 2656 tasks / 238 s for a 332-term fuzzy at
            # sf0.01). One _leaf_df with per-qid boosts/values produces
            # EXACTLY the per-clause rows (each clause yields one row
            # per matching doc), so _m/_mr/score semantics are
            # unchanged. Duplicate terms stay on the per-clause path —
            # decode qids must map 1:1 to unique (field, term) keys.
            batch: list[tuple[Query, bool | None]] = []
            pro_batch: list[Term] = []
            seen_keys: set[tuple] = set()
            others: list[tuple[Query, bool | None]] = []
            for i, sub in enumerate(q.subqueries):
                s = True if signs is None else signs[i]
                key = None
                if isinstance(sub, TermQuery):
                    key = (sub.term.field, sub.term.text)
                if key is not None and key not in seen_keys:
                    seen_keys.add(key)
                    if s is False:
                        pro_batch.append(sub.term)
                    else:
                        batch.append((sub, s))
                else:
                    others.append((sub, s))
            pos = []
            pro = []
            pro_qs: list[Query] = []
            for sub, s in others:
                df = self._node_df(sub, child_qn, mode, doc_filter)
                if s is False:
                    pro.append(df)
                    pro_qs.append(sub)
                else:
                    pos.append((df, s))
            tagged = [
                df.select(
                    "doc_id",
                    "score",
                    F.lit(i).alias("_cid"),
                    F.lit(1 if s is True or signs is None else 0).alias("_req"),
                    F.lit(0).alias("_pro"),
                )
                for i, (df, s) in enumerate(pos)
            ]
            n_req = sum(1 for _df, s in pos if s is True or signs is None)
            if batch or pro_batch:
                b_terms = [sub.term for sub, _s in batch]
                b_boosts = [sub.boost for sub, _s in batch]
                if mode == "classic":
                    b_values = [
                        term_value(sub.term, sub.boost, child_qn)
                        for sub, _s in batch
                    ]
                else:
                    b_values = [
                        bm25_idf(ix.doc_freq(t), N) for t in b_terms
                    ]
                # merged-scan NOT (same shape as MultiTermQuery above):
                # prohibited TermQuery children ride in the one batched
                # decode with value/boost 0 — their rows raise only the
                # `_pro` flag, replacing the docs-only second scan +
                # distinct + anti-join.
                n_b = len(batch)
                leaf = self._leaf_df(
                    b_terms + pro_batch,
                    b_boosts + [0.0] * len(pro_batch),
                    b_values + [0.0] * len(pro_batch),
                    mode,
                    doc_filter,
                )
                req_qids = [i for i, (_sub, s) in enumerate(batch) if s is True]
                is_req = (
                    F.col("qid").isin(req_qids).cast("int")
                    if req_qids
                    else F.lit(0)
                )
                tagged.append(
                    leaf.select(
                        "doc_id",
                        "score",
                        (F.col("qid") + F.lit(len(pos))).alias("_cid"),
                        is_req.alias("_req"),
                        (F.col("qid") >= n_b).cast("int").alias("_pro"),
                    )
                )
                n_req += len(req_qids)
            un = reduce(lambda a, b: a.unionByName(b), tagged)
            aggs = [
                F.sum("score").alias("_s"),
                # matched POSITIVE clause count for coord — prohibited
                # rows must not inflate it (they only exist on docs the
                # `_mp` filter drops, but keep the algebra exact)
                F.sum(F.lit(1) - F.col("_pro")).alias("_m"),
                F.sum("_req").alias("_mr"),
            ]
            if pro_batch:
                aggs.append(F.max("_pro").alias("_mp"))
            agg = un.groupBy("doc_id").agg(*aggs)
            if n_req:
                agg = agg.where(F.col("_mr") == n_req)
            if pro_batch:
                agg = agg.where(F.col("_mp") == 0)
            if pro:
                pro_un = reduce(
                    lambda a, b: a.unionByName(b), [p.select("doc_id") for p in pro]
                ).distinct()
                # Σ df over the prohibited subtrees' terms upper-bounds
                # their matched-doc union — broadcast when small
                pro_df_bound = sum(
                    ix.doc_freq(t) for pq in pro_qs for t in pq.query_terms()
                )
                if pro_df_bound <= PROHIBITED_BROADCAST_MAX_DF:
                    pro_un = F.broadcast(pro_un)
                agg = agg.join(pro_un, "doc_id", "left_anti")
            if mode == "classic":
                if signs is None:
                    # conjunction double-coord (coord(n,n)=1, kept explicit
                    # for parity with Boolean.php:655-665)
                    coord = sim.coord(len(q.subqueries), len(q.subqueries))
                    score = F.col("_s") * F.lit(coord) * F.lit(coord) * F.lit(q.boost)
                else:
                    max_coord = len(pos) + len(batch)
                    score = (
                        F.col("_s")
                        * sim.coord_expr(F.col("_m"), max_coord)
                        * F.lit(q.boost)
                    )
            else:
                score = F.col("_s") * F.lit(q.boost)
            return agg.select("doc_id", score.alias("score"))

        if isinstance(q, PhraseQuery):
            return self._phrase_df(q, qn, mode, doc_filter)

        if isinstance(q, (Insignificant, EmptyResult)):
            return None
        raise TypeError(f"cannot execute {type(q).__name__}")

    def _phrase_df(
        self, q: PhraseQuery, qn: float, mode: str, doc_filter=None
    ) -> DataFrame:
        """Phrase matching with ONE shuffle: decoded per-term positions
        are grouped by doc_id (collect_list of (qid, positions)) instead
        of an (n_terms−1)-way self-join — at 10^6+ docs the join chain
        re-shuffles the heavy positions arrays per term. Duplicate
        phrase words share a decoded term (slot→unique-term mapping)."""
        ix = self.index
        N = ix.n_docs
        sim = get_default()
        # unique terms; each phrase slot maps to its unique term's qid
        uniq, slot_qid = _uniq_slots(q.terms)
        n_uniq = len(uniq)
        # a phrase is a conjunction of its terms: when the rarest one is
        # selective, every term's (positions-bearing, so heaviest)
        # decode keeps only its docs — same exactness argument as the
        # MultiTerm conjunction narrowing
        if doc_filter is None:
            doc_filter = _candidate_docs(ix, uniq)
        posts = decode_postings(ix, uniq, need_positions=True, doc_filter=doc_filter)
        # pivot to one positions column per unique term (each (term,doc)
        # appears exactly once — blocks are doc-disjoint) — plain array
        # columns keep the freq kernel 100% numpy, no nested structs
        aggs = [
            F.first(F.when(F.col("qid") == j, F.col("positions")), ignorenulls=True)
            .alias(f"_q{j}")
            for j in range(n_uniq)
        ] + [
            F.first(F.when(F.col("qid") == 0, F.col("dl")), ignorenulls=True)
            .alias("_dl0")
        ]
        grouped = posts.groupBy("doc_id").agg(*aggs)
        for j in range(n_uniq):
            grouped = grouped.where(F.col(f"_q{j}").isNotNull())
        offsets = list(q.offsets)
        slop = q.slop

        # the similarity hook is captured HERE (driver) so workers score
        # with the similarity that planned the query
        sf_np = sim.sloppy_freq_np

        @F.pandas_udf(DoubleType())
        def freq_udf(*pos_cols: pd.Series) -> pd.Series:
            n_rows = len(pos_cols[0])
            qid_cache: dict[int, tuple] = {}
            for j in set(slot_qid):
                col = pos_cols[j]
                lens = col.map(len).to_numpy(np.int64)
                rows = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
                flat = (
                    np.concatenate(col.to_numpy())
                    if lens.sum()
                    else np.array([], dtype=np.int64)
                ).astype(np.int64)
                # row boundaries into flat: row r's positions are
                # flat[bounds[r]:bounds[r+1]] — O(1) slices replace
                # the pandas .iloc lookups of the round-2 kernel
                bounds = np.zeros(n_rows + 1, dtype=np.int64)
                np.cumsum(lens, out=bounds[1:])
                qid_cache[j] = (rows, flat, lens, bounds)
            return pd.Series(
                _phrase_freq_batch(
                    qid_cache, slot_qid, offsets, slop, n_rows, sf_np
                )
            )

        # exactly ONE ArrowEvalPython per phrase plan: Catalyst pushes
        # the freq>0 filter below the score projection and would
        # otherwise instantiate the UDF twice (once under the filter,
        # once for the score) — every phrase query then pays the Python
        # kernel twice on all candidate rows. Marking the UDF
        # nondeterministic forbids that duplication/pushdown; the result
        # is unchanged (the kernel is pure), asserted in test_plans.py.
        freq_udf = freq_udf.asNondeterministic()
        joined = grouped.withColumn(
            "freq", freq_udf(*[F.col(f"_q{j}") for j in range(n_uniq)])
        ).where(F.col("freq") > 0)

        if mode == "classic":
            idf = sum(sim.idf(ix.doc_freq(t), N) for t in q.terms)
            value = idf * q.boost * qn * idf
            fields = [q.terms[0].field]
            docs_proj = ix.docs.select(
                "doc_id", F.col(f"norm_{fields[0]}").cast("int").alias("_nb")
            )
            joined = joined.join(docs_proj, "doc_id")
            norm_table = F.array(*[F.lit(float(x)) for x in NORM_TABLE])
            norm = F.element_at(norm_table, F.col("_nb") + 1)
            score = sim.tf_expr(F.col("freq")) * F.lit(value) * norm * F.lit(q.boost)
        else:
            df_min = min(ix.doc_freq(t) for t in q.terms)
            avgdl = ix.avg_field_len(q.terms[0].field)
            k1, b = float(BM25_K1), float(BM25_B)
            partial = (F.col("freq") * F.lit(k1 + 1.0)) / (
                F.col("freq")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("_dl0") / F.lit(avgdl))
            )
            score = F.lit(q.boost) * F.lit(bm25_idf(df_min, N)) * partial
        return joined.select("doc_id", score.alias("score"))


def _top_normalized(hits: DataFrame, top: Column) -> DataFrame:
    """``hits`` with scores divided by ``top`` when it exceeds 1, sorted."""
    score = F.when(top > 1.0, F.col("score") / top).otherwise(F.col("score"))
    return hits.select("doc_id", score.alias("score")).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def _collect_terms(q: Query) -> list[Term]:
    out: list[Term] = []
    seen = set()

    def walk(n: Query):
        if isinstance(n, (TermQuery,)):
            cands = [n.term]
        elif isinstance(n, (MultiTermQuery, PhraseQuery)):
            cands = list(n.terms)
        elif isinstance(n, BooleanQuery):
            for s in n.subqueries:
                walk(s)
            return
        else:
            return
        for t in cands:
            k = (t.field, t.text)
            if k not in seen:
                seen.add(k)
                out.append(t)

    walk(q)
    return out


# ------------------------------------------------- block-max top-k path

AUTO_PRUNING_MIN_DF = 65536  # 'auto' routes a single term to WAND from
# this df on: WAND read 0.288 s vs exact 0.306 s on `w1` at 200k Zipf
# docs, 0.270 vs 0.335 s on `table` at 868k turns (BASELINE.md §10.8)
# and beat exact 3x on `w1` and `w50` at 4M (§10.6); below this df no
# size was measured where WAND wins


def _pruned_shape(
    index: SparkIndex, q: Query
) -> tuple[list[Term], list[float], list[bool], list[Term]] | None:
    """(terms, weights, required, prohibited) if ``q`` is servable by a
    pruned kernel: a single term, a pure disjunction (MultiTerm with
    every sign optional), or a MultiTerm with at least one REQUIRED term
    (signs None = pure conjunction; optional terms ride along in the
    scoring set, prohibited terms drop their docs). ``None`` for every
    other shape, and for a term that is both scorable and prohibited —
    those take the exact plan.

    Duplicated scorable terms merge into one unique term whose weight
    sums its occurrences (q.boost · idf each) — the exact plan emits one
    row per occurrence and sums, and the kernels key their weight by
    (field, term). ``required`` is True if ANY occurrence is required.
    Reference semantics anchor: MultiTerm required-conjunction scoring,
    src/Search/Query/MultiTerm.php:333-401."""
    N = index.n_docs
    if isinstance(q, TermQuery):
        index.prefetch_terms([q.term])
        return [q.term], [q.boost * bm25_idf(index.doc_freq(q.term), N)], [True], []
    if not isinstance(q, MultiTermQuery):
        return None
    signs = [True] * len(q.terms) if q.signs is None else q.signs
    if not (all(s is None for s in signs) or any(s is True for s in signs)):
        return None
    merged: dict[tuple[str, str], list] = {}
    pro: dict[tuple[str, str], Term] = {}
    for t, s in zip(q.terms, signs):
        key = (t.field, t.text)
        if s is False:
            pro.setdefault(key, t)
            continue
        e = merged.setdefault(key, [t, 0, False])
        e[1] += 1
        e[2] = e[2] or s is True
    if merged.keys() & pro.keys():
        return None
    terms = [t for t, _m, _r in merged.values()]
    prohibited = list(pro.values())
    index.prefetch_terms(terms + prohibited)
    weights = [
        q.boost * m * bm25_idf(index.doc_freq(t), N) for t, m, _r in merged.values()
    ]
    required = [r for _t, _m, r in merged.values()]
    return terms, weights, required, prohibited


def _terms_cond(terms: list[Term]) -> Column:
    """Pushdown-friendly (field, term) membership condition: per-field
    In filters OR'd across the (few) fields — NEVER a per-term OR
    chain, which overflows the JVM stack during column conversion past
    ~300 terms (a wildcard/fuzzy rewrite emits up to 1024), and parquet
    pushes In down just as well. A row matches iff its (field, term)
    equals some query term's."""
    by_field: dict[str, list[str]] = {}
    for t in terms:
        by_field.setdefault(t.field, []).append(t.text)
    return reduce(
        lambda a, b: a | b,
        [
            (F.col("field") == f) & F.col("term").isin(sorted(set(texts)))
            for f, texts in by_field.items()
        ],
    )


def _partial(tf: Column, dl: Column, avgdl: float) -> Column:
    """BM25 term-frequency saturation tf(k1+1)/(tf + k1(1−b+b·dl/avgdl))."""
    k1, b = float(BM25_K1), float(BM25_B)
    return (tf * F.lit(k1 + 1.0)) / (
        tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl))
    )


def _ub_expr(index: SparkIndex, term: Term, weight: float) -> Column:
    """Block upper bound from the stored Pareto impact pairs: the max of
    partial(tf_j, dl_j) over the block's non-dominated (tf, dl) docs —
    exact per-block max impact, far tighter than partial(max_tf,
    min_dl) which mixes tf and dl of DIFFERENT docs. partial() needs
    avgdl, so the bound is evaluated lazily here (codegen'd
    higher-order expression over the tiny arrays, no UDF)."""
    avgdl = float(index.avg_field_len(term.field))
    return F.lit(float(weight)) * F.array_max(
        F.zip_with(
            F.col("imp_tfs").cast("array<double>"),
            F.col("imp_dls").cast("array<double>"),
            lambda tf, dl: _partial(tf, dl, avgdl),
        )
    )


def topk_wand(
    index: SparkIndex,
    term: Term,
    weight: float,
    k: int = 10,
    collect_stats: bool = False,
) -> tuple[DataFrame, dict | None]:
    """Distributed block-max WAND: exact BM25 top-k for ONE weighted
    term, decoding only blocks whose upper bound can reach the top-k.
    score(doc) = weight * bm25_partial(tf, dl).

    Per-block metadata gives ub = weight * max partial over the block's
    Pareto (tf, dl) impact pairs. The driver reads the term's block
    metadata with pyarrow and ranks the bounds in numpy (no job):

    1. seed θ: decode the k highest-ub blocks on the driver; for one
       term a doc's decoded score IS its complete score, so θ =
       kth-largest live seed score (−inf if < k docs) and the true kth
       score ≥ θ. θ is lowered one ulp so it never exceeds the score
       Spark computes for the same doc.
    2. keep block b iff ub_b ≥ θ. Every doc d in a dropped block has
       score(d) ≤ ub_b < θ ≤ true kth score, so no doc of the true
       top-k (ties included — the filter is ≥, not >) is lost. Decode
       survivors, TakeOrdered k: the one Spark job.

    What reaches the driver grows with df: the term's block metadata,
    about 144 bytes per ≤128-doc block (a term in 3.8M of 4M docs:
    30k blocks, 4.4 MB, read in 35 ms — BASELINE §10.6), plus the k
    seed blocks. A term in 10^9 docs would read about 1.1 GB; seeding
    from a Spark TakeOrdered instead sends only k rows, for one more
    job per query.

    Multi-term shapes run the co-grouped range kernel instead
    (:func:`topk_and_cogrouped`): on uniform-impact corpora bucket
    bounds cannot prune an OR (BASELINE.md §7.1, §10.2). Returns (top-k
    DataFrame (doc_id, score), stats dict when ``collect_stats`` — read
    off the driver-side bounds, no job).
    """
    k = max(int(k), 1)
    avgdl = float(index.avg_field_len(term.field))
    k1, b = float(BM25_K1), float(BM25_B)

    def score(tf, dl):  # _partial's association order, so bits match
        return weight * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * dl / avgdl)))

    meta = index.read_blocks(term, ["doc_base", "imp_tfs", "imp_dls"])
    ub = np.empty(0)
    if meta.num_rows:
        lens = pc.list_value_length(meta.column("imp_tfs")).to_numpy()
        flat = [
            pc.list_flatten(meta.column(c)).to_numpy().astype(np.float64)
            for c in ("imp_tfs", "imp_dls")
        ]
        ub = np.maximum.reduceat(score(*flat), np.cumsum(lens) - lens)
    theta = float("-inf")
    if len(ub):
        seeds = np.argsort(-ub, kind="stable")[:k]
        bases = meta.column("doc_base").to_numpy()[seeds]
        t = index.read_blocks(
            term, ["doc_base", "n", "docs_bin", "tfs_bin", "dls_bin"], bases
        )
        docs, tfs, dls, _pos = decode_blocks(
            t.column("doc_base").to_numpy(),
            t.column("n").to_numpy(),
            *(t.column(c).to_pylist() for c in ("docs_bin", "tfs_bin", "dls_bin")),
        )
        live = np.ones(len(docs), dtype=bool)
        if index.tombstones is not None:
            live = ~_member(index.tombstones, docs)
        seed = score(tfs[live].astype(np.float64), dls[live].astype(np.float64))
        if len(seed) >= k:
            theta = float(np.nextafter(np.sort(seed)[-k], -np.inf))
    survivors = decode_postings(
        index, [term], where=_ub_expr(index, term, weight) >= F.lit(theta)
    )
    s = F.lit(float(weight)) * _partial(F.col("tf"), F.col("dl"), avgdl)
    out = (
        survivors.select("doc_id", s.alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    stats = None
    if collect_stats:
        stats = {
            "blocks_total": len(ub),
            "blocks_decoded": int((ub >= theta).sum()),
            "theta": theta if len(ub) else None,
        }
    return out, stats


def topk_and_cogrouped(
    index: SparkIndex,
    terms: list[Term],
    weights: list[float],
    required: list[bool],
    pro_terms: list[Term] | None = None,
    k: int = 10,
    collect_stats: bool = False,
) -> tuple[DataFrame, dict | None]:
    """Exact BM25 top-k for every multi-term shape — pure OR
    (``required`` all False), AND and AND-NOT — by co-grouped range
    intersection. Bound-based block pruning cannot prune these shapes on
    uniform-impact corpora (the 40M transcripts smoke pruned 16% and ran
    SLOWER than exact — BASELINE.md §7.2), and a candidate collect of
    the rarest term measured no faster than this kernel even for
    `+rare +hot` (BASELINE.md §10.2). ``terms`` must be unique;
    ``weights`` are per-term (q.boost · multiplicity · idf).

    The builder splits every posting block at BLOCK_DOC_RANGE doc-id
    boundaries (builder.py:544), so ALL of a doc's postings — every
    term, every segment tier — live in blocks of the doc's own range.
    Grouping the COMPRESSED block binaries by range therefore gives
    each kernel call everything it needs to compute complete, final
    scores for its docs: decode, intersect required terms, drop
    prohibited docs, sum weighted BM25 partials, emit the range's
    top-k. The shuffle carries varbyte binaries (~1-2 bytes/posting),
    not exploded posting rows — at 40M turns that is ~50 MB moved for
    a 30M-posting query instead of a 30M-row Arrow+exchange — and the
    final global TakeOrdered sees ≤ k rows per range. Exactness needs
    no bounds: every range that can hold a hit is processed. When a
    required term is selective, only the ranges of its docs can
    (:func:`_range_blocks`), and tombstoned docs are dropped in the
    kernel, as :func:`decode_postings` drops them.

    Reference semantics anchor: MultiTerm required-conjunction scoring
    (src/Search/Query/MultiTerm.php:333-401); this is its
    doc-partitioned equivalent.
    """
    pro_terms = list(pro_terms or [])
    k = max(int(k), 1)
    req_ids = [i for i, r in enumerate(required) if r]
    n_req = len(req_ids)
    # n_req == 0 is the pure disjunction: every range can host a hit,
    # hit = any scorable match not prohibited
    k1, b = float(BM25_K1), float(BM25_B)
    all_terms = list(terms) + pro_terms
    # (field, term) → (qid, weight, avgdl); prohibited map to qid -1
    qmap = {}
    for i, t in enumerate(terms):
        qmap[(t.field, t.text)] = (
            i, float(weights[i]), float(index.avg_field_len(t.field))
        )
    for t in pro_terms:
        if (t.field, t.text) in qmap:
            # scorable AND prohibited is contradictory here (the query
            # layer routes that shape to the exact path) — refuse rather
            # than silently ignore the prohibition
            raise ValueError(f"term {t} is both scorable and prohibited")
        qmap[(t.field, t.text)] = (-1, 0.0, 1.0)
    req_set = set(req_ids)
    blocks = _range_blocks(
        index, all_terms, [terms[i] for i in req_ids],
        "field", "term", "doc_base", "n", "docs_bin", "tfs_bin", "dls_bin",
    )
    tomb_bc = index.tombstones_broadcast()

    def kern(pdf):
        if len(pdf) == 0:
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        qids, ws, avs = [], [], []
        for f, t in zip(pdf["field"], pdf["term"]):
            qi, w, a = qmap[(f, t)]
            qids.append(qi); ws.append(w); avs.append(a)
        qids = np.asarray(qids, np.int64)
        ws = np.asarray(ws, np.float64)
        avs = np.asarray(avs, np.float64)
        n = pdf["n"].to_numpy(np.int64)
        docs, tfs, dls, _ = decode_blocks(
            pdf["doc_base"], n, pdf["docs_bin"], pdf["tfs_bin"], pdf["dls_bin"]
        )
        tfs = tfs.astype(np.float64)
        dls = dls.astype(np.float64)
        row_q = np.repeat(qids, n)
        row_w = np.repeat(ws, n)
        row_a = np.repeat(avs, n)
        uniq, inv = np.unique(docs, return_inverse=True)
        sc = row_w * (tfs * (k1 + 1.0)) / (
            tfs + k1 * ((1.0 - b) + b * dls / row_a)
        )
        score = np.zeros(len(uniq))
        scorable = row_q >= 0
        np.add.at(score, inv[scorable], sc[scorable])
        nreq_of = np.zeros(len(uniq), np.int64)
        req_rows = np.isin(row_q, list(req_set))
        np.add.at(nreq_of, inv[req_rows], 1)
        banned = np.zeros(len(uniq), bool)
        banned[inv[row_q < 0]] = True
        if tomb_bc is not None:
            banned |= _member(tomb_bc.value, uniq)
        hit = (nreq_of == n_req) & ~banned
        h_docs, h_sc = uniq[hit], score[hit]
        if len(h_docs) > k:
            order = np.lexsort((h_docs, -h_sc))[:k]
            h_docs, h_sc = h_docs[order], h_sc[order]
        return pd.DataFrame({"doc_id": h_docs, "score": h_sc})

    hits = blocks.groupBy("_rng").applyInPandas(kern, "doc_id long, score double")
    out = hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    stats = None
    if collect_stats:
        stats = {
            "path": "cogroup",
            "blocks_total": index.postings.where(_terms_cond(all_terms)).count(),
            "blocks_decoded": blocks.count(),
        }
    return out, stats


def _range_blocks(index: SparkIndex, terms, req_terms, *cols) -> DataFrame:
    """``cols`` of the posting blocks of ``terms`` plus ``_rng``, each
    block's BLOCK_DOC_RANGE range: the input of a range kernel. Every
    hit holds all of ``req_terms``, so when the rarest of them is
    selective (:func:`_candidate_docs`, the exact plan's narrowing) only
    the ranges of its docs can hold one: the scan keeps the blocks
    inside the candidates' [min, max] (pushed down on doc_base and
    max_docid) and the filter the ranges that hold a candidate, so no
    other range reaches the shuffle."""
    rng = (F.col("doc_base") / BLOCK_DOC_RANGE).cast("long")
    cond = _terms_cond(terms)
    cand = _candidate_docs(index, req_terms) if req_terms else None
    if cand is not None:
        cond &= _cand_span_cond(cand)
        if len(cand):
            cond &= rng.isin(np.unique(cand // BLOCK_DOC_RANGE).tolist())
    return index.postings.where(cond).select(*cols, rng.alias("_rng"))


def topk_phrase_cogrouped(
    index: SparkIndex,
    q,
    k: int = 10,
    collect_stats: bool = False,
) -> tuple[DataFrame, dict | None]:
    """Exact BM25 phrase top-k by co-grouped range intersection — the
    100-TB plan for HOT-hot phrases (`"fast value"` where both words
    are stop-word-scale). The exact-path phrase plan
    (:meth:`SparkSearcher._phrase_df`) ships every candidate's decoded
    position arrays through Arrow into a groupBy(doc_id) pivot — two
    heavy exchanges whose volume is the SUM of the phrase terms' df —
    and its conjunction range pruning only engages when one term is
    rare. This plan instead groups the COMPRESSED block binaries
    (docs/tfs/dls/pos varbyte streams) by BLOCK_DOC_RANGE doc range:
    all of a doc's postings for every phrase term live in blocks of
    its own range (builder splits blocks at range boundaries), so one
    `applyInPandas` kernel decodes, intersects positions, computes the
    quirk-faithful phrase freq (shared :func:`_phrase_freq_batch` —
    BIT-identical to the exact plan, slop included), scores, and emits
    the range's top-k. The shuffle carries varbyte bytes; the global
    TakeOrdered sees ≤ k rows per range.

    A phrase hit contains EVERY unique term, so a selective one narrows
    the shuffle to the ranges of its docs (:func:`_range_blocks`), and
    tombstoned docs are dropped in the kernel. Reference semantics anchor: Phrase.php:378-491 (exact and
    sloppy freq), scored as the MultiTerm bm25 path scores phrases
    (idf of the min-df term).
    """
    k = max(int(k), 1)
    sim = get_default()
    uniq, slot_qid = _uniq_slots(q.terms)
    n_uniq = len(uniq)
    offsets = list(q.offsets)
    slop = int(q.slop)
    sf_np = sim.sloppy_freq_np
    N = index.n_docs
    idf = bm25_idf(min(index.doc_freq(t) for t in uniq), N)
    avgdl = float(index.avg_field_len(q.terms[0].field))
    boost = float(q.boost)
    k1, b = float(BM25_K1), float(BM25_B)
    qmap = {(t.field, t.text): j for j, t in enumerate(uniq)}

    # the kernel consumes doc lengths from term 0's postings only —
    # the other terms' dls streams would be shuffled, decoded, and
    # discarded ((n-1)/n of a whole varbyte stream for an n-term hot
    # phrase), so they ship as empty binaries; alignment is restored
    # in the kernel from the per-block posting counts
    dls_proj = F.when(
        (F.col("field") == uniq[0].field) & (F.col("term") == uniq[0].text),
        F.col("dls_bin"),
    ).otherwise(F.lit(b""))
    blocks = _range_blocks(
        index, uniq, uniq, "field", "term", "doc_base", "n",
        "docs_bin", "tfs_bin", dls_proj.alias("dls_bin"), "pos_bin",
    )
    tomb_bc = index.tombstones_broadcast()

    def kern(pdf):
        if len(pdf) == 0:
            return pd.DataFrame(
                {
                    "doc_id": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="float64"),
                }
            )
        qids = np.asarray(
            [qmap[(f, t)] for f, t in zip(pdf["field"], pdf["term"])],
            np.int64,
        )
        n = pdf["n"].to_numpy(np.int64)
        # dls_bin is non-empty ONLY on term-0 blocks (driver projection)
        # and concatenates in pdf-row order — exactly the order of the
        # term-0 posting selector below
        docs, tfs, dls0, pos = decode_blocks(
            pdf["doc_base"], n, pdf["docs_bin"], pdf["tfs_bin"],
            pdf["dls_bin"], pdf["pos_bin"],
        )
        dls0 = dls0.astype(np.float64)
        run_starts = np.cumsum(tfs) - tfs  # each posting's position run

        row_q = np.repeat(qids, n)  # per posting
        uniq_docs, inv = np.unique(docs, return_inverse=True)
        n_rows = len(uniq_docs)
        qcache: dict[int, tuple] = {}
        for j in range(n_uniq):
            sel = np.flatnonzero(row_q == j)
            lens_p = tfs[sel]
            total = int(lens_p.sum())
            if total:
                # gather each selected posting's position run (runs are
                # contiguous, ascending within a doc)
                take = (
                    np.repeat(run_starts[sel], lens_p)
                    + np.arange(total, dtype=np.int64)
                    - np.repeat(np.cumsum(lens_p) - lens_p, lens_p)
                )
                flat_j = pos[take]
                rows_j = np.repeat(inv[sel], lens_p)
                order = np.argsort(rows_j, kind="stable")
                rows_j = rows_j[order]
                flat_j = flat_j[order]
                lens_row = np.bincount(rows_j, minlength=n_rows).astype(
                    np.int64
                )
            else:
                flat_j = np.array([], dtype=np.int64)
                rows_j = flat_j
                lens_row = np.zeros(n_rows, dtype=np.int64)
            bounds = np.zeros(n_rows + 1, dtype=np.int64)
            np.cumsum(lens_row, out=bounds[1:])
            qcache[j] = (rows_j, flat_j, lens_row, bounds)
        freq = _phrase_freq_batch(
            qcache, slot_qid, offsets, slop, n_rows, sf_np
        )
        dl_row = np.zeros(n_rows, dtype=np.float64)
        sel0 = row_q == 0
        dl_row[inv[sel0]] = dls0
        hit = freq > 0
        if tomb_bc is not None:
            hit &= ~_member(tomb_bc.value, uniq_docs)
        h_docs, fr, dl_h = uniq_docs[hit], freq[hit], dl_row[hit]
        # the exact plan's association order, so scores match it bitwise
        sc = (boost * idf) * (
            (fr * (k1 + 1.0)) / (fr + k1 * ((1.0 - b) + b * dl_h / avgdl))
        )
        if len(h_docs) > k:
            order = np.lexsort((h_docs, -sc))[:k]
            h_docs, sc = h_docs[order], sc[order]
        return pd.DataFrame({"doc_id": h_docs, "score": sc})

    hits = blocks.groupBy("_rng").applyInPandas(
        kern, "doc_id long, score double"
    )
    out = hits.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    stats = None
    if collect_stats:
        stats = {
            "path": "phrase_cogroup",
            "blocks_total": index.postings.where(_terms_cond(uniq)).count(),
            "blocks_decoded": blocks.count(),
        }
    return out, stats


def topk_term_pruned(
    index: SparkIndex, term: Term, k: int = 10, collect_stats: bool = True
) -> tuple[list, dict]:
    """Single-term convenience wrapper over :func:`topk_wand` (kept for
    bench/gate compatibility): returns (collected top-k rows, stats;
    ``{}`` when ``collect_stats`` is False)."""
    index.prefetch_terms([term])
    idf = bm25_idf(index.doc_freq(term), index.n_docs)
    out, stats = topk_wand(index, term, idf, k=k, collect_stats=collect_stats)
    return out.collect(), (stats or {})
