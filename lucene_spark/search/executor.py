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

Block-max pruning for single-term/OR BM25 top-k lives in
``topk_term_pruned`` — it scans only block METADATA first, derives a
provable score threshold from the k best block upper bounds, and decodes
only surviving blocks.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
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
from lucene_spark.codec.varbyte import vb_decode
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


def decode_postings(
    index: SparkIndex,
    terms: list[Term],
    need_positions: bool = False,
    docs_only: bool = False,
    doc_filter: "np.ndarray | None" = None,
) -> DataFrame:
    """One scan+decode for all query terms → (qid, doc_id, tf, dl[, pos]).

    qid = position of the term in ``terms``. The filter is an OR of
    (field, term) equalities — pushed down to the parquet scan.
    ``docs_only`` skips the tf/dl streams entirely (constant 1s) — for
    prohibited-clause membership checks that only need doc ids.
    A term appearing TWICE in ``terms`` (e.g. the user query
    '+table +table') gets its postings emitted once per qid, so
    required-count checks and per-qid weights stay correct.

    ``doc_filter`` (an int64 array of doc ids — sorted here, broadcast
    to the executors) drops every non-matching posting INSIDE the kernel,
    before the Arrow transfer back to the JVM. This is the candidate-
    fetch primitive: when a hot term's contribution is needed only on
    a known candidate set (MAXSCORE non-essential terms, conjunction
    intersection against a rare required term), the blocks still
    decode — delta/varbyte streams can't be entered mid-block — but
    the rows that flow into the score aggregation shrink from df(term)
    to |candidates ∩ postings|, often 100×+ fewer (BASELINE.md §6.1:
    block-level pruning is provably impossible for uniformly scattered
    mid terms — every block overlaps candidates — so row-level
    filtering is the scale lever for those shapes).
    """
    qid_lists: dict[tuple[str, str], list[int]] = {}
    for i, t in enumerate(terms):
        qid_lists.setdefault((t.field, t.text), []).append(i)
    qid_map = {k: v[0] for k, v in qid_lists.items()}
    dup_map = {v[0]: v[1:] for v in qid_lists.values() if len(v) > 1}
    # per-field In filters, OR'd across the (few) fields: a flat In
    # node instead of a per-term OR chain — a left-deep chain overflows
    # the JVM stack during column conversion past ~300 terms (a fuzzy
    # rewrite emits up to 1024), and parquet pushes In down just as well
    by_field: dict[str, list[str]] = {}
    for t in terms:
        by_field.setdefault(t.field, []).append(t.text)
    cond = reduce(
        lambda a, b: a | b,
        [
            (F.col("field") == f) & F.col("term").isin(sorted(set(texts)))
            for f, texts in by_field.items()
        ],
    )
    # explicit projection: mapInPandas consumes whatever it is given, so
    # without this select the parquet scan reads ALL columns — including
    # pos_bin, the largest in the index — even for non-phrase queries.
    # (.explain ReadSchema confirms the pruning.)
    cols = ["field", "term", "doc_base", "n", "docs_bin"]
    if not docs_only:
        cols += ["tfs_bin", "dls_bin"]
    if need_positions:
        cols.append("pos_bin")
    blocks = index.postings.where(cond).select(*cols)
    schema = _DECODE_POS_SCHEMA if need_positions else _DECODE_SCHEMA

    flt_bc = None
    if doc_filter is not None:
        flt = np.sort(np.asarray(doc_filter, dtype=np.int64))
        # one sc.broadcast, not a closure capture: the candidate set can
        # be MBs and must ship to each executor once, not per task
        flt_bc = blocks.sparkSession.sparkContext.broadcast(flt)

    def decode(it):
        # Whole-batch decode: varbyte is self-delimiting, so the batch's
        # blobs concatenate into ONE vb_decode call per stream; per-block
        # doc-id reconstruction is pure numpy over the flat arrays. For
        # stop-word-scale terms (10^5+ blocks) the per-block Python of a
        # row loop dominates decode time — this kernel has none.
        for pdf in it:
            if len(pdf) == 0:
                continue
            qids_row = np.array(
                [qid_map.get((f, t), -1) for f, t in zip(pdf["field"], pdf["term"])],
                dtype=np.int32,
            )
            keep = qids_row >= 0
            if not keep.any():
                continue
            pdf = pdf[keep]
            qids_row = qids_row[keep]
            n = pdf["n"].to_numpy(np.int64)
            doc_base = pdf["doc_base"].to_numpy(np.int64)
            total = int(n.sum())
            starts = np.cumsum(n) - n

            gaps = vb_decode(b"".join(pdf["docs_bin"])).astype(np.int64)
            cs = np.cumsum(gaps)
            prior = cs[starts] - gaps[starts]  # cumsum before each block
            base = doc_base - gaps[starts]  # block base (doc encoding)
            docs = cs - np.repeat(prior, n) + np.repeat(base, n)
            if docs_only:
                tfs = np.ones(len(docs), dtype=np.int64)
                dls = tfs
            else:
                tfs = vb_decode(b"".join(pdf["tfs_bin"])).astype(np.int64)
                dls = vb_decode(b"".join(pdf["dls_bin"])).astype(np.int64)
            data = {
                "qid": np.repeat(qids_row, n),
                "doc_id": docs,
                "tf": tfs.astype(np.int32),
                "dl": dls.astype(np.int32),
            }
            res = pd.DataFrame(data)
            if need_positions:
                # positions: per-(doc) runs of tf gaps, runs reset at
                # each doc — reconstruct flat then split per doc.
                # (Decoded BEFORE any doc_filter mask: varbyte streams
                # can't be entered mid-block, and the splits derive
                # from the UNfiltered tf run lengths.)
                pgaps = vb_decode(b"".join(pdf["pos_bin"])).astype(np.int64)
                run_starts = np.cumsum(tfs) - tfs  # doc-run starts (flat)
                pcs = np.cumsum(pgaps)
                prior_p = np.where(run_starts > 0, pcs[run_starts - 1], 0)
                offs = np.zeros(len(pgaps), dtype=np.int64)
                offs[run_starts] = np.diff(prior_p, prepend=np.int64(0))
                pos = pcs - np.cumsum(offs)
                splits = np.cumsum(tfs)[:-1]
                res["positions"] = np.split(pos.astype(np.int32), splits)
            if flt_bc is not None:
                # sorted-membership mask: rows off the candidate set
                # never leave the kernel (cuts the Arrow transfer —
                # for position decodes that's the heaviest column)
                cand = flt_bc.value
                idx = np.searchsorted(cand, docs)
                idx[idx == len(cand)] = 0
                keep_rows = (
                    cand[idx] == docs
                    if len(cand)
                    else np.zeros(len(docs), dtype=bool)
                )
                res = res[keep_rows]
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
        # whole-batch varbyte decode (see decode_postings): one
        # vb_decode per stream, per-block reconstruction in numpy
        for pdf in it:
            if len(pdf) == 0:
                continue
            n = pdf["n"].to_numpy(np.int64)
            doc_base = pdf["doc_base"].to_numpy(np.int64)
            starts = np.cumsum(n) - n
            gaps = vb_decode(b"".join(pdf["docs_bin"])).astype(np.int64)
            cs = np.cumsum(gaps)
            prior = cs[starts] - gaps[starts]
            base = doc_base - gaps[starts]
            docs = cs - np.repeat(prior, n) + np.repeat(base, n)
            yield pd.DataFrame(
                {
                    "term": np.repeat(pdf["term"].to_numpy(dtype=object), n),
                    "doc_id": docs,
                    "tf": vb_decode(b"".join(pdf["tfs_bin"])).astype(np.int32),
                    "dl": vb_decode(b"".join(pdf["dls_bin"])).astype(np.int32),
                }
            )

    return blocks.mapInPandas(decode, schema)


def _phrase_freq_batch(
    qid_cache: dict,
    slot_qid: list[int],
    offsets: list[int],
    slop: int,
    n_rows: int,
    sf,
    sf_np,
    default_sloppy: bool,
    two_slot_delta,
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

    slop > 0 — vectorized NECESSARY-condition prefilter (the exact
    kernel's intersection dilated by 2·slop+1 shifts), then the
    quirk-faithful candidate queue only on surviving rows. The
    dominant 2-slot shape ("a b"~n) is vectorized: single-position
    docs compute in one batched expression, multi-position docs run
    sloppy_phrase_freq_2slot (bit-identical to the Python queue up to
    the 24-position escape threshold, fuzz-asserted in test_properties;
    beyond it the closed form gives value parity at 1e-9 with a
    different float accumulation order — see phrase.py); other slot
    counts fall back to
    phrase.sloppy_phrase_freq — the single source of truth shared
    with the model (Phrase.php:425-491 semantics).
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

    from lucene_spark.search.phrase import sloppy_phrase_freq

    bias = slop + max(offsets) + 2  # keys stay positive
    width = 2 * slop + 1
    shifts = np.arange(-slop, slop + 1, dtype=np.int64)
    common = None
    for i in range(n_slots):
        rows, flat, _lens, _b = qid_cache[slot_qid[i]]
        starts = flat - offsets[i] + bias
        keys = (np.repeat(rows, width) << np.int64(32)) | (
            np.repeat(starts, width) + np.tile(shifts, len(flat))
        )
        keys = np.unique(keys)
        common = keys if common is None else common[np.isin(common, keys)]
    out = np.zeros(n_rows, dtype=np.float64)
    if common is None or not len(common):
        return out
    rs = np.unique(common >> np.int64(32))
    if two_slot_delta is not None:
        # the dominant "a b"~n shape, ANY Similarity: single-position
        # docs in one expression; multi-position docs through the
        # BATCHED closed form (one flat (doc, i, j) expansion per
        # kernel call — round 5 replaced the per-doc Python loop that
        # dominated sloppy wall time at 149M turns; the closed form's
        # value parity with the reference queue is fuzz-asserted at
        # 1e-9 in test_properties, multiplicity structure is
        # sf-independent so custom Similarities route here too)
        from lucene_spark.search.phrase import _sloppy_2slot_closed_batch

        _ra, fa, la, ba = qid_cache[slot_qid[0]]
        _rb, fb, lb, bb = qid_cache[slot_qid[1]]
        single = rs[(la[rs] == 1) & (lb[rs] == 1)]
        if len(single):
            d = np.abs(fb[bb[single]] - fa[ba[single]] - two_slot_delta)
            out[single] = np.where(d <= slop, sf_np(d), 0.0)
        multi = rs[(la[rs] != 1) | (lb[rs] != 1)]
        if len(multi):
            out[multi] = _sloppy_2slot_closed_batch(
                fa, ba[multi], la[multi],
                fb, bb[multi], lb[multi],
                two_slot_delta, slop, sf_np=sf_np,
            )
    else:
        # 3+-slot sloppy phrases: the reference's candidate queue has
        # no known closed form past two slots — per-doc loop with the
        # loud candidate budget (hot-hot docs raise instead of hanging)
        for r in rs:
            positions = [
                list(
                    qid_cache[slot_qid[i]][1][
                        qid_cache[slot_qid[i]][3][int(r)] : qid_cache[
                            slot_qid[i]
                        ][3][int(r) + 1]
                    ]
                )
                for i in range(n_slots)
            ]
            out[int(r)] = sloppy_phrase_freq(positions, offsets, slop, sf=sf)
    return out


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

RANGE_PRUNE_QUANTUM = 64  # docs per conjunction-pruning bucket
# engage when the rarest required term's docs can cover at most ~1/4 of
# the doc space even if perfectly spread (df · Q · 4 ≤ N); clustered
# terms (e.g. a conv_id keyword, whose docs are contiguous) cover far
# fewer buckets and prune correspondingly more


def _conjunction_restricted_postings(ix, all_terms, rare, rare_buckets=None):
    """Posting blocks of ``all_terms`` restricted to doc ranges where
    the rarest REQUIRED term ``rare`` has documents — the distributed
    analogue of driving a posting-list intersection by its shortest
    list (skip-pointer intersection). Exact: a conjunction hit must
    contain ``rare``, so blocks of other terms whose [doc_base,
    max_docid] span misses every rare-doc bucket cannot contribute to
    any hit. The rare term's doc ids decode first (docs_bin only — df
    postings, tiny by the engagement gate), quantize to buckets, and a
    metadata-only semi-join keeps overlapping blocks. Everything stays
    distributed; nothing is collected — unless the caller ALREADY has
    the rare doc ids (the scoped-phrase doc_filter shape), in which
    case it passes the quantized ``rare_buckets`` int64 array and the
    rare term's postings are not decoded a second time."""
    import types

    q = RANGE_PRUNE_QUANTUM
    if rare_buckets is not None:
        rb = ix.postings.sparkSession.createDataFrame(
            pd.DataFrame({"_bkt": np.asarray(rare_buckets, np.int64)})
        )
    else:
        rare_docs = decode_postings(ix, [rare], docs_only=True)
        rb = rare_docs.select(
            (F.col("doc_id") / q).cast("long").alias("_bkt")
        ).distinct()
    # per-field In filters (never a per-term OR chain — JVM stack
    # overflow past ~300 terms when an expansion sits in the tree)
    cond = _terms_cond(all_terms)
    meta_cols = ["field", "term", "seg_id", "block_id", "doc_base"]
    keys = (
        ix.postings.where(cond)
        .select(*meta_cols, "max_docid")
        .withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    (F.col("doc_base") / q).cast("long"),
                    (F.col("max_docid") / q).cast("long"),
                )
            ),
        )
        .join(rb, "_bkt", "leftsemi")
        .select(*meta_cols)
        .distinct()
    )
    return types.SimpleNamespace(
        postings=ix.postings.where(cond).join(keys, meta_cols)
    )


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

        ``pruning``: block-max WAND policy for eligible BM25 top-k
        queries — 'off' | 'auto' | 'force' (see :meth:`execute`).

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

        ``pruning`` selects the block-max WAND path for eligible queries
        (BM25, k>0, no tombstones, single-term or pure-OR MultiTerm):

        - ``'off'``   — always the exact full-scan plan;
        - ``'auto'``  (default) — pruned strategies only where measured
          to win: exact phrases route to the cogroup range kernel past
          AUTO_PRUNING_MIN_DF; WAND / pruned conjunctions additionally
          require n_docs >= AUTO_PRUNING_MIN_DOCS, because below that
          the exact decode is already faster than the extra bound jobs
          (measured at 868k turns: exact term 0.57 s vs WAND 1.67 s,
          while at 40M+ WAND/cogroup win 2-25x — BASELINE.md §7.5/§8.1);
          results are identical either way (the strategies are exact);
        - ``'force'`` — pruned path whenever eligible (bench/validation).

        The value must be one of these strings — a boolean raises, so a
        caller can never pass True and silently get 'off'.

        ``result_set_limit`` > 0 reproduces the reference's pre-sort
        resultSetLimit quirk (src/Index.php:705-735): the matched set is
        truncated to the first N hits in docId order, and top-score
        normalization (classic) plus the final score sort run on the
        TRUNCATED set. Incompatible with pruning (WAND selects by score,
        not docId) — pruning is bypassed when a limit is set.
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
            and self.index.tombstones is None  # bounds ignore deletes
        ):
            if (
                isinstance(q, PhraseQuery)
                and "sub_max_docs" in self.index.postings.columns
            ):
                uniq, _slots = _uniq_slots(q.terms)
                self.index.prefetch_terms(uniq)
                total_df = sum(self.index.doc_freq(t) for t in uniq)
                # sloppy freq runs a per-doc fallback on multi-position
                # docs, so the cogroup kernel needs enough ranges to
                # parallelize it — on small corpora (< ~122 ranges) the
                # exact plan's bigger Arrow batches win (wand_bench:
                # sloppy 10.8 s cogroup vs 6.7 s exact at 200k docs,
                # while slop=0 cogroup already wins there); 'force'
                # still routes unconditionally for tests/benches
                auto_ok = total_df >= AUTO_PRUNING_MIN_DF and (
                    q.slop == 0
                    # per-SHARD size under MultiSearcher (routing_n_docs)
                    # — the cogroup's range-parallelism bound is a local
                    # property, same as the WAND MIN_DOCS gate below
                    or getattr(
                        self.index, "routing_n_docs", self.index.n_docs
                    )
                    >= PHRASE_COGROUP_MIN_DOCS
                )
                if pruning == "force" or auto_ok:
                    out, _stats = topk_phrase_cogrouped(self.index, q, k=k)
                    return out
            cand = _wand_terms(q)
            if cand is not None:
                terms = [t for t, _b in cand]
                self.index.prefetch_terms(terms)
                total_df = sum(self.index.doc_freq(t) for t in terms)
                if pruning == "force" or (
                    total_df >= AUTO_PRUNING_MIN_DF
                    and getattr(self.index, "routing_n_docs", self.index.n_docs)
                    >= AUTO_PRUNING_MIN_DOCS
                ):
                    N = self.index.n_docs
                    weights = [
                        b * bm25_idf(self.index.doc_freq(t), N) for t, b in cand
                    ]
                    if (
                        pruning != "force"
                        and len(terms) > 1
                        and "sub_max_docs" in self.index.postings.columns
                    ):
                        # multi-term pure OR in 'auto': the co-grouped
                        # range kernel (n_req=0) — on the uniform-impact
                        # transcripts corpus bucket-WAND bounds cannot
                        # prune an OR (§7.1) and it measured SLOWER than
                        # exact (10.1 s vs 8.8 s at 13.6M turns) while
                        # the cogroup plan took 2.2 s. Single-term stays
                        # on WAND (bounds separate there: 0.36% of
                        # blocks decoded, scale-invariant). 'force'
                        # keeps the bucket path for WAND validation.
                        out, _stats = topk_and_cogrouped(
                            self.index, terms, weights,
                            [False] * len(terms), [], k=k,
                        )
                    else:
                        out, _stats = topk_wand(self.index, terms, weights, k=k)
                    return out
            else:
                conj = _wand_and_query(q)
                if conj is not None:
                    scorable, pro = conj
                    terms = [t for t, _m, _r in scorable]
                    self.index.prefetch_terms(terms + pro)
                    total_df = sum(self.index.doc_freq(t) for t in terms)
                    if pruning == "force" or (
                        total_df >= AUTO_PRUNING_MIN_DF
                        and getattr(self.index, "routing_n_docs", self.index.n_docs)
                        >= AUTO_PRUNING_MIN_DOCS
                    ):
                        N = self.index.n_docs
                        # same convention as the exact MultiTerm path:
                        # per-occurrence idf contributions, whole sum
                        # scaled once by q.boost
                        weights = [
                            q.boost * m * bm25_idf(self.index.doc_freq(t), N)
                            for t, m, _r in scorable
                        ]
                        out, _stats = topk_wand_and(
                            self.index,
                            terms,
                            weights,
                            [r for _t, _m, r in scorable],
                            pro,
                            k=k,
                        )
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
        out = df.where(F.col("score") != 0.0)
        # logical deletes: skip tombstoned docs at hit-collection time,
        # BEFORE top-score normalization — matching the reference, which
        # checks its deletion bitmap while iterating matchedDocs
        # (src/Index.php:705-724) and normalizes after (:731-735). Note
        # idf/norms keep using pre-delete stats until optimize (W2 quirk).
        if self.index.tombstones is not None:
            out = out.join(
                F.broadcast(self.index.tombstones.select("doc_id").distinct()),
                "doc_id",
                "left_anti",
            )
        if result_set_limit:
            # QUIRK parity: truncate in docId order BEFORE normalization
            # and the score sort (src/Index.php:705-724) — the reference
            # stops collecting hits at the limit while iterating
            # matchedDocs (a docId-ordered array)
            out = out.orderBy(F.col("doc_id").asc()).limit(int(result_set_limit))
        if score_mode == "classic" and classic_normalize:
            # top-score normalization when top > 1 (src/Index.php:731-735);
            # callers that re-rank across shards (global-stats
            # MultiSearcher) normalize GLOBALLY instead and pass False
            top = out.agg(F.max("score").alias("m"))
            out = out.crossJoin(F.broadcast(top)).select(
                "doc_id",
                F.when(F.col("m") > 1.0, F.col("score") / F.col("m"))
                .otherwise(F.col("score"))
                .alias("score"),
            )
        out = out.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        if k:
            out = out.limit(k)
        return out

    # ---- leaf scoring -------------------------------------------------
    def _leaf_df(
        self, terms: list[Term], boosts: list[float], values: list[float],
        mode: str, src=None,
    ) -> DataFrame:
        """Decoded postings for leaf terms with a per-row 'score' column.

        classic: score = sqrt(tf) · value_qid · norm(doc, field) · boost
        bm25:    score = boost · idf_qid · tf(k1+1)/(tf + k1(1−b+b·dl/avgdl))
        value/idf arrive as per-qid literal arrays (driver-computed).
        ``src``: optional postings source (e.g. a conjunction-restricted
        view) — defaults to the full index.
        """
        ix = self.index
        sim = get_default()  # pluggable classic hooks (setDefault)
        df = decode_postings(src or ix, terms)
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
        self, q: Query, qn: float, mode: str, src=None, doc_filter=None
    ) -> DataFrame | None:
        """DF (doc_id, score) with only score≠0 rows (matched docs).

        ``src``: optional conjunction-restricted postings view handed
        down by an enclosing required context (BooleanQuery with a
        selective required term) — every decode in this subtree then
        reads only blocks overlapping the rare term's doc buckets.

        ``doc_filter``: optional candidate doc-id array (same enclosing
        required context, row-level): any hit must carry the rare
        required term, so every decode in the subtree may drop rows
        outside the candidate set inside the kernel — phrase position
        decodes (the heaviest) use it; block-span restriction alone
        cannot cut rows for uniformly scattered terms (BASELINE §6.1).
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
                df = self._leaf_df([q.term], [q.boost], [v], mode, src=src)
            else:
                df = self._leaf_df(
                    [q.term], [q.boost], [bm25_idf(ix.doc_freq(q.term), N)],
                    mode, src=src,
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
            # conjunction range pruning: when the rarest REQUIRED term is
            # selective, restrict every term's decode (optional and
            # prohibited included — hits must contain the rare term
            # regardless) to blocks overlapping its doc buckets. The
            # classic '+conv_id:X +text:hot' shape decodes a handful of
            # blocks instead of the hot term's whole posting list.
            if src is None and req_terms:
                rare = min(req_terms, key=lambda t: ix.doc_freq(t))
                if ix.doc_freq(rare) * RANGE_PRUNE_QUANTUM * 4 <= N:
                    src = _conjunction_restricted_postings(
                        ix, [t for t, _ in scorable] + prohibited, rare
                    )
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
                src=src,
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
            # subtree conjunction pruning: a selective REQUIRED TermQuery
            # child (e.g. '+conv_id:X' next to a phrase) restricts every
            # sibling's decode — any doc matching the Boolean must
            # contain it, so the proof from the MultiTerm case carries
            # over to arbitrary subtrees (phrases included)
            if src is None:
                req_term_children = [
                    sub.term
                    for i, sub in enumerate(q.subqueries)
                    if isinstance(sub, TermQuery)
                    and (signs is None or signs[i] is True)
                ]
                if req_term_children:
                    rare = min(req_term_children, key=lambda t: ix.doc_freq(t))
                    if ix.doc_freq(rare) * RANGE_PRUNE_QUANTUM * 4 <= N:
                        # row-level cut for phrase children: the
                        # '+conv_id:X +text:"exact phrase"' shape — the
                        # rare term's doc ids (df-bounded collect, same
                        # bound as the intersect path) filter the
                        # phrase's position decode inside the kernel,
                        # so its Arrow transfer shrinks from df(term)
                        # rows to |candidates ∩ postings|. Collected
                        # FIRST so the bucket restriction below derives
                        # from the same single decode instead of
                        # re-decoding the rare term's postings.
                        rare_buckets = None
                        if doc_filter is None and ix.doc_freq(
                            rare
                        ) <= RAREST_FETCH_MAX_DF and any(
                            isinstance(sub, PhraseQuery) for sub in q.subqueries
                        ):
                            doc_filter = np.unique(
                                decode_postings(ix, [rare], docs_only=True)
                                .select("doc_id")
                                .toPandas()["doc_id"]
                                .to_numpy(np.int64)
                            )
                            rare_buckets = np.unique(
                                doc_filter // RANGE_PRUNE_QUANTUM
                            )
                        src = _conjunction_restricted_postings(
                            ix, _collect_terms(q), rare,
                            rare_buckets=rare_buckets,
                        )
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
                df = self._node_df(
                    sub, child_qn, mode, src=src, doc_filter=doc_filter
                )
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
                    src=src,
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
            return self._phrase_df(q, qn, mode, src=src, doc_filter=doc_filter)

        if isinstance(q, (Insignificant, EmptyResult)):
            return None
        raise TypeError(f"cannot execute {type(q).__name__}")

    def _phrase_df(
        self, q: PhraseQuery, qn: float, mode: str, src=None, doc_filter=None
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
        # selective, restrict every term's (positions-bearing, so
        # heaviest) decode to its doc buckets — same exactness argument
        # as the MultiTerm conjunction pruning
        rare = min(uniq, key=lambda t: ix.doc_freq(t))
        if src is None and ix.doc_freq(rare) * RANGE_PRUNE_QUANTUM * 4 <= ix.n_docs:
            src = _conjunction_restricted_postings(ix, uniq, rare)
        posts = decode_postings(
            src or ix, uniq, need_positions=True, doc_filter=doc_filter
        )
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
        n_slots = len(q.terms)

        # similarity hooks captured HERE (driver) so workers score with
        # the similarity that planned the query; the 2-slot closed form
        # is derived from the default 1/(d+1) and only applies then
        two_slot_delta = (
            offsets[1] - offsets[0] if n_slots == 2 and slop else None
        )
        sf, sf_np = sim.sloppy_freq, sim.sloppy_freq_np
        default_sloppy = sim.is_default_sloppy()

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
                    qid_cache, slot_qid, offsets, slop, n_rows,
                    sf, sf_np, default_sloppy, two_slot_delta,
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

PHRASE_COGROUP_MIN_DOCS = 1_000_000  # 'auto' routes SLOPPY phrases to
# the cogroup kernel only past this corpus size (≥ ~122 doc ranges —
# enough kernel groups to parallelize the per-doc sloppy fallback)

AUTO_PRUNING_MIN_DF = 65536  # 'auto' pruning: below this, block skipping
# can't amortize the extra metadata jobs
AUTO_PRUNING_MIN_DOCS = 4_000_000  # 'auto' WAND / pruned-conjunction
# corpus-size gate: at 868k turns every pruned boolean/term strategy
# measured SLOWER than the exact plan (extra bound-evaluation jobs
# dominate a sub-second decode: term 1.67 s vs 0.57 s exact, OR 6.9 s
# vs 0.94 s), while at 40M+ they win 2-25x (BASELINE.md §7.5/§8.1);
# the geometric midpoint of those calibration points, rounded down to
# stay conservative. The cogroup PHRASE kernel is NOT behind this gate
# — it already wins at 200k docs (df-gated only; sloppy phrases keep
# their own PHRASE_COGROUP_MIN_DOCS range-parallelism gate).
CAND_BUCKET = 128  # docs per candidate-restriction bucket for the
# MAXSCORE split: fine enough that a non-essential block survives only
# if an essential candidate doc is ~block-distance away, coarse enough
# that the explode factor on sparse blocks stays ≤ BLOCK_DOC_RANGE/128
MAXSCORE_CAND_DF_BOUND = 2_000_000  # apply the MAXSCORE candidate
# restriction only while the essential terms' summed df fits a
# broadcast (matches the boolean anti-join broadcast bound)
WAND_BUCKET = 2048  # docs per cross-term bound bucket (~16 blocks):
# fine enough that a hot term's high-impact region doesn't smear its
# bound across the whole segment, coarse enough that the bucket tables
# stay ~n_blocks/16 rows of metadata


def _wand_terms(q: Query) -> list[tuple[Term, float]] | None:
    """[(unique term, summed boost)] if ``q`` is WAND-servable: a single
    term or a pure disjunction (MultiTerm with every sign optional).
    Duplicate terms are merged by SUMMING their boosts — topk_wand's
    per-(field, term) weight lookup could otherwise under-bound a
    duplicated term (weight counted once in ub, twice in scoring) and
    prune blocks that still hold true top-k docs."""
    if isinstance(q, TermQuery):
        return [(q.term, q.boost)]
    if (
        isinstance(q, MultiTermQuery)
        and q.signs is not None
        and all(s is None for s in q.signs)
    ):
        merged: dict[tuple[str, str], list] = {}
        for t in q.terms:
            e = merged.setdefault((t.field, t.text), [t, 0.0])
            e[1] += q.boost
        return [(t, b) for t, b in merged.values()]
    return None


# block identity MUST include doc_base: across streaming tiers a base
# segment and a delta segment can share (seg_id, block_id), and
# duplicate seed keys would double-decode a block and inflate θ above
# every true bound (observed as an empty result). doc_base is globally
# unique per (field, term) block — doc ids are disjoint across tiers.
_WAND_META_COLS = ["field", "term", "seg_id", "block_id", "doc_base"]


def _terms_cond(terms: list[Term]) -> Column:
    """Pushdown-friendly (field, term) membership condition: per-field
    In filters OR'd across the (few) fields — NEVER a per-term OR
    chain, which overflows the JVM stack during column conversion past
    ~300 terms (a wildcard/fuzzy rewrite emits up to 1024; same fix as
    decode_postings). Semantics identical: a row matches iff its
    (field, term) equals some query term's."""
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


def _w_avgdl_exprs(
    index: SparkIndex, terms: list[Term], weights: list[float]
) -> tuple[Column, Column]:
    """Per-row (weight, avgdl) literal lookups keyed on (field, term),
    as a single map-literal ``element_at`` — NOT a nested WHEN chain,
    whose expression depth grows with the term count and overflows the
    JVM stack when a 1024-clause wildcard/fuzzy expansion is forced
    through the WAND path (same class of fix as _terms_cond)."""
    sep = "\x00"  # analyzer tokens / field names can't contain NUL
    w_pairs: list[Column] = []
    a_pairs: list[Column] = []
    seen: set[tuple[str, str]] = set()
    for t, w in zip(terms, weights):
        k = (t.field, t.text)
        if k in seen:  # create_map raises on duplicate keys
            continue
        seen.add(k)
        key = F.lit(t.field + sep + t.text)
        w_pairs += [key, F.lit(float(w))]
        a_pairs += [key, F.lit(float(index.avg_field_len(t.field)))]
    row_key = F.concat(F.col("field"), F.lit(sep), F.col("term"))
    w_expr = F.coalesce(
        F.element_at(F.create_map(*w_pairs), row_key), F.lit(0.0)
    )
    avgdl_expr = F.coalesce(
        F.element_at(F.create_map(*a_pairs), row_key), F.lit(1.0)
    )
    return w_expr, avgdl_expr


def _ub_expr(index: SparkIndex, terms: list[Term], weights: list[float]) -> Column:
    """Block upper bound from the stored Pareto impact pairs: the max of
    partial(tf_j, dl_j) over the block's non-dominated (tf, dl) docs —
    exact per-block max impact, far tighter than partial(max_tf,
    min_dl) which mixes tf and dl of DIFFERENT docs. partial() needs
    avgdl, so the bound is evaluated lazily here (codegen'd
    higher-order expression over the tiny arrays, no UDF)."""
    k1, b = float(BM25_K1), float(BM25_B)
    w_expr, avgdl_expr = _w_avgdl_exprs(index, terms, weights)
    return w_expr * F.array_max(
        F.zip_with(
            F.col("imp_tfs").cast("array<double>"),
            F.col("imp_dls").cast("array<double>"),
            lambda tf, dl: (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl_expr)),
        )
    )


def _sub_meta(
    index: SparkIndex, terms: list[Term], weights: list[float]
) -> DataFrame:
    """Sub-range-granular block metadata: one row per (block, sub-range)
    with the sub-range's doc span ``_smin``/``_smax`` and ``_sub`` = the
    sub-range's EXACT weighted max impact — w·max over its own Pareto
    (tf, dl) frontier of partial(tf, dl). Bounds built from sub-ranges
    don't smear a single high-impact doc over the block's whole doc
    span, which is what made uniform-impact OR disjunctions unprunable
    at block granularity (BASELINE.md §6.1, round 2). Pre-r3 indexes
    without the ``sub_*`` columns degrade to one sub-range per block
    (exactly the round-2 block-granular behavior)."""
    k1, b = float(BM25_K1), float(BM25_B)
    base = index.postings.where(_terms_cond(terms))
    w_expr, avgdl_expr = _w_avgdl_exprs(index, terms, weights)
    if "sub_max_docs" in base.columns:
        rows = base.select(
            *_WAND_META_COLS,
            F.explode(
                F.arrays_zip(
                    "sub_min_docs", "sub_max_docs", "sub_imp_tfs", "sub_imp_dls"
                )
            ).alias("_z"),
        ).select(
            *_WAND_META_COLS,
            F.col("_z.sub_min_docs").alias("_smin"),
            F.col("_z.sub_max_docs").alias("_smax"),
            F.col("_z.sub_imp_tfs").alias("_sitf"),
            F.col("_z.sub_imp_dls").alias("_sidl"),
        )
    else:  # pre-r3 index: the block is its own (single) sub-range
        rows = base.select(
            *_WAND_META_COLS,
            F.col("doc_base").alias("_smin"),
            F.col("max_docid").alias("_smax"),
            F.col("imp_tfs").alias("_sitf"),
            F.col("imp_dls").alias("_sidl"),
        )
    sub = w_expr * F.array_max(
        F.zip_with(
            F.col("_sitf").cast("array<double>"),
            F.col("_sidl").cast("array<double>"),
            lambda tf, dl: (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl_expr)),
        )
    )
    return rows.select(
        *_WAND_META_COLS,
        "_smin",
        "_smax",
        sub.alias("_sub"),
    )


def _bucketed_sub(smeta: DataFrame) -> DataFrame:
    """Explode sub-range rows into the WAND_BUCKET-quantized doc-range
    buckets they overlap (column ``_bkt``)."""
    return smeta.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                (F.col("_smin") / WAND_BUCKET).cast("long"),
                (F.col("_smax") / WAND_BUCKET).cast("long"),
            )
        ),
    )


def _block_meta(index: SparkIndex, terms: list[Term], weights: list[float]) -> DataFrame:
    """Metadata-only view of the query terms' posting blocks with the
    weighted impact upper bound as ``_ub`` (binary streams unread —
    parquet column pruning)."""
    return (
        index.postings.where(_terms_cond(terms))
        .select(*_WAND_META_COLS, "max_docid", "n", "imp_tfs", "imp_dls")
        .withColumn("_ub", _ub_expr(index, terms, weights))
    )


def _score_decoded(
    index: SparkIndex,
    terms: list[Term],
    weights: list[float],
    blocks: DataFrame,
    doc_filter: "np.ndarray | None" = None,
) -> DataFrame:
    """Decode a block subset and emit (qid, doc_id, _s) weighted BM25
    partial contributions (one row per posting). ``doc_filter`` keeps
    only candidate docs' rows inside the decode kernel."""
    import types

    k1, b = float(BM25_K1), float(BM25_B)
    w_arr = F.array(*[F.lit(float(w)) for w in weights])
    a_arr = F.array(
        *[F.lit(float(index.avg_field_len(t.field))) for t in terms]
    )
    decoded = decode_postings(
        types.SimpleNamespace(postings=blocks), terms, doc_filter=doc_filter
    )
    partial = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl") / F.element_at(a_arr, F.col("qid") + 1)
        )
    )
    s = F.element_at(w_arr, F.col("qid") + 1) * partial
    return decoded.select("qid", "doc_id", s.alias("_s"))


def topk_wand(
    index: SparkIndex,
    terms: list[Term],
    weights: list[float],
    k: int = 10,
    collect_stats: bool = False,
) -> tuple[DataFrame, dict | None]:
    """Distributed block-max WAND: exact BM25 top-k for a weighted
    disjunction, decoding only blocks whose upper bound can reach the
    top-k. score(doc) = sum_t weights[t] * bm25_partial(tf, dl).

    Per-(term, block) metadata gives ub = w_t * partial(block_max_tf,
    block_min_dl) (partial increasing in tf, decreasing in dl). Two
    rounds, both provably exact, and NOTHING block-sized ever reaches
    the driver — a stop-word term at 10^11 postings flows only through
    DataFrame aggregations over the metadata columns (parquet column
    pruning keeps the binary streams unread until decode):

    1. seed θ: TakeOrdered the top-k blocks by ub (≤ k KEY rows to the
       driver — bounded by k, not by df), decode them, sum the decoded
       contributions per doc (a LOWER bound on each doc's true score),
       θ = kth-largest lower bound (−inf if < k docs). There exist k
       docs with true score ≥ θ, so the true kth score ≥ θ.
    2. keep block b of term t iff ub_b + Σ_{t'≠t} segmax_{t',seg(b)}
       ≥ θ, where segmax is the per-(segment, term) max ub — a
       metadata-only groupBy joined back to the scan. Every doc d in a
       dropped block has ub_doc(d) ≤ the dropped bound < θ ≤ true kth
       score, so no doc of the true top-k (ties included — the filter
       is ≥, not >) loses a contribution. Decode survivors, sum per
       doc, TakeOrdered k.

    For a single term the cross-term sum is empty and the filter is the
    classic per-block ub ≥ θ; for OR-of-terms this is block-max WAND
    with segment-granular cross-term bounds (reference has no WAND —
    this is the scale path the north rule asks for). Returns (top-k
    DataFrame (doc_id, score), stats dict when ``collect_stats`` — two
    extra metadata-only count jobs).
    """
    spark = index.spark
    k = max(int(k), 1)
    empty = spark.createDataFrame([], "doc_id long, score double")
    Q = WAND_BUCKET

    cond = _terms_cond(terms)
    meta_cols = _WAND_META_COLS
    meta = _block_meta(index, terms, weights)

    def score_blocks(blocks: DataFrame) -> DataFrame:
        return _score_decoded(index, terms, weights, blocks).groupBy(
            "doc_id"
        ).agg(F.sum("_s").alias("score"))

    theta = float("-inf")
    if len(terms) == 1:
        # seed θ from the k highest-ub blocks (TakeOrdered — the driver
        # receives ≤ k key rows regardless of term df); for one term a
        # doc's decoded sum IS its complete score
        seed_keys = [
            tuple(r[c] for c in meta_cols)
            for r in meta.orderBy(F.col("_ub").desc())
            .select(*meta_cols)
            .limit(k)
            .collect()
        ]
        if not seed_keys:
            return (
                empty,
                {"blocks_total": 0, "blocks_decoded": 0, "theta": None}
                if collect_stats
                else None,
            )
        keys_df = spark.createDataFrame(
            seed_keys,
            "field string, term string, seg_id long, block_id long, doc_base long",
        )
        seed_blocks = index.postings.where(cond).join(
            F.broadcast(keys_df), meta_cols
        )
        seed_rows = (
            score_blocks(seed_blocks)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        if len(seed_rows) >= k:
            theta = float(seed_rows[k - 1]["score"])
        # round 2: classic per-block ub ≥ θ (empty cross-term sum)
        survivors = index.postings.where(cond).where(
            _ub_expr(index, terms, weights) >= F.lit(theta)
        )
    else:
        # Multi-term disjunction. Cross-term bounds live on QUANTIZED
        # doc-range buckets (WAND_BUCKET docs) at SUB-RANGE granularity
        # (_sub_meta): bucketmax_{t,B} = max _sub over t's sub-ranges
        # overlapping B bounds any contribution t can make to a doc in
        # B, without smearing one high-impact doc over the block's
        # whole doc span.
        #
        # θ seed: rank buckets by Σ_t bucketmax (the best possible doc
        # score inside), decode ALL query-term blocks overlapping the
        # top S buckets, and keep docs INSIDE those buckets — every
        # contribution of such a doc comes from a block overlapping
        # its own bucket, so these sums are COMPLETE scores and θ =
        # kth best is a true lower bound on the kth best overall
        # (round-2's top-k-blocks seed summed partial scores — far
        # weaker for ORs whose top docs combine several mid terms).
        # Bucket choice is HYBRID: the global top-S by Σ bucketmax
        # (combination docs) ∪ each term's top-S by its own bucketmax
        # (single-strong-term docs) — ranking by Σ alone collapses θ
        # when the top combined buckets hold < k strong docs (observed:
        # θ 0.08 vs true kth 9.4 on a hot∨rare query). S quadruples
        # while hits < k; θ stays −inf if the whole corpus has < k
        # matching docs — no pruning, still exact.
        from pyspark.sql import Window

        smeta = _sub_meta(index, terms, weights)
        bmeta = _bucketed_sub(smeta)
        bmax = bmeta.groupBy("_bkt", "field", "term").agg(
            F.max("_sub").alias("_bmax")
        )
        bsum = bmax.groupBy("_bkt").agg(F.sum("_bmax").alias("_bsum"))
        S = max(WAND_AND_SEED_BUCKETS, 1)
        seed_bkts: list[int] = []
        ms: dict[tuple[str, str], float] = {}
        nul_s = F.lit(None).cast("string")
        nul_d = F.lit(None).cast("double")
        nul_l = F.lit(None).cast("long")
        while True:
            # one tagged-union collect per round: 'g' global top-S
            # buckets, 't' per-term top-S buckets, 'm' per-term global
            # max impact (for the MAXSCORE split below), 'c' occupied
            # bucket count (loop exit) — 4 tiny aggregations, 1 job
            w_rn = Window.partitionBy("field", "term").orderBy(
                F.col("_bmax").desc(), F.col("_bkt").asc()
            )
            tag_g = (
                bsum.orderBy(F.col("_bsum").desc())
                .limit(S)
                .select(
                    F.lit("g").alias("_tag"),
                    F.col("_bkt"),
                    nul_s.alias("field"),
                    nul_s.alias("term"),
                    nul_d.alias("_val"),
                )
            )
            tag_t = (
                bmax.withColumn("_rn", F.row_number().over(w_rn))
                .where(F.col("_rn") <= S)
                .select(
                    F.lit("t").alias("_tag"),
                    F.col("_bkt"),
                    "field",
                    "term",
                    nul_d.alias("_val"),
                )
            )
            tag_m = bmax.groupBy("field", "term").agg(
                F.max("_bmax").alias("_val")
            ).select(
                F.lit("m").alias("_tag"), nul_l.alias("_bkt"), "field", "term", "_val"
            )
            tag_c = bsum.agg(F.count("*").alias("_val")).select(
                F.lit("c").alias("_tag"),
                nul_l.alias("_bkt"),
                nul_s.alias("field"),
                nul_s.alias("term"),
                F.col("_val").cast("double"),
            )
            bkt_set: set[int] = set()
            n_occ = 0
            for r in (
                tag_g.unionByName(tag_t).unionByName(tag_m).unionByName(tag_c)
            ).collect():
                if r["_tag"] in ("g", "t"):
                    bkt_set.add(int(r["_bkt"]))
                elif r["_tag"] == "m":
                    ms[(r["field"], r["term"])] = float(r["_val"])
                else:
                    n_occ = int(r["_val"])
            bkt_ids = sorted(bkt_set)
            if not bkt_ids:
                break
            seed_bkts = bkt_ids
            seed_df = spark.createDataFrame(
                [(x,) for x in bkt_ids], "_bkt long"
            )
            seed_keys = (
                bmeta.join(F.broadcast(seed_df), "_bkt", "leftsemi")
                .select(*meta_cols)
                .distinct()
            )
            seed_blocks = index.postings.where(cond).join(seed_keys, meta_cols)
            seed_rows = (
                _score_decoded(index, terms, weights, seed_blocks)
                # broadcast semi-join, NOT an isin literal: bkt_ids can
                # grow to the full occupied-bucket count (S quadruples
                # to n_occ when the corpus has < k hits) and a 10^5-id
                # IN-list blows up plan size/analysis on the driver
                .withColumn("_bkt", (F.col("doc_id") / Q).cast("long"))
                .join(F.broadcast(seed_df), "_bkt", "leftsemi")
                .groupBy("doc_id")
                .agg(F.sum("_s").alias("score"))
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k)
                .collect()
            )
            if len(seed_rows) >= k:
                theta = float(seed_rows[k - 1]["score"])
                break
            if S >= n_occ:  # every occupied bucket examined
                break
            S *= 4

        # survivor filter: keep block b of term t iff SOME of its
        # sub-ranges sr and SOME bucket B overlapped by sr has
        # _sub(sr) + Σ_{t'≠t} bucketmax_{t',B} ≥ θ. A doc d in a
        # dropped block: its sub-range sr(d) overlaps its own bucket
        # B(d), its t-contribution ≤ _sub(sr(d)) and every other
        # term's contribution ≤ that term's bucketmax at B(d) — so
        # score(d) ≤ the dropped bound < θ ≤ true kth score, and no
        # true top-k doc (ties included — the filter is ≥) loses a
        # contribution: provably exact.
        keep_keys = (
            bmeta.join(bmax, ["_bkt", "field", "term"])
            .join(bsum, "_bkt")
            .where(
                F.col("_sub") + (F.col("_bsum") - F.col("_bmax"))
                >= F.lit(theta)
            )
            .select(*meta_cols)
            .distinct()
        )
        survivors = index.postings.where(cond).join(keep_keys, meta_cols)

        # MAXSCORE split (Turtle & Flood): order terms by global max
        # impact; the longest prefix whose cumulative sum stays < θ is
        # NON-ESSENTIAL — a doc matching only those terms scores
        # strictly < θ ≤ true kth, so every top-k doc matches some
        # ESSENTIAL term. Non-essential blocks then need decoding only
        # where an essential candidate doc lives (the Spark analogue
        # of Lucene's skipTo into the cheap term): essential blocks
        # decode first, their doc ids become the candidate set, and
        # non-essential survivor blocks are kept only if their doc
        # range overlaps a candidate (CAND_BUCKET-quantized equi-join;
        # decoded rows then semi-join candidates doc-exactly, so the
        # score shuffle carries candidates only). Applied when the
        # essential side is small enough to broadcast.
        order = sorted(
            range(len(terms)),
            key=lambda i: ms.get((terms[i].field, terms[i].text), float("inf")),
        )
        non_ess: list[int] = []
        acc = 0.0
        if theta > float("-inf"):
            for i in order:
                m = ms.get((terms[i].field, terms[i].text))
                if m is None or len(non_ess) >= len(terms) - 1:
                    break
                if acc + m < theta:
                    acc += m
                    non_ess.append(i)
                else:
                    break
        ess_ids = [i for i in range(len(terms)) if i not in set(non_ess)]
        ess_df = sum(index.doc_freq(terms[i]) for i in ess_ids)
        if non_ess and ess_df <= MAXSCORE_CAND_DF_BOUND:
            ess_t = [terms[i] for i in ess_ids]
            ess_w = [weights[i] for i in ess_ids]
            non_t = [terms[i] for i in non_ess]
            non_w = [weights[i] for i in non_ess]
            # NOT persisted: a .persist() here is never unpersisted (the
            # returned plan stays lazy), and in a long-lived serving
            # session each MAXSCORE query would leak one cached plan
            # until executor storage fills. The essential side is small
            # (≤ MAXSCORE_CAND_DF_BOUND postings), so the one extra
            # decode when the final union re-executes it is bounded —
            # an unbounded cache leak is not.
            ess_dec = _score_decoded(
                index, ess_t, ess_w, survivors.where(_terms_cond(ess_t))
            )
            # candidate doc ids to the driver: bounded by ess_df ≤
            # MAXSCORE_CAND_DF_BOUND (≤16 MB of int64) — Arrow collect,
            # then a sorted array broadcast into the decode kernel
            cand_ids = np.unique(
                ess_dec.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
            )
            cand_b = spark.createDataFrame(
                [(int(x),) for x in np.unique(cand_ids // CAND_BUCKET)],
                "_cbkt long",
            )
            non_keys = (
                meta.where(_terms_cond(non_t))
                .join(keep_keys, meta_cols, "leftsemi")
                .withColumn(
                    "_cbkt",
                    F.explode(
                        F.sequence(
                            (F.col("doc_base") / CAND_BUCKET).cast("long"),
                            (F.col("max_docid") / CAND_BUCKET).cast("long"),
                        )
                    ),
                )
                .join(F.broadcast(cand_b), "_cbkt", "leftsemi")
                .select(*meta_cols)
                .distinct()
            )
            non_blocks = index.postings.where(_terms_cond(non_t)).join(
                non_keys, meta_cols
            )
            # rows for non-candidate docs die inside the kernel — the
            # Arrow transfer and the score shuffle carry candidates only
            non_dec = _score_decoded(
                index, non_t, non_w, non_blocks, doc_filter=cand_ids
            )
            out = (
                ess_dec.unionByName(non_dec)
                .groupBy("doc_id")
                .agg(F.sum("_s").alias("score"))
                .orderBy(F.col("score").desc(), F.col("doc_id").asc())
                .limit(k)
            )
            stats = None
            if collect_stats:
                dec_keys = (
                    survivors.where(_terms_cond(ess_t))
                    .select(*meta_cols)
                    .unionByName(non_keys)
                )
                if seed_bkts:
                    seed_df = spark.createDataFrame(
                        [(x,) for x in seed_bkts], "_bkt long"
                    )
                    dec_keys = dec_keys.unionByName(
                        bmeta.join(F.broadcast(seed_df), "_bkt", "leftsemi")
                        .select(*meta_cols)
                    )
                stats = {
                    "blocks_total": meta.count(),
                    "blocks_decoded": dec_keys.distinct().count(),
                    "theta": theta,
                    "essential": [
                        (terms[i].field, terms[i].text) for i in ess_ids
                    ],
                    # block pruning can be impossible (uniform scatter:
                    # every block overlaps candidates) while the row
                    # cut is the real win — report both
                    "rows_total": int(sum(index.doc_freq(t) for t in terms)),
                    "rows_emitted": ess_dec.count() + non_dec.count(),
                    "n_candidates": int(len(cand_ids)),
                }
            return out, stats
    out = (
        score_blocks(survivors)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    stats = None
    if collect_stats:
        stats = {
            "blocks_total": meta.count(),
            "blocks_decoded": survivors.select(*meta_cols).count(),
            "theta": theta,
        }
    return out, stats


WAND_AND_SEED_BUCKETS = 8  # initial θ-seed bucket count for conjunction
# pruning (quadrupled until ≥ k hits are found or buckets run out); kept
# small — each seed round decodes only the blocks overlapping the chosen
# buckets, and the later survivor filter does the real pruning


def _wand_and_query(q: Query) -> tuple[list[tuple[Term, int, bool]], list[Term]] | None:
    """(scorable [(unique term, multiplicity, required?)], prohibited
    terms) if ``q`` is WAND-AND-servable: a MultiTermQuery with at least
    one REQUIRED term (signs None = pure conjunction). Optional terms
    ride along in the scoring set; prohibited terms become the exact
    anti-join. Multiplicity folds duplicated scorable terms into one
    weight (the exact path emits one row per occurrence and sums).
    Reference semantics anchor: selectivity-ordered required-term
    intersection, src/Search/Query/MultiTerm.php:333-339."""
    if not isinstance(q, MultiTermQuery):
        return None
    signs = q.signs
    active = [
        (t, True if signs is None else signs[i]) for i, t in enumerate(q.terms)
    ]
    if not any(s is True for _t, s in active):
        return None
    merged: dict[tuple[str, str], list] = {}
    pro: list[Term] = []
    pro_seen: set[tuple[str, str]] = set()
    for t, s in active:
        key = (t.field, t.text)
        if s is False:
            if key not in pro_seen:
                pro_seen.add(key)
                pro.append(t)
            continue
        e = merged.setdefault(key, [t, 0, False])
        e[1] += 1
        if s is True:
            e[2] = True
    if any(key in pro_seen for key in merged):
        return None  # term both scorable and prohibited → exact path
    scorable = [(t, m, r) for t, m, r in merged.values()]
    return scorable, pro


def _restrict_blocks_to_buckets(index: SparkIndex, terms: list[Term], bkts_df):
    """Postings view of ``terms`` keeping only blocks whose doc range
    overlaps a bucket in ``bkts_df`` (metadata-only semi-join)."""
    import types

    cond = _terms_cond(terms)
    keys = (
        _bucketed_sub(_sub_meta(index, terms, [0.0] * len(terms)))
        .join(bkts_df, "_bkt", "leftsemi")
        .select(*_WAND_META_COLS)
        .distinct()
    )
    return types.SimpleNamespace(
        postings=index.postings.where(cond).join(keys, _WAND_META_COLS)
    )


RAREST_FETCH_MAX_DF = 1_000_000  # run the conjunction as a selectivity-
# ordered intersection (decode rarest required term → candidate ids →
# doc-filtered fetch of the rest) when the rarest required df fits a
# driver collect (≤8 MB of int64). Reference semantics anchor: the
# reference intersects MultiTerm postings smallest-first
# (src/Search/Query/MultiTerm.php:333-339); this is that plan shape,
# distributed, with the candidate set pushed into the decode kernel.
INTERSECT_BLOCK_RESTRICT_MAX_BKTS = 65_536  # build the metadata block-
# overlap restriction only while the candidate bucket list stays a
# cheap driver-side literal table; past it, candidates are dense enough
# that every block overlaps anyway (kernel row filtering still applies)


def _topk_and_intersect(
    index: SparkIndex,
    terms: list[Term],
    weights: list[float],
    req_ids: list[int],
    pro_terms: list[Term],
    rarest: Term,
    k: int,
    collect_stats: bool,
) -> tuple[DataFrame, dict | None]:
    """Exact conjunction top-k by candidate fetch: the rarest required
    term's docs ARE the candidate superset (every hit contains it), so
    decode it docs-only, collect the ids (df-bounded by
    RAREST_FETCH_MAX_DF), and decode every term with the candidate set
    as an in-kernel doc filter. Blocks of the other terms are first
    pruned to those whose [doc_base, max_docid] span overlaps a
    candidate bucket — exact from metadata alone; a block overlapping
    no candidate's id cannot contain one. Cost shape at scale: one
    full decode of the RAREST postings + a row-filtered fetch of the
    hot terms whose output is |candidates ∩ postings| rows, not df —
    the analogue of the reference's smallest-first intersection
    (MultiTerm.php:333-339) where the '+rare +hot' plan never
    materializes the hot list."""
    spark = index.spark
    cand_ids = np.unique(
        decode_postings(index, [rarest], docs_only=True)
        .select("doc_id")
        .toPandas()["doc_id"]
        .to_numpy(np.int64)
    )
    empty = spark.createDataFrame([], "doc_id long, score double")
    if len(cand_ids) == 0:
        return empty, (
            {"path": "intersect", "blocks_total": 0, "blocks_decoded": 0,
             "rows_emitted": 0, "n_candidates": 0}
            if collect_stats
            else None
        )
    others = [t for t in terms if (t.field, t.text) != (rarest.field, rarest.text)]
    cb = np.unique(cand_ids // CAND_BUCKET)
    all_cond = _terms_cond(terms)
    if others and len(cb) <= INTERSECT_BLOCK_RESTRICT_MAX_BKTS:
        # Arrow-shipped (pandas) rather than a py4j tuple list: the
        # bucket table can reach 65536 rows at the 1M-df bound
        cb_df = spark.createDataFrame(
            pd.DataFrame({"_cbkt": cb.astype(np.int64)})
        )
        other_keys = (
            index.postings.where(_terms_cond(others))
            .select(*_WAND_META_COLS, "max_docid")
            .withColumn(
                "_cbkt",
                F.explode(
                    F.sequence(
                        (F.col("doc_base") / CAND_BUCKET).cast("long"),
                        (F.col("max_docid") / CAND_BUCKET).cast("long"),
                    )
                ),
            )
            .join(F.broadcast(cb_df), "_cbkt", "leftsemi")
            .select(*_WAND_META_COLS)
            .distinct()
        )
        rare_cond = _terms_cond([rarest])
        blocks = index.postings.where(rare_cond).unionByName(
            index.postings.where(_terms_cond(others)).join(
                other_keys, _WAND_META_COLS
            )
        )
    else:
        blocks = index.postings.where(all_cond)
    scored = _score_decoded(index, terms, weights, blocks, doc_filter=cand_ids)
    n_req = len(req_ids)
    agg = (
        scored.groupBy("doc_id")
        .agg(
            F.sum("_s").alias("score"),
            F.countDistinct(
                F.when(F.col("qid").isin(req_ids), F.col("qid"))
            ).alias("_mr"),
        )
        .where(F.col("_mr") == n_req)
        .drop("_mr")
    )
    if pro_terms:
        # prohibited membership matters only ON candidates — doc-filter
        # the docs-only decode, so a stop-word NOT costs |candidates|
        # rows, then always broadcast (bounded by the candidate count)
        pro_docs = (
            decode_postings(index, pro_terms, docs_only=True, doc_filter=cand_ids)
            .select("doc_id")
            .distinct()
        )
        agg = agg.join(F.broadcast(pro_docs), "doc_id", "left_anti")
    out = agg.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)
    stats = None
    if collect_stats:
        stats = {
            "path": "intersect",
            "blocks_total": index.postings.where(all_cond).count(),
            "blocks_decoded": blocks.select(*_WAND_META_COLS).count(),
            "rows_total": int(sum(index.doc_freq(t) for t in terms)),
            "rows_emitted": scored.count(),
            "n_candidates": int(len(cand_ids)),
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
    """Exact conjunction top-k for HOT required terms by co-grouped
    range intersection — the 100-TB plan shape for `+hot +hot [-hot]`
    where every term's df defeats both the candidate collect
    (:func:`_topk_and_intersect`) and bound-based block pruning
    (uniform-impact corpora: the 40M transcripts smoke pruned 16% and
    ran SLOWER than exact — BASELINE.md §7.2).

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
    no bounds: every range is processed (presence filtering at bucket
    granularity drops ranges where a required term is wholly absent —
    metadata-only and exact).

    Reference semantics anchor: MultiTerm required-conjunction scoring
    (src/Search/Query/MultiTerm.php:333-401); this is its
    doc-partitioned equivalent.
    """
    pro_terms = list(pro_terms or [])
    spark = index.spark
    k = max(int(k), 1)
    req_ids = [i for i, r in enumerate(required) if r]
    n_req = len(req_ids)
    # n_req == 0 is the pure-disjunction degenerate case: no presence
    # filter (every range can host a hit), hit = any scorable match not
    # prohibited — the bounded-shuffle OR strategy for uniform-impact
    # corpora where WAND cannot prune
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

    cond = _terms_cond(all_terms)
    # bucket-granular presence (shared with the phrase kernel): ranges
    # where some required term has no overlapping sub-range cannot host
    # hits — their blocks drop before the shuffle (metadata-only;
    # prunes when a required term is regionally absent, e.g. a delta
    # tier or a clustered keyword). n_req == 0 skips the filter.
    src = _presence_filtered_src(
        index, all_terms, [terms[i] for i in req_ids]
    )
    blocks = src.select(
        "field", "term", "doc_base", "n",
        "docs_bin", "tfs_bin", "dls_bin",
    ).withColumn("_rng", (F.col("doc_base") / BLOCK_DOC_RANGE).cast("long"))

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
        doc_base = pdf["doc_base"].to_numpy(np.int64)
        starts = np.cumsum(n) - n
        gaps = vb_decode(b"".join(pdf["docs_bin"])).astype(np.int64)
        cs = np.cumsum(gaps)
        prior = cs[starts] - gaps[starts]
        base = doc_base - gaps[starts]
        docs = cs - np.repeat(prior, n) + np.repeat(base, n)
        tfs = vb_decode(b"".join(pdf["tfs_bin"])).astype(np.float64)
        dls = vb_decode(b"".join(pdf["dls_bin"])).astype(np.float64)
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
            "blocks_total": index.postings.where(cond).count(),
            "blocks_decoded": blocks.count(),
        }
    return out, stats


def _presence_filtered_src(index: SparkIndex, all_terms, req_terms):
    """Postings of ``all_terms`` minus blocks confined to WAND_BUCKET
    buckets where some term of ``req_terms`` has no overlapping
    sub-range — the presence step shared by the cogroup kernels
    (conjunction and phrase). Metadata-only and exact: a doc containing
    every required term has, for each one, a posting block overlapping
    the doc's own bucket, so all of a hit's blocks always survive.
    The semi-join runs on _WAND_META_COLS keys only; binary columns are
    joined back by key — never deduped or exploded (binary-column
    distinct corrupts; see PLANS.md)."""
    src = index.postings.where(_terms_cond(all_terms))
    if not req_terms:
        # pure disjunction: every range can host a hit
        return src
    bmeta = _bucketed_sub(
        _sub_meta(index, req_terms, [0.0] * len(req_terms))
    )
    present = (
        bmeta.select("_bkt", "field", "term")
        .distinct()
        .groupBy("_bkt")
        .agg(F.countDistinct("field", "term").alias("_np"))
        .where(F.col("_np") == len(req_terms))
        .select("_bkt")
    )
    keep_keys = (
        src.select(*_WAND_META_COLS, "max_docid")
        .withColumn(
            "_bkt",
            F.explode(
                F.sequence(
                    (F.col("doc_base") / WAND_BUCKET).cast("long"),
                    (F.col("max_docid") / WAND_BUCKET).cast("long"),
                )
            ),
        )
        .join(present, "_bkt", "leftsemi")
        .select(*_WAND_META_COLS)
        .distinct()
    )
    return src.join(keep_keys, _WAND_META_COLS)


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

    Presence filtering (metadata-only, exact): a phrase hit contains
    EVERY unique term, so buckets where some term has no overlapping
    sub-range cannot host hits and their blocks drop before the
    shuffle. Reference semantics anchor: Phrase.php:378-491 (exact and
    sloppy freq), scored as the MultiTerm bm25 path scores phrases
    (idf of the min-df term).
    """
    spark = index.spark
    k = max(int(k), 1)
    sim = get_default()
    uniq, slot_qid = _uniq_slots(q.terms)
    n_uniq = len(uniq)
    offsets = list(q.offsets)
    slop = int(q.slop)
    n_slots = len(q.terms)
    two_slot_delta = (
        offsets[1] - offsets[0] if n_slots == 2 and slop else None
    )
    sf, sf_np = sim.sloppy_freq, sim.sloppy_freq_np
    default_sloppy = sim.is_default_sloppy()
    N = index.n_docs
    idf = bm25_idf(min(index.doc_freq(t) for t in uniq), N)
    avgdl = float(index.avg_field_len(q.terms[0].field))
    boost = float(q.boost)
    k1, b = float(BM25_K1), float(BM25_B)
    qmap = {(t.field, t.text): j for j, t in enumerate(uniq)}

    cond = _terms_cond(uniq)
    # presence: every unique phrase term is required
    src = _presence_filtered_src(index, uniq, uniq)
    # the kernel consumes doc lengths from term 0's postings only —
    # the other terms' dls streams would be shuffled, decoded, and
    # discarded ((n-1)/n of a whole varbyte stream for an n-term hot
    # phrase), so they ship as empty binaries; alignment is restored
    # in the kernel from the per-block posting counts
    dls_proj = F.when(
        (F.col("field") == uniq[0].field) & (F.col("term") == uniq[0].text),
        F.col("dls_bin"),
    ).otherwise(F.lit(b""))
    blocks = src.select(
        "field", "term", "doc_base", "n",
        "docs_bin", "tfs_bin", dls_proj.alias("dls_bin"), "pos_bin",
    ).withColumn("_rng", (F.col("doc_base") / BLOCK_DOC_RANGE).cast("long"))

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
        doc_base = pdf["doc_base"].to_numpy(np.int64)
        starts = np.cumsum(n) - n
        gaps = vb_decode(b"".join(pdf["docs_bin"])).astype(np.int64)
        cs = np.cumsum(gaps)
        prior = cs[starts] - gaps[starts]
        base = doc_base - gaps[starts]
        docs = cs - np.repeat(prior, n) + np.repeat(base, n)
        tfs = vb_decode(b"".join(pdf["tfs_bin"])).astype(np.int64)
        # dls_bin is non-empty ONLY on term-0 blocks (driver projection)
        # and concatenates in pdf-row order — exactly the order of the
        # term-0 posting selector below
        dls0 = vb_decode(b"".join(pdf["dls_bin"])).astype(np.float64)
        # positions: per-doc runs of tf gaps, runs reset at each doc —
        # same reconstruction as decode_postings' need_positions path
        pgaps = vb_decode(b"".join(pdf["pos_bin"])).astype(np.int64)
        run_starts = np.cumsum(tfs) - tfs
        pcs = np.cumsum(pgaps)
        prior_p = np.where(run_starts > 0, pcs[run_starts - 1], 0)
        offs = np.zeros(len(pgaps), dtype=np.int64)
        offs[run_starts] = np.diff(prior_p, prepend=np.int64(0))
        pos = pcs - np.cumsum(offs)

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
            qcache, slot_qid, offsets, slop, n_rows,
            sf, sf_np, default_sloppy, two_slot_delta,
        )
        dl_row = np.zeros(n_rows, dtype=np.float64)
        sel0 = row_q == 0
        dl_row[inv[sel0]] = dls0
        hit = freq > 0
        h_docs, fr, dl_h = uniq_docs[hit], freq[hit], dl_row[hit]
        sc = (
            boost
            * idf
            * (fr * (k1 + 1.0))
            / (fr + k1 * ((1.0 - b) + b * dl_h / avgdl))
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
            "blocks_total": index.postings.where(cond).count(),
            "blocks_decoded": blocks.count(),
        }
    return out, stats


def topk_wand_and(
    index: SparkIndex,
    terms: list[Term],
    weights: list[float],
    required: list[bool],
    pro_terms: list[Term] | None = None,
    k: int = 10,
    collect_stats: bool = False,
    intersect_max_df: int | None = None,
    hot_strategy: str = "cogroup",
) -> tuple[DataFrame, dict | None]:
    """Distributed block-max pruning for REQUIRED conjunctions — the AND
    analogue of :func:`topk_wand`, the round-3 answer to the one query
    shape with no sublinear path (`+table +spark -vector` fully decoded
    three hot terms). Exact BM25 top-k of

        score(doc) = Σ_t weights[t] · partial_t(doc)

    over docs containing EVERY term with required[i]=True and NONE of
    ``pro_terms``. Everything flows through metadata aggregations; the
    driver sees only ≤ S bucket ids and ≤ k seed rows.

    Doc ids quantize to WAND_BUCKET-sized buckets. Per (bucket, term),
    bucketmax = max block ub over overlapping blocks. Three exact steps:

    1. PRESENCE: a hit contains every required term, and a doc's
       postings for term t live in a block overlapping the doc's own
       bucket — so buckets where some required term has NO overlapping
       block cannot host hits, and every block confined to such buckets
       drops before any θ is known (the AND-specific filter).
    2. θ SEED: rank present buckets by Σ_t bucketmax (the best possible
       hit score inside), decode ALL scorable blocks overlapping the
       top S buckets, and compute EXACT hit scores for docs inside them
       (complete by the step-1 argument; conjunction-checked;
       prohibited docs removed with a bucket-restricted docs-only
       decode). These are true hit scores, so θ = kth best ⇒ the true
       kth best ≥ θ. S quadruples (bounded rounds) while hits < k;
       θ stays −inf if the corpus has < k hits — no pruning, still
       exact.
    3. SURVIVORS: keep block b of term t iff some overlapped PRESENT
       bucket B has ub_b + Σ_{t'≠t} bucketmax_{t',B} ≥ θ. For a true
       top-k doc d: its bucket B(d) is present, each of its blocks
       b_t(d) overlaps B(d), ub ≥ w_t·partial_t(d) and bucketmax ≥
       every other matched term's contribution (unmatched optional
       terms contribute 0 ≤ bucketmax), so the kept bound ≥ score(d)
       ≥ θ (ties included — the filter is ≥) and ALL of d's blocks
       survive ⇒ its conjunction check passes and its score is exact.
       A doc that lost a required block cannot pass the conjunction
       check at all, and a doc that lost an optional block only
       under-counts a score already provably < θ — so the final
       TakeOrdered k over survivor hits is the exact top-k.
    """
    pro_terms = list(pro_terms or [])
    spark = index.spark
    k = max(int(k), 1)
    req_ids = [i for i, r in enumerate(required) if r]
    n_req = len(req_ids)
    if n_req == 0:
        raise ValueError("topk_wand_and needs at least one required term")
    if intersect_max_df is None:
        intersect_max_df = RAREST_FETCH_MAX_DF
    rarest = min(
        (terms[i] for i in req_ids), key=lambda t: index.doc_freq(t)
    )
    if index.doc_freq(rarest) <= intersect_max_df:
        return _topk_and_intersect(
            index, terms, weights, req_ids, pro_terms, rarest, k, collect_stats
        )
    # every required term hot: candidate collect is off the table, and
    # bound-based pruning loses on uniform-impact corpora (16% pruned
    # AND slower than exact at 40M — BASELINE.md §7.2). Default to the
    # co-grouped range intersection, whose cost is one binary-level
    # shuffle regardless of impact distribution. The r3 index format
    # (sub_* columns present) guarantees the block/doc-range invariant
    # the kernel needs; older indexes keep the bucket path.
    if hot_strategy == "cogroup" and "sub_max_docs" in index.postings.columns:
        return topk_and_cogrouped(
            index, terms, weights, required, pro_terms, k, collect_stats
        )
    Q = WAND_BUCKET

    cond = _terms_cond(terms)
    meta = _block_meta(index, terms, weights)
    # sub-range granularity (see _sub_meta): presence and bounds both
    # tighten — a bucket covered only by the GAP between two of a
    # required term's sub-ranges no longer counts as present, and a
    # block's high-impact doc no longer lifts buckets it isn't in
    bmeta = _bucketed_sub(_sub_meta(index, terms, weights))
    bmax = bmeta.groupBy("_bkt", "field", "term").agg(
        F.max("_sub").alias("_bmax")
    )
    is_req = _terms_cond([terms[i] for i in req_ids])
    present = (
        bmax.where(is_req)
        .groupBy("_bkt")
        .agg(F.count("*").alias("_np"))
        .where(F.col("_np") == n_req)
        .select("_bkt")
    )
    # Σ bucketmax over ALL scorable terms, present buckets only (inner
    # join doubles as the presence filter for everything downstream)
    bsum = bmax.join(present, "_bkt").groupBy("_bkt").agg(
        F.sum("_bmax").alias("_bsum")
    )

    def conjunction_hits(blocks, seed_bkts_df=None):
        """(doc_id, score) of EXACT conjunction hits in a decoded block
        subset; when ``seed_bkts_df`` (a `_bkt long` DataFrame) is
        given, only docs in those buckets (whose contributions are
        provably complete) are kept — via a broadcast semi-join, not an
        isin literal (the seed set quadruples toward the full occupied-
        bucket count when the corpus has < k hits)."""
        scored = _score_decoded(index, terms, weights, blocks)
        if seed_bkts_df is not None:
            scored = (
                scored.withColumn(
                    "_bkt", (F.col("doc_id") / Q).cast("long")
                )
                .join(F.broadcast(seed_bkts_df), "_bkt", "leftsemi")
                .drop("_bkt")
            )
        agg = (
            scored.groupBy("doc_id")
            .agg(
                F.sum("_s").alias("score"),
                F.countDistinct(
                    F.when(F.col("qid").isin(req_ids), F.col("qid"))
                ).alias("_mr"),
            )
            .where(F.col("_mr") == n_req)
        )
        if pro_terms:
            bkts = seed_bkts_df if seed_bkts_df is not None else present
            pro_src = _restrict_blocks_to_buckets(index, pro_terms, bkts)
            pro_docs = (
                decode_postings(pro_src, pro_terms, docs_only=True)
                .select("doc_id")
                .distinct()
            )
            if (
                sum(index.doc_freq(t) for t in pro_terms)
                <= PROHIBITED_BROADCAST_MAX_DF
            ):
                pro_docs = F.broadcast(pro_docs)
            agg = agg.join(pro_docs, "doc_id", "left_anti")
        return agg.select("doc_id", "score")

    # θ seed from the most promising present buckets
    theta = float("-inf")
    S = max(WAND_AND_SEED_BUCKETS, 1)
    for _ in range(4):
        top_b = bsum.orderBy(F.col("_bsum").desc()).limit(S).collect()
        bkt_ids = [r["_bkt"] for r in top_b]
        if not bkt_ids:
            break
        seed_df = spark.createDataFrame(
            pd.DataFrame({"_bkt": np.asarray(bkt_ids, dtype=np.int64)})
        )
        seed_keys = (
            bmeta.join(F.broadcast(seed_df), "_bkt", "leftsemi")
            .select(*_WAND_META_COLS)
            .distinct()
        )
        seed_blocks = index.postings.where(cond).join(seed_keys, _WAND_META_COLS)
        seed_rows = (
            conjunction_hits(seed_blocks, seed_df)
            .orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(k)
            .collect()
        )
        if len(seed_rows) >= k:
            theta = float(seed_rows[k - 1]["score"])
            break
        if len(bkt_ids) < S:  # all present buckets examined; < k hits
            break
        S *= 4

    keep_keys = (
        bmeta.join(bmax, ["_bkt", "field", "term"])
        .join(bsum, "_bkt")
        .where(F.col("_sub") + (F.col("_bsum") - F.col("_bmax")) >= F.lit(theta))
        .select(*_WAND_META_COLS)
        .distinct()
    )
    survivors = index.postings.where(cond).join(keep_keys, _WAND_META_COLS)
    out = (
        conjunction_hits(survivors)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )
    stats = None
    if collect_stats:
        stats = {
            "path": "bucket",
            "blocks_total": meta.count(),
            "blocks_decoded": survivors.select(*_WAND_META_COLS).count(),
            "theta": theta,
        }
    return out, stats


def topk_term_pruned(
    index: SparkIndex, term: Term, k: int = 10, collect_stats: bool = True
) -> tuple[list, dict]:
    """Single-term convenience wrapper over :func:`topk_wand` (kept for
    bench/gate compatibility): returns (collected top-k rows, stats).
    ``collect_stats=False`` skips the two diagnostic metadata-count
    jobs — use it when timing the serving path."""
    index.prefetch_terms([term])
    idf = bm25_idf(index.doc_freq(term), index.n_docs)
    out, stats = topk_wand(index, [term], [idf], k=k, collect_stats=collect_stats)
    return out.collect(), (stats or {})
