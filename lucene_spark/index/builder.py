"""Distributed inverted-index build (the Spark re-architecture of the
reference's Writer/DocumentWriter/SegmentMerger pipeline).

Shape of the build (designed for 10^12 turns / 1000 executors; tested on
local[32]):

1. ``assign_doc_ids`` — dense global docIDs by (conv_id, turn_idx)
   WITHOUT a single-partition window: repartitionByRange + per-partition
   counts collected to the driver (S integers) + offset-shifted local
   row numbers. Reference docID semantics: insertion order
   (src/Index.php:866-873,944-949); here insertion order IS the stable
   (conv_id, turn_idx) ordering demanded by the input contract.

2. Phase A (segments ≙ reference segment flush, DocumentWriter.php):
   docs are bucketed into doc-range-disjoint segments
   (``seg_id = doc_id // seg_size``); each segment is inverted locally
   inside one ``applyInPandas`` task — tokenize (vectorized), group by
   (field, term), pack posting blocks of ≤128 docs as delta+varbyte
   BINARY columns (``codec.varbyte.encode_blocks``) with per-block
   metadata (doc span, Pareto (tf, dl) impact pairs) ≙ the reference's
   ``.frq``/``.prx`` streams plus the skip/block-max extension the north
   rule asks for (the reference declares but never writes skip data —
   AbstractSegmentWriter.php:33-57).
   Per-doc field length (dl) is packed into each block so BM25 scoring
   never joins the docs table. Each chunk of segments commits manifest
   rows (segment ids + lineage) — a killed build resumes by skipping
   chunks whose manifest rows exist.

3. Phase B (merge ≙ SegmentMerger k-way merge, SegmentMerger.php:202-245):
   because segments are doc-range DISJOINT, merging posting blocks is a
   pure SORT — ``repartitionByRange(field, term, doc_base)`` +
   ``sortWithinPartitions`` — with NO groupBy over postings at all.
   Spark's range partitioner samples keys, so a hot term's blocks
   (stop-word-scale: 10^10+ postings) automatically SPLIT across
   consecutive partitions at (term, doc_base) boundaries — this is the
   "salted repartition for hot-term skew" of the north rule, with
   per-salt docID ranges disjoint by construction so concatenation needs
   no re-sort. The term dictionary aggregates only tiny per-segment
   (df, cf) counters (groupBy on (field, term) of S rows/term, never
   posting-sized data).

Storage layout of the base tier under ``index_dir`` (``index/tiers.py``
owns the whole layout — sealed generations, the live delta, tombstones,
meta rows, durability markers — and every table schema)::

    docs/          doc_id + stored cols + len_<f>/norm_<f> per text field
    postings/      field, term, doc_base, max_docid, n, imp_tfs, imp_dls,
                   cf, docs_bin, tfs_bin, dls_bin, pos_bin
                   (sorted by field, term, doc_base)
    term_dict/     field, term, df, cf   (sorted by field, term; the term
                   column prefix-coded — see ``write_term_dict``)
    segments/      seg_chunk=<c>/ phase-A posting blocks, per resume chunk
    manifests/     seg_id, chunk, lineage   (one row per segment, written
                   on the driver once the chunk's blocks are)
    build_plan.json  the resume-chunk span
    stats.json     n_docs, per-field {kind, sum_len, n_docs_with_field},
                   analyzer, boosts, build timings
"""

from __future__ import annotations

import hashlib
import heapq
import json
import math
import os
import re
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from lucene_spark.analysis import Analyzer, default_analyzer
from lucene_spark.codec.norms import encode_norm_array, length_norm
from lucene_spark.codec.varbyte import encode_blocks
from lucene_spark.index import tiers
from lucene_spark.index.tiers import POSTINGS_SCHEMA

BLOCK_SIZE = 128  # docs per posting block ≙ reference indexInterval
# (AbstractSegmentWriter.php:30)
BLOCK_DOC_RANGE = 8192  # max doc-id span per block: sparse terms split
# at range boundaries so block-max bounds stay doc-local (see
# _invert_segment packing comment)
MAX_BUILD_CHUNKS = 512  # cap on serial resume-chunk jobs in phase A
CHUNK_CONCURRENCY = 3  # phase-A chunk jobs in flight at once
# the term_dict columns SparkIndex.prefetch_terms/terms_from read on the driver
_DRIVER_TD_SCHEMA = pa.schema(
    [("field", pa.string()), ("term", pa.string()), ("df", pa.int64())]
)


@dataclass
class IndexConfig:
    # field -> 'text' | 'keyword' | 'stored'
    field_policy: dict[str, str] = dc_field(
        default_factory=lambda: {
            "text": "text",
            "conv_id": "keyword",
            "role": "keyword",
            "tool": "keyword",
        }
    )
    analyzer: Analyzer = dc_field(default_factory=default_analyzer)
    seg_size: int = 100_000  # docs per segment
    segments_per_commit: int = 64  # manifest checkpoint granularity
    store_positions: bool = True
    merge_partitions: int | None = None  # default: shuffle.partitions
    # index-time boosts, folded into the norm byte exactly like the
    # reference: norm = lengthNorm · docBoost · fieldBoost
    # (DocumentWriter.php:106-109, Document.php:16-32, Document/Field.php)
    field_boosts: dict[str, float] = dc_field(default_factory=dict)
    doc_boost_col: str | None = None  # input column with per-doc boost


def _emit_len_norm_cols(
    pdf: pd.DataFrame,
    out: pd.DataFrame,
    analyzer: Analyzer,
    text_fields: list[str],
    kw_fields: list[str],
    field_boosts: dict[str, float],
    doc_boost_col: str | None,
    length_norm_fn=None,
) -> pd.DataFrame:
    """Shared Arrow-kernel body: len_<f> (surviving-token count) and
    norm_<f> (quantized byte of lengthNorm·docBoost·fieldBoost —
    DocumentWriter.php:106-109; keyword lengthNorm(1)=1).
    ``length_norm_fn`` is the pluggable Similarity lengthNorm hook,
    captured driver-side by the caller (default: the reference
    1/sqrt(n))."""
    ln_fn = length_norm_fn or length_norm
    if doc_boost_col:
        if doc_boost_col not in pdf.columns:
            raise ValueError(
                f"doc_boost_col {doc_boost_col!r} is not a column of the "
                f"input (have: {sorted(pdf.columns)})"
            )
        # null boost → neutral 1.0 (NaN would silently corrupt the norm)
        doc_boost = (
            pdf[doc_boost_col].astype(float).fillna(1.0).to_numpy(np.float64)
        )
    else:
        doc_boost = np.float64(1.0)

    def field_boost(f: str):
        # per-(doc, field) boost column ``boost_<f>`` (≙ the reference's
        # per-Field-instance boost, Document/Field.php:18-113) composed
        # with the static per-field config boost
        fb = np.float64(field_boosts.get(f, 1.0))
        col = f"boost_{f}"
        if col in pdf.columns:
            return pdf[col].astype(float).fillna(1.0).to_numpy(np.float64) * fb
        return fb

    for f in text_fields:
        lens = analyzer.count_series(pdf[f])
        norms = encode_norm_array(
            np.asarray(ln_fn(lens), np.float64) * doc_boost * field_boost(f)
        )
        # empty tokenized field → not indexed → norm byte 0
        # (reference: DocumentWriter.php:101-104, missing-field norm)
        norms = np.where(lens == 0, 0, norms)
        out[f"len_{f}"] = lens
        out[f"norm_{f}"] = norms.astype(np.int32)
    for f in kw_fields:
        present = pdf[f].notna().to_numpy()
        vals = (
            np.full(len(pdf), float(ln_fn(1)), np.float64)
            * field_boost(f)
            * doc_boost
        )
        norms = encode_norm_array(vals)
        out[f"len_{f}"] = present.astype(np.int64)
        out[f"norm_{f}"] = np.where(present, norms, 0).astype(np.int32)
    return out


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    num_partitions: int | None = None,
    cfg: "IndexConfig | None" = None,
) -> DataFrame:
    """Dense 0-based doc_id by ``order_cols`` without a global window.

    Scale note: a naive ``row_number() over (order by ...)`` collapses to
    ONE partition. Here: range-repartition on the order columns (global
    sort boundaries), count rows per partition (a tiny collect of S
    longs), then add the per-partition offset to a local row number —
    every step is fully parallel.

    When ``cfg`` is given, the same Arrow pass also emits len_<f> /
    norm_<f> columns for the config's indexed fields (fused
    _docs_with_lengths — avoids a second full-data Python round trip).
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ordered = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).sortWithinPartitions(
        *order_cols
    )
    ordered = ordered.withColumn("_pid", F.spark_partition_id())
    # persist: the range partitioner SAMPLES to pick boundaries — the
    # count job and the id job must see the SAME partitioning, so pin it
    ordered = ordered.persist()
    counts = dict(
        (r["_pid"], r["cnt"])
        for r in ordered.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offsets_b = spark.sparkContext.broadcast(offsets)

    text_fields = (
        [f for f, k in cfg.field_policy.items() if k == "text" and f in df.columns]
        if cfg
        else []
    )
    kw_fields = (
        [f for f, k in cfg.field_policy.items() if k == "keyword" and f in df.columns]
        if cfg
        else []
    )
    analyzer = cfg.analyzer if cfg else None
    extra_fields = [StructField("doc_id", LongType(), False)]
    for f in text_fields + kw_fields:
        extra_fields.append(StructField(f"len_{f}", LongType()))
        extra_fields.append(StructField(f"norm_{f}", IntegerType()))
    schema = StructType(ordered.schema.fields + extra_fields)

    # similarity lengthNorm resolved on the DRIVER and captured into
    # the kernel closure (workers must not re-resolve the default);
    # lazy import — search/__init__ imports executor imports builder
    from lucene_spark.search.similarity import get_default

    ln_fn = get_default().length_norm

    # mapInPandas may split a partition into several Arrow batches; the
    # running offset must persist across batches within one partition
    def add_ids(it):
        seen = 0
        base = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets_b.value[int(pdf["_pid"].iloc[0])]
            out = pdf.assign(
                doc_id=np.arange(seen, seen + len(pdf), dtype=np.int64) + base
            )
            seen += len(pdf)
            yield _emit_len_norm_cols(
                pdf, out, analyzer, text_fields, kw_fields,
                cfg.field_boosts if cfg else {},
                cfg.doc_boost_col if cfg else None,
                length_norm_fn=ln_fn,
            )

    out = ordered.mapInPandas(add_ids, schema).drop("_pid")
    out._lucene_pinned = ordered  # builder unpersists after consuming
    out._lucene_n_docs = acc  # ids are dense 0..acc-1 (see dense path)
    return out


def assign_doc_ids_dense(
    df: DataFrame,
    conv_col: str,
    turn_col: str,
    cfg: "IndexConfig | None" = None,
    broadcast_max_convs: int = 1_000_000,
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense doc_id by (conv, turn) WITHOUT shuffling the full table.

    The range-exchange path (:func:`assign_doc_ids`) samples, sorts,
    persists and re-reads the whole input — measured as the worst-scaling
    phase of the build. Transcripts allow a much cheaper scheme:

    1. conv-size table ``(conv_id, cnt, min_turn, max_turn)`` — one
       narrow aggregation (bytes per conversation, not per turn);
    2. distributed prefix-sum over conv sizes ordered by conv_id:
       range-partition the conv TABLE (tiny fraction of the data),
       collect only per-partition sums (S longs) to the driver, shift
       local cumulative sums — the same offset trick as assign_doc_ids
       but over conversations, so it scales to 10^10 conversations;
    3. ``doc_id = conv_base + turn_idx`` when every conversation's
       turn_idx is dense 0..cnt-1 (the input contract's stable
       ordering); otherwise fall back to a per-conversation
       ``row_number`` window (parallel — partitioned by conv_id).
    4. the conv_base join broadcasts below ``broadcast_max_convs``
       (zero shuffle of the big table), else shuffle-hash-joins on
       conv_id.

    Produces exactly ``row_number() over (order by conv, turn) - 1``.
    With ``cfg``, also emits len_<f>/norm_<f> in the same Arrow pass.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    conv = df.groupBy(conv_col).agg(
        F.count("*").alias("_cnt"),
        F.min(turn_col).alias("_mn"),
        F.max(turn_col).alias("_mx"),
        F.countDistinct(turn_col).alias("_nd"),
    )
    ordered = (
        conv.repartitionByRange(n, conv_col)
        .sortWithinPartitions(conv_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    part_stats = (
        ordered.groupBy("_pid")
        .agg(
            F.sum("_cnt").alias("rows"),
            F.count("*").alias("convs"),
            # dense iff turn_idx is exactly the multiset {0..cnt-1}:
            # min==0 and max==cnt-1 alone admit duplicates+holes like
            # [0,1,1,3]; countDistinct==cnt makes the test sufficient
            F.sum(
                (
                    (F.col("_mn") == 0)
                    & (F.col("_mx") == F.col("_cnt") - 1)
                    & (F.col("_nd") == F.col("_cnt"))
                ).cast("long")
            ).alias("dense"),
        )
        .collect()
    )
    offsets, acc = {}, 0
    n_convs, n_dense = 0, 0
    for r in sorted(part_stats, key=lambda r: r["_pid"]):
        offsets[r["_pid"]] = acc
        acc += r["rows"]
        n_convs += r["convs"]
        n_dense += r["dense"]
    all_dense = n_dense == n_convs
    offsets_b = spark.sparkContext.broadcast(offsets)

    def cumsum_bases(it):
        local = 0
        base0 = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if base0 is None:
                base0 = offsets_b.value[int(pdf["_pid"].iloc[0])]
            c = pdf["_cnt"].to_numpy(np.int64)
            ends = np.cumsum(c)
            pdf = pdf.assign(_base=base0 + local + ends - c)
            local += int(ends[-1])
            yield pdf[[conv_col, "_base"]]

    bases = ordered.mapInPandas(
        cumsum_bases,
        StructType(
            [
                next(f for f in conv.schema.fields if f.name == conv_col),
                StructField("_base", LongType(), False),
            ]
        ),
    )
    if n_convs <= broadcast_max_convs:
        bases = F.broadcast(bases)
    joined = df.join(bases, conv_col)
    if all_dense:
        with_id = joined.withColumn(
            "doc_id", (F.col("_base") + F.col(turn_col)).cast("long")
        )
    else:
        from pyspark.sql import Window

        w = Window.partitionBy(conv_col).orderBy(turn_col)
        with_id = joined.withColumn(
            "doc_id", (F.col("_base") + F.row_number().over(w) - 1).cast("long")
        )
    with_id = with_id.drop("_base")
    if cfg is None:
        with_id._lucene_pinned = ordered
        with_id._lucene_n_docs = acc
        return with_id
    out = _docs_with_lengths(with_id, cfg)
    out._lucene_pinned = ordered
    # ids are dense 0..acc-1, so the caller needs no max(doc_id)
    # aggregation over the written table (one full-scan job saved)
    out._lucene_n_docs = acc
    return out


def pareto_impacts(t: np.ndarray, dl: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pareto frontier of a block's (tf, dl) pairs: no doc has higher tf
    AND lower dl than a returned pair, so for ANY monotone impact
    function (increasing in tf, decreasing in dl — BM25's partial for
    every k1/b/avgdl) the block's true max impact is attained on the
    frontier. Sorted tf-descending."""
    po = np.lexsort((dl, -t))
    pt, pd_ = t[po], dl[po]
    # keep iff dl strictly below every dl at >= tf (equal-tf runs keep
    # their min-dl head; equal-dl lower-tf pairs are dominated)
    keep_mask = np.empty(len(pt), dtype=bool)
    keep_mask[0] = True
    keep_mask[1:] = pd_[1:] < np.minimum.accumulate(pd_)[:-1]
    return pt[keep_mask], pd_[keep_mask]


def write_term_dict(postings: DataFrame, path: str, n_part: int | None = None) -> None:
    """Write the term dictionary (field, term, df, cf) of ``postings``,
    summed from the per-block counters, to ``path``: the one writer of
    every tier's ``term_dict``. Each file is sorted on (field, term)
    (``n_part`` range-partitions first, so files hold disjoint ranges)
    and written by the Parquet v2 writer, which stores the sorted term
    column as DELTA_BYTE_ARRAY, prefix length plus suffix: the
    reference's ``.tis`` (AbstractSegmentWriter.php:404-496), with
    row-group min/max stats as its sparse ``.tii``. No extra job."""
    td = postings.groupBy("field", "term").agg(
        F.sum("n").alias("df"), F.sum("cf").alias("cf")
    )
    if n_part:
        td = td.repartitionByRange(n_part, "field", "term")
    td.sortWithinPartitions("field", "term").write.option(
        "parquet.writer.version", "v2"
    ).mode("overwrite").parquet(path)


def _invert_segment(cfg: IndexConfig):
    """applyInPandas kernel: one segment's docs → packed posting blocks.

    All numpy over flattened token arrays — no per-row Python in the
    inner loops beyond regex findall (C-looped by pandas).
    """
    analyzer = cfg.analyzer
    policy = cfg.field_policy
    store_pos = cfg.store_positions

    def invert(_key, pdf):
        pdf = pdf.sort_values("doc_id")
        doc_ids_all = pdf["doc_id"].to_numpy(np.int64)
        out_rows = []
        sing_frames: list[pd.DataFrame] = []
        for fname, kind in policy.items():
            if kind == "stored" or fname not in pdf.columns:
                continue
            if kind == "keyword":
                vals = pdf[fname]
                mask = vals.notna().to_numpy()
                terms = vals[mask].astype(str).to_numpy(dtype=object)
                docs = doc_ids_all[mask]
                tfs = np.ones(len(docs), dtype=np.int64)
                dls = np.ones(len(docs), dtype=np.int64)
                pos = np.zeros(len(docs), dtype=np.int64)  # position 0
                # (reference: keyword term at position 0, DocumentWriter.php:116-132)
            else:
                tok_lists = analyzer.tokenize_series(pdf[fname])
                lens = tok_lists.map(len).to_numpy(np.int64)
                if lens.sum() == 0:
                    continue
                row_idx = np.repeat(np.arange(len(pdf)), lens)
                terms = np.concatenate(
                    [np.asarray(x, dtype=object) for x in tok_lists if x]
                )
                ends = np.cumsum(lens)
                starts = ends - lens
                positions = (
                    np.arange(ends[-1], dtype=np.int64)
                    - np.repeat(starts, lens)
                    + 1
                )
                docs = doc_ids_all[row_idx]
                dls = lens[row_idx]  # per-token doc length (field len)
                tfs = None  # computed after grouping
                pos = positions

            if len(docs) == 0:
                continue
            if kind == "keyword":
                # one token per doc; group by term
                order = np.lexsort((docs, terms.astype(str)))
                g_terms, g_docs, g_tfs, g_dls, g_pos = (
                    terms[order],
                    docs[order],
                    tfs[order],
                    dls[order],
                    pos[order].astype(np.int64),
                )
            else:
                # sort by (term, doc, position) then collapse equal
                # (term, doc) runs into tf counts
                t_str = terms.astype(str)
                order = np.lexsort((pos, docs, t_str))
                t_s, d_s, p_s, dl_s = (
                    t_str[order],
                    docs[order],
                    pos[order],
                    dls[order],
                )
                new_run = np.empty(len(t_s), dtype=bool)
                new_run[0] = True
                new_run[1:] = (t_s[1:] != t_s[:-1]) | (d_s[1:] != d_s[:-1])
                run_ids = np.cumsum(new_run) - 1
                run_starts = np.flatnonzero(new_run)
                g_terms = t_s[run_starts]
                g_docs = d_s[run_starts]
                g_dls = dl_s[run_starts]
                g_tfs = np.bincount(run_ids).astype(np.int64)
                g_pos = p_s  # all positions, concatenated per (term, doc)

            # block packing: for each term, split its postings into
            # blocks of <= BLOCK_SIZE docs, ALSO splitting at
            # BLOCK_DOC_RANGE doc-id boundaries. The range split is what
            # makes block metadata LOCAL for sparse terms: 128
            # consecutive postings of a rare term can span millions of
            # doc ids, smearing its WAND bound over every cross-term
            # bucket it touches; capping the doc span keeps bounds (and
            # conjunction range pruning) aligned to doc locality at the
            # cost of a few extra metadata rows for sparse terms
            # (at most one block per occupied range).
            term_change = np.empty(len(g_terms), dtype=bool)
            term_change[0] = True
            term_change[1:] = g_terms[1:] != g_terms[:-1]
            term_starts = np.flatnonzero(term_change)
            run_lens = np.diff(np.append(term_starts, len(g_terms)))
            idx_in_term = np.arange(len(g_terms)) - np.repeat(term_starts, run_lens)
            block_of = idx_in_term // BLOCK_SIZE
            range_of = g_docs // BLOCK_DOC_RANGE
            blk_change = (
                term_change
                | (np.diff(np.append(-1, block_of)) != 0)
                | (np.diff(np.append(range_of[0] - 1, range_of)) != 0)
            )
            blk_starts = np.flatnonzero(blk_change)
            blk_ends = np.append(blk_starts[1:], len(g_terms))
            docs_bins, tfs_bins, dls_bins, pos_bins = encode_blocks(
                g_docs, g_tfs, g_dls, blk_starts, g_pos if store_pos else None
            )
            if pos_bins is None:
                pos_bins = [b""] * len(blk_starts)
            # single-posting blocks (sparse terms after the doc-range
            # split; ~all blocks on hash/URL-heavy vocabularies) take a
            # columnar fast path: every derived stat of a 1-posting
            # block is the posting itself, so the per-block loop below
            # — whose pareto machinery is pure overhead at n=1 — runs
            # only for multi-posting blocks. Measured 9.8 s → ~2 s per
            # 16k-doc segment on a df=1 vocabulary.
            sizes = blk_ends - blk_starts
            single = np.flatnonzero(sizes == 1)
            multi = np.flatnonzero(sizes > 1)
            if len(single):
                bs = blk_starts[single]
                s_doc = g_docs[bs]
                sl = single.tolist()
                sing_frames.append(
                    pd.DataFrame(
                        {
                            "field": fname,
                            "term": g_terms[bs].astype(object),
                            "doc_base": s_doc,
                            "max_docid": s_doc,
                            "n": 1,
                            "imp_tfs": pd.Series(
                                [[t] for t in g_tfs[bs].tolist()], dtype=object
                            ),
                            "imp_dls": pd.Series(
                                [[d] for d in g_dls[bs].tolist()], dtype=object
                            ),
                            "cf": g_tfs[bs],
                            "docs_bin": pd.Series(
                                [docs_bins[b] for b in sl], dtype=object
                            ),
                            "tfs_bin": pd.Series(
                                [tfs_bins[b] for b in sl], dtype=object
                            ),
                            "dls_bin": pd.Series(
                                [dls_bins[b] for b in sl], dtype=object
                            ),
                            "pos_bin": pd.Series(
                                [pos_bins[b] for b in sl], dtype=object
                            ),
                        }
                    )
                )
            for b in multi.tolist():
                s, e = blk_starts[b], blk_ends[b]
                t = g_tfs[s:e]
                imp_tf, imp_dl = pareto_impacts(t, g_dls[s:e])
                out_rows.append(
                    (
                        fname,
                        str(g_terms[s]),
                        int(g_docs[s]),
                        int(g_docs[e - 1]),
                        int(e - s),
                        imp_tf.tolist(),
                        imp_dl.tolist(),
                        int(t.sum()),
                        docs_bins[b],
                        tfs_bins[b],
                        dls_bins[b],
                        pos_bins[b],
                    )
                )
        cols = [f.name for f in POSTINGS_SCHEMA.fields]
        parts = sing_frames
        if out_rows or not parts:
            parts = parts + [pd.DataFrame(out_rows, columns=cols)]
        if len(parts) == 1:
            return parts[0][cols]
        return pd.concat(parts, ignore_index=True)[cols]

    return invert


_SIMPLE_CLASS_RX = re.compile(r"\[[A-Za-z0-9\-]+\]\+")


def _jvm_token_count(analyzer: Analyzer, col):
    """Codegen'd surviving-token count Column, or None when the analyzer
    is not JVM-expressible. Safe exactly when (a) no transliteration
    (Python NFKD has no Spark-SQL equivalent) and (b) the token pattern
    is a plain ASCII character class — identical semantics in Python re
    and Java regex. Filters (lowercase → stop words → min length) mirror
    Analyzer.tokens' chain as an array filter. ``col=None`` probes
    support only."""
    if analyzer.translit or not _SIMPLE_CLASS_RX.fullmatch(analyzer.token_pattern):
        return None
    if col is None:
        col = F.lit("")
    toks = F.regexp_extract_all(
        F.coalesce(col, F.lit("")), F.lit(analyzer.token_pattern), F.lit(0)
    )
    if analyzer.stop_words or analyzer.min_length:
        if analyzer.lowercase:
            toks = F.transform(toks, F.lower)
        sw = sorted(analyzer.stop_words)
        n = analyzer.min_length

        def keep(t):
            c = F.lit(True)
            if sw:
                c = c & ~t.isin(*sw)
            if n:
                c = c & (F.length(t) >= n)
            return c

        toks = F.filter(toks, keep)
    return F.size(toks)


def _docs_with_lengths(df: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Add len_<f> (surviving-token count) and norm_<f> (quantized byte
    of lengthNorm·docBoost·fieldBoost) per indexed field.

    Fast path (the docs phase was the largest build phase — 13.1 s of
    25.2 s at sf0.1, all of it the Arrow round trip of every column
    through Python): when the analyzer is JVM-expressible
    (:func:`_jvm_token_count`), token counts run inside whole-stage
    codegen and only the (len, boost) NUMERIC pairs cross into Python
    for the norm-byte quantization (the 256-entry smallfloat codebook
    lookup) — no text ever leaves the JVM. Otherwise one mapInPandas
    pass computes both, as before."""
    text_fields = [f for f, k in cfg.field_policy.items() if k == "text"]
    kw_fields = [f for f, k in cfg.field_policy.items() if k == "keyword"]
    analyzer = cfg.analyzer
    field_boosts = cfg.field_boosts
    doc_boost_col = cfg.doc_boost_col

    from lucene_spark.search.similarity import get_default  # lazy: cycle

    ln_fn = get_default().length_norm  # driver-resolved hook

    if _jvm_token_count(analyzer, None) is not None:

        @F.pandas_udf(IntegerType())
        def norm_udf(lens: pd.Series, boost: pd.Series) -> pd.Series:
            ln = lens.to_numpy(np.int64)
            norms = encode_norm_array(
                np.asarray(ln_fn(ln), np.float64) * boost.to_numpy(np.float64)
            )
            return pd.Series(np.where(ln == 0, 0, norms).astype(np.int32))

        def boost_col(f: str):
            b = F.lit(float(field_boosts.get(f, 1.0)))
            if doc_boost_col:
                if doc_boost_col not in df.columns:
                    raise ValueError(
                        f"doc_boost_col {doc_boost_col!r} is not a column "
                        f"of the input (have: {sorted(df.columns)})"
                    )
                b = b * F.coalesce(
                    F.col(doc_boost_col).cast("double"), F.lit(1.0)
                )
            if f"boost_{f}" in df.columns:
                b = b * F.coalesce(F.col(f"boost_{f}").cast("double"), F.lit(1.0))
            return b

        out = df
        for f in text_fields:
            out = out.withColumn(
                f"len_{f}", _jvm_token_count(analyzer, F.col(f)).cast("long")
            )
        for f in kw_fields:
            out = out.withColumn(
                f"len_{f}", F.col(f).isNotNull().cast("long")
            )
        for f in text_fields + kw_fields:
            out = out.withColumn(
                f"norm_{f}", norm_udf(F.col(f"len_{f}"), boost_col(f))
            )
        return out

    new_fields = []
    for f in text_fields + kw_fields:
        new_fields.append(StructField(f"len_{f}", LongType()))
        new_fields.append(StructField(f"norm_{f}", IntegerType()))
    schema = StructType(df.schema.fields + new_fields)

    def add_lens(it):
        for pdf in it:
            yield _emit_len_norm_cols(
                pdf, pdf.copy(), analyzer, text_fields, kw_fields,
                field_boosts, doc_boost_col,
                length_norm_fn=ln_fn,
            )

    return df.mapInPandas(add_lens, schema)


def _resolve_chunk_span(
    index_dir: str,
    cfg: IndexConfig,
    max_doc: int,
    done_chunks: set[int],
    resume: bool,
) -> int:
    """Pick (and persist) the phase-A resume-chunk span in docs.

    The span is PERSISTED (build_plan.json) before any chunk runs and
    reused verbatim on resume: re-deriving it could remap done chunk
    ids to different doc ranges (e.g. after a config or code change)
    and silently skip never-inverted segments. For the same reason a
    resume that finds done chunks but no plan file refuses to guess.
    The MAX_BUILD_CHUNKS cap applies to fresh builds.
    """
    plan_path = os.path.join(index_dir, "build_plan.json")
    if resume and os.path.exists(plan_path):
        with open(plan_path) as fh:
            return int(json.load(fh)["chunk_span"])
    if done_chunks:
        raise ValueError(
            f"cannot resume: {plan_path} is missing but {len(done_chunks)} "
            "chunks are done; rebuild with resume=False"
        )
    span = cfg.seg_size * cfg.segments_per_commit
    n_chunks = int(max_doc // span) + 1
    if n_chunks > MAX_BUILD_CHUNKS:
        span *= -(-n_chunks // MAX_BUILD_CHUNKS)  # ceil division
    with open(plan_path + ".tmp", "w") as fh:
        json.dump({"chunk_span": span}, fh)
    os.rename(plan_path + ".tmp", plan_path)
    return span


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    order_cols: list[str] | None = None,
    resume: bool = True,
) -> "SparkIndex":
    """End-to-end build: docs → segments (resumable) → merge → publish."""
    import time as _time

    _t0 = _time.time()
    _timings: dict[str, float] = {}

    def _mark(phase: str):
        nonlocal _t0
        _timings[phase] = round(_time.time() - _t0, 3)
        _t0 = _time.time()
        if os.environ.get("LUCENE_SPARK_BUILD_TIMINGS"):
            print(f"[build] {phase}: {_timings[phase]}s", flush=True)

    cfg = cfg or IndexConfig()
    docs_path = os.path.join(index_dir, "docs")
    seg_path = os.path.join(index_dir, "segments")
    manifest_path = os.path.join(index_dir, "manifests")
    postings_path = os.path.join(index_dir, "postings")
    dict_path = os.path.join(index_dir, "term_dict")
    stats_path = os.path.join(index_dir, "stats.json")

    # ---- docs table (doc ids + lengths + norms) ----
    n_docs_known = None  # set when this build assigned the (dense) ids
    if not (resume and os.path.exists(os.path.join(docs_path, "_SUCCESS"))):
        if "doc_id" not in df.columns:
            oc = order_cols or ["conv_id", "turn_idx"]
            if len(oc) == 2:
                # shuffle-free id assignment: conv prefix-sum + broadcast
                # join + dense turn offsets (falls back to a windowed
                # rank if turn_idx has gaps). Avoids sampling/sorting/
                # persisting the full table.
                docs = assign_doc_ids_dense(df, oc[0], oc[1], cfg=cfg)
            else:
                # general path: range exchange + offset-shifted local ids,
                # with the length/norm kernel fused into the same pass
                docs = assign_doc_ids(df, oc, cfg=cfg)
        else:
            docs = _docs_with_lengths(df, cfg)
        docs.write.mode("overwrite").parquet(docs_path)
        n_docs_known = getattr(docs, "_lucene_n_docs", None)
        pinned = getattr(docs, "_lucene_pinned", None)
        if pinned is not None:
            pinned.unpersist()
    # Split sizing: with the default 128 MB maxPartitionBytes a
    # few-GB docs table packs into ~10 splits and the inversion
    # shuffle's map stage runs 10-wide on a 32-core cluster (measured:
    # only ~10 busy Python/JVM workers). Target ~2 splits per core,
    # clamped to [16 MB, 128 MB] so the 100 TB case keeps 128 MB splits.
    total_bytes = sum(
        f.stat().st_size for f in os.scandir(docs_path) if f.name.endswith(".parquet")
    )
    par = spark.sparkContext.defaultParallelism
    split_key = "spark.sql.files.maxPartitionBytes"
    split_prev = spark.conf.get(split_key)
    target = max(16 << 20, min(128 << 20, total_bytes // max(1, par * 2)))
    spark.conf.set(split_key, str(target))
    docs = tiers.read_table(spark, docs_path, "docs")
    _mark("docs")

    # ---- phase A: per-segment inversion, manifest-checkpointed ----
    done: set[int] = set()
    # Resume unit = CHUNK of segments: chunk_id = seg_id //
    # segments_per_commit (static mapping, independent of what is
    # already done). Each chunk writes to its own seg_chunk=<c> subdir
    # with a PLAIN parquet write — dynamic ``partitionBy`` writes were
    # measured 2x slower (per-task sort + hundreds of tiny directories).
    # A chunk's manifest rows are appended only after its data write
    # completes, so "chunk id present in manifests" == durable.
    done_chunks: set[int] = set()
    if resume and os.path.exists(os.path.join(manifest_path, "_SUCCESS")):
        chunks = pads.dataset(manifest_path, format="parquet").to_table(columns=["chunk"])
        done_chunks = set(chunks.column("chunk").to_pylist())
    # purge orphan chunk dirs (written but never manifested — a build
    # killed between block write and manifest commit) so resume can't
    # duplicate data
    if os.path.isdir(seg_path):
        import shutil

        for entry in os.listdir(seg_path):
            if entry.startswith("seg_chunk="):
                cid = int(entry.split("=", 1)[1])
                if cid not in done_chunks:
                    shutil.rmtree(os.path.join(seg_path, entry))
    with_seg = docs.withColumn(
        "seg_id", (F.col("doc_id") / F.lit(cfg.seg_size)).cast("long")
    )
    # ids this build assigned are dense 0..n-1, so max(doc_id) is known
    # without re-scanning the written table; resumes (or caller-supplied
    # doc_id columns) aggregate it in one column-pruned job
    max_doc = (
        n_docs_known - 1
        if n_docs_known
        else docs.agg(F.max("doc_id")).collect()[0][0]
    )
    # Resume-chunk span scales with input: each chunk is one serial
    # Spark job (~seconds of scheduling), so cap their count — at 10^12
    # turns the configured span alone would mean ~156k serial jobs.
    span = _resolve_chunk_span(index_dir, cfg, max_doc, done_chunks, resume)
    n_chunks = int(max_doc // span) + 1
    pending = [c for c in range(n_chunks) if c not in done_chunks]
    _mark("seg_plan")
    invert = _invert_segment(cfg)
    # AQE partition coalescing merges the (few, fat) per-segment groups
    # into fewer tasks and serializes the Python inversion kernels —
    # measured 2x slower on local[32]. Pin full parallelism for phase A.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    coalesce_prev = spark.conf.get(coalesce_key, "true")
    spark.conf.set(coalesce_key, "false")

    # Chunk pipelines run CONCURRENTLY (a small thread pool submitting
    # independent Spark jobs): chunks touch disjoint doc ranges and
    # write to their own seg_chunk=<c> dirs, so the only shared sink is
    # the manifest dir — each chunk renames its own file into it under a
    # lock, on the driver, with no Spark job. Durability
    # semantics are unchanged: a chunk's manifest commits only after
    # its data write, in the same thread. Serially, each chunk paid
    # scheduling + commit + stage-tail barriers with the cluster idle
    # (~8 s/chunk measured at local[8]); overlapping fills those gaps
    # and matters more as chunk count grows (the 40M smoke runs 10).
    import threading
    from concurrent.futures import ThreadPoolExecutor

    manifest_lock = threading.Lock()

    def run_chunk(c: int) -> None:
        chunk_dir = os.path.join(seg_path, f"seg_chunk={c}")
        part = with_seg.where(
            (F.col("doc_id") >= c * span) & (F.col("doc_id") < (c + 1) * span)
        )
        blocks = part.groupBy("seg_id").applyInPandas(invert, POSTINGS_SCHEMA)
        blocks.write.mode("overwrite").parquet(chunk_dir)
        # one manifest row per segment of the chunk's doc range, written
        # on the driver AFTER its data ("chunk in manifests" == durable)
        last = min((c + 1) * span, max_doc + 1) - 1
        segs = list(range(c * span // cfg.seg_size, last // cfg.seg_size + 1))
        rows = pa.table(
            {
                "seg_id": pa.array(segs, pa.int64()),
                "chunk": pa.array([c] * len(segs), pa.int64()),
                "lineage": [f"docs_parquet:{docs_path}"] * len(segs),
            }
        )
        with manifest_lock:
            os.makedirs(manifest_path, exist_ok=True)
            tmp = os.path.join(manifest_path, f"_chunk-{c}.tmp")
            pq.write_table(rows, tmp)
            os.rename(tmp, os.path.join(manifest_path, f"part-chunk-{c:05d}.parquet"))
            open(os.path.join(manifest_path, "_SUCCESS"), "w").close()

    n_workers = min(CHUNK_CONCURRENCY, max(len(pending), 1))
    try:
        if n_workers > 1 and len(pending) > 1:
            with ThreadPoolExecutor(max_workers=n_workers) as ex:
                # list() re-raises the first failure (chunks already
                # manifested stay durable; orphan dirs purge on resume)
                list(ex.map(run_chunk, pending))
        else:
            for c in pending:
                run_chunk(c)
    finally:
        # a chunk failure must not leave AQE coalescing disabled for
        # the rest of the session
        spark.conf.set(coalesce_key, coalesce_prev)
    _mark("segments")

    # ---- phase B: global merge (pure sort — see module docstring) ----
    seg_blocks = tiers.read_table(spark, seg_path, "postings").drop("seg_chunk")
    n_merge = cfg.merge_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    merged = seg_blocks.repartitionByRange(
        n_merge, "field", "term", "doc_base"
    ).sortWithinPartitions("field", "term", "doc_base")
    merged.write.mode("overwrite").parquet(postings_path)
    _mark("merge")

    # ---- term dictionary (tiny rows: S per term, not posting-sized) ----
    write_term_dict(seg_blocks, dict_path, max(1, n_merge // 4))
    _mark("term_dict")

    # ---- stats ----
    n_docs, fields = tiers.docs_fields(docs, cfg.field_policy)
    stats = {
        "n_docs": n_docs,
        "fields": {f: {"kind": cfg.field_policy[f], **fs} for f, fs in fields.items()},
        "block_size": BLOCK_SIZE,
        # index-time boosts must survive optimize/rebuild — norms are
        # recomputed there from config, and dropping these would
        # silently change every boosted norm byte
        "field_boosts": cfg.field_boosts,
        "doc_boost_col": cfg.doc_boost_col,
        "analyzer": {
            "token_pattern": cfg.analyzer.token_pattern,
            "lowercase": cfg.analyzer.lowercase,
            "stop_words": sorted(cfg.analyzer.stop_words),
            "min_length": cfg.analyzer.min_length,
            "translit": cfg.analyzer.translit,
        },
    }
    stats["build_timings_sec"] = _timings
    with open(stats_path, "w") as fh:
        json.dump(stats, fh)
    _mark("stats")

    spark.conf.set(split_key, split_prev)
    return load_index(spark, index_dir)


def load_index(spark: SparkSession, index_dir: str) -> "SparkIndex":
    return SparkIndex(spark, index_dir)


class SparkIndex:
    """Opened index: tables + IndexReader protocol for query compile."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        from lucene_spark.streaming.incremental import recover_merge

        recover_merge(index_dir)  # finish a merge that crashed mid-swap
        with open(os.path.join(index_dir, "stats.json")) as fh:
            self.stats = json.load(fh)
        self._attach_tiers()
        self._tombstones_bc = None
        self._ids_bcs: dict = {}
        self.refresh_tombstones()
        a = dict(self.stats["analyzer"])  # the Analyzer fields, as built
        a["stop_words"] = frozenset(a["stop_words"])
        self._analyzer = Analyzer(**a)
        self._default_field: str | None = None
        self._df_cache: dict[tuple[str, str], int] = {}

    def _attach_tiers(self) -> None:
        """Open every view over the index's tiers (``index/tiers.py``; an
        unmerged reference index is likewise searchable across its whole
        segment list): the Spark postings/docs/term_dict views and the
        driver-side dictionary behind :meth:`prefetch_terms` and
        :meth:`terms_from` see the same tiers. Doc counts and field
        lengths sum across them. No job."""
        spark = self.spark
        self.catalog = tiers.read_catalog(self.index_dir)
        self._fields = self.catalog.field_totals(self.stats["fields"])
        self.postings, self.docs, self.term_dict = (
            self.catalog.read(spark, t) for t in ("postings", "docs", "term_dict")
        )
        # one row per (field, term, tier): the dictionary expansion
        # source, summed driver-side (index/expansion.py) — expanding
        # over the aggregate below would add a shuffle job per field
        self._tier_term_dict = self.term_dict
        if self.catalog.upper:
            self.term_dict = self.term_dict.groupBy("field", "term").agg(
                F.sum("df").alias("df"), F.sum("cf").alias("cf")
            )
        self._td_driver = self._driver_dataset("term_dict", _DRIVER_TD_SCHEMA)
        self._postings_driver = self._driver_dataset(  # read_blocks
            "postings", to_arrow_schema(POSTINGS_SCHEMA)
        )

    def _driver_dataset(self, table: str, schema: pa.Schema) -> pads.Dataset:
        """A pyarrow view of ``table`` over the same tiers as the Spark
        views, for driver-side reads."""
        parts = [
            pads.dataset(d, schema=schema, format="parquet")
            for t in self.catalog.tiers
            for d in t.table_dirs(table)
            if os.path.isdir(d)
        ]
        return parts[0] if len(parts) == 1 else pads.dataset(parts)

    def refresh_tombstones(self) -> None:
        """(Re)load the logically deleted doc ids — sorted int64, read on
        the driver (no Spark job) — or None when nothing is deleted.

        The decode kernels read the ids from one broadcast per refresh
        (:meth:`tombstones_broadcast`), not per query. A refresh destroys
        the previous one, so a query plan built before a delete is stale
        (running it can fail on that broadcast): build it again."""
        ids = np.sort(tiers.tombstone_ids(self.index_dir).to_numpy())
        self.tombstones = ids if len(ids) else None
        if self._tombstones_bc is not None:
            self._tombstones_bc.destroy()
        self._tombstones_bc = None
        for bc in self._ids_bcs.values():
            bc.destroy()
        self._ids_bcs = {}

    def tombstones_broadcast(self):
        """:attr:`tombstones` as a Spark broadcast, made on first use
        after a refresh; None when nothing is deleted."""
        if self._tombstones_bc is None and self.tombstones is not None:
            self._tombstones_bc = self.spark.sparkContext.broadcast(self.tombstones)
        return self._tombstones_bc

    def ids_broadcast(self, ids: np.ndarray):
        """Sorted doc ``ids`` (a conjunction's candidate set) as a Spark
        broadcast, made once per distinct set: PySpark keeps each
        broadcast in a file of the driver's temp dir until it is
        destroyed, so a repeated query reuses its set's instead of
        leaving a file per run. :meth:`refresh_tombstones` destroys
        them with the tombstones' own."""
        key = hashlib.blake2b(ids.tobytes(), digest_size=16).digest()
        if key not in self._ids_bcs:
            self._ids_bcs[key] = self.spark.sparkContext.broadcast(ids)
        return self._ids_bcs[key]

    # ---------------------------------------------- IndexReader protocol
    @property
    def n_docs(self) -> int:
        return self.stats["n_docs"] + self.catalog.n_docs

    def num_docs(self) -> int:
        """≙ reference numDocs() (SearchIndexInterface.php:87): live doc
        count, i.e. :attr:`n_docs` (= count()/maxDoc(), which keeps
        counting deleted docs until optimize) minus logical deletes."""
        return self.n_docs - len(tiers.tombstone_ids(self.index_dir))

    def is_deleted(self, doc_id: int) -> bool:
        """≙ reference isDeleted($id) (SearchIndexInterface.php:97)."""
        if self.tombstones is None:
            return False
        return len(tiers.tombstone_ids(self.index_dir, doc_id)) > 0

    def has_deletions(self) -> bool:
        """≙ reference hasDeletions() (SearchIndexInterface.php:295)."""
        return self.tombstones is not None

    def field_names(self, indexed_only: bool = True) -> list[str]:
        # field_policy insertion order ≙ the reference's .fnm order
        return list(self.stats["fields"].keys())

    def set_default_search_field(self, f: str | None):
        self._default_field = f

    def default_search_field(self):
        return self._default_field

    def analyzer(self):
        return self._analyzer

    def prefetch_terms(self, terms) -> None:
        """Batch-load df for (field, text) pairs into the driver cache by
        reading the tiers' term_dict parquet on the driver — no Spark
        job, the in-process lookup the reference does against its
        .tii/.tis pair (SegmentInfo.php:916-1039). One pyarrow scan per
        field with an ``==`` / range / ``isin`` filter (row-group and
        file pruning on every tier's sorted term column); df sums across
        tiers, like the Spark view's groupBy."""
        todo = [(t.field, t.text) for t in terms if (t.field, t.text) not in self._df_cache]
        if not todo:
            return
        by_field: dict = {}
        for f, x in todo:
            by_field.setdefault(f, set()).add(x)
        found: dict[tuple[str, str], int] = {}
        term = pc.field("term")
        for f, texts in by_field.items():
            texts = sorted(texts)
            tbl = self._td_driver.to_table(
                columns=["term", "df"],
                filter=(pc.field("field") == f)
                & (term >= texts[0])
                & (term <= texts[-1])
                & term.isin(texts),
            )
            cols = (tbl.column("term").to_pylist(), tbl.column("df").to_pylist())
            for x, df in zip(*cols):
                found[(f, x)] = found.get((f, x), 0) + df
        for key in todo:
            self._df_cache[key] = found.get(key, 0)

    def read_blocks(self, term, columns: list[str], doc_bases=None) -> pa.Table:
        """``columns`` of ``term``'s posting blocks (only the blocks that
        start at ``doc_bases``, if given), read with pyarrow on the
        driver — no Spark job. Postings are sorted on (field, term,
        doc_base), so row-group statistics skip the other terms' rows."""
        flt = (pc.field("field") == term.field) & (pc.field("term") == term.text)
        if doc_bases is not None:
            flt &= pc.field("doc_base").isin(pa.array(doc_bases, pa.int64()))
        return self._postings_driver.to_table(columns=columns, filter=flt)

    def has_term(self, term) -> bool:
        return self.doc_freq(term) > 0

    def doc_freq(self, term) -> int:
        key = (term.field, term.text)
        if key not in self._df_cache:
            self.prefetch_terms([term])
        return self._df_cache[key]

    def terms_from(self, field: str, start: str = "", page_size: int = 8192):
        """Sorted distinct terms of ``field`` from ``start`` on, across
        every tier — the reference's terms stream with skipTo
        (TermStreamsPriorityQueue.php:222-330). Each term_dict file is
        sorted on (field, term) (:func:`write_term_dict`), so each is
        read on the driver as a lazy stream of ``page_size``-row batches
        (row-group statistics skip the rows before ``start``) and the
        streams are k-way merged, duplicates collapsed. No Spark job;
        a caller that stops early never reads later row groups."""
        flt = (pc.field("field") == field) & (pc.field("term") >= start)

        def stream(fragment):
            for batch in fragment.to_batches(
                columns=["term"], filter=flt, batch_size=page_size
            ):
                yield from batch.column(0).to_pylist()

        last = None
        for t in heapq.merge(*map(stream, self._td_driver.get_fragments())):
            if t != last:
                last = t
                yield t

    # ---- distributed dictionary expansion (index/expansion.py) ----
    # The predicate runs INSIDE the term_dict scan (JVM rlike /
    # levenshtein over the pushed-down prefix slice), so wildcard/
    # fuzzy/range rewrites collect only matching terms — bounded by the
    # 1024-term query limit, never the vocabulary size. terms_from
    # remains the generic sorted iterator (reference parity).

    def match_terms_regex(
        self, field, prefix, java_regex, limit, is_match=None
    ) -> list[str]:
        from lucene_spark.index.expansion import match_terms_regex

        return self._seed_df(
            field,
            match_terms_regex(
                self._tier_term_dict, field, prefix, java_regex, limit, is_match
            ),
        )

    def match_terms_fuzzy(
        self, field, prefix, rest, min_similarity, limit, is_match=None
    ) -> list[str]:
        from lucene_spark.index.expansion import match_terms_fuzzy

        return self._seed_df(
            field,
            match_terms_fuzzy(
                self._tier_term_dict,
                field,
                prefix,
                rest,
                min_similarity,
                limit,
                is_match,
            ),
        )

    def match_terms_range(
        self, field, lower, upper, inclusive, limit
    ) -> list[str]:
        from lucene_spark.index.expansion import match_terms_range

        return self._seed_df(
            field,
            match_terms_range(
                self._tier_term_dict, field, lower, upper, inclusive, limit
            ),
        )

    def _seed_df(self, field: str, pairs: list[tuple[str, int]]) -> list[str]:
        """Cache the df of expanded terms (collected with them and summed
        over tiers) and return the term texts."""
        for text, df in pairs:
            self._df_cache[(field, text)] = df
        return [text for text, _df in pairs]

    def avg_field_len(self, field: str) -> float:
        fs = self._fields[field]
        n = fs["n_docs_with_field"]
        return fs["sum_len"] / n if n else 0.0
