"""Structured-Streaming incremental index appends (LSM-style tiers).

The reference's writer buffers documents and flushes fixed-size segments,
then geometrically merges them (Writer.php:220-233,642-742 — B7/B8).
Here each micro-batch becomes one live DELTA batch — a self-contained
mini-index (posting blocks + docs + term counters);
:func:`promote_delta` seals live batches into a compact GENERATION at
O(delta) cost; :func:`merge_delta` folds every tier into the base, and
:func:`maybe_compact` picks between the two. ``index/tiers.py`` owns the
layout, the meta rows and the durability markers.

Correctness properties:
- **idempotent re-processing**: every per-batch write goes to its own
  ``batch=<id>`` directory with mode=overwrite and the doc-id base comes
  from the durable meta rows, so a replayed micro-batch (at-least-once
  foreachBatch) overwrites itself bit-for-bit instead of duplicating.
- **doc-id continuity**: batch N's ids start at the high-water mark of
  the base and the batches before it — insertion order across the
  stream, matching the reference's monotone docID assignment.
- **queryable between merges**: :class:`SparkIndex` unions every tier,
  so searches see streamed docs immediately (an unmerged reference
  index is likewise searchable across its segment list).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window, functions as F

from lucene_spark.index import tiers
from lucene_spark.index.builder import (
    POSTINGS_SCHEMA,
    IndexConfig,
    SparkIndex,
    _docs_with_lengths,
    _invert_segment,
    load_index,
    write_term_dict,
)
# DELTA_DIR is re-exported for callers that locate the live delta
from lucene_spark.index.tiers import DELTA_DIR, MERGE_MARKER as _MERGE_MARKER  # noqa: F401


class IncrementalIndexWriter:
    """foreachBatch sink appending micro-batches as delta batches."""

    def __init__(self, index_dir: str, cfg: IndexConfig | None = None):
        self.index_dir = index_dir
        self.cfg = cfg or IndexConfig()

    def _batch_base(self, batch_id: int) -> int:
        # Order matters for crash-consistency against a concurrent
        # merge-swap: read the delta METAS first, stats.json second, and
        # take the max of (stats.n_docs, max(doc_base + n_docs) over
        # prior batches). The swap installs the new stats BEFORE it
        # deletes merged batch metas, so whichever side of the swap each
        # read lands on, one of the two sources carries the true
        # next-free id — a plain stats-then-metas sum could read OLD
        # stats and POST-deletion metas and hand out duplicate doc ids.
        high_water = tiers.delta_high_water(self.index_dir, int(batch_id))
        with open(os.path.join(self.index_dir, "stats.json")) as fh:
            return max(json.load(fh)["n_docs"], high_water)

    # -- the sink ----------------------------------------------------
    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        cfg = self.cfg
        base = self._batch_base(batch_id)

        def path(table: str) -> str:
            return tiers.delta_dir(self.index_dir, table, batch_id)

        # micro-batches are small: a single-partition local id stamp
        # keeps insertion order without a shuffle (the batch ALREADY
        # fits one executor's write path; large backfills should use
        # build_index / merge_delta instead)
        order_cols = [c for c in ("conv_id", "turn_idx") if c in df.columns] or [
            df.columns[0]
        ]
        w = Window.orderBy(*order_cols)
        with_id = df.withColumn(
            "doc_id", (F.row_number().over(w) - 1 + F.lit(base)).cast("long")
        )
        docs = _docs_with_lengths(with_id, cfg).persist()
        n, fields = tiers.docs_fields(docs, cfg.field_policy)
        docs.write.mode("overwrite").parquet(path("docs"))
        seg = docs.withColumn(
            "seg_id", (F.col("doc_id") / F.lit(cfg.seg_size)).cast("long")
        )
        blocks = seg.groupBy("seg_id").applyInPandas(
            _invert_segment(cfg), POSTINGS_SCHEMA
        )
        blocks.write.mode("overwrite").parquet(path("postings"))
        write_term_dict(
            tiers.read_table(spark, path("postings"), "postings"), path("term_dict")
        )
        # meta row LAST — its presence marks the batch durable
        tiers.write_delta_meta(self.index_dir, batch_id, n, base, fields)
        docs.unpersist()


def stream_into_index(
    stream_df: DataFrame,
    index_dir: str,
    cfg: IndexConfig | None = None,
    checkpoint: str | None = None,
    trigger_available_now: bool = True,
):
    """Wire a streaming DataFrame of transcript turns into the index.

    Returns the started StreamingQuery. With ``trigger_available_now``
    the query drains all available input and stops (backfill mode);
    otherwise it runs continuously per micro-batch.
    """
    writer = IncrementalIndexWriter(index_dir, cfg)
    w = stream_df.writeStream.foreachBatch(writer.process_batch).option(
        "checkpointLocation", checkpoint or os.path.join(index_dir, "_stream_ckpt")
    )
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _finish_merge_swap(index_dir: str) -> None:
    """Complete a committed merge: swap every staged ``<name>_new`` dir
    into place, install stats, drop ONLY the tiers the merge absorbed.
    Idempotent — each step guards on what already happened, so a crash
    anywhere inside the swap is repaired by calling this again (the
    marker written by :func:`merge_delta` is the point of no return).

    Tier cleanup is SCOPED to the marker's batch ids: a restarted
    streaming writer may have appended new micro-batches between the
    commit marker and this swap — those were not in the staged tables
    and must survive."""
    import shutil

    merged_ids = tiers.read_merge_marker(index_dir)
    for name in tiers.BASE_TABLES:
        new = os.path.join(index_dir, name + "_new")
        if os.path.isdir(new):
            cur = os.path.join(index_dir, name)
            if os.path.isdir(cur):
                shutil.rmtree(cur)
            os.rename(new, cur)
    stats_new = os.path.join(index_dir, "stats_new.json")
    if os.path.exists(stats_new):
        os.rename(stats_new, os.path.join(index_dir, "stats.json"))  # atomic
    tiers.drop_merged(index_dir, merged_ids)
    marker = os.path.join(index_dir, _MERGE_MARKER)
    if os.path.exists(marker):
        os.remove(marker)


def recover_merge(index_dir: str) -> bool:
    """If a merge committed but crashed mid-swap, finish it. Returns
    True when recovery ran. Call before opening/merging an index."""
    if os.path.exists(os.path.join(index_dir, _MERGE_MARKER)):
        _finish_merge_swap(index_dir)
        return True
    return False


def _write_sorted(spark, postings: DataFrame, n_part: int, out: str, td_out: str) -> None:
    """Write ``postings`` range-partitioned and sorted on (field, term,
    doc_base) to ``out``, then its term dictionary to ``td_out``."""
    postings.repartitionByRange(n_part, "field", "term", "doc_base").sortWithinPartitions(
        "field", "term", "doc_base"
    ).write.mode("overwrite").parquet(out)
    write_term_dict(tiers.read_table(spark, out, "postings"), td_out)


def promote_delta(index: SparkIndex, cfg: IndexConfig | None = None) -> SparkIndex:
    """Seal the live delta micro-batches into a GENERATION — the cheap
    merge tier. Cost is O(delta) only (no base rewrite): the batches'
    fragmented per-micro-batch posting files are re-range-partitioned
    and sorted into one compact mini-index, and queries union base +
    generations + any newer delta.

    Crash-safe and idempotent: the generation's meta is written LAST
    (``index/tiers.py``), and no step here deletes data — promoted
    batches stay in the delta until :func:`merge_delta`. Use
    :func:`maybe_compact` for the geometric policy between this and the
    full merge.
    """
    spark = index.spark
    catalog = tiers.read_catalog(index.index_dir)
    live = catalog.live
    if live is None:
        return index
    gdir = catalog.claim_gen_dir()
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
    _write_sorted(
        spark, live.read(spark, "postings"), n_part,
        os.path.join(gdir, "postings"), os.path.join(gdir, "term_dict"),
    )
    live.read(spark, "docs").write.mode("overwrite").parquet(os.path.join(gdir, "docs"))
    # meta LAST — its presence makes the generation durable/visible
    tiers.write_gen_meta(gdir, live)
    return load_index(spark, index.index_dir)


def maybe_compact(
    index: SparkIndex,
    cfg: IndexConfig | None = None,
    full_merge_ratio: float = 0.25,
) -> SparkIndex:
    """Geometric merge policy (≙ the reference's tiered merges,
    Writer.php:642-742): promote the live delta into a generation when
    the unmerged tiers are still small relative to the base; run the
    full :func:`merge_delta` compaction once Σ tier docs ≥
    ``full_merge_ratio`` × base docs."""
    base = index.stats["n_docs"]
    tier_docs = index.catalog.n_docs
    if tier_docs == 0:
        return index
    if base and tier_docs >= full_merge_ratio * base:
        return merge_delta(index, cfg)
    return promote_delta(index, cfg)


def merge_delta(index: SparkIndex, cfg: IndexConfig | None = None) -> SparkIndex:
    """Compact all delta chunks into the base index (≙ geometric merge
    tier / optimize without expunge): postings re-range-partitioned with
    the base, term_dict re-aggregated, docs rewritten, stats summed.

    Crash-safe and idempotent: every output is STAGED under
    ``<table>_new`` / ``stats_new.json`` (mode=overwrite — a retried
    merge rewrites the stage bit-for-bit, never double-appends), then a
    commit marker is written, then the staged dirs are atomically
    renamed into place and the delta removed
    (:func:`_finish_merge_swap`). A crash before the marker leaves the
    live index untouched (orphan stages are overwritten next run); a
    crash after it is completed by :func:`recover_merge` on next open.

    Scale note: like the reference's segment merge this rewrites the
    data it touches, so the postings exchange AND the docs rewrite are
    O(base + all tiers). Run it geometrically — :func:`maybe_compact`
    promotes cheap generations until the tiers are worth folding in.
    Absorbs sealed generations AND the live delta (promoted batches are
    read from their generation, never double-counted from the delta).
    """
    spark = index.spark
    index_dir = index.index_dir
    if recover_merge(index_dir):
        # the finished swap may have left LIVE tiers (batches appended
        # after the crashed merge's marker) — fall through and compact
        # them too, honoring this call's contract
        index = load_index(spark, index_dir)
    catalog = tiers.read_catalog(index_dir)
    if not catalog.upper:
        return index

    def staged(name: str) -> str:
        return os.path.join(index_dir, name + "_new")

    n_merge = int(spark.conf.get("spark.sql.shuffle.partitions"))
    _write_sorted(
        spark, catalog.read(spark, "postings"), n_merge,
        staged("postings"), staged("term_dict"),
    )
    catalog.read(spark, "docs").write.mode("overwrite").parquet(staged("docs"))

    with open(os.path.join(index_dir, "stats.json")) as fh:
        stats = json.load(fh)
    stats["n_docs"] += catalog.n_docs
    stats["fields"] = catalog.field_totals(stats["fields"])
    with open(os.path.join(index_dir, "stats_new.json"), "w") as fh:
        json.dump(stats, fh)

    # point of no return: from here the staged tables are authoritative
    tiers.write_merge_marker(index_dir, catalog.batches)
    _finish_merge_swap(index_dir)
    return load_index(spark, index_dir)
