"""Structured-Streaming incremental index appends (LSM-style delta tier).

The reference's writer buffers documents and flushes fixed-size segments,
then geometrically merges them (Writer.php:220-233,642-742 — B7/B8).
The streaming analog: each micro-batch becomes one DELTA CHUNK — a
self-contained mini-index (posting blocks + docs + term counters) under
``delta/…/batch=<id>`` — and a periodic :func:`merge_delta` compacts all
delta chunks into the base postings (the geometric-merge tier).

Correctness properties:
- **idempotent re-processing**: every per-batch write goes to its own
  ``batch=<id>`` directory with mode=overwrite, and the batch's doc-id
  base is derived from a meta row written under the same key — a
  replayed micro-batch (at-least-once foreachBatch) overwrites itself
  bit-for-bit instead of duplicating.
- **doc-id continuity**: batch N's ids start at
  ``base_n_docs + Σ_{b<N} n_docs(b)`` — insertion order across the
  stream, matching the reference's monotone docID assignment.
- **queryable between merges**: :class:`SparkIndex` unions base and
  delta postings/docs, and aggregates base + delta term counters, so
  searches see streamed docs immediately (an unmerged reference index
  is likewise searchable across its segment list).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.index.builder import (
    POSTINGS_SCHEMA,
    IndexConfig,
    SparkIndex,
    _docs_with_lengths,
    _invert_segment,
    load_index,
    postings_term_dict,
)

DELTA_DIR = "delta"


def _delta(index_dir: str, *parts: str) -> str:
    return os.path.join(index_dir, DELTA_DIR, *parts)


class IncrementalIndexWriter:
    """foreachBatch sink appending micro-batches as delta chunks."""

    def __init__(self, index_dir: str, cfg: IndexConfig | None = None):
        self.index_dir = index_dir
        self.cfg = cfg or IndexConfig()

    # -- doc-id base bookkeeping ------------------------------------
    def _base_docs(self, spark: SparkSession) -> int:
        with open(os.path.join(self.index_dir, "stats.json")) as fh:
            return json.load(fh)["n_docs"]

    def _batch_base(self, spark: SparkSession, batch_id: int) -> int:
        # Order matters for crash-consistency against a concurrent
        # merge-swap: read the delta METAS first, stats.json second, and
        # take the max of (stats.n_docs, max(doc_base + n_docs) over
        # prior batches). The swap installs the new stats BEFORE it
        # deletes merged batch metas, so whichever side of the swap each
        # read lands on, one of the two sources carries the true
        # next-free id — a plain stats-then-metas sum could read OLD
        # stats and POST-deletion metas and hand out duplicate doc ids.
        meta_root = _delta(self.index_dir, "meta")
        high_water = 0
        if os.path.isdir(meta_root) and any(
            e.startswith("batch=") for e in os.listdir(meta_root)
        ):
            # ONE filtered read of the whole meta dir (tiny rows), not a
            # per-batch collect loop — keeps the driver cost O(B) total
            # over a stream's life instead of O(B^2)
            metas = spark.read.parquet(meta_root).where(
                F.col("batch_id") < int(batch_id)
            )
            if "doc_base" in metas.columns:
                hw_expr = F.coalesce(
                    F.max(F.col("doc_base") + F.col("n_docs")), F.lit(0)
                )
                base_off = 0
            else:
                # pre-doc_base delta format (metas written before the
                # round-2 writer): batches were stamped contiguously
                # from the base index's n_docs, so the high-water mark
                # is base + Σ n_docs over prior batches — degrade to
                # that instead of failing the meta read on upgrade
                hw_expr = F.coalesce(F.sum("n_docs"), F.lit(0))
                base_off = self._base_docs(spark)
            row = metas.agg(hw_expr.alias("hw")).collect()[0]
            high_water = base_off + int(row["hw"])
        return max(self._base_docs(spark), high_water)

    # -- the sink ----------------------------------------------------
    def process_batch(self, df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        cfg = self.cfg
        key = f"batch={int(batch_id)}"
        base = self._batch_base(spark, int(batch_id))

        # micro-batches are small: a single-partition local id stamp
        # keeps insertion order without a shuffle (the batch ALREADY
        # fits one executor's write path; large backfills should use
        # build_index / merge_delta instead)
        from pyspark.sql import Window

        order_cols = [c for c in ("conv_id", "turn_idx") if c in df.columns] or [
            df.columns[0]
        ]
        w = Window.orderBy(*order_cols)
        with_id = df.withColumn(
            "doc_id", (F.row_number().over(w) - 1 + F.lit(base)).cast("long")
        )
        docs = _docs_with_lengths(with_id, cfg).persist()
        n = docs.count()

        docs.write.mode("overwrite").parquet(_delta(self.index_dir, "docs", key))
        seg = docs.withColumn(
            "seg_id", (F.col("doc_id") / F.lit(cfg.seg_size)).cast("long")
        )
        blocks = seg.groupBy("seg_id").applyInPandas(
            _invert_segment(cfg), POSTINGS_SCHEMA
        )
        blocks.write.mode("overwrite").parquet(
            _delta(self.index_dir, "postings", key)
        )
        td = postings_term_dict(
            spark.read.parquet(_delta(self.index_dir, "postings", key))
        )
        td.write.mode("overwrite").parquet(_delta(self.index_dir, "term_dict", key))
        text_fields = [f for f, k in cfg.field_policy.items() if k in ("text", "keyword")]
        aggs = [F.sum(F.col(f"len_{f}")).alias(f"sum_len_{f}") for f in text_fields]
        aggs += [
            F.sum((F.col(f"len_{f}") > 0).cast("long")).alias(f"cnt_{f}")
            for f in text_fields
        ]
        row = docs.agg(*aggs).collect()[0]
        meta = spark.createDataFrame(
            [
                (
                    int(batch_id),
                    int(n),
                    int(base),
                    json.dumps(
                        {
                            f: {
                                "sum_len": int(row[f"sum_len_{f}"] or 0),
                                "n_docs_with_field": int(row[f"cnt_{f}"] or 0),
                            }
                            for f in text_fields
                        }
                    ),
                )
            ],
            "batch_id long, n_docs long, doc_base long, field_stats string",
        )
        # meta row LAST — its presence marks the batch durable
        meta.write.mode("overwrite").parquet(_delta(self.index_dir, "meta", key))
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


_MERGE_MARKER = "_merge_commit.json"
_MERGE_TABLES = ("postings", "term_dict", "term_dict_fc", "docs")


def _finish_merge_swap(index_dir: str) -> None:
    """Complete a committed merge: swap every staged ``<name>_new`` dir
    into place, install stats, drop ONLY the tiers the merge absorbed.
    Idempotent — each step guards on what already happened, so a crash
    anywhere inside the swap is repaired by calling this again (the
    marker written by :func:`merge_delta` is the point of no return).

    Tier cleanup is SCOPED to the marker's ``merged_batch_ids``: a
    restarted streaming writer may have appended new micro-batches
    between the commit marker and this swap — those were not in the
    staged tables and must survive."""
    import shutil

    marker = os.path.join(index_dir, _MERGE_MARKER)
    merged_ids: set[int] | None = None
    if os.path.exists(marker):
        try:
            with open(marker) as fh:
                merged_ids = set(json.load(fh).get("merged_batch_ids") or [])
        except (OSError, ValueError):
            merged_ids = None
    for name in _MERGE_TABLES:
        new = os.path.join(index_dir, name + "_new")
        if os.path.isdir(new):
            cur = os.path.join(index_dir, name)
            if os.path.isdir(cur):
                shutil.rmtree(cur)
            os.rename(new, cur)
    stats_new = os.path.join(index_dir, "stats_new.json")
    if os.path.exists(stats_new):
        os.rename(stats_new, os.path.join(index_dir, "stats.json"))  # atomic

    droot = os.path.join(index_dir, DELTA_DIR)
    if os.path.isdir(droot):
        if merged_ids is None:
            shutil.rmtree(droot)
        else:
            for sub in ("docs", "postings", "term_dict", "meta"):
                root = os.path.join(droot, sub)
                if not os.path.isdir(root):
                    continue
                for entry in os.listdir(root):
                    if (
                        entry.startswith("batch=")
                        and int(entry.split("=", 1)[1]) in merged_ids
                    ):
                        shutil.rmtree(os.path.join(root, entry))
            meta_root = os.path.join(droot, "meta")
            leftover = os.path.isdir(meta_root) and any(
                e.startswith("batch=") for e in os.listdir(meta_root)
            )
            if not leftover:
                shutil.rmtree(droot)
    gen_root = os.path.join(index_dir, "gens")
    if os.path.isdir(gen_root):
        for entry in list(os.listdir(gen_root)):
            gdir = os.path.join(gen_root, entry)
            gmeta = os.path.join(gdir, "meta")
            if not os.path.exists(os.path.join(gmeta, "_SUCCESS")):
                shutil.rmtree(gdir)  # crashed promote — garbage either way
                continue
            if merged_ids is None:
                shutil.rmtree(gdir)
                continue
            import pandas as _pd

            gen_batches: set[int] = set()
            for m in _pd.read_parquet(gmeta)["batch_ids"]:
                gen_batches.update(json.loads(m))
            if gen_batches <= merged_ids:
                shutil.rmtree(gdir)
        if not os.listdir(gen_root):
            shutil.rmtree(gen_root)
    if os.path.exists(marker):
        os.remove(marker)


def recover_merge(index_dir: str) -> bool:
    """If a merge committed but crashed mid-swap, finish it. Returns
    True when recovery ran. Call before opening/merging an index."""
    if os.path.exists(os.path.join(index_dir, _MERGE_MARKER)):
        _finish_merge_swap(index_dir)
        return True
    return False


def _promoted_batches(spark, index_dir: str) -> set[int]:
    """Batch ids already sealed into a generation (gen meta rows)."""
    out: set[int] = set()
    gen_root = os.path.join(index_dir, "gens")
    if os.path.isdir(gen_root):
        for entry in os.listdir(gen_root):
            gmeta = os.path.join(gen_root, entry, "meta")
            if os.path.exists(os.path.join(gmeta, "_SUCCESS")):
                for m in spark.read.parquet(gmeta).collect():
                    out.update(json.loads(m["batch_ids"]))
    return out


def promote_delta(index: SparkIndex, cfg: IndexConfig | None = None) -> SparkIndex:
    """Seal the live delta micro-batches into a GENERATION — the cheap
    merge tier. Cost is O(delta) only (no base rewrite): the batches'
    fragmented per-micro-batch posting files are re-range-partitioned
    and sorted into one compact mini-index under ``gens/gen=<g>/``, and
    queries union base + generations + any newer delta.

    Crash-safe and idempotent: the generation's ``meta`` (which records
    the promoted batch_ids) is written LAST — a crashed promote leaves a
    meta-less dir that loaders ignore and the next promote overwrites;
    promoted batches stay in ``delta/`` (loaders skip them via the gen
    metas) until :func:`merge_delta` compacts everything, so no step
    here deletes data. Use :func:`maybe_compact` for the geometric
    policy between this and the full merge.
    """
    spark = index.spark
    index_dir = index.index_dir
    droot = os.path.join(index_dir, DELTA_DIR)
    meta_dir = _delta(index_dir, "meta")
    if not os.path.isdir(meta_dir):
        return index
    promoted = _promoted_batches(spark, index_dir)
    metas = [
        m
        for m in spark.read.parquet(meta_dir).collect()
        if int(m["batch_id"]) not in promoted
    ]
    if not metas:
        return index
    batches = [int(m["batch_id"]) for m in metas]
    gen_root = os.path.join(index_dir, "gens")
    # next id counts only DURABLE generations (meta present); a
    # meta-less dir is a crashed promote — reclaim it by overwriting
    existing = [
        int(e.split("=", 1)[1])
        for e in (os.listdir(gen_root) if os.path.isdir(gen_root) else [])
        if e.startswith("gen=")
        and os.path.exists(os.path.join(gen_root, e, "meta", "_SUCCESS"))
    ]
    gdir = os.path.join(gen_root, f"gen={max(existing, default=-1) + 1}")
    if os.path.isdir(gdir):  # orphan from a crashed promote
        import shutil

        shutil.rmtree(gdir)
    flt = F.col("batch").isin(batches)
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
    (
        spark.read.parquet(os.path.join(droot, "postings"))
        .where(flt)
        .drop("batch")
        .repartitionByRange(n_part, "field", "term", "doc_base")
        .sortWithinPartitions("field", "term", "doc_base")
        .write.mode("overwrite")
        .parquet(os.path.join(gdir, "postings"))
    )
    postings_term_dict(
        spark.read.parquet(os.path.join(gdir, "postings"))
    ).write.mode("overwrite").parquet(os.path.join(gdir, "term_dict"))
    (
        spark.read.parquet(os.path.join(droot, "docs"))
        .where(flt)
        .drop("batch")
        .write.mode("overwrite")
        .parquet(os.path.join(gdir, "docs"))
    )
    n_docs = sum(int(m["n_docs"]) for m in metas)
    fs_merged: dict[str, dict[str, int]] = {}
    for m in metas:
        for f, fs in json.loads(m["field_stats"]).items():
            agg = fs_merged.setdefault(f, {"sum_len": 0, "n_docs_with_field": 0})
            agg["sum_len"] += fs["sum_len"]
            agg["n_docs_with_field"] += fs["n_docs_with_field"]
    meta = spark.createDataFrame(
        [(json.dumps(sorted(batches)), n_docs, json.dumps(fs_merged))],
        "batch_ids string, n_docs long, field_stats string",
    )
    # meta LAST — its presence makes the generation durable/visible
    meta.write.mode("overwrite").parquet(os.path.join(gdir, "meta"))
    return load_index(spark, index_dir)


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
    tier_docs = index._delta_docs
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
    read from their generation, never double-counted from delta/).
    """
    spark = index.spark
    index_dir = index.index_dir
    if recover_merge(index_dir):
        # the finished swap may have left LIVE tiers (batches appended
        # after the crashed merge's marker) — fall through and compact
        # them too, honoring this call's contract
        index = load_index(spark, index_dir)
    droot = os.path.join(index_dir, DELTA_DIR)
    gen_root = os.path.join(index_dir, "gens")
    tier_postings = []
    tier_docs = []
    metas = []  # rows with n_docs + field_stats (delta metas + gen metas)
    if os.path.isdir(gen_root):
        for entry in sorted(os.listdir(gen_root)):
            gdir = os.path.join(gen_root, entry)
            gmeta = os.path.join(gdir, "meta")
            if not os.path.exists(os.path.join(gmeta, "_SUCCESS")):
                continue
            tier_postings.append(spark.read.parquet(os.path.join(gdir, "postings")))
            tier_docs.append(spark.read.parquet(os.path.join(gdir, "docs")))
            metas.extend(spark.read.parquet(gmeta).collect())
    if os.path.isdir(os.path.join(droot, "meta")):
        promoted = _promoted_batches(spark, index_dir)
        live = [
            m
            for m in spark.read.parquet(os.path.join(droot, "meta")).collect()
            if int(m["batch_id"]) not in promoted
        ]
        if live:
            flt = F.col("batch").isin([int(m["batch_id"]) for m in live])
            tier_postings.append(
                spark.read.parquet(os.path.join(droot, "postings")).where(flt)
            )
            tier_docs.append(
                spark.read.parquet(os.path.join(droot, "docs")).where(flt)
            )
            metas.extend(live)
    if not tier_postings:
        return index

    n_merge = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base_postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    merged = base_postings
    for tp in tier_postings:
        merged = merged.unionByName(tp.select(base_postings.columns))
    merged = merged.repartitionByRange(
        n_merge, "field", "term", "doc_base"
    ).sortWithinPartitions("field", "term", "doc_base")
    merged.write.mode("overwrite").parquet(os.path.join(index_dir, "postings_new"))
    td = postings_term_dict(
        spark.read.parquet(os.path.join(index_dir, "postings_new"))
    )
    td.write.mode("overwrite").parquet(os.path.join(index_dir, "term_dict_new"))
    from lucene_spark.codec.frontcode import write_dict_blocks

    # write_dict_blocks re-sorts its input itself (ordering is its own
    # correctness requirement)
    write_dict_blocks(
        spark.read.parquet(os.path.join(index_dir, "term_dict_new")),
        os.path.join(index_dir, "term_dict_fc_new"),
    )
    base_docs = spark.read.parquet(os.path.join(index_dir, "docs"))
    all_docs = base_docs
    for td_ in tier_docs:
        all_docs = all_docs.unionByName(td_.select(base_docs.columns))
    all_docs.write.mode("overwrite").parquet(os.path.join(index_dir, "docs_new"))

    with open(os.path.join(index_dir, "stats.json")) as fh:
        stats = json.load(fh)
    for m in metas:
        stats["n_docs"] += m["n_docs"]
        for f, fs in json.loads(m["field_stats"]).items():
            if f in stats["fields"]:
                stats["fields"][f]["sum_len"] += fs["sum_len"]
                stats["fields"][f]["n_docs_with_field"] += fs["n_docs_with_field"]
    with open(os.path.join(index_dir, "stats_new.json"), "w") as fh:
        json.dump(stats, fh)

    # point of no return: from here the staged tables are authoritative
    merged_ids: set[int] = set()
    for m in metas:  # delta metas carry batch_id; gen metas a batch_ids list
        if "batch_id" in m.__fields__:
            merged_ids.add(int(m["batch_id"]))
        else:
            merged_ids.update(json.loads(m["batch_ids"]))
    marker = os.path.join(index_dir, _MERGE_MARKER)
    with open(marker + ".tmp", "w") as fh:
        json.dump({"merged_batch_ids": sorted(merged_ids)}, fh)
    os.rename(marker + ".tmp", marker)
    _finish_merge_swap(index_dir)
    return load_index(spark, index_dir)
