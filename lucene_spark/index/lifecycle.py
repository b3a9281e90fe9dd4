"""Index lifecycle: logical deletes + optimize (compaction).

Reference semantics (study citations):
- Deletes are LOGICAL — a per-segment bitmap flushed as generation-
  versioned ``.del`` files; deleted docs stop matching immediately but
  stay in the index until optimize (src/Index.php:1116-1138,
  SegmentInfo.php:1565-1664). Rank-critical quirk: idf keeps using
  maxDoc INCLUDING deleted docs until optimize (src/Index.php:504-517).
- ``optimize()`` merges all segments into one, expunging deletes and
  renumbering docIDs densely (src/Index.php:1158-1167,
  Writer.php:792-815, SegmentMerger docMap SegmentInfo.php:1681-1770).

Spark shape:
- :func:`delete_docs` appends a generation-numbered tombstone parquet
  under ``tombstones/`` (≙ ``.del`` generations, numbered from the
  parquet footers' ``gen`` statistics; Iceberg row-level
  deletes fill the same role on a real lakehouse). An id list is
  written with pyarrow on the driver, a DataFrame by one Spark job.
  The searcher loads the deleted ids on the driver and the postings
  decode kernel drops their rows — every hit comes out of that decode,
  so this is where the reference checks its bitmap while collecting
  hits — and scores (idf, norms, avgdl) are untouched, reproducing the
  quirk.
- :func:`optimize_index` rebuilds the index from the surviving rows of
  the docs table into a fresh directory: one pass that re-tokenizes,
  re-assigns dense docIDs (the docMap), and rewrites postings/term_dict/
  stats with deletes expunged. At 100 TB this is the same full-compaction
  job tier as the reference's optimize; incremental per-segment expunge
  would reuse the varbyte blocks, but a rebuild keeps ids, norms and
  stats consistent in one tested path.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from lucene_spark.index import tiers
from lucene_spark.index.builder import IndexConfig, SparkIndex, build_index


def delete_docs(index: SparkIndex, doc_ids: DataFrame | list[int]) -> int:
    """Logical delete: append (doc_id, gen) tombstone rows.

    ``doc_ids``: a DataFrame with a doc_id column (e.g. the result of
    any query/filter over ``index.docs``), written by one Spark job, or
    an explicit id list, written with pyarrow on the driver (no job).
    Returns the new tombstone generation.
    """
    gen = tiers.next_tombstone_gen(index.index_dir)
    if isinstance(doc_ids, list):
        tiers.append_tombstones(index.index_dir, doc_ids, gen)
    else:
        doc_ids.select(F.col("doc_id").cast("long")).withColumn(
            "gen", F.lit(gen).cast("long")
        ).write.mode("append").parquet(tiers.tombstones_dir(index.index_dir))
    index.refresh_tombstones()
    return gen


def deleted_count(index: SparkIndex) -> int:
    """Distinct tombstoned doc ids, counted on the driver (no Spark job)."""
    return len(tiers.tombstone_ids(index.index_dir))


def undelete_all(index: SparkIndex) -> int:
    """≙ reference ``undeleteAll()`` — restore every logically-deleted
    document (SearchIndexInterface.php:336; MultiSearcher.php:834-839
    fans it out per sub-index). The reference declares the operation but
    ships an empty body ("@todo undeleteAll processing",
    src/Index.php:1286-1288); the tombstone design makes it exact here:
    dropping the tombstone generations removes the in-kernel drop,
    and because deletes never touched idf/norms/avgdl (the
    rank-critical quirk reproduced in delete_docs), restored docs come
    back with scores identical to pre-delete. Docs already expunged by
    ``optimize_index`` are gone for good — same as the reference, where
    optimize rewrites segments without the deleted rows.

    Returns the number of distinct doc_ids restored.
    """
    n = deleted_count(index)
    p = tiers.tombstones_dir(index.index_dir)
    if os.path.exists(p):
        shutil.rmtree(p)
    index.refresh_tombstones()
    return n


def optimize_index(
    index: SparkIndex,
    out_dir: str,
    cfg: IndexConfig | None = None,
) -> SparkIndex:
    """≙ reference optimize(): expunge deletes, renumber docIDs densely
    (docMap = rank among survivors by old doc_id), rebuild into out_dir.
    """
    spark = index.spark
    cfg = cfg or _config_from_stats(index)
    survivors = index.docs
    t = tiers.read_tombstones(spark, index.index_dir)
    if t is not None:
        survivors = survivors.join(
            t.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    # drop old ids + derived columns; build_index reassigns dense ids
    # in old-doc_id order (the reference docMap ordering)
    drop_cols = ["doc_id"] + [
        c for c in survivors.columns if c.startswith("len_") or c.startswith("norm_")
    ]
    source = survivors.withColumn("_old_id", F.col("doc_id")).drop(*drop_cols)
    return build_index(
        spark,
        source.withColumnRenamed("_old_id", "old_doc_id"),
        out_dir,
        cfg,
        order_cols=["old_doc_id"],
        resume=False,
    )


def _config_from_stats(index: SparkIndex) -> IndexConfig:
    return IndexConfig(
        field_policy={f: v["kind"] for f, v in index.stats["fields"].items()},
        analyzer=index.analyzer(),  # rebuilt from stats.json on open
        # carry index-time boosts through optimize (norm recompute)
        field_boosts=dict(index.stats.get("field_boosts") or {}),
        doc_boost_col=index.stats.get("doc_boost_col"),
    )
