"""Checkpoint/resume: a killed phase-A build resumes without recomputing
finished chunks (north rule: per-partition segment manifests with
lineage + counts; resume unit = chunk of segments_per_commit segments)."""

import json
import os

from pyspark.sql import functions as F


def test_resume_skips_done_chunks(spark, transcripts_df, tmp_path):
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.index.builder import (
        POSTINGS_SCHEMA,
        _docs_with_lengths,
        _invert_segment,
        assign_doc_ids,
    )

    d = str(tmp_path / "ix")
    cfg = IndexConfig(seg_size=50, segments_per_commit=2)
    span = cfg.seg_size * cfg.segments_per_commit  # docs per chunk

    # simulate a partial run: docs written, the chunk span planned (a
    # build persists build_plan.json before any chunk runs), only chunk 0
    # inverted+manifested
    os.makedirs(d)
    with open(os.path.join(d, "build_plan.json"), "w") as fh:
        json.dump({"chunk_span": span}, fh)
    df = assign_doc_ids(transcripts_df, ["conv_id", "turn_idx"])
    docs = _docs_with_lengths(df, cfg)
    docs.write.mode("overwrite").parquet(os.path.join(d, "docs"))
    docs_r = spark.read.parquet(os.path.join(d, "docs"))
    chunk0 = docs_r.withColumn(
        "seg_id", (F.col("doc_id") / cfg.seg_size).cast("long")
    ).where(F.col("doc_id") < span)
    blocks = chunk0.groupBy("seg_id").applyInPandas(
        _invert_segment(cfg), POSTINGS_SCHEMA
    )
    blocks.write.mode("overwrite").parquet(os.path.join(d, "segments", "seg_chunk=0"))
    spark.createDataFrame(
        [(0, 1, 1, 0, span - 1, 1, 0, "sentinel")],
        "seg_id long, n_postings long, n_tokens long, min_doc_id long, "
        "max_doc_id long, n_blocks long, chunk long, lineage string",
    ).write.mode("append").parquet(os.path.join(d, "manifests"))
    # plus an ORPHAN chunk dir (written but never manifested — must be
    # purged and rebuilt, not duplicated)
    blocks.write.mode("overwrite").parquet(os.path.join(d, "segments", "seg_chunk=1"))

    ix = build_index(spark, transcripts_df, d, cfg, resume=True)

    # the sentinel manifest row proves chunk 0 was NOT recomputed
    m = spark.read.parquet(os.path.join(d, "manifests"))
    lineages = {r["lineage"] for r in m.where(F.col("chunk") == 0).collect()}
    assert lineages == {"sentinel"}
    # every chunk present exactly once, each seg_id manifested once
    segs = [r["seg_id"] for r in m.where(F.col("chunk") != 0).collect()]
    assert len(segs) == len(set(segs))
    # and the index is complete: all docs covered
    assert ix.n_docs == transcripts_df.count()
    # postings cover every non-chunk-0 doc exactly once (no dup blocks)
    from lucene_spark.search.executor import dump_postings

    dumped = dump_postings(ix, "text")
    dup = (
        dumped.groupBy("term", "doc_id").count().where(F.col("count") > 1).count()
    )
    assert dup == 0
