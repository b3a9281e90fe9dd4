"""Opening an index and compiling a query run no Spark job for plain terms.

``load_index`` lists the tiers from their meta rows on the driver and
opens every table with its declared or footer schema (index/tiers.py),
so it schedules nothing. ``SparkIndex.prefetch_terms`` reads the tiers'
term_dict parquet on the driver (the reference's in-process .tii/.tis
lookup), so parse → rewrite → optimize → execute plans a term, AND, NOT
or phrase query without scheduling anything. Dictionary expansion
(wildcard / fuzzy / range) is the one compile step that scans on the
cluster: one job per field, however many terms it matches, because the
collected df seeds the driver cache.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lucene_spark.search.executor import SparkSearcher
from lucene_spark.search.parser import parse_query
from lucene_spark.search.query import Term


def _next_job_id(spark) -> int:
    """Id the next Spark job will get (job ids are assigned in
    submission order; the listener bus is drained first so every
    submitted job is visible to the status tracker)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    j = max(st.getJobIdsForGroup(None), default=-1) + 1
    while st.getJobInfo(j) is not None:
        j += 1
    return j


def _compile_jobs(ix, qstr: str, **kw) -> int:
    """Spark jobs run by parse → rewrite → optimize → execute (no
    collect), starting from an empty df cache."""
    ix._df_cache.clear()
    first = _next_job_id(ix.spark)
    q = parse_query(qstr).rewrite(ix).optimize(ix)
    SparkSearcher(ix).execute(q, k=10, **kw)
    return _next_job_id(ix.spark) - first


@pytest.fixture(scope="module")
def tiered_index(spark, transcripts_df, tmp_path_factory):
    """Base + one promoted generation + one live delta batch + tombstones."""
    from lucene_spark.index import IndexConfig, build_index, load_index
    from lucene_spark.index.lifecycle import delete_docs
    from lucene_spark.streaming import IncrementalIndexWriter
    from lucene_spark.streaming.incremental import promote_delta

    conv = F.col("conv_id")
    base = transcripts_df.where(conv < "conv00000020")
    gen = transcripts_df.where((conv >= "conv00000020") & (conv < "conv00000030"))
    live = transcripts_df.where(conv >= "conv00000030")
    d = str(tmp_path_factory.mktemp("tiered"))
    cfg = IndexConfig(seg_size=100)
    n_base = build_index(spark, base, d, cfg).n_docs
    w = IncrementalIndexWriter(d, cfg)
    w.process_batch(gen, 0)
    promote_delta(load_index(spark, d), cfg)
    w.process_batch(live, 1)
    ix = load_index(spark, d)
    delete_docs(ix, [0, 5, n_base + 1])
    assert os.path.exists(os.path.join(d, "gens", "gen=0", "meta", "_SUCCESS"))
    assert os.path.isdir(os.path.join(d, "delta", "term_dict", "batch=1"))
    assert ix.tombstones is not None
    return ix


def _spark_dict(ix) -> dict[tuple[str, str], int]:
    rows = (
        ix.term_dict.groupBy("field", "term").agg(F.sum("df").alias("df")).collect()
    )
    return {(r["field"], r["term"]): r["df"] for r in rows}


ABSENT = [
    Term("zzznotaterm", "text"),
    Term("conv99999999", "conv_id"),
    Term("spark", "conv_id"),  # present in another field only
    Term("spark", "nosuchfield"),
]


def test_driver_doc_freq_matches_spark_across_tiers(tiered_index, spark_index):
    from lucene_spark.search.multi import MultiSearcher

    want = _spark_dict(tiered_index)
    # every tier contributes: a gen-only and a live-only keyword term
    assert want[("conv_id", "conv00000025")] > 0
    assert want[("conv_id", "conv00000035")] > 0
    terms = [Term(t, f) for f, t in want] + ABSENT
    tiered_index._df_cache.clear()
    tiered_index.prefetch_terms(terms)  # one driver read per field
    for t in terms:
        assert tiered_index.doc_freq(t) == want.get((t.field, t.text), 0), t
        assert tiered_index.has_term(t) == ((t.field, t.text) in want), t

    other = _spark_dict(spark_index)
    ms = MultiSearcher([tiered_index, spark_index])
    for t in terms:
        key = (t.field, t.text)
        assert ms.global_doc_freq(t) == want.get(key, 0) + other.get(key, 0), t


@pytest.mark.parametrize("which", ["tiered", "base"])
@pytest.mark.parametrize(
    "qstr",
    [
        "text:spark",
        "+text:spark +text:index",
        "text:spark -text:index",
        'text:"spark index"',
    ],
)
def test_compile_runs_no_spark_job(tiered_index, spark_index, which, qstr):
    ix = tiered_index if which == "tiered" else spark_index
    assert _compile_jobs(ix, qstr) == 0


@pytest.mark.parametrize(
    "qstr", ["text:spa*", "text:spark~", "text:[a TO m]", "spa*"]
)
def test_expansion_runs_one_job_per_field(tiered_index, qstr):
    fields = 1 if qstr.startswith("text:") else len(tiered_index.field_names())
    assert _compile_jobs(tiered_index, qstr) == fields


def _letters(i: int) -> str:
    return "zqx" + chr(97 + i // 676) + chr(97 + (i // 26) % 26) + chr(97 + i % 26)


def test_limit_sized_wildcard_is_one_dictionary_job(spark, tmp_path):
    """1,000 terms under one prefix: the expansion is one job (not one
    df lookup per expanded term) and ranks like the exact plan."""
    from lucene_spark.index import IndexConfig, build_index

    n = 1000
    rows = [
        (i, " ".join([_letters(i)] * (1 + i % 3) + ["filler"] * (i % 7)))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ix = build_index(
        spark, df, str(tmp_path / "wide"), IndexConfig(field_policy={"text": "text"})
    )
    ix._df_cache.clear()
    first = _next_job_id(spark)
    q = parse_query("text:zqx*").rewrite(ix).optimize(ix)
    searcher = SparkSearcher(ix)
    auto = searcher.execute(q, k=10)
    assert _next_job_id(spark) - first == 1
    assert len(q.query_terms()) == n

    # seeded dfs (auto) vs dfs read afresh from the dictionary (off)
    ix._df_cache.clear()
    off = searcher.execute(q, k=10, pruning="off")
    got = [(r["doc_id"], r["score"]) for r in auto.collect()]
    want = [(r["doc_id"], r["score"]) for r in off.collect()]
    assert len(want) == 10
    assert got == want


# ------------------------------------------------------------ opening


@pytest.mark.parametrize("which", ["tiered", "base"])
def test_load_index_runs_no_spark_job(tiered_index, spark_index, which):
    from lucene_spark.index import load_index

    ix = tiered_index if which == "tiered" else spark_index
    first = _next_job_id(ix.spark)
    opened = load_index(ix.spark, ix.index_dir)
    assert _next_job_id(ix.spark) - first == 0
    assert opened.n_docs == ix.n_docs
    if which == "tiered":
        assert len(opened.catalog.tiers) == 3 and opened.tombstones is not None


def test_declared_schemas_equal_inferred(tiered_index):
    """Every table of every tier opened with its declared (or, for docs,
    parquet-footer) schema has exactly the schema Spark infers — so
    skipping inference changes no column or type. Meta rows carry the
    declared pyarrow schema."""
    import pyarrow.parquet as pq

    from lucene_spark.index import tiers

    spark, d = tiered_index.spark, tiered_index.index_dir
    base = ("docs", "postings", "term_dict", "term_dict_fc", "tombstones")
    tables = [(os.path.join(d, t), t) for t in base]
    tables.append((os.path.join(d, "segments"), "postings"))  # build phase A
    for sub in ("gens/gen=0", "delta"):
        tables += [(os.path.join(d, sub, t), t) for t in ("docs", "postings", "term_dict")]
    for path, table in tables:
        declared = tiers.read_table(spark, path, table).schema
        assert declared == spark.read.parquet(path).schema, path

    spark_types = {"int64": "bigint", "string": "string"}
    for meta_dir, schema in [
        (os.path.join(d, "gens", "gen=0", "meta"), tiers.GEN_META_SCHEMA),
        (os.path.join(d, "delta", "meta"), tiers.DELTA_META_SCHEMA),
    ]:
        for f in tiers._parquet_files(meta_dir):
            assert pq.read_schema(f).remove_metadata() == schema, f
        inferred = spark.read.parquet(meta_dir).schema
        assert [
            (c.name, c.dataType.simpleString()) for c in inferred if c.name != "batch"
        ] == [(c.name, spark_types[str(c.type)]) for c in schema], meta_dir


def test_tier_views_hold_the_per_tier_rows(tiered_index):
    """The tiered postings / docs / term_dict views hold the same rows as
    a union of inferring reads of the base, generation 0 and live batch 1
    (batch 0 was promoted into generation 0)."""
    spark, d = tiered_index.spark, tiered_index.index_dir

    def union(table):
        parts = [
            spark.read.parquet(os.path.join(d, table)),
            spark.read.parquet(os.path.join(d, "gens", "gen=0", table)),
            spark.read.parquet(os.path.join(d, "delta", table))
            .where(F.col("batch") == 1)
            .drop("batch"),
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p.select(out.columns))
        return out

    for table, view in [
        ("postings", tiered_index.postings),
        ("docs", tiered_index.docs),
        ("term_dict", tiered_index._tier_term_dict),
    ]:
        want = union(table)
        assert view.columns == want.columns, table
        assert view.count() == want.count() > 0, table
        assert view.exceptAll(want).count() == 0, table
        assert want.exceptAll(view).count() == 0, table


# ------------------------------------------------------------ tombstones


def test_tombstone_reads_run_no_spark_job(spark, transcripts_df, tmp_path):
    """``deleted_count`` / ``num_docs`` / ``is_deleted`` read the
    tombstones on the driver, and ``delete_docs`` numbers its generation
    from the parquet footers' ``gen`` statistics, so its one job is the
    tombstone write."""
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.index.lifecycle import delete_docs, deleted_count

    ix = build_index(
        spark,
        transcripts_df.where(F.col("conv_id") < "conv00000005"),
        str(tmp_path / "ix"),
        IndexConfig(seg_size=100),
    )

    def jobs(fn, *args):
        first = _next_job_id(spark)
        out = fn(*args)
        return out, _next_job_id(spark) - first

    assert jobs(deleted_count, ix) == (0, 0)
    assert jobs(ix.is_deleted, 3) == (False, 0)
    for gen, ids in enumerate([[3, 7], [7, 9, 11]]):
        assert jobs(delete_docs, ix, ids) == (gen, 1)
    assert jobs(deleted_count, ix) == (4, 0)
    assert jobs(ix.num_docs) == (ix.n_docs - 4, 0)
    assert jobs(ix.is_deleted, 9) == (True, 0)
    assert jobs(ix.is_deleted, 8) == (False, 0)
