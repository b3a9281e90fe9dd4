"""Opening an index and compiling a query run no Spark job for plain terms.

``load_index`` lists the tiers from their meta rows on the driver and
opens every table with its declared or footer schema (index/tiers.py),
so it schedules nothing. ``SparkIndex.prefetch_terms`` reads the tiers'
term_dict parquet on the driver (the reference's in-process .tii/.tis
lookup), so parse → rewrite → optimize → execute plans a term, AND, NOT
or phrase query without scheduling anything. Dictionary expansion
(wildcard / fuzzy / range) is the one compile step that scans on the
cluster: one job per field, however many terms it matches, because the
collected df seeds the driver cache. ``terms_from`` merges the same
sorted term_dict files on the driver and runs no job either.
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
def tiered_build(spark, transcripts_df, tmp_path_factory):
    """Base + one promoted generation + one live delta batch + tombstones,
    and the Spark jobs each writer step ran."""
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
    jobs = {}

    def run(step, fn, *args):
        first = _next_job_id(spark)
        out = fn(*args)
        jobs[step] = _next_job_id(spark) - first
        return out

    n_base = run("build", build_index, spark, base, d, cfg).n_docs
    w = IncrementalIndexWriter(d, cfg)
    run("process_batch", w.process_batch, gen, 0)
    run("promote_delta", promote_delta, load_index(spark, d), cfg)
    w.process_batch(live, 1)
    ix = load_index(spark, d)
    delete_docs(ix, [0, 5, n_base + 1])
    assert os.path.exists(os.path.join(d, "gens", "gen=0", "meta", "_SUCCESS"))
    assert os.path.isdir(os.path.join(d, "delta", "term_dict", "batch=1"))
    assert ix.tombstones is not None
    return ix, jobs


@pytest.fixture(scope="module")
def tiered_index(tiered_build):
    return tiered_build[0]


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


# ----------------------------------------------------- term dictionary


def _assert_dicts_sorted_and_prefix_coded(root: str) -> int:
    """Every term_dict parquet file under ``root`` is sorted on (field,
    term), and its footer says the term column is DELTA_BYTE_ARRAY
    (prefix length + suffix). Returns the number of files."""
    import pyarrow.parquet as pq

    from lucene_spark.index import tiers

    files = tiers._parquet_files(root)
    for f in files:
        t = pq.read_table(f, columns=["field", "term"])
        keys = list(zip(t.column("field").to_pylist(), t.column("term").to_pylist()))
        assert keys == sorted(keys), f
        meta = pq.ParquetFile(f).metadata
        col = meta.schema.to_arrow_schema().get_field_index("term")
        for rg in range(meta.num_row_groups):
            assert meta.row_group(rg).column(col).encodings == ("DELTA_BYTE_ARRAY",), f
    return len(files)


@pytest.fixture(scope="module")
def merged_tiers(tiered_build, tmp_path_factory):
    """A copy of ``tiered_index`` with every tier merged into the base,
    and the Spark jobs ``merge_delta`` ran."""
    import shutil

    from lucene_spark.index import load_index
    from lucene_spark.streaming.incremental import merge_delta

    ix, _jobs = tiered_build
    copy = str(tmp_path_factory.mktemp("merged") / "ix")
    shutil.copytree(ix.index_dir, copy)
    opened = load_index(ix.spark, copy)
    first = _next_job_id(ix.spark)
    merged = merge_delta(opened)
    assert not merged.catalog.upper
    return merged, _next_job_id(ix.spark) - first


def test_every_tier_dictionary_is_sorted_and_prefix_coded(tiered_index, merged_tiers):
    """The base, a promoted generation and a live delta batch each write
    their term_dict sorted and front-coded, and so does a merge."""
    d = tiered_index.index_dir
    for sub in ("", "gens/gen=0", "delta"):
        assert _assert_dicts_sorted_and_prefix_coded(os.path.join(d, sub, "term_dict"))
    merged = merged_tiers[0].index_dir
    assert _assert_dicts_sorted_and_prefix_coded(os.path.join(merged, "term_dict"))


def test_writer_job_counts(tiered_build, merged_tiers):
    """Each writer writes one term dictionary, and only its own jobs:
    sorting within partitions and the v2 writer add none."""
    jobs = tiered_build[1]
    assert jobs["build"] <= 20
    assert jobs["process_batch"] == 7
    assert jobs["promote_delta"] == 6
    assert merged_tiers[1] <= 6


@pytest.mark.parametrize("which", ["tiered", "base"])
def test_terms_from_merges_every_tier_without_a_job(tiered_index, spark_index, which):
    """terms_from k-way merges the tiers' sorted dictionary files on the
    driver: the distinct terms of the Spark view, in order, from any
    start, lazily paged, with no Spark job."""
    ix = tiered_index if which == "tiered" else spark_index
    rows = ix.term_dict.where(F.col("field") == "text").select("term").collect()
    vocab = sorted({r["term"] for r in rows})
    for start in ("", "s", "sp", "spark", "zzz"):
        first = _next_job_id(ix.spark)
        got = list(ix.terms_from("text", start, page_size=7))
        assert _next_job_id(ix.spark) - first == 0
        assert got == [t for t in vocab if t >= start], start


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
    base = ("docs", "postings", "term_dict", "tombstones")
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
    from the parquet footers' ``gen`` statistics and writes an id list
    with pyarrow, so a list delete runs no job; a DataFrame delete runs
    one, its write."""
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
        assert jobs(delete_docs, ix, ids) == (gen, 0)
    assert jobs(deleted_count, ix) == (4, 0)
    assert jobs(ix.num_docs) == (ix.n_docs - 4, 0)
    assert jobs(ix.is_deleted, 9) == (True, 0)
    assert jobs(ix.is_deleted, 8) == (False, 0)
    frame = spark.createDataFrame([(11,), (12,)], "doc_id long")
    assert jobs(delete_docs, ix, frame) == (2, 1)
    assert jobs(deleted_count, ix) == (5, 0)
    assert ix.tombstones.tolist() == [3, 7, 9, 11, 12]


# ------------------------------------------------------- query plans


SHAPES = {  # name: (query, score mode); the scoped shapes narrow
    "term": ("text:spark", "bm25"),
    "and": ("+text:spark +text:index", "bm25"),
    "or": ("text:spark text:index", "bm25"),
    "not": ("+text:spark -text:index", "bm25"),
    "phrase": ('text:"spark index"', "bm25"),
    "sloppy": ('text:"spark index"~2', "bm25"),
    "scoped": ("+conv_id:conv00000003 +text:spark", "bm25"),
    "scoped_phrase": ('+conv_id:conv00000003 +text:"spark index"', "bm25"),
    "rare_sloppy3": ('text:"timeout spark spark"~2', "bm25"),
    "classic_term": ("text:spark", "classic"),
    "classic_and": ("+text:spark +text:index", "classic"),
    "wand": ("text:spark", "bm25", "force"),
}
NARROWED = ("scoped", "scoped_phrase", "rare_sloppy3")


def _query_jobs(ix, name: str, k: int = 10):
    """(Spark jobs, ranked (doc_id, 9-decimal score) rows) of one search
    + collect, the df cache warm."""
    qstr, mode, pruning = (*SHAPES[name], "auto")[:3]
    searcher = SparkSearcher(ix)
    kw = dict(k=k, score_mode=mode, pruning=pruning)
    searcher.search(qstr, **kw)  # warm the df cache
    first = _next_job_id(ix.spark)
    rows = searcher.search(qstr, **kw).collect()
    jobs = _next_job_id(ix.spark) - first
    return jobs, [(r["doc_id"], round(r["score"], 9)) for r in rows]


@pytest.fixture(scope="module")
def plain_and_deleted(spark, transcripts_df, tmp_path_factory):
    """Jobs and rows per shape on one base index before and after a
    delete, conjunction narrowing forced (quantum 1)."""
    import lucene_spark.search.executor as ex
    from lucene_spark.index import IndexConfig, build_index
    from lucene_spark.index.lifecycle import delete_docs

    d = str(tmp_path_factory.mktemp("deletes"))
    ix = build_index(spark, transcripts_df, d, IndexConfig(seg_size=100))
    prev, ex.RANGE_PRUNE_QUANTUM = ex.RANGE_PRUNE_QUANTUM, 1
    try:
        plain = {name: _query_jobs(ix, name) for name in SHAPES}
        delete_docs(ix, [plain["scoped"][1][0][0], plain["term"][1][0][0], 7])
        deleted = {name: _query_jobs(ix, name) for name in SHAPES}
    finally:
        ex.RANGE_PRUNE_QUANTUM = prev
    return ix, plain, deleted


def test_query_runs_only_its_own_jobs(plain_and_deleted, tiered_index, monkeypatch):
    """A query schedules its scan+decode, one exchange and the final
    TakeOrdered. The exchange is the routed range kernel's (AND, OR,
    NOT, phrases, the scoped AND) or the exact plan's groupBy(doc_id)
    (a Boolean with a phrase child); WAND has none. Narrowing reads the
    rare term's ids on the driver, tombstones drop inside the decode or
    kernel, classic normalizes the k rows after the TakeOrdered (only
    its norms join adds a job)."""
    import lucene_spark.search.executor as ex

    ix, plain, deleted = plain_and_deleted
    assert plain["term"][0] == 1
    assert plain["wand"][0] == 1
    for name in ("and", "or", "not", "phrase", "sloppy", "scoped", "rare_sloppy3"):
        assert plain[name][0] == 2, name
    assert plain["classic_term"][0] <= plain["term"][0] + 1
    assert plain["classic_and"][0] <= plain["and"][0] + 1
    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)
    tiered = {name: _query_jobs(tiered_index, name) for name in SHAPES}
    for name in SHAPES:
        assert deleted[name][0] == plain[name][0], name  # tombstones: +0
        assert tiered[name][0] == plain[name][0], name
    # narrowing engages (the candidate range reaches the scan) and costs
    # no job over the same query left unnarrowed
    for name in NARROWED:
        qstr, mode = SHAPES[name]
        narrowed = SparkSearcher(ix).search(qstr, k=10, score_mode=mode)
        assert "max_docid" in narrowed._jdf.queryExecution().executedPlan().toString()
        monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 10**9)
        assert _query_jobs(ix, name) == deleted[name], name
        monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)


def test_deleted_docs_never_match(plain_and_deleted):
    ix, plain, deleted = plain_and_deleted
    gone = set(ix.tombstones.tolist())
    assert len(gone) == 3
    for name in SHAPES:
        docs = [d for d, _s in deleted[name][1]]
        assert not gone & set(docs), name
        if name.startswith("classic"):
            continue  # the top score, and so every normalized one, can move
        kept = [r for r in plain[name][1] if r[0] not in gone]
        assert deleted[name][1][: len(kept)] == kept[: len(deleted[name][1])], name


def test_one_tombstone_broadcast_per_refresh(plain_and_deleted):
    """Queries on a tombstoned index reuse the index's tombstone
    broadcast, on the range kernel (``'auto'``) and on the exact decode
    (``'off'``) alike. PySpark keeps each broadcast's value in a file
    under the context's temp dir until it is destroyed, so a broadcast
    per query would leave a file per query behind; a refresh destroys
    the old one."""
    ix = plain_and_deleted[0]
    tmp = ix.spark.sparkContext._temp_dir
    searcher = SparkSearcher(ix)
    qstr = "text:spark text:index"
    # start from one live broadcast: the refresh also destroys the
    # candidate sets earlier tests left, which would mask a leak below
    ix.refresh_tombstones()
    searcher.search(qstr, k=10).collect()
    before = len(os.listdir(tmp))
    for pruning in ("auto", "off"):
        for _ in range(10):
            searcher.search(qstr, k=10, pruning=pruning).collect()
        assert len(os.listdir(tmp)) == before, pruning
    ix.refresh_tombstones()
    searcher.search(qstr, k=10, pruning="off").collect()
    assert len(os.listdir(tmp)) == before


def test_one_candidate_broadcast_per_set(plain_and_deleted, monkeypatch):
    """A narrowed exact-plan query reuses the index's broadcast of its
    candidate set, so repeating it leaves the driver's temp dir as the
    first run left it (PySpark keeps a file there per live broadcast)."""
    import lucene_spark.search.executor as ex

    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)
    ix = plain_and_deleted[0]
    tmp = ix.spark.sparkContext._temp_dir
    searcher = SparkSearcher(ix)
    qstr = "+conv_id:conv00000003 +text:spark"
    top = searcher.search(qstr, k=10, score_mode="classic")
    assert "max_docid" in top._jdf.queryExecution().executedPlan().toString()
    top.collect()
    before = len(os.listdir(tmp))
    for _ in range(30):
        searcher.search(qstr, k=10, score_mode="classic").collect()
    assert len(os.listdir(tmp)) == before


PARITY = {
    "term": "text:spark",
    "or": "text:spark text:index",
    "and": "+text:spark +text:index",
    "and_not": "+text:spark +text:index -text:merge",
    "scoped": "+conv_id:conv00000025 +text:spark",
    "phrase": 'text:"spark index"',
    "sloppy2": 'text:"spark index"~2',
    "sloppy3": 'text:"timeout spark spark"~2',
}


@pytest.mark.parametrize("qstr", list(PARITY.values()), ids=list(PARITY))
def test_routed_equals_exact_on_tiers(tiered_index, qstr, monkeypatch):
    """On base + generation + live delta + tombstones, the routed plan
    (WAND for the term, a range kernel for the rest, narrowing forced)
    returns the exact plan's ids and scores."""
    import lucene_spark.search.executor as ex

    monkeypatch.setattr(ex, "RANGE_PRUNE_QUANTUM", 1)
    searcher = SparkSearcher(tiered_index)
    routed, exact = (
        [(r["doc_id"], r["score"]) for r in
         searcher.search(qstr, k=25, pruning=p).collect()]
        for p in ("force", "off")
    )
    assert exact
    assert [d for d, _s in routed] == [d for d, _s in exact]
    assert [s for _d, s in routed] == pytest.approx([s for _d, s in exact], abs=1e-9)


@pytest.mark.parametrize("which", ["plain", "deleted"])
def test_classic_top_k_is_the_head_of_the_full_ranking(
    plain_and_deleted, spark_index, which
):
    """Classic scores with k > 0 are normalized after the TakeOrdered:
    the result is the first k rows of the k = 0 ranking, and the plan
    has no join for the top score. A result_set_limit set is normalized
    after its truncation, also without that join."""
    ix = spark_index if which == "plain" else plain_and_deleted[0]
    searcher = SparkSearcher(ix)
    raised = False
    for qstr in ("text:spark", "+text:spark +text:index", "text:cache text:retry",
                 "+text:spark -text:index", 'text:"spark index"'):
        full = [
            (r["doc_id"], r["score"])
            for r in searcher.search(qstr, k=0, score_mode="classic").collect()
        ]
        raw = searcher.search(qstr, k=1, score_mode="classic", classic_normalize=False)
        raised |= raw.collect()[0]["score"] > 1.0
        for k in (1, 3, 10):
            top = searcher.search(qstr, k=k, score_mode="classic")
            plan = top._jdf.queryExecution().executedPlan().toString()
            assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
            assert [(r["doc_id"], r["score"]) for r in top.collect()] == full[:k], (
                qstr, k,
            )
        limited = [
            searcher.search(qstr, k=k, score_mode="classic", result_set_limit=5)
            for k in (0, 2)
        ]
        for top in limited:
            plan = top._jdf.queryExecution().executedPlan().toString()
            assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
        head, whole = (
            [(r["doc_id"], r["score"]) for r in top.collect()] for top in limited[::-1]
        )
        assert head == whole[:2], qstr
    assert raised  # some top score exceeds 1, so normalization divides
