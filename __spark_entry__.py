"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface (SURVEY.md §2 plus
the training-data ops) as (spark, sf_dir) → DataFrame callables;
``oracle_sql()`` gives each one an exactly-mirrored DuckDB SQL twin.

Parity rules used throughout (so the driver's value-hash comparison
passes):
- tokenization = ``regexp_extract_all(lower(text), '[a-z0-9]+')`` on
  both sides (the gate analyzer: lowercase + alnum word tokenizer);
- every float is produced by the SAME arithmetic expression tree on
  both sides and rounded to 6 decimals at the end (absorbs last-ulp
  libm differences in ln/sqrt);
- every integer column is cast to bigint;
- all hashing is md5-based (identical hex in Spark and DuckDB);
- top-k queries order by (rounded score DESC, doc_id ASC) on both
  sides before LIMIT so the selected sets agree.

The full-text queries run through the real engine: an inverted index is
built (once per sf_dir, cached under /tmp) with the distributed builder
— segments → varbyte posting blocks → merge — and searched with the
DataFrame executor; the oracle recomputes the same result from first
principles in SQL. That makes each ft_* row-hash a round-trip check of
the whole build+search pipeline.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.analysis import Analyzer
from lucene_spark.codec.norms import NORM_TABLE
from lucene_spark.data import transcripts_from_documents
from lucene_spark.index.builder import IndexConfig, SparkIndex, build_index, load_index
from lucene_spark.ops.dedup import (
    LSH_ROWS_PER_BAND,
    MINHASH_P,
    MINHASH_PERMS,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
)
from lucene_spark.ops.multimodal import attach_binary_payload, extract_features
from lucene_spark.ops.similarity import (
    brute_force_topk,
    cosine_pairs,
    ivf_topk,
    ivf_topk_trained,
    train_ivf_centroids,
)
from lucene_spark.ops.textstats import (
    BPE_PATTERN,
    FP_BASE,
    FP_MOD,
    LANG_EN_MARKERS,
    fingerprint,
    lang_id,
    quality_score,
    token_counts,
)
from lucene_spark.search.executor import SparkSearcher, dump_postings, topk_term_pruned
from lucene_spark.search.query import FuzzyQuery, Term

# ---------------------------------------------------------------- config

_VERSION = "r8"  # bump to invalidate cached gate indexes (and on every index-format change)
TOKEN_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"
K1, B = 1.2, 0.75
TOPK = 20

GATE_ANALYZER = Analyzer(
    "[a-zA-Z0-9]+", lowercase=True, stop_words=frozenset(), min_length=0,
    translit=False, name="gate",
)

_IX_CACHE: dict[str, SparkIndex] = {}


def _tune(spark: SparkSession) -> None:
    """Prepare a driver-provided session: right-size the shuffle for the
    small gate corpora, and ship the lucene_spark package to the Python
    workers (addPyFile) — the driver process may import this module from
    any cwd, but executors' Python workers need the package on THEIR
    sys.path for the Arrow kernels to deserialize."""
    try:
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 32:
            spark.conf.set("spark.sql.shuffle.partitions", "16")
    except Exception:
        pass
    if getattr(spark, "_lucene_pyfiles_added", False):
        return
    import hashlib
    import zipfile

    repo = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(repo, "lucene_spark")
    sources = []
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    sources.sort()
    # key the shipped zip by a content hash of the package sources, so an
    # edited kernel can never run against a stale worker-side copy
    h = hashlib.sha256()
    for p in sources:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    zip_path = f"/tmp/lucene_spark_pkg_{h.hexdigest()[:16]}.zip"
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
            for p in sources:
                z.write(p, os.path.relpath(p, repo))
    spark.sparkContext.addPyFile(zip_path)
    spark._lucene_pyfiles_added = True


def _index_for(spark: SparkSession, sf_dir: str) -> SparkIndex:
    """Build (or reopen) the gate index over sf_dir's documents table."""
    _tune(spark)
    key = os.path.abspath(sf_dir)
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = key.strip("/").replace("/", "_")
    d = f"/tmp/lucene_spark_gate_{_VERSION}/{tag}"
    if os.path.exists(os.path.join(d, "stats.json")):
        ix = load_index(spark, d)
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cfg = IndexConfig(
            field_policy={"text": "text", "lang": "keyword", "source": "keyword"},
            analyzer=GATE_ANALYZER,
            seg_size=200,
        )
        ix = build_index(spark, docs, d, cfg, order_cols=["doc_id"])
    _IX_CACHE[key] = ix
    return ix


def _transcripts_index_for(spark: SparkSession, sf_dir: str) -> SparkIndex:
    """Gate index over the transcripts-shaped synthesis (input_hint
    schema): exercises the dense conv-prefix-sum id path and keyword
    fields end-to-end."""
    _tune(spark)
    key = os.path.abspath(sf_dir) + "#tr"
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_") + "_tr"
    d = f"/tmp/lucene_spark_gate_{_VERSION}/{tag}"
    if os.path.exists(os.path.join(d, "stats.json")):
        ix = load_index(spark, d)
    else:
        tr = transcripts_from_documents(spark, sf_dir)
        cfg = IndexConfig(
            field_policy={
                "text": "text", "conv_id": "keyword", "role": "keyword",
                "tool": "keyword",
            },
            analyzer=GATE_ANALYZER,
            seg_size=500,
        )
        ix = build_index(spark, tr, d, cfg, order_cols=["conv_id", "turn_idx"])
    _IX_CACHE[key] = ix
    return ix


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)  # also ships the package zip to Python workers
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ------------------------------------------------------------ SQL pieces

# shared oracle CTEs: token stream with 1-based positions, per-doc
# length, corpus stats (N over ALL docs; avgdl over docs with tokens —
# matching SparkIndex.avg_field_len)
_BASE_CTES = f"""
toks AS (
    SELECT d.doc_id, d.l[g.i] AS term, g.i AS pos
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.l))) AS i) g
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corp AS (
    SELECT (SELECT count(*) FROM documents) AS n,
           (SELECT SUM(dl)::DOUBLE / COUNT(*) FROM dl) AS avgdl
)"""


def _bm25_s(tf: str, df: str, dl: str = "l.dl") -> str:
    """The BM25 expression — identical shape to the executor's column
    arithmetic (similarity.bm25_idf / bm25_partial)."""
    return (
        f"ln(1.0 + (c.n - {df} + 0.5) / ({df} + 0.5)) * "
        f"(({tf} * ({K1} + 1.0)) / "
        f"({tf} + {K1} * ((1.0 - {B}) + {B} * {dl} / c.avgdl)))"
    )


def _term_scores_sql(terms_pred: str) -> str:
    """CTE body: per-(doc, term) BM25 partial scores for terms matching
    ``terms_pred`` (a SQL predicate over column ``term``)."""
    return f"""
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE {terms_pred} GROUP BY doc_id, term
),
dfs AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks WHERE {terms_pred}) GROUP BY term),
scores AS (
    SELECT t.doc_id, t.term, {_bm25_s('t.tf', 'd.df')} AS s
    FROM tf t JOIN dfs d USING (term) JOIN dl l USING (doc_id), corp c
)"""


def _topk_sql(body: str, k: int = TOPK) -> str:
    return (
        f"WITH {_BASE_CTES}, {body} "
        f"SELECT doc_id, score FROM result "
        f"ORDER BY score DESC, doc_id ASC LIMIT {k}"
    )


def _sum_topk_sql(terms_pred: str, required: list[str] | None = None,
                  prohibited: list[str] | None = None,
                  weight: str = "1.0") -> str:
    """Oracle for sum-of-BM25 boolean queries: optional terms matched by
    ``terms_pred``; docs must contain all of ``required`` and none of
    ``prohibited``; per-term score scaled by ``weight`` (SQL over s.term)."""
    req_sql = ""
    if required:
        for rt in required:
            req_sql += (
                f" AND doc_id IN (SELECT doc_id FROM toks WHERE term = '{rt}')"
            )
    pro_sql = ""
    if prohibited:
        quoted = ",".join(f"'{p}'" for p in prohibited)
        pro_sql = (
            f" AND doc_id NOT IN (SELECT doc_id FROM toks WHERE term IN ({quoted}))"
        )
    body = f"""{_term_scores_sql(terms_pred)},
result AS (
    SELECT doc_id, round(sum({weight} * s), 6) AS score
    FROM scores s WHERE 1=1 {req_sql} {pro_sql}
    GROUP BY doc_id
)"""
    return _topk_sql(body)


# --------------------------------------------------------- ft_* queries


def _searched(spark, sf_dir, q, mode="bm25", k=TOPK) -> DataFrame:
    ix = _index_for(spark, sf_dir)
    out = SparkSearcher(ix).search(q, k=0, score_mode=mode, default_field="text")
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def _ft_term(spark, sf_dir):
    return _searched(spark, sf_dir, "text:table")


def _ft_bool_and(spark, sf_dir):
    return _searched(spark, sf_dir, "+table +spark")


def _ft_bool_or(spark, sf_dir):
    return _searched(spark, sf_dir, "table spark vector")


def _ft_bool_not(spark, sf_dir):
    return _searched(spark, sf_dir, "+table -vector")


def _ft_phrase(spark, sf_dir):
    return _searched(spark, sf_dir, '"fast value"')


def _ft_wildcard(spark, sf_dir):
    return _searched(spark, sf_dir, "tab*")


def _ft_range(spark, sf_dir):
    return _searched(spark, sf_dir, "text:[order TO spark]")


def _ft_fuzzy(spark, sf_dir):
    q = FuzzyQuery(Term("vabue", "text"), 0.5, prefix_length=0)
    return _searched(spark, sf_dir, q)


def _ft_classic_term(spark, sf_dir):
    return _searched(spark, sf_dir, "text:table", mode="classic")


def _ft_transcripts_bool(spark, sf_dir):
    """Field-qualified boolean over the transcripts index:
    +text:table +role:user — text scoring plus a keyword-field term."""
    ix = _transcripts_index_for(spark, sf_dir)
    out = SparkSearcher(ix).search(
        "+text:table +role:user", k=0, score_mode="bm25"
    )
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


def _ft_classic_bool(spark, sf_dir):
    return _searched(spark, sf_dir, "+table +spark", mode="classic")


def _ft_phrase_scoped(spark, sf_dir):
    """'+conv_id:conv00000001 +text:"fast value"' over the transcripts
    index with RANGE_PRUNE_QUANTUM forced to 1, so the round-4
    position-aware doc_filter path engages at gate scale (the rare
    required conv term's doc ids row-filter the phrase's position
    decode inside the kernel; naturally the df·quantum·4 ≤ N threshold
    needs a much larger corpus). The conv is chosen to contain the
    phrase at sf0.001 and sf0.01 so the gate is non-vacuous; full model
    parity of this path is also pytest-covered
    (tests/test_round4.py::TestPositionAwareDocFilter)."""
    import lucene_spark.search.executor as ex

    ix = _transcripts_index_for(spark, sf_dir)
    prev = ex.RANGE_PRUNE_QUANTUM
    ex.RANGE_PRUNE_QUANTUM = 1
    try:
        out = SparkSearcher(ix).search(
            '+conv_id:conv00000001 +text:"fast value"', k=0,
            score_mode="bm25",
        )
    finally:
        ex.RANGE_PRUNE_QUANTUM = prev
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


def _ft_phrase_sloppy(spark, sf_dir):
    """Sloppy phrase '"fast value"~2' — full oracle check: for TWO-slot
    phrases the reference's candidate queue (Phrase.php:425-491,
    first-pass mutation + candidate-multiplication quirks included)
    reduces to a closed form (fuzz-verified against the shared
    sloppy_phrase_freq over thousands of random position sets):
      freq = Σ_anchors w_i · ( [d_i1≤slop]/(d_i1+1)
                               + Σ_r 2^(r−1)/(d_r+1) )
    where w_i = 2^max(i−2,0) is the i-th anchor's queue multiplicity,
    d = |pos_b − pos_a − Δ|, and r ranks the in-window LATER b
    positions per anchor — SQL-expressible with two window functions."""
    return _searched(spark, sf_dir, '"fast value"~2')


def _phrase_cogroup_call(spark, sf_dir, qs: str):
    """Shared driver for the phrase-cogroup gates: run ``qs`` through
    :func:`topk_phrase_cogrouped` — the co-grouped range kernel that is
    the hot-hot phrase plan at scale (positions shuffled as varbyte
    binaries, freq+score+top-k per range in one applyInPandas). Called
    DIRECTLY (not via routing) so the kernel itself is hash-verified
    against the DuckDB oracle."""
    from lucene_spark.search.executor import topk_phrase_cogrouped
    from lucene_spark.search.parser import parse_query

    ix = _index_for(spark, sf_dir)
    q = parse_query(qs).rewrite(ix).optimize(ix)

    def rows_fn(m):
        out, _ = topk_phrase_cogrouped(ix, q, k=m)
        return out.collect()

    return _rounded_topk(spark, rows_fn)


def _ft_phrase_cogroup(spark, sf_dir):
    """'"fast value"' through the cogroup phrase kernel — same oracle
    as ft_phrase."""
    return _phrase_cogroup_call(spark, sf_dir, '"fast value"')


def _ft_phrase_sloppy_cogroup(spark, sf_dir):
    """'"fast value"~2' through the cogroup phrase kernel — same
    (closed-form queue) oracle as ft_phrase_sloppy."""
    return _phrase_cogroup_call(spark, sf_dir, '"fast value"~2')


def _rounded_topk(spark, rows_fn, k: int = TOPK) -> DataFrame:
    """Re-rank a full-precision candidate margin on 6-decimal ROUNDED
    scores (the oracle's ordering), WIDENING the margin until the
    rounded kth score strictly exceeds the last candidate's rounded
    score or the engine runs out of candidates. A fixed margin can
    flake when more than margin docs share one rounded score spanning
    the k cut; the exit test is sound because rounding is monotone —
    every unfetched doc's full-precision score is ≤ the last fetched
    one's, so its rounded score is ≤ ranked[-1] < ranked[k-1]."""
    m = 5 * k
    while True:
        rows = rows_fn(m)
        ranked = sorted(
            ((int(r["doc_id"]), round(float(r["score"]), 6)) for r in rows),
            key=lambda x: (-x[1], x[0]),
        )
        if (
            len(rows) < m
            or len(ranked) <= k
            or ranked[k - 1][1] > ranked[-1][1]
        ):
            return spark.createDataFrame(
                ranked[:k], "doc_id long, score double"
            )
        m *= 4


def _ft_wand(spark, sf_dir):
    """Distributed block-max single-term top-k. The pruned path is
    provably exact, so it carries the SAME oracle as ft_term_topk —
    the hash match is the exactness proof the driver can check."""
    ix = _index_for(spark, sf_dir)
    return _rounded_topk(
        spark,
        lambda m: topk_term_pruned(ix, Term("table", "text"), k=m)[0],
    )


def _forced(spark, sf_dir, qs: str) -> DataFrame:
    """``qs`` through search(..., pruning='force'): the routed pruned
    plan with the df and corpus-size thresholds ignored — for every
    multi-term shape that is the co-grouped range kernel
    (topk_and_cogrouped: one binary-level shuffle grouped by
    BLOCK_DOC_RANGE doc range, per-range decode + intersect + score +
    top-k inside applyInPandas). At sf0.01 'auto' keeps the exact plan,
    so these rows are the only end-to-end oracle check the kernel gets.
    The kernel is exact, so it carries the exact query's oracle."""
    ix = _index_for(spark, sf_dir)
    searcher = SparkSearcher(ix)
    return _rounded_topk(
        spark,
        lambda m: searcher.search(
            qs, k=m, score_mode="bm25", default_field="text",
            pruning="force",
        ).collect(),
    )


def _ft_and_default(spark, sf_dir):
    """'table spark' parsed with default_operator=AND — bare terms
    required (QueryParser::setDefaultOperator(B_AND)); same oracle as
    the explicit '+table +spark'."""
    ix = _index_for(spark, sf_dir)
    out = SparkSearcher(ix).search(
        "table spark", k=0, score_mode="bm25", default_field="text",
        default_operator="AND",
    )
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


PRESORT_LIMIT = 12


def _ft_presort_limit(spark, sf_dir):
    """Classic-mode search with the reference's pre-sort resultSetLimit
    quirk (src/Index.php:705-735): matched docs truncated in docId
    order BEFORE top-score normalization and the score sort."""
    ix = _index_for(spark, sf_dir)
    out = SparkSearcher(ix).search(
        "text:table", k=0, score_mode="classic",
        result_set_limit=PRESORT_LIMIT,
    )
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


def _boosted_index_for(spark, sf_dir) -> SparkIndex:
    """Gate index with index-time boosts: per-doc boost derived from
    doc_id (1 + (doc_id % 3)/2 → 1.0/1.5/2.0) and field boost 1.25 on
    text — folded into the norm byte like DocumentWriter.php:106-109."""
    _tune(spark)
    key = os.path.abspath(sf_dir) + "#boost"
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_") + "_boost"
    d = f"/tmp/lucene_spark_gate_{_VERSION}/{tag}"
    if os.path.exists(os.path.join(d, "stats.json")):
        ix = load_index(spark, d)
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text",
            (1.0 + (F.col("doc_id") % 3) / 2.0).alias("w"),
        )
        cfg = IndexConfig(
            field_policy={"text": "text"},
            analyzer=GATE_ANALYZER,
            seg_size=200,
            field_boosts={"text": 1.25},
            doc_boost_col="w",
        )
        ix = build_index(spark, docs, d, cfg, order_cols=["doc_id"])
    _IX_CACHE[key] = ix
    return ix


def _ft_boosted_classic(spark, sf_dir):
    """Classic single-term scoring over the boosted index — norm byte =
    encode(lengthNorm · docBoost · fieldBoost)."""
    ix = _boosted_index_for(spark, sf_dir)
    out = SparkSearcher(ix).search(
        "text:table", k=0, score_mode="classic"
    )
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


def _wide_index_for(spark, sf_dir) -> SparkIndex:
    """Gate index whose text carries 3 unique synthetic terms per doc
    (w%05d of 3·doc_id, +1, +2) — >1500 distinct dictionary terms at
    sf0.01, past the 1024-term expansion window, to exercise paginated
    dictionary scans end-to-end."""
    _tune(spark)
    key = os.path.abspath(sf_dir) + "#wide"
    if key in _IX_CACHE:
        return _IX_CACHE[key]
    tag = os.path.abspath(sf_dir).strip("/").replace("/", "_") + "_wide"
    d = f"/tmp/lucene_spark_gate_{_VERSION}/{tag}"
    if os.path.exists(os.path.join(d, "stats.json")):
        ix = load_index(spark, d)
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.concat_ws(
                " ",
                F.col("text"),
                F.format_string("w%05d", F.col("doc_id") * 3),
                F.format_string("w%05d", F.col("doc_id") * 3 + 1),
                F.format_string("w%05d", F.col("doc_id") * 3 + 2),
            ).alias("text"),
        )
        cfg = IndexConfig(
            field_policy={"text": "text"}, analyzer=GATE_ANALYZER, seg_size=200
        )
        ix = build_index(spark, docs, d, cfg, order_cols=["doc_id"])
    _IX_CACHE[key] = ix
    return ix


def _ft_fuzzy_widevocab(spark, sf_dir):
    """Fuzzy 'w00123'~0.5 with prefix_length=0 over the wide-vocab
    index: a full-dictionary expansion (no prefix to bound the scan).
    Round 4 runs the levenshtein similarity JVM-side inside the
    term_dict scan (SparkIndex.match_terms_fuzzy); the driver collects
    only the 332 matching terms, never dictionary pages — the 100M-term
    scale path for the reference's Fuzzy.php:147-298 semantics."""
    ix = _wide_index_for(spark, sf_dir)
    q = FuzzyQuery(Term("w00123", "text"), 0.5, prefix_length=0)
    out = SparkSearcher(ix).search(q, k=0, score_mode="bm25", default_field="text")
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


def _ft_wildcard_widevocab(spark, sf_dir):
    """Wildcard 'w0*9' over the wide-vocab index: the dictionary range
    under prefix 'w0' holds ~1500 terms (> the old 1026-row scan
    window) while matches stay under the 1024 cap — a correct engine
    must paginate the pushed-down dictionary scan to find matches past
    the window (reference scans the whole range, Wildcard.php:91-178)."""
    from lucene_spark.search.query import WildcardQuery

    ix = _wide_index_for(spark, sf_dir)
    old = WildcardQuery.min_prefix_length
    WildcardQuery.min_prefix_length = 2
    try:
        out = SparkSearcher(ix).search(
            "w0*9", k=0, score_mode="bm25", default_field="text"
        )
    finally:
        WildcardQuery.min_prefix_length = old
    out = out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.round("score", 6).alias("score"),
    )
    return out.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(TOPK)


_FT_TERM_SQL = _sum_topk_sql("term = 'table'")
_FT_AND_SQL = _sum_topk_sql(
    "term IN ('table','spark')", required=["table", "spark"]
)
_FT_OR_SQL = _sum_topk_sql("term IN ('table','spark','vector')")
_FT_NOT_SQL = _sum_topk_sql(
    "term = 'table'", required=["table"], prohibited=["vector"]
)
_FT_WAND_AND_SQL = _sum_topk_sql(
    "term IN ('table','spark')",
    required=["table", "spark"],
    prohibited=["vector"],
)
_FT_WILDCARD_SQL = _sum_topk_sql("term LIKE 'tab%'")
_FT_RANGE_SQL = _sum_topk_sql("term >= 'order' AND term <= 'spark'")

# fuzzy: per-term boost from Levenshtein similarity, prefix_length=0,
# min_similarity=0.5 → boost=(sim−0.5)·2; terms with sim>0.5 only
# (mirrors FuzzyQuery.rewrite + BooleanQuery bm25 sum).
_FT_FUZZY_SQL = f"""
WITH {_BASE_CTES},
cand AS (
    SELECT term,
           1.0 - levenshtein('vabue', term) / least(5, len(term)) AS sim
    FROM (SELECT DISTINCT term FROM toks)
),
fz0 AS (
    SELECT term, (sim - 0.5) * (1.0 / (1.0 - 0.5)) AS boost
    FROM cand WHERE sim > 0.5
),
fz AS (  -- engine quirk: a single fuzzy match rewrites to a plain
         -- TermQuery, dropping the similarity boost (Fuzzy.php single-
         -- match path)
    SELECT term,
           CASE WHEN (SELECT count(*) FROM fz0) = 1 THEN 1.0 ELSE boost END AS boost
    FROM fz0
),
{_term_scores_sql("term IN (SELECT term FROM fz)")},
result AS (
    SELECT s.doc_id, round(sum(f.boost * s.s), 6) AS score
    FROM scores s JOIN fz f USING (term) GROUP BY s.doc_id
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

_FT_PHRASE_SQL = f"""
WITH {_BASE_CTES},
ph AS (
    SELECT a.doc_id, count(*) AS freq
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'fast' AND b.term = 'value'
    GROUP BY a.doc_id
),
dfm AS (
    SELECT least(
        (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'fast'),
        (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'value')) AS df
),
result AS (
    SELECT p.doc_id,
           round({_bm25_s('p.freq', 'm.df')}, 6) AS score
    FROM ph p JOIN dl l USING (doc_id), dfm m, corp c
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""

# sloppy two-slot phrase: closed form of the reference's candidate
# queue (see _ft_phrase_sloppy docstring) — anchor multiplicity
# 2^max(rn_a−2,0), later-in-window-b multiplicity 2^(rank−1), each pair
# contributing mult/(d+1) with d = |pos_b − pos_a − 1| ≤ slop(=2).
_FT_SLOPPY_SQL = f"""
WITH {_BASE_CTES},
ap AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn_a
    FROM toks WHERE term = 'fast'
),
bp AS (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn_b
    FROM toks WHERE term = 'value'
),
pr AS (
    SELECT a.doc_id, a.pos AS apos, a.rn_a, b.pos AS bpos, b.rn_b,
           abs(b.pos - a.pos - 1) AS d
    FROM ap a JOIN bp b USING (doc_id)
),
m1 AS (SELECT doc_id, apos, rn_a, d, 1.0 AS mult FROM pr WHERE rn_b = 1 AND d <= 2),
m2 AS (
    SELECT doc_id, apos, rn_a, d,
           pow(2.0, row_number() OVER (PARTITION BY doc_id, apos ORDER BY bpos) - 1) AS mult
    FROM pr WHERE rn_b >= 2 AND d <= 2
),
ph AS (
    SELECT doc_id,
           sum(pow(2.0, greatest(rn_a - 2, 0)) * mult / (d + 1)) AS freq
    FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2)
    GROUP BY doc_id
),
dfm AS (
    SELECT least(
        (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'fast'),
        (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'value')) AS df
),
result AS (
    SELECT p.doc_id,
           round({_bm25_s('p.freq', 'm.df')}, 6) AS score
    FROM ph p JOIN dl l USING (doc_id), dfm m, corp c
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# wide-vocab wildcard: same engine semantics as ft_wildcard but over the
# derived corpus with 3 unique w-terms per doc; pattern w0*9 ≙ LIKE 'w0%9'
_FT_WIDE_SQL = f"""
WITH wd AS (
    SELECT doc_id,
           concat(text, ' ', printf('w%05d', doc_id * 3),
                        ' ', printf('w%05d', doc_id * 3 + 1),
                        ' ', printf('w%05d', doc_id * 3 + 2)) AS text
    FROM documents
),
toks AS (
    SELECT d.doc_id, d.l[g.i] AS term
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM wd) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.l))) AS i) g
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corp AS (
    SELECT (SELECT count(*) FROM wd) AS n,
           (SELECT SUM(dl)::DOUBLE / COUNT(*) FROM dl) AS avgdl
),
{_term_scores_sql("term LIKE 'w0%9'")},
result AS (
    SELECT doc_id, round(sum(s), 6) AS score FROM scores GROUP BY doc_id
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# wide-vocab fuzzy, prefix_length=0: the round-4 distributed-expansion
# gate — the whole ~1.5k-term dictionary is levenshtein-filtered
# JVM-side (index/expansion.py), never paged through the driver.
# Query 'w00123'~0.5 matches 332 w-terms (digit distance <= 2).
_FT_FUZZY_WIDE_SQL = f"""
WITH wd AS (
    SELECT doc_id,
           concat(text, ' ', printf('w%05d', doc_id * 3),
                        ' ', printf('w%05d', doc_id * 3 + 1),
                        ' ', printf('w%05d', doc_id * 3 + 2)) AS text
    FROM documents
),
toks AS (
    SELECT d.doc_id, d.l[g.i] AS term
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM wd) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.l))) AS i) g
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corp AS (
    SELECT (SELECT count(*) FROM wd) AS n,
           (SELECT SUM(dl)::DOUBLE / COUNT(*) FROM dl) AS avgdl
),
cand AS (
    SELECT term,
           1.0 - levenshtein('w00123', term) / least(6, len(term)) AS sim
    FROM (SELECT DISTINCT term FROM toks)
),
fz0 AS (
    SELECT term, (sim - 0.5) * (1.0 / (1.0 - 0.5)) AS boost
    FROM cand WHERE sim > 0.5
),
fz AS (
    SELECT term,
           CASE WHEN (SELECT count(*) FROM fz0) = 1 THEN 1.0 ELSE boost END AS boost
    FROM fz0
),
{_term_scores_sql("term IN (SELECT term FROM fz)")},
result AS (
    SELECT s.doc_id, round(sum(f.boost * s.s), 6) AS score
    FROM scores s JOIN fz f USING (term) GROUP BY s.doc_id
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# classic TF-IDF single term: sqrt(tf)·idf·decodeNorm(encodeNorm(1/√dl))
# with the 256-entry byte codebook, then top-score normalization when
# max>1 (reference quirks §4.3). The codebook is embedded as literals.
_NORM_TAB_VALUES = ",".join(f"({b},{float(NORM_TABLE[b])!r})" for b in range(256))
_FT_CLASSIC_SQL = f"""
WITH {_BASE_CTES},
norm_tab(b, v) AS (VALUES {_NORM_TAB_VALUES}),
x AS (SELECT doc_id, 1.0 / sqrt(dl) AS x FROM dl),
hi AS (
    SELECT x.doc_id, x.x, max(t.b) AS bhi
    FROM x JOIN norm_tab t ON t.v <= x.x GROUP BY x.doc_id, x.x
),
enc AS (
    SELECT h.doc_id,
           CASE WHEN h.bhi < 255 AND (h.x - tl.v) > (tu.v - h.x)
                THEN h.bhi + 1 ELSE h.bhi END AS nb
    FROM hi h
    JOIN norm_tab tl ON tl.b = h.bhi
    LEFT JOIN norm_tab tu ON tu.b = h.bhi + 1
),
nrm AS (SELECT e.doc_id, t.v AS nv FROM enc e JOIN norm_tab t ON t.b = e.nb),
tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'table' GROUP BY doc_id),
dfs AS (SELECT count(*) AS df FROM tf),
raw AS (
    SELECT t.doc_id,
           sqrt(t.tf) * (ln(c.n / (d.df + 1.0)) + 1.0) * n.nv AS s
    FROM tf t JOIN nrm n USING (doc_id), dfs d, corp c
),
result AS (
    SELECT doc_id,
           round(CASE WHEN (SELECT max(s) FROM raw) > 1.0
                      THEN s / (SELECT max(s) FROM raw) ELSE s END, 6) AS score
    FROM raw WHERE s != 0
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# pre-sort resultSetLimit quirk: same classic chain, but the matched
# set is truncated to the first PRESORT_LIMIT hits in docId order
# BEFORE top-score normalization and the score sort (Index.php:705-735)
_FT_PRESORT_SQL = f"""
WITH {_BASE_CTES},
norm_tab(b, v) AS (VALUES {_NORM_TAB_VALUES}),
x AS (SELECT doc_id, 1.0 / sqrt(dl) AS x FROM dl),
hi AS (
    SELECT x.doc_id, x.x, max(t.b) AS bhi
    FROM x JOIN norm_tab t ON t.v <= x.x GROUP BY x.doc_id, x.x
),
enc AS (
    SELECT h.doc_id,
           CASE WHEN h.bhi < 255 AND (h.x - tl.v) > (tu.v - h.x)
                THEN h.bhi + 1 ELSE h.bhi END AS nb
    FROM hi h
    JOIN norm_tab tl ON tl.b = h.bhi
    LEFT JOIN norm_tab tu ON tu.b = h.bhi + 1
),
nrm AS (SELECT e.doc_id, t.v AS nv FROM enc e JOIN norm_tab t ON t.b = e.nb),
tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'table' GROUP BY doc_id),
dfs AS (SELECT count(*) AS df FROM tf),
raw AS (
    SELECT t.doc_id,
           sqrt(t.tf) * (ln(c.n / (d.df + 1.0)) + 1.0) * n.nv AS s
    FROM tf t JOIN nrm n USING (doc_id), dfs d, corp c
),
lim AS (SELECT * FROM raw WHERE s != 0 ORDER BY doc_id LIMIT 12),
result AS (
    SELECT doc_id,
           round(CASE WHEN (SELECT max(s) FROM lim) > 1.0
                      THEN s / (SELECT max(s) FROM lim) ELSE s END, 6) AS score
    FROM lim
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# index-time boosts: norm byte quantizes lengthNorm·docBoost·fieldBoost
# with docBoost = 1 + (doc_id % 3)/2 and fieldBoost(text) = 1.25 —
# mirroring _boosted_index_for exactly, expression shape included
_FT_BOOSTED_SQL = f"""
WITH {_BASE_CTES},
norm_tab(b, v) AS (VALUES {_NORM_TAB_VALUES}),
x AS (
    SELECT doc_id,
           ((1.0 / sqrt(dl)) * (1.0 + (doc_id % 3) / 2.0)) * 1.25 AS x
    FROM dl
),
hi AS (
    SELECT x.doc_id, x.x, max(t.b) AS bhi
    FROM x JOIN norm_tab t ON t.v <= x.x GROUP BY x.doc_id, x.x
),
enc AS (
    SELECT h.doc_id,
           CASE WHEN h.bhi < 255 AND (h.x - tl.v) > (tu.v - h.x)
                THEN h.bhi + 1 ELSE h.bhi END AS nb
    FROM hi h
    JOIN norm_tab tl ON tl.b = h.bhi
    LEFT JOIN norm_tab tu ON tu.b = h.bhi + 1
),
nrm AS (SELECT e.doc_id, t.v AS nv FROM enc e JOIN norm_tab t ON t.b = e.nb),
tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'table' GROUP BY doc_id),
dfs AS (SELECT count(*) AS df FROM tf),
raw AS (
    SELECT t.doc_id,
           sqrt(t.tf) * (ln(c.n / (d.df + 1.0)) + 1.0) * n.nv AS s
    FROM tf t JOIN nrm n USING (doc_id), dfs d, corp c
),
result AS (
    SELECT doc_id,
           round(CASE WHEN (SELECT max(s) FROM raw) > 1.0
                      THEN s / (SELECT max(s) FROM raw) ELSE s END, 6) AS score
    FROM raw WHERE s != 0
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# classic conjunction: queryNorm = 1/sqrt(Σ idf²) over the rewritten
# terms, per-term score = sqrt(tf)·idf²·queryNorm·decodedNorm, coord=1
# for a conjunction, then top-score normalization — full W1-W8 chain in
# SQL (the byte-norm CTEs are shared with ft_classic_term).
_FT_CLASSIC_BOOL_SQL = f"""
WITH {_BASE_CTES},
norm_tab(b, v) AS (VALUES {_NORM_TAB_VALUES}),
x AS (SELECT doc_id, 1.0 / sqrt(dl) AS x FROM dl),
hi AS (
    SELECT x.doc_id, x.x, max(t.b) AS bhi
    FROM x JOIN norm_tab t ON t.v <= x.x GROUP BY x.doc_id, x.x
),
enc AS (
    SELECT h.doc_id,
           CASE WHEN h.bhi < 255 AND (h.x - tl.v) > (tu.v - h.x)
                THEN h.bhi + 1 ELSE h.bhi END AS nb
    FROM hi h
    JOIN norm_tab tl ON tl.b = h.bhi
    LEFT JOIN norm_tab tu ON tu.b = h.bhi + 1
),
nrm AS (SELECT e.doc_id, t.v AS nv FROM enc e JOIN norm_tab t ON t.b = e.nb),
tf2 AS (
    SELECT doc_id, term, count(*) AS tf FROM toks
    WHERE term IN ('table', 'spark') GROUP BY doc_id, term
),
dfs2 AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM tf2) GROUP BY term),
idfs AS (SELECT term, ln(c.n / (df + 1.0)) + 1.0 AS idf FROM dfs2, corp c),
qn AS (SELECT 1.0 / sqrt(sum(idf * idf)) AS qn FROM idfs),
raw AS (
    SELECT t.doc_id,
           sum(sqrt(t.tf) * (i.idf * 1.0 * q.qn * i.idf) * n.nv) AS s
    FROM tf2 t JOIN idfs i USING (term) JOIN nrm n USING (doc_id), qn q
    GROUP BY t.doc_id HAVING count(*) = 2
),
result AS (
    SELECT doc_id,
           round(CASE WHEN (SELECT max(s) FROM raw) > 1.0
                      THEN s / (SELECT max(s) FROM raw) ELSE s END, 6) AS score
    FROM raw WHERE s != 0
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# transcripts oracle: rebuild the synthesis in SQL (same as tr_turns),
# assign doc ids by row_number over (conv_id, turn_idx), then BM25 for
# text:table plus the keyword-term contribution of role:user (engine
# semantics: conjunction score = Σ per-term BM25; keyword fields have
# tf=1, dl=1, avgdl=1 → partial = 1 → contribution = idf exactly).
_FT_TRANSCRIPTS_SQL = f"""
WITH d AS (
    SELECT doc_id, doc_id // 16 AS conv, {TOKEN_SQL} AS l,
           greatest(1, CAST(ceil(len({TOKEN_SQL}) / 24.0) AS INT)) AS n_turns
    FROM documents
),
based AS (
    SELECT *, coalesce(sum(n_turns) OVER (
        PARTITION BY conv ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS turn_base
    FROM d
),
turns AS (
    SELECT printf('conv%08d', b.conv) AS conv_id,
           b.turn_base + g.i AS turn_idx,
           CASE WHEN (b.turn_base + g.i) % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           array_to_string(b.l[(g.i * 24 + 1):(g.i * 24 + 24)], ' ') AS text
    FROM based b, LATERAL (SELECT unnest(generate_series(0, b.n_turns - 1)) AS i) g
),
ids AS (
    SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS doc_id, *
    FROM turns
),
toks AS (
    SELECT t.doc_id, t.l[g.i] AS term
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM ids) t,
         LATERAL (SELECT unnest(generate_series(1, len(t.l))) AS i) g
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corp AS (
    SELECT (SELECT count(*) FROM ids) AS n,
           (SELECT SUM(dl)::DOUBLE / COUNT(*) FROM dl) AS avgdl
),
rs AS (SELECT count(*) AS df FROM ids WHERE role = 'user'),
tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'table' GROUP BY doc_id),
dfs AS (SELECT count(*) AS df FROM tf),
result AS (
    SELECT t.doc_id,
           round(
               ln(1.0 + (c.n - x.df + 0.5) / (x.df + 0.5)) *
               ((t.tf * ({K1} + 1.0)) / (t.tf + {K1} * ((1.0 - {B}) + {B} * l.dl / c.avgdl)))
               +
               ln(1.0 + (c.n - r.df + 0.5) / (r.df + 0.5)) *
               ((1 * ({K1} + 1.0)) / (1 + {K1} * ((1.0 - {B}) + {B} * 1.0 / 1.0)))
           , 6) AS score
    FROM tf t
    JOIN ids i ON i.doc_id = t.doc_id AND i.role = 'user'
    JOIN dl l ON l.doc_id = t.doc_id, corp c, dfs x, rs r
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# scoped-phrase oracle: same transcripts synthesis, then conjunction
# score = exact-phrase BM25 (freq = adjacent-pair count, df = min of
# the two term dfs) + the conv_id keyword-term contribution (tf=1,
# dl=1, avgdl=1 → contribution = idf), restricted to the conv's docs.
_FT_PHRASE_SCOPED_SQL = f"""
WITH d AS (
    SELECT doc_id, doc_id // 16 AS conv, {TOKEN_SQL} AS l,
           greatest(1, CAST(ceil(len({TOKEN_SQL}) / 24.0) AS INT)) AS n_turns
    FROM documents
),
based AS (
    SELECT *, coalesce(sum(n_turns) OVER (
        PARTITION BY conv ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS turn_base
    FROM d
),
turns AS (
    SELECT printf('conv%08d', b.conv) AS conv_id,
           b.turn_base + g.i AS turn_idx,
           array_to_string(b.l[(g.i * 24 + 1):(g.i * 24 + 24)], ' ') AS text
    FROM based b, LATERAL (SELECT unnest(generate_series(0, b.n_turns - 1)) AS i) g
),
ids AS (
    SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS doc_id, *
    FROM turns
),
toks AS (
    SELECT t.doc_id, t.l[g.i] AS term, g.i AS pos
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM ids) t,
         LATERAL (SELECT unnest(generate_series(1, len(t.l))) AS i) g
),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corp AS (
    SELECT (SELECT count(*) FROM ids) AS n,
           (SELECT SUM(dl)::DOUBLE / COUNT(*) FROM dl) AS avgdl
),
cv AS (SELECT count(*) AS df FROM ids WHERE conv_id = 'conv00000001'),
ph AS (
    SELECT a.doc_id, count(*) AS freq
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = 'fast' AND b.term = 'value'
    GROUP BY a.doc_id
),
dfm AS (
    SELECT least(
        (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'fast'),
        (SELECT count(DISTINCT doc_id) FROM toks WHERE term = 'value')) AS df
),
result AS (
    SELECT p.doc_id,
           round(
               {_bm25_s('p.freq', 'm.df')}
               +
               ln(1.0 + (c.n - v.df + 0.5) / (v.df + 0.5)) *
               ((1 * ({K1} + 1.0)) / (1 + {K1} * ((1.0 - {B}) + {B} * 1.0 / 1.0)))
           , 6) AS score
    FROM ph p
    JOIN ids i ON i.doc_id = p.doc_id AND i.conv_id = 'conv00000001'
    JOIN dl l ON l.doc_id = p.doc_id, corp c, dfm m, cv v
)
SELECT doc_id, score FROM result ORDER BY score DESC, doc_id ASC LIMIT {TOPK}
"""


# --------------------------------------------------------- ix_* queries


def _ix_postings(spark, sf_dir):
    ix = _index_for(spark, sf_dir)
    return dump_postings(ix, "text").select(
        "term",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
    )


_IX_POSTINGS_SQL = f"""
WITH {_BASE_CTES}
SELECT t.term, t.doc_id, count(*)::BIGINT AS tf, any_value(l.dl)::BIGINT AS dl
FROM toks t JOIN dl l USING (doc_id)
GROUP BY t.term, t.doc_id
"""


def _ix_term_dict(spark, sf_dir):
    ix = _index_for(spark, sf_dir)
    return ix.term_dict.where(F.col("field") == "text").select(
        "term",
        F.col("df").cast("long").alias("df"),
        F.col("cf").cast("long").alias("cf"),
    )


_IX_TERM_DICT_SQL = f"""
WITH {_BASE_CTES}
SELECT term, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS cf
FROM toks GROUP BY term
"""


def _ix_doc_lengths(spark, sf_dir):
    ix = _index_for(spark, sf_dir)
    return ix.docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("len_text").cast("long").alias("dl"),
    )


_IX_DOC_LENGTHS_SQL = f"""
WITH {_BASE_CTES}
SELECT d.doc_id, coalesce(l.dl, 0)::BIGINT AS dl
FROM documents d LEFT JOIN dl l USING (doc_id)
"""


def _ix_stats(spark, sf_dir):
    ix = _index_for(spark, sf_dir)
    fs = ix.stats["fields"]["text"]
    return spark.createDataFrame(
        [
            (
                int(ix.n_docs),
                int(fs["sum_len"]),
                int(fs["n_docs_with_field"]),
                round(ix.avg_field_len("text"), 6),
            )
        ],
        "n_docs long, sum_len long, n_docs_with_field long, avgdl double",
    )


_IX_STATS_SQL = f"""
WITH {_BASE_CTES}
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT sum(dl) FROM dl)::BIGINT AS sum_len,
       (SELECT count(*) FROM dl)::BIGINT AS n_docs_with_field,
       round((SELECT SUM(dl)::DOUBLE / COUNT(*) FROM dl), 6) AS avgdl
"""


# --------------------------------------------------------- dd_* queries


def _dd_exact(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir), "doc_id", "text").select(
        "fp", F.col("keep_id").cast("long").alias("keep_id"),
        F.col("n_dups").cast("long").alias("n_dups"),
    )


_DD_EXACT_SQL = f"""
SELECT md5(array_to_string(list_sort(list_distinct({TOKEN_SQL})), ' ')) AS fp,
       min(doc_id)::BIGINT AS keep_id, count(*)::BIGINT AS n_dups
FROM documents GROUP BY 1
"""

# minhash: shared shingle/hash/permutation SQL (constants from ops.dedup)
_SHINGLE_SQL = f"""
sh AS (
    SELECT DISTINCT doc_id AS id,
           concat_ws(' ', l[i], l[i+1], l[i+2]) AS shingle
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.l) - 2)) AS i) g
),
hs AS (
    SELECT id, shingle,
           CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 2147483648 AS h
    FROM sh
)"""
_MINHASH_COLS = ",\n       ".join(
    f"min(({a} * h + {b}) % {MINHASH_P})::BIGINT AS mh_{j}"
    for j, (a, b) in enumerate(MINHASH_PERMS)
)
_SIG_SQL = f"sig AS (SELECT id, {_MINHASH_COLS} FROM hs GROUP BY id)"


def _dd_minhash_sig(spark, sf_dir):
    sig = minhash_signature(_docs(spark, sf_dir), "doc_id", "text")
    return sig.select(
        F.col("id").cast("long").alias("id"),
        *[F.col(f"mh_{j}").cast("long").alias(f"mh_{j}") for j in range(len(MINHASH_PERMS))],
    )


_DD_MINHASH_SIG_SQL = f"""
WITH {_SHINGLE_SQL}, {_SIG_SQL}
SELECT id::BIGINT AS id, {", ".join(f"mh_{j}" for j in range(len(MINHASH_PERMS)))}
FROM sig
"""

_N_BANDS = len(MINHASH_PERMS) // LSH_ROWS_PER_BAND
_BAND_ROWS = "\n    UNION ALL\n".join(
    "    SELECT id, {bi} AS band, md5(concat_ws(',', {cols})) AS key FROM sig".format(
        bi=bi,
        cols=", ".join(
            f"mh_{bi * LSH_ROWS_PER_BAND + r}" for r in range(LSH_ROWS_PER_BAND)
        ),
    )
    for bi in range(_N_BANDS)
)


def _dd_minhash_pairs(spark, sf_dir):
    out = minhash_lsh_pairs(_docs(spark, sf_dir), "doc_id", "text", threshold=0.2)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_DD_MINHASH_PAIRS_SQL = f"""
WITH {_SHINGLE_SQL}, {_SIG_SQL},
bands AS (
{_BAND_ROWS}
),
cand AS (
    SELECT DISTINCT x.id AS id_a, y.id AS id_b
    FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.id < y.id
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
common AS (
    SELECT c.id_a, c.id_b, count(*) AS cm
    FROM cand c
    JOIN sh a ON a.id = c.id_a
    JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
    GROUP BY c.id_a, c.id_b
)
SELECT m.id_a::BIGINT AS id_a, m.id_b::BIGINT AS id_b,
       round(m.cm / (sa.sz + sb.sz - m.cm), 6) AS jaccard
FROM common m
JOIN sizes sa ON sa.id = m.id_a
JOIN sizes sb ON sb.id = m.id_b
WHERE m.cm / (sa.sz + sb.sz - m.cm) >= 0.2
"""


def _dd_ngram_jaccard(spark, sf_dir):
    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", threshold=0.5, shingle_n=2
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_DD_NGRAM_SQL = f"""
WITH sh2 AS (
    SELECT DISTINCT doc_id AS id, concat_ws(' ', l[i], l[i+1]) AS shingle
    FROM (SELECT doc_id, {TOKEN_SQL} AS l FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.l) - 1)) AS i) g
),
sizes AS (SELECT id, count(*) AS sz FROM sh2 GROUP BY id),
common AS (
    SELECT a.id AS id_a, b.id AS id_b, count(*) AS cm
    FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY a.id, b.id
)
SELECT m.id_a::BIGINT AS id_a, m.id_b::BIGINT AS id_b,
       round(m.cm / (sa.sz + sb.sz - m.cm), 6) AS jaccard
FROM common m
JOIN sizes sa ON sa.id = m.id_a
JOIN sizes sb ON sb.id = m.id_b
WHERE m.cm / (sa.sz + sb.sz - m.cm) >= 0.5
"""

_SPAN_K = 5


def _dd_spans(spark, sf_dir):
    """Exact-substring duplicated-span stats (ops.spans
    .duplicated_span_stats, the Lee et al. 2022 op as distributed
    k-window hashing): per doc, the interval-union size of all 5-token
    windows whose exact token sequence occurs >= 2 times corpus-wide
    (within-doc repeats count), the number of maximal covered runs,
    and the covered fraction."""
    from lucene_spark.ops.spans import duplicated_span_stats

    out = duplicated_span_stats(
        _docs(spark, sf_dir), "doc_id", "text", k=_SPAN_K, min_count=2
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("dup_tokens").cast("long").alias("dup_tokens"),
        F.col("n_spans").cast("long").alias("n_spans"),
        F.round("dup_frac", 9).alias("dup_frac"),
    )


_DD_SPANS_SQL = f"""
WITH docs AS (SELECT doc_id AS id, {TOKEN_SQL} AS l FROM documents),
w AS (
    SELECT id, i - 1 AS s,
           concat_ws(' ', {", ".join(f"l[i+{j}]" for j in range(_SPAN_K))}) AS sh
    FROM docs, LATERAL (SELECT unnest(generate_series(1, len(l) - {_SPAN_K} + 1)) AS i) g
),
c AS (SELECT sh FROM w GROUP BY sh HAVING count(*) >= 2),
d AS (SELECT w.id, w.s FROM w JOIN c USING (sh)),
m AS (SELECT id, s, s - lag(s) OVER (PARTITION BY id ORDER BY s) AS gap FROM d),
agg AS (
    SELECT id,
           sum(least(coalesce(gap, {_SPAN_K}), {_SPAN_K})) AS dup_tokens,
           sum(CASE WHEN gap IS NULL OR gap > {_SPAN_K} THEN 1 ELSE 0 END) AS n_spans
    FROM m GROUP BY id
)
SELECT docs.id::BIGINT AS id, len(docs.l)::BIGINT AS n_tokens,
       coalesce(agg.dup_tokens, 0)::BIGINT AS dup_tokens,
       coalesce(agg.n_spans, 0)::BIGINT AS n_spans,
       round(CASE WHEN len(docs.l) > 0
             THEN coalesce(agg.dup_tokens, 0) / len(docs.l)
             ELSE 0.0 END, 9) AS dup_frac
FROM docs LEFT JOIN agg USING (id)
"""


def _dd_contamination(spark, sf_dir):
    """Benchmark decontamination (ops.dedup.contamination_flags):
    corpus = documents, eval set = every 37th doc (a deterministic
    stand-in for an external benchmark), 3-gram shingles, flagged at
    >= 3 distinct shared shingles. The bench inventory broadcasts;
    the corpus side streams through a broadcast hash join."""
    from lucene_spark.ops.dedup import contamination_flags

    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    out = contamination_flags(
        d, bench, "doc_id", "text", "bid", "btext",
        shingle_n=3, min_shared=3,
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("n_bench_docs").cast("long").alias("n_bench_docs"),
        F.col("contaminated").cast("long").alias("contaminated"),
    )


_DD_CONTAM_SQL = f"""
WITH d AS (SELECT doc_id, {TOKEN_SQL} AS l FROM documents),
c AS (
    SELECT DISTINCT doc_id AS id,
           concat_ws(' ', l[i], l[i+1], l[i+2]) AS shingle
    FROM d, LATERAL (SELECT unnest(generate_series(1, len(d.l) - 2)) AS i) g
),
b AS (
    SELECT DISTINCT doc_id AS bench_id,
           concat_ws(' ', l[i], l[i+1], l[i+2]) AS shingle
    FROM d, LATERAL (SELECT unnest(generate_series(1, len(d.l) - 2)) AS i) g
    WHERE doc_id % 37 = 0
),
m AS (SELECT c.id, c.shingle, b.bench_id FROM c JOIN b USING (shingle))
SELECT id::BIGINT AS id,
       count(DISTINCT shingle)::BIGINT AS n_shared,
       count(DISTINCT bench_id)::BIGINT AS n_bench_docs,
       (count(DISTINCT shingle) >= 3)::BIGINT AS contaminated
FROM m GROUP BY id
"""


def _dd_simhash(spark, sf_dir):
    return simhash(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").cast("long").alias("id"), F.col("simhash").cast("long").alias("simhash")
    )


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN sum(tf * (((h >> {i}) & 1) * 2 - 1)) > 0 THEN {2**i} ELSE 0 END)"
    for i in range(16)
)
_DD_SIMHASH_SQL = f"""
WITH {_BASE_CTES},
tf AS (SELECT doc_id AS id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
th AS (
    SELECT id, tf,
           CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h
    FROM tf
)
SELECT id::BIGINT AS id, ({_SIMHASH_BITS})::BIGINT AS simhash
FROM th GROUP BY id
"""


# -------------------------------------------------------- ann_* queries


def _query_vec(spark, sf_dir) -> list[float]:
    row = _emb(spark, sf_dir).where(F.col("vec_id") == 0).collect()[0]
    return [float(x) for x in row["embedding"]]


def _ann_topk(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    out = brute_force_topk(
        _emb(spark, sf_dir).where(F.col("vec_id") > 0), "vec_id", "embedding", qv, 10
    )
    return out.select(
        F.col("id").cast("long").alias("id"), F.round("cos", 6).alias("cos")
    )


_COS_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i])), (acc, x) -> acc + x)"
)
_NORM_FOLD = (
    "sqrt(list_reduce(list_prepend(0.0, list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {a}[i])), (acc, x) -> acc + x))"
)


def _cos_sql(a: str, b: str) -> str:
    return (
        _COS_FOLD.format(a=a, b=b)
        + " / ("
        + _NORM_FOLD.format(a=a)
        + " * "
        + _NORM_FOLD.format(a=b)
        + ")"
    )


_ANN_TOPK_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id > 0)
SELECT v.vec_id::BIGINT AS id, round({_cos_sql('v.ev', 'q.qv')}, 6) AS cos
FROM v, q
ORDER BY cos DESC, id ASC LIMIT 10
"""


def _ann_ivf(spark, sf_dir):
    qv = _query_vec(spark, sf_dir)
    out = ivf_topk(
        _emb(spark, sf_dir).where(F.col("vec_id") > 0),
        "vec_id", "embedding", "label", qv, 10, n_probe=1,
    )
    return out.select(
        F.col("id").cast("long").alias("id"), F.round("cos", 6).alias("cos")
    )


_ANN_IVF_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id > 0),
dims AS (
    SELECT label, g.i AS dim, avg(ev[g.i]) AS cv
    FROM v, LATERAL (SELECT unnest(generate_series(1, len(v.ev))) AS i) g
    GROUP BY label, g.i
),
cents AS (SELECT label, list(cv ORDER BY dim) AS centroid FROM dims GROUP BY label),
best AS (
    SELECT label FROM cents, q
    ORDER BY {_cos_sql('cents.centroid', 'q.qv')} DESC, label ASC LIMIT 1
)
SELECT v.vec_id::BIGINT AS id, round({_cos_sql('v.ev', 'q.qv')}, 6) AS cos
FROM v, q WHERE v.label = (SELECT label FROM best)
ORDER BY cos DESC, id ASC LIMIT 10
"""


def _dd_clusters(spark, sf_dir):
    """Near-dup clusters: MinHash+LSH pairs → connected components
    (min-id label propagation). cluster_id = min doc id reachable
    through the similarity graph — the dedup grouping a keep-one
    policy acts on. Oracle: recursive-CTE transitive closure over the
    same pairs in DuckDB."""
    from lucene_spark.ops.dedup import connected_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(_docs(spark, sf_dir), "doc_id", "text", threshold=0.2)
    out = connected_components(pairs)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


_DD_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_DD_MINHASH_PAIRS_SQL}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a::BIGINT AS id, min(b)::BIGINT AS cluster_id FROM reach GROUP BY a
"""


def _ann_ivf_trained(spark, sf_dir):
    """Trained-quantizer IVF (distributed spherical k-means) probed at
    n_probe = n_centroids — the exactness case: probing every bucket
    degenerates to brute force, so the whole trained path (Lloyd
    training, bucket assignment, centroid ranking, probe-union scan)
    is hash-checkable against the exact cosine oracle. The recall
    curve at n_probe < k is measured in tests/test_round3b.py."""
    qv = _query_vec(spark, sf_dir)
    emb = _emb(spark, sf_dir).where(F.col("vec_id") > 0)
    cents = train_ivf_centroids(emb, "vec_id", "embedding", k=8, n_iter=3)
    out = ivf_topk_trained(
        emb, "vec_id", "embedding", cents, qv, 10, n_probe=max(len(cents), 1)
    )
    return out.select(
        F.col("id").cast("long").alias("id"), F.round("cos", 6).alias("cos")
    )


def _ann_pairs(spark, sf_dir):
    out = cosine_pairs(_emb(spark, sf_dir), "vec_id", "embedding", threshold=0.3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos", 6).alias("cos"),
    )


def _ann_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization (ops.similarity.
    quantize_embeddings), exploded to scalar rows for the hash compare.
    Both sides run the identical IEEE double arithmetic
    (amax/127, floor(v/scale + 0.5), clamp), so codes match exactly."""
    from lucene_spark.ops.similarity import quantize_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qz = quantize_embeddings(emb)
    return qz.select(
        F.col("id").cast("long").alias("id"),
        F.round("scale", 9).alias("scale"),
        F.posexplode("q").alias("i", "qv"),
    ).select(
        "id", "scale",
        F.col("i").cast("long").alias("i"),
        F.col("qv").cast("long").alias("qv"),
    )


_ANN_QUANTIZE_SQL = """
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
),
m AS (
    SELECT vec_id, e,
           list_max(list_transform(e, x -> abs(x))) AS amax
    FROM v
)
SELECT vec_id::BIGINT AS id,
       round(amax / 127.0, 9) AS scale,
       g.i::BIGINT AS i,
       (CASE WHEN amax = 0 THEN 0
             ELSE greatest(-127, least(127,
                  CAST(floor(e[g.i + 1] / (amax / 127.0) + 0.5) AS BIGINT)))
        END)::BIGINT AS qv
FROM m, LATERAL (SELECT unnest(generate_series(0, len(e) - 1)) AS i) g
"""


def _ann_pairs_lsh(spark, sf_dir):
    """Random-hyperplane LSH near-dup pairs — the bucketed scale path
    replacing the cross join; exact cosine verification on candidates."""
    from lucene_spark.ops.similarity import rp_lsh_pairs

    out = rp_lsh_pairs(_emb(spark, sf_dir), "vec_id", "embedding", threshold=0.3)
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.round("cos", 6).alias("cos"),
    )


_ANN_PAIRS_SQL = f"""
WITH v AS (
    SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
),
nv AS (
    SELECT vec_id,
           list_transform(ev, x -> x / {_NORM_FOLD.format(a='ev')}) AS nev
    FROM v
)
SELECT a.vec_id::BIGINT AS id_a, b.vec_id::BIGINT AS id_b,
       round({_COS_FOLD.format(a='a.nev', b='b.nev')}, 6) AS cos
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE {_COS_FOLD.format(a='a.nev', b='b.nev')} >= 0.3
"""


# random-hyperplane sign bits: weight(p,i) = (md5-int('rp:p:i') % 2001
# − 1000)/1000, same fold order as the Spark dot — signs match exactly
_ANN_LSH_SQL = f"""
WITH v0 AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
v AS (
    -- zero vectors dropped, mirroring rp_lsh_pairs (no direction)
    SELECT vec_id, ev FROM v0 WHERE {_NORM_FOLD.format(a='ev')} > 0
),
planes AS (
    SELECT p, list_transform(
        range(0, (SELECT len(ev) FROM v LIMIT 1)),
        i -> ((CAST(concat('0x', substr(md5('rp:' || p || ':' || i), 1, 15)) AS BIGINT)
               % 2001) - 1000) / 1000.0) AS w
    FROM (SELECT unnest(range(0, 16)) AS p)
),
bits AS (
    SELECT v.vec_id, pl.p,
           CASE WHEN {_COS_FOLD.format(a='v.ev', b='pl.w')} >= 0
                THEN 1 ELSE 0 END AS bit
    FROM v, planes pl
),
bkeys AS (
    SELECT vec_id, p // 8 AS band,
           string_agg(bit::VARCHAR, '' ORDER BY p) AS key
    FROM bits GROUP BY vec_id, p // 8
),
cand AS (
    SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
    FROM bkeys x JOIN bkeys y ON x.band = y.band AND x.key = y.key
        AND x.vec_id < y.vec_id
),
nv AS (
    SELECT vec_id,
           list_transform(ev, x -> x / {_NORM_FOLD.format(a='ev')}) AS nev
    FROM v
)
SELECT c.id_a::BIGINT AS id_a, c.id_b::BIGINT AS id_b,
       round({_COS_FOLD.format(a='a.nev', b='b.nev')}, 6) AS cos
FROM cand c
JOIN nv a ON a.vec_id = c.id_a
JOIN nv b ON b.vec_id = c.id_b
WHERE {_COS_FOLD.format(a='a.nev', b='b.nev')} >= 0.3
"""


# --------------------------------------------------------- tx_* queries


def _tx_lang(spark, sf_dir):
    out = lang_id(_docs(spark, sf_dir), "doc_id", "text")
    return out.select(F.col("id").cast("long").alias("id"), "stop_ratio", "lang")


_MARKER_LIST = ", ".join(f"'{m}'" for m in LANG_EN_MARKERS)
_TX_LANG_SQL = f"""
WITH t AS (SELECT doc_id, {TOKEN_SQL} AS l FROM documents),
r AS (
    SELECT doc_id,
           CASE WHEN len(l) > 0
                THEN len(list_filter(l, x -> x IN ({_MARKER_LIST}))) / len(l)
                ELSE 0.0 END AS ratio
    FROM t
)
SELECT doc_id::BIGINT AS id, round(ratio, 6) AS stop_ratio,
       CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'und' END AS lang
FROM r
"""


def _tx_lang_ngram(spark, sf_dir):
    """Char-trigram naive-Bayes language ID (round 5 — the measured
    upgrade over the function-word argmax; lang_id_ngram docstring has
    the held-out quality table). Doc doc_id gets the first 100 chars of
    language (doc_id % 10)'s SEED paragraph prepended to the first 60
    chars of its English text, so the expected argmax is langs[doc_id % 10]
    with per-doc variation in the scores. The oracle mirrors the
    synthesis and the generated per-language CASE profiles exactly."""
    from lucene_spark.ops.textstats import LANG_SEED, lang_id_ngram

    langs = sorted(LANG_SEED)
    seeds = F.array(*[F.lit(LANG_SEED[lang][:100]) for lang in langs])
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at(seeds, (F.col("doc_id") % 10 + 1).cast("int")),
            F.substring("text", 1, 60),
        ).alias("text"),
    )
    out = lang_id_ngram(docs, "doc_id", "text")
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("best_score").alias("ng_score"),
        F.col("lang").alias("lang_ngram"),
    )


def _tx_lang_ngram_sql() -> str:
    from lucene_spark.ops.textstats import LANG_SEED, lang_id_ngram_sql

    langs = sorted(LANG_SEED)
    seed_arr = ", ".join(
        "'" + LANG_SEED[lang][:100].replace("'", "''") + "'"
        for lang in langs
    )
    inner = lang_id_ngram_sql(table="synth", id_col="doc_id",
                              text_col="text")
    return f"""
WITH synth AS (
    SELECT doc_id,
           concat(([{seed_arr}])[doc_id % 10 + 1], ' ',
                  substr(text, 1, 60)) AS text
    FROM documents
), ng AS ({inner})
SELECT id::BIGINT AS id, best_score AS ng_score, lang AS lang_ngram
FROM ng
"""


def _tx_quality(spark, sf_dir):
    """quality_score ⋈ token_counts (merged gate, r5 — frees a registry
    slot for tx_cleaning while both oracles keep running): two pure
    projections over one documents scan, joined on id."""
    d = _docs(spark, sf_dir)
    q = quality_score(d, "doc_id", "text")
    tcn = token_counts(d, "doc_id", "text")
    return q.join(tcn, "id").select(
        F.col("id").cast("long").alias("id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "uniq_ratio", "mean_tok_len", "stop_ratio", "quality",
        F.col("n_ws").cast("long").alias("n_ws"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe").cast("long").alias("n_bpe"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


_TX_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, {TOKEN_SQL} AS l FROM documents),
m AS (
    SELECT doc_id, len(l) AS n,
           len(list_distinct(l)) AS uniq,
           list_reduce(list_prepend(0, list_transform(l, x -> len(x))), (a, x) -> a + x) AS chars,
           len(list_filter(l, x -> x IN ({_MARKER_LIST}))) AS nstop
    FROM t
),
f AS (
    SELECT doc_id, n,
           CASE WHEN n > 0 THEN uniq::DOUBLE / n ELSE 0.0 END AS uniq_ratio,
           CASE WHEN n > 0 THEN chars::DOUBLE / n ELSE 0.0 END AS mean_len,
           CASE WHEN n > 0 THEN nstop / n ELSE 0.0 END AS stop_r
    FROM m
)
SELECT doc_id::BIGINT AS id, n::BIGINT AS n_tokens,
       round(uniq_ratio, 6) AS uniq_ratio,
       round(mean_len, 6) AS mean_tok_len,
       round(stop_r, 6) AS stop_ratio,
       round(0.3 * (CASE WHEN n >= 30 AND n <= 500 THEN 1.0 WHEN n > 0 THEN 0.5 ELSE 0.0 END)
           + 0.3 * uniq_ratio
           + 0.2 * (CASE WHEN mean_len >= 3.0 AND mean_len <= 12.0 THEN 1.0 ELSE 0.5 END)
           + 0.2 * (CASE WHEN stop_r >= 0.02 THEN 1.0 ELSE 0.5 END), 6) AS quality
FROM f
"""


# token_counts runs inside the merged tx_quality gate (its Spark side
# is the join in _tx_quality; this SQL is CTE'd into the merged oracle)
_TX_TOKEN_COUNTS_SQL = f"""
SELECT doc_id::BIGINT AS id,
       len(regexp_split_to_array(trim(text), ' +'))::BIGINT AS n_ws,
       len({TOKEN_SQL})::BIGINT AS n_words,
       len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))::BIGINT AS n_bpe,
       length(text)::BIGINT AS n_chars
FROM documents
"""

_TX_QUALITY_MERGED_SQL = f"""
WITH q AS ({_TX_QUALITY_SQL}), tc AS ({_TX_TOKEN_COUNTS_SQL})
SELECT q.*, tc.n_ws, tc.n_words, tc.n_bpe, tc.n_chars
FROM q JOIN tc USING (id)
"""


def _tx_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").cast("long").alias("id"), F.col("fp").cast("long").alias("fp")
    )


_TX_FP_SQL = f"""
SELECT doc_id::BIGINT AS id,
       list_reduce(
           list_prepend(0::BIGINT, list_transform({TOKEN_SQL},
               t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 2147483648)),
           (acc, h) -> (acc * {FP_BASE} + h) % {FP_MOD})::BIGINT AS fp
FROM documents
"""


# ------------------------------------------------------------ tx_cleaning
# Deterministic multi-line re-lining of the documents table so the
# line-level cleaning ops have real structure to measure: three content
# lines (the third duplicates the first → intra-doc dup lines; ids%3
# get a bullet prefix, ids%4 an ellipsis suffix), a 3-variant cross-doc
# footer on even ids (the boilerplate dictionary, df ≈ n/6 ≥ min_docs),
# and a PII line (unique email + SSN + IP) on ids % 5 == 0. The same
# construction is written in both dialects below — only the int→string
# cast syntax differs.

_CLEAN_SYNTH_SPARK = """
concat(
  substr(text, 1, 40), chr(10),
  case when doc_id % 3 = 0 then '- ' else '' end,
  substr(text, 21, 40),
  case when doc_id % 4 = 0 then '...' else '' end, chr(10),
  substr(text, 1, 40),
  case when doc_id % 2 = 0
       then chr(10) || 'standard footer variant ' || cast(doc_id % 3 as string)
       else '' end,
  case when doc_id % 5 = 0
       then chr(10) || 'contact a' || cast(doc_id as string)
            || '@x.io ssn 123-45-6789 ip 10.0.0.' || cast(doc_id % 256 as string)
       else '' end
)
"""

_CLEAN_SYNTH_DUCK = """
concat(
  substr(text, 1, 40), chr(10),
  CASE WHEN doc_id % 3 = 0 THEN '- ' ELSE '' END,
  substr(text, 21, 40),
  CASE WHEN doc_id % 4 = 0 THEN '...' ELSE '' END, chr(10),
  substr(text, 1, 40),
  CASE WHEN doc_id % 2 = 0
       THEN chr(10) || 'standard footer variant ' || (doc_id % 3)::VARCHAR
       ELSE '' END,
  CASE WHEN doc_id % 5 = 0
       THEN chr(10) || 'contact a' || doc_id::VARCHAR
            || '@x.io ssn 123-45-6789 ip 10.0.0.' || (doc_id % 256)::VARCHAR
       ELSE '' END
)
"""

_BP_MIN_DOCS = 10


def _tx_cleaning(spark, sf_dir):
    """Cleaning-ops gate (ops.cleaning): Gopher repetition stats + PII
    counts + corpus-level boilerplate removal over the deterministic
    multi-line corpus above. One row per document: all eight repetition
    measures, the five PII class counts + has_pii, and the document's
    text after footer-dictionary removal (min_docs=10)."""
    from lucene_spark.ops.cleaning import (
        pii_stats,
        remove_boilerplate,
        repetition_stats,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_CLEAN_SYNTH_SPARK).alias("text")
    )
    rep = repetition_stats(d, "doc_id", "text")
    pii = pii_stats(d, "doc_id", "text")
    clean = remove_boilerplate(
        d, "doc_id", "text", min_docs=_BP_MIN_DOCS
    ).withColumnRenamed("text", "clean_text")
    return (
        rep.join(pii, "id")
        .join(clean, "id")
        .select(
            F.col("id").cast("long").alias("id"),
            F.col("n_lines").cast("long").alias("n_lines"),
            "dup_line_frac",
            "dup_line_char_frac",
            "top2gram_char_frac",
            "top3gram_char_frac",
            "bullet_line_frac",
            "ellipsis_line_frac",
            F.col("n_email").cast("long").alias("n_email"),
            F.col("n_credit_card").cast("long").alias("n_credit_card"),
            F.col("n_ssn").cast("long").alias("n_ssn"),
            F.col("n_ipv4").cast("long").alias("n_ipv4"),
            F.col("n_phone").cast("long").alias("n_phone"),
            F.col("has_pii").cast("long").alias("has_pii"),
            "clean_text",
        )
    )


def _tx_cleaning_sql() -> str:
    from lucene_spark.ops.cleaning import PII_PATTERNS

    pii_cols = ",\n           ".join(
        f"len(regexp_extract_all(text, '{pat}'))::BIGINT AS n_{name}"
        for name, pat in PII_PATTERNS
    )
    pii_sum = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for _, pat in PII_PATTERNS
    )
    return f"""
WITH t AS (SELECT doc_id, {_CLEAN_SYNTH_DUCK} AS text FROM documents),
base AS (
    SELECT doc_id, text,
           list_filter(list_transform(string_split(text, chr(10)),
                                      x -> trim(x, ' ' || chr(9) || chr(13) || chr(11) || chr(12))),
                       x -> length(x) > 0) AS ls,
           regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
    FROM t
),
g AS (
    SELECT doc_id, ls,
           list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1]) AS g2,
           list_transform(generate_series(1, len(tk) - 2),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS g3,
           coalesce(list_sum(list_transform(tk, x -> length(x))), 0) AS tc
    FROM base
),
tops AS (
    SELECT doc_id, ls, tc, g2, g3,
           coalesce(list_max(list_transform(g2, x -> len(list_filter(g2, y -> y = x)))), 0) AS b2n,
           coalesce(list_max(list_transform(g3, x -> len(list_filter(g3, y -> y = x)))), 0) AS b3n
    FROM g
),
rep AS (
    SELECT doc_id,
           len(ls)::BIGINT AS n_lines,
           CASE WHEN len(ls) > 0
                THEN round((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 6)
                ELSE 0.0 END AS dup_line_frac,
           CASE WHEN coalesce(list_sum(list_transform(ls, l -> length(l))), 0) > 0
                THEN round(coalesce(list_sum(list_transform(ls,
                         l -> CASE WHEN len(list_filter(ls, x -> x = l)) > 1
                                   THEN length(l) ELSE 0 END)), 0)::DOUBLE
                     / list_sum(list_transform(ls, l -> length(l))), 6)
                ELSE 0.0 END AS dup_line_char_frac,
           CASE WHEN tc > 0 AND b2n > 0
                THEN round(least(1.0, (b2n * (length(list_min(list_filter(g2,
                         x -> len(list_filter(g2, y -> y = x)) = b2n))) - 1))::DOUBLE / tc), 6)
                ELSE 0.0 END AS top2gram_char_frac,
           CASE WHEN tc > 0 AND b3n > 0
                THEN round(least(1.0, (b3n * (length(list_min(list_filter(g3,
                         x -> len(list_filter(g3, y -> y = x)) = b3n))) - 2))::DOUBLE / tc), 6)
                ELSE 0.0 END AS top3gram_char_frac,
           CASE WHEN len(ls) > 0
                THEN round(len(list_filter(ls, l -> regexp_matches(l, '^[-*•‣▪●·]')))::DOUBLE / len(ls), 6)
                ELSE 0.0 END AS bullet_line_frac,
           CASE WHEN len(ls) > 0
                THEN round(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))::DOUBLE / len(ls), 6)
                ELSE 0.0 END AS ellipsis_line_frac
    FROM tops
),
pii AS (
    SELECT doc_id,
           {pii_cols},
           (({pii_sum}) > 0)::BIGINT AS has_pii
    FROM t
),
bp AS (
    SELECT CAST(concat('0x', substr(md5(line), 1, 15)) AS BIGINT) AS line_hash
    FROM (SELECT DISTINCT doc_id, x AS line FROM base, unnest(base.ls) AS u(x)) dl
    GROUP BY line HAVING count(*) >= {_BP_MIN_DOCS}
),
rawl AS (
    SELECT doc_id, i AS pos, string_split(text, chr(10))[i] AS line
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(string_split(t.text, chr(10))))) AS i
    ) ix
),
kept AS (
    SELECT doc_id, pos, line
    FROM (SELECT doc_id, pos, line,
                 CAST(concat('0x', substr(md5(
                     trim(line, ' ' || chr(9) || chr(13) || chr(11) || chr(12))
                 ), 1, 15)) AS BIGINT) AS line_hash
          FROM rawl) r
    ANTI JOIN bp USING (line_hash)
),
cleaned AS (
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT rep.doc_id::BIGINT AS id,
       rep.n_lines, rep.dup_line_frac, rep.dup_line_char_frac,
       rep.top2gram_char_frac, rep.top3gram_char_frac,
       rep.bullet_line_frac, rep.ellipsis_line_frac,
       pii.n_email, pii.n_credit_card, pii.n_ssn, pii.n_ipv4, pii.n_phone,
       pii.has_pii,
       coalesce(cleaned.clean_text, '') AS clean_text
FROM rep
JOIN pii USING (doc_id)
LEFT JOIN cleaned USING (doc_id)
"""


# --------------------------------------------------------- smp_* queries


def _smp_split(spark, sf_dir):
    """Deterministic train/val/test split by hashed doc_id — stable
    under re-runs, partitioning and corpus growth."""
    from lucene_spark.ops.sampling import hash_split

    out = hash_split(
        _docs(spark, sf_dir), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(F.col("id").cast("long").alias("id"), "split")


_SMP_SPLIT_SQL = """
WITH h AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5('split:' || doc_id), 1, 15)) AS BIGINT)
               % 1000000 AS hv
    FROM documents
)
SELECT doc_id::BIGINT AS id,
       CASE WHEN hv < 800000 THEN 'train'
            WHEN hv < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def _smp_stratified(spark, sf_dir):
    """Per-language stratified downsample over the documents table."""
    from lucene_spark.ops.sampling import stratified_hash_sample

    out = stratified_hash_sample(
        _docs(spark, sf_dir), "doc_id", "lang",
        {"en": 0.5}, default_fraction=1.0,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("id"), F.col("lang")
    )


_SMP_STRAT_SQL = """
WITH h AS (
    SELECT doc_id, lang,
           CAST(concat('0x', substr(md5('strat:' || doc_id), 1, 15)) AS BIGINT)
               % 1000000 AS hv
    FROM documents
)
SELECT doc_id::BIGINT AS id, lang
FROM h
WHERE hv < (CASE WHEN lang = 'en' THEN 500000 ELSE 1000000 END)
"""


def _smp_pack(spark, sf_dir):
    """Concatenate-then-chunk sequence packing: 32 deterministic tapes,
    512-token context windows over the documents' token counts."""
    from lucene_spark.ops.packing import pack_sequences

    # Spark's regexp_extract_all defaults the group index to 1 (DuckDB
    # defaults to 0) — make it explicit
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).cast("long").alias("n_tokens"),
    )
    out = pack_sequences(docs, "doc_id", "n_tokens", budget=512, n_buckets=32)
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("start_offset").cast("long").alias("start_offset"),
        F.col("win").cast("long").alias("win"),
    )


_SMP_PACK_SQL = f"""
WITH t AS (
    SELECT doc_id, len({TOKEN_SQL})::BIGINT AS n,
           CAST(concat('0x', substr(md5('pack:' || doc_id), 1, 15)) AS BIGINT)
               % 32 AS bucket
    FROM documents
),
o AS (
    SELECT doc_id, bucket,
           coalesce(sum(n) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM t
)
SELECT doc_id::BIGINT AS id, bucket::BIGINT AS bucket,
       off::BIGINT AS start_offset, (off // 512)::BIGINT AS win
FROM o
"""


# --------------------------------------------------------- mm_* queries


def _mm_features(spark, sf_dir):
    feats = extract_features(
        attach_binary_payload(_docs(spark, sf_dir), "doc_id", "text")
    )
    cols = [
        F.round(F.element_at("feature", i + 1), 6).alias(f"f{i}") for i in range(8)
    ]
    return feats.select(
        F.col("id").cast("long").alias("id"),
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "sha_prefix", *cols,
    )


_MM_FEATURE_COLS = ",\n       ".join(
    f"round(CAST(concat('0x', substr(sha256(text), {i * 8 + 1}, 8)) AS BIGINT)"
    f" / 4294967296.0, 6) AS f{i}"
    for i in range(8)
)
_MM_SQL = f"""
SELECT doc_id::BIGINT AS id,
       strlen(text)::BIGINT AS n_bytes,
       substr(sha256(text), 1, 16) AS sha_prefix,
       {_MM_FEATURE_COLS}
FROM documents
"""


def _mm_audio(spark, sf_dir):
    """REAL audio metadata from raw bytes: synthesize complete 16-bit
    PCM WAVs per doc_id (zeroed sample data, true data-chunk lengths),
    then chunk-walk the RIFF header (stdlib-only) through the Arrow
    pipeline. The oracle recomputes rate/channels/samples/duration
    from the fixture id formula (ops/media_headers.fixture_audio)."""
    from lucene_spark.ops.multimodal import (
        attach_synthetic_audio,
        extract_audio_meta,
    )

    payloads = attach_synthetic_audio(
        _docs(spark, sf_dir).select(F.col("doc_id").alias("id")), "id"
    )
    return extract_audio_meta(payloads).select(
        F.col("id").cast("long").alias("id"),
        "format",
        F.col("channels").cast("long").alias("channels"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("bits").cast("long").alias("bits"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


# mirrors media_headers.fixture_audio + synth_wav; duration is integer
# floor division on both sides
_MM_AUDIO_SQL = """
SELECT doc_id::BIGINT AS id,
       'wav' AS format,
       (1 + doc_id % 2)::BIGINT AS channels,
       (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS sample_rate,
       16::BIGINT AS bits,
       (256 + (doc_id * 13) % 1024)::BIGINT AS n_samples,
       ((256 + (doc_id * 13) % 1024) * 1000 //
        CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        WHEN 2 THEN 22050 ELSE 44100 END)::BIGINT AS duration_ms
FROM documents
"""


def _mm_video(spark, sf_dir):
    """REAL video metadata from raw bytes: synthesize minimal ISO-BMFF
    streams (ftyp + moov/mvhd) per doc_id, box-walk to the movie
    header (stdlib-only). Oracle = the fixture id formula
    (ops/media_headers.fixture_video)."""
    from lucene_spark.ops.multimodal import (
        attach_synthetic_video,
        extract_video_meta,
    )

    payloads = attach_synthetic_video(
        _docs(spark, sf_dir).select(F.col("doc_id").alias("id")), "id"
    )
    return extract_video_meta(payloads).select(
        F.col("id").cast("long").alias("id"),
        "format",
        F.col("timescale").cast("long").alias("timescale"),
        F.col("duration_units").cast("long").alias("duration_units"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


_MM_VIDEO_SQL = """
SELECT doc_id::BIGINT AS id,
       'mp4' AS format,
       (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                        ELSE 90000 END)::BIGINT AS timescale,
       (1000 + (doc_id * 17) % 9000)::BIGINT AS duration_units,
       ((1000 + (doc_id * 17) % 9000) * 1000 //
        CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                        ELSE 90000 END)::BIGINT AS duration_ms
FROM documents
"""


# DOM highlighting gate: wrap each document's (entity-escaped) text in
# a tiny HTML page whose <script> section ALSO contains the query
# terms, run the reference-parity DOM highlighter with a 3-clause OR
# (one rotating color per clause — DefaultHighlighter.php:13-26), and
# emit verifiable invariants: per-color wrap counts must equal the
# token-match counts over the ORIGINAL text (script/tag/entity content
# contributes nothing — the DOM-awareness negative control), and the
# byte growth must be exactly 52 per wrap (48-char <b style…> prefix +
# </b>), proving every non-text byte passed through verbatim.
_HL_QUERY = "text:spark OR text:table OR text:index"
_HL_SCRIPT = "</p><script>spark table index</script>"
_HL_WRAP_OVERHEAD = 52


def _hl_html(spark, sf_dir):
    from lucene_spark.search.html_highlight import (
        HIGHLIGHT_COLORS,
        highlight_matches,
    )
    from lucene_spark.search.parser import parse_query

    d = _docs(spark, sf_dir)
    esc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"), F.lit("&lt;"),
        ),
        F.lit(">"), F.lit("&gt;"),
    )
    d = d.withColumn("html", F.concat(F.lit("<p>"), esc, F.lit(_HL_SCRIPT)))
    q = parse_query(_HL_QUERY)
    out = highlight_matches(d, "html", q, token_pattern="[a-zA-Z0-9]+")

    def cnt(s: str):
        return (
            (
                F.length("highlighted")
                - F.length(F.replace(F.col("highlighted"), F.lit(s), F.lit("")))
            )
            / len(s)
        ).cast("long")

    marker = '<b style="color:black;background-color:'
    return out.select(
        F.col("doc_id").cast("long").alias("id"),
        cnt(marker).alias("n_hl"),
        cnt(f"background-color:{HIGHLIGHT_COLORS[0]}\">").alias("n_c1"),
        cnt(f"background-color:{HIGHLIGHT_COLORS[1]}\">").alias("n_c2"),
        cnt(f"background-color:{HIGHLIGHT_COLORS[2]}\">").alias("n_c3"),
        (F.length("highlighted") - F.length("html")).cast("long").alias("delta_len"),
    )


_HL_HTML_SQL = f"""
WITH m AS (
    SELECT doc_id,
           len(list_filter({TOKEN_SQL}, t -> t = 'spark')) AS n1,
           len(list_filter({TOKEN_SQL}, t -> t = 'table')) AS n2,
           len(list_filter({TOKEN_SQL}, t -> t = 'index')) AS n3
    FROM documents
)
SELECT doc_id::BIGINT AS id,
       (n1 + n2 + n3)::BIGINT AS n_hl,
       n1::BIGINT AS n_c1,
       n2::BIGINT AS n_c2,
       n3::BIGINT AS n_c3,
       ({_HL_WRAP_OVERHEAD} * (n1 + n2 + n3))::BIGINT AS delta_len
FROM m
"""


# pluggable-similarity gate: swap the classic tf hook for LINEAR tf
# (AbstractSimilarity::setDefault — AbstractSimilarity.php:296) and run
# the classic single-term chain; every downstream quirk (norm-byte
# codebook, idf ln(n/(df+1))+1, top-score normalization) must still
# hold, with sqrt(tf) replaced by tf in BOTH engine and oracle. The
# index is reused (lengthNorm unchanged); only scoring changes.
def _ft_custom_sim(spark, sf_dir):
    from lucene_spark.search.similarity import (
        Similarity,
        get_default,
        set_default,
    )

    class _LinearTf(Similarity):
        def tf(self, freq):
            return float(freq)

        def tf_expr(self, c):
            return c.cast("double")

    prev = get_default()
    set_default(_LinearTf())
    try:
        # plan under the custom similarity: all hooks are captured at
        # plan/weight-build time, so restoring the default afterwards
        # cannot affect the returned DataFrame
        return _searched(spark, sf_dir, "text:table", mode="classic")
    finally:
        set_default(prev)


# identical classic chain with linear tf — derived from the default
# oracle so the two can never drift except in the tf expression
def _ft_custom_sim_sql() -> str:
    assert _FT_CLASSIC_SQL.count("sqrt(t.tf)") == 1
    return _FT_CLASSIC_SQL.replace("sqrt(t.tf)", "t.tf")


# --------------------------------------------------------- tr_* queries


def _tr_turns(spark, sf_dir):
    tr = transcripts_from_documents(spark, sf_dir)
    return tr.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "role", "text", "tool",
    )


def _tr_sessionize(spark, sf_dir):
    """Gap sessionization (streaming.sessionize batch twin) over the
    synthesized transcripts with a deterministic jittered timestamp:
    ts_ms = conv·86400000 + turn_idx·60000 + ((turn_idx·2) mod 3)·50000
    gives inter-turn deltas of 160 s / 10 s / 10 s repeating, so a 90 s
    gap threshold yields sessions {0}, {1,2,3}, {4,5,6}, … — a 1-turn
    head session, then 3-turn groups (the delta INTO turn 1 is 160 s) —
    the oracle reproduces the jitter and the lag/run-sum/min windows."""
    from lucene_spark.streaming.sessionize import sessionize

    tr = transcripts_from_documents(spark, sf_dir)
    conv = F.substring("conv_id", 5, 8).cast("long")
    turns = tr.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        (
            conv * 86_400_000
            + F.col("turn_idx").cast("long") * 60_000
            + ((F.col("turn_idx").cast("long") * 2) % 3) * 50_000
        ).alias("ts_ms"),
    )
    out = sessionize(turns, gap_ms=90_000, order_cols=["turn_idx"])
    return out.select(
        "conv_id", "turn_idx", "ts_ms",
        F.col("session_idx").cast("long").alias("session_idx"),
        "session_start_ms",
    )


_TR_TURNS_SQL = f"""
WITH d AS (
    SELECT doc_id, doc_id // 16 AS conv, {TOKEN_SQL} AS l,
           greatest(1, CAST(ceil(len({TOKEN_SQL}) / 24.0) AS INT)) AS n_turns
    FROM documents
),
based AS (
    SELECT *, coalesce(sum(n_turns) OVER (
        PARTITION BY conv ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS turn_base
    FROM d
),
t AS (
    SELECT b.conv, b.turn_base + g.i AS turn_idx,
           array_to_string(b.l[(g.i * 24 + 1):(g.i * 24 + 24)], ' ') AS text
    FROM based b, LATERAL (
        SELECT unnest(generate_series(0, b.n_turns - 1)) AS i) g
)
SELECT printf('conv%08d', conv) AS conv_id, turn_idx::BIGINT AS turn_idx,
       CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
       text,
       CASE WHEN turn_idx % 5 = 3 THEN 'search' END AS tool
FROM t
"""



_TR_SESSIONIZE_SQL = f"""
WITH d AS (
    SELECT doc_id, doc_id // 16 AS conv,
           greatest(1, CAST(ceil(len({TOKEN_SQL}) / 24.0) AS INT)) AS n_turns
    FROM documents
),
based AS (
    SELECT *, coalesce(sum(n_turns) OVER (
        PARTITION BY conv ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS turn_base
    FROM d
),
t AS (
    SELECT b.conv, b.turn_base + g.i AS turn_idx
    FROM based b, LATERAL (
        SELECT unnest(generate_series(0, b.n_turns - 1)) AS i) g
),
ts AS (
    SELECT printf('conv%08d', conv) AS conv_id, turn_idx::BIGINT AS turn_idx,
           (conv * 86400000 + turn_idx * 60000
            + ((turn_idx * 2) % 3) * 50000)::BIGINT AS ts_ms
    FROM t
),
flag AS (
    SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                     OR ts_ms - lag(ts_ms) OVER w > 90000
                   THEN 1 ELSE 0 END AS nf
    FROM ts WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms, turn_idx)
),
sess AS (
    SELECT *, sum(nf) OVER (
        PARTITION BY conv_id ORDER BY ts_ms, turn_idx
        ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
    FROM flag
)
SELECT conv_id, turn_idx, ts_ms, session_idx::BIGINT AS session_idx,
       (min(ts_ms) OVER (PARTITION BY conv_id, session_idx))::BIGINT
           AS session_start_ms
FROM sess
"""


# ------------------------------------------------- merged strategy gates
#
# Round-5 gate consolidation: the driver materializes at most 50
# CORRECTNESS rows per round, and the registry had grown to 60 — four
# gates (mm_video, the media planners, tr_sessionize) never ran. Gates
# that re-verified ONE query through TWO execution kernels are merged:
# each kernel's result is tagged with a `strategy` column and unioned,
# and the oracle is the same SQL cross-joined with the tags. A kernel
# whose output drifts from the exact oracle still hash-fails the merged
# gate, so no operator loses hash verification — the registry is just
# 50 keys, all of which run.


def _strategies_sql(base_sql: str, tags: list[str]) -> str:
    vals = ", ".join(f"('{t}')" for t in tags)
    return (
        f"WITH base AS ({base_sql})\n"
        f"SELECT s.strategy, base.* FROM base\n"
        f"CROSS JOIN (VALUES {vals}) s(strategy)"
    )


def _tag(df: DataFrame, tag: str) -> DataFrame:
    return df.withColumn("strategy", F.lit(tag))


def _ft_term_strategies(spark, sf_dir):
    """`text:table` through BOTH the exact path and the block-max
    pruned path (topk_term_pruned) — two hash-checked kernels, one
    gate row (former ft_term_topk + ft_wand_topk)."""
    return _tag(_ft_term(spark, sf_dir), "exact").unionByName(
        _tag(_ft_wand(spark, sf_dir), "wand")
    )


def _ft_or_strategies(spark, sf_dir):
    """`table spark vector` through the exact plan and the forced
    pure-OR (n_req=0) cogroup kernel."""
    return _tag(_ft_bool_or(spark, sf_dir), "exact").unionByName(
        _tag(_forced(spark, sf_dir, "table spark vector"), "cogroup")
    )


def _ft_and_strategies(spark, sf_dir):
    """`+table +spark -vector` through the exact plan and the forced
    AND-NOT cogroup kernel (n_req=2, one prohibited term)."""
    qs = "+table +spark -vector"
    return _tag(_searched(spark, sf_dir, qs), "exact").unionByName(
        _tag(_forced(spark, sf_dir, qs), "cogroup")
    )


def _ft_phrase_strategies(spark, sf_dir):
    """'"fast value"' through the exact per-doc phrase plan and the
    co-grouped range kernel (former ft_phrase + ft_phrase_cogroup)."""
    return _tag(_ft_phrase(spark, sf_dir), "exact").unionByName(
        _tag(_ft_phrase_cogroup(spark, sf_dir), "cogroup")
    )


def _ft_sloppy_strategies(spark, sf_dir):
    """'"fast value"~2' exact + cogroup (former ft_phrase_sloppy +
    ft_phrase_sloppy_cogroup)."""
    return _tag(_ft_phrase_sloppy(spark, sf_dir), "exact").unionByName(
        _tag(_ft_phrase_sloppy_cogroup(spark, sf_dir), "cogroup")
    )


def _ann_topk_strategies(spark, sf_dir):
    """Brute-force cosine top-k + trained IVF probed at n_probe =
    n_centroids (the exactness case) — former ann_topk +
    ann_ivf_trained; both must hash-match the exact cosine oracle."""
    return _tag(_ann_topk(spark, sf_dir), "brute").unionByName(
        _tag(_ann_ivf_trained(spark, sf_dir), "ivf_trained")
    )


def _tx_lang_merged(spark, sf_dir):
    """English-ratio language ID joined with the char-trigram
    naive-Bayes classifier over the multilingual fixture (former
    tx_lang_id, extended with lang_id_ngram) — one row per doc, both
    classifiers verified."""
    return _tx_lang(spark, sf_dir).join(_tx_lang_ngram(spark, sf_dir), "id")


def _tx_lang_merged_sql() -> str:
    return f"""
WITH a AS ({_TX_LANG_SQL}), c AS ({_tx_lang_ngram_sql()})
SELECT a.id, a.stop_ratio, a.lang, c.ng_score, c.lang_ngram
FROM a JOIN c USING (id)
"""


def _smp_split_merged(spark, sf_dir):
    """hash_split assignment for every doc plus a strat_kept flag from
    the per-language stratified downsample (former smp_split +
    smp_stratified) — the kept-set is exactly what the stratified gate
    verified; the lang column it echoed comes straight from the table."""
    kept = _smp_stratified(spark, sf_dir).select(
        "id", F.lit(1).alias("strat_kept")
    )
    return (
        _smp_split(spark, sf_dir)
        .join(kept, "id", "left")
        .select(
            "id", "split",
            F.coalesce("strat_kept", F.lit(0)).cast("long").alias("strat_kept"),
        )
    )


_SMP_MERGED_SQL = f"""
WITH sp AS ({_SMP_SPLIT_SQL}), st AS ({_SMP_STRAT_SQL})
SELECT sp.id, sp.split, (st.id IS NOT NULL)::BIGINT AS strat_kept
FROM sp LEFT JOIN st ON sp.id = st.id
"""


def _mm_media_plan(spark, sf_dir):
    """One gate over the whole metadata-plan pipeline (former mm_dims +
    mm_resize_plan + mm_frame_plan): byte-valid PNG/JPEG fixtures are
    header-parsed to real dimensions, plan_resize computes the
    capped-long-side geometry, and the MP4 fixtures are box-walked to
    durations that plan_frame_samples expands to 5 uniform sample
    timestamps — all pure Catalyst integer math after the parse. The
    oracle recomputes the fixture formulas AND both planners, so a
    parse or planning bug on any stage hash-mismatches."""
    from lucene_spark.ops.multimodal import (
        attach_synthetic_media,
        attach_synthetic_video,
        extract_image_dims,
        extract_video_meta,
        plan_frame_samples,
        plan_resize,
    )

    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("id"))
    dims = extract_image_dims(attach_synthetic_media(ids, "id"))
    rp = plan_resize(dims, max_side=100)
    meta = dims.select(
        "id",
        F.col("format").alias("img_format"),
        F.col("channels").cast("long").alias("channels"),
    )
    frames = plan_frame_samples(
        extract_video_meta(attach_synthetic_video(ids, "id")), n_frames=5
    ).select("id", "frame_idx", "ts_ms")
    return (
        rp.join(meta, "id")
        .join(frames, "id")
        .select(
            F.col("id").cast("long").alias("id"),
            "img_format", "width", "height", "channels",
            "out_width", "out_height",
            F.col("scaled").cast("long").alias("scaled"),
            "frame_idx", "ts_ms",
        )
    )


_MM_MEDIA_PLAN_SQL = """
WITH dims AS (
  SELECT doc_id::BIGINT AS id,
         CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS img_format,
         (16 + doc_id % 640)::BIGINT AS width,
         (16 + (doc_id * 7) % 480)::BIGINT AS height,
         (CASE WHEN doc_id % 2 = 0 THEN 4
               WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END)::BIGINT AS channels
  FROM documents
),
rp AS (
  SELECT *,
         CASE WHEN GREATEST(width, height) <= 100 THEN width
              ELSE GREATEST(1, (width * 100) // GREATEST(width, height))
         END AS out_width,
         CASE WHEN GREATEST(width, height) <= 100 THEN height
              ELSE GREATEST(1, (height * 100) // GREATEST(width, height))
         END AS out_height,
         (GREATEST(width, height) > 100)::BIGINT AS scaled
  FROM dims
),
v AS (
  SELECT doc_id::BIGINT AS id,
         ((1000 + (doc_id * 17) % 9000) * 1000 //
          CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                          ELSE 90000 END)::BIGINT AS duration_ms
  FROM documents
),
f AS (
  SELECT v.id, t.i::BIGINT AS frame_idx, (v.duration_ms * t.i) // 5 AS ts_ms
  FROM v, range(0, 5) AS t(i)
)
SELECT rp.id, rp.img_format, rp.width, rp.height, rp.channels,
       rp.out_width, rp.out_height, rp.scaled, f.frame_idx, f.ts_ms
FROM rp JOIN f ON rp.id = f.id
"""


# ------------------------------------------------------- driver surface


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the gate index over sf0.001 documents, then run a
    ranked boolean search through the full engine."""
    ix = _index_for(spark, "/root/testdata/sf0.001")
    out = SparkSearcher(ix).search(
        "+table spark vector", k=TOPK, score_mode="bm25", default_field="text"
    )
    return out.select(F.col("doc_id").cast("long").alias("doc_id"), "score")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "ft_term_topk": _ft_term_strategies,
        "ft_bool_and": _ft_bool_and,
        "ft_bool_or": _ft_or_strategies,
        "ft_bool_not": _ft_bool_not,
        "ft_phrase": _ft_phrase_strategies,
        "ft_phrase_sloppy": _ft_sloppy_strategies,
        "ft_wildcard": _ft_wildcard,
        "ft_range": _ft_range,
        "ft_fuzzy": _ft_fuzzy,
        "ft_classic_term": _ft_classic_term,
        "ft_classic_bool": _ft_classic_bool,
        "ft_transcripts_bool": _ft_transcripts_bool,
        "ft_phrase_scoped": _ft_phrase_scoped,
        "ft_wand_and": _ft_and_strategies,
        "ft_and_default": _ft_and_default,
        "ft_presort_limit": _ft_presort_limit,
        "ft_boosted_classic": _ft_boosted_classic,
        "ft_wildcard_widevocab": _ft_wildcard_widevocab,
        "ft_fuzzy_widevocab": _ft_fuzzy_widevocab,
        "ft_custom_sim": _ft_custom_sim,
        "hl_html": _hl_html,
        "ix_postings": _ix_postings,
        "ix_term_dict": _ix_term_dict,
        "ix_doc_lengths": _ix_doc_lengths,
        "ix_stats": _ix_stats,
        "dd_exact": _dd_exact,
        "dd_minhash_sig": _dd_minhash_sig,
        "dd_minhash_pairs": _dd_minhash_pairs,
        "dd_clusters": _dd_clusters,
        "dd_ngram_jaccard": _dd_ngram_jaccard,
        "dd_spans": _dd_spans,
        "dd_simhash": _dd_simhash,
        "dd_contamination": _dd_contamination,
        "ann_topk": _ann_topk_strategies,
        "ann_ivf": _ann_ivf,
        "ann_pairs": _ann_pairs,
        "ann_pairs_lsh": _ann_pairs_lsh,
        "ann_quantize": _ann_quantize,
        "tx_lang_id": _tx_lang_merged,
        "tx_quality": _tx_quality,
        "tx_cleaning": _tx_cleaning,
        "tx_fingerprint": _tx_fingerprint,
        "mm_features": _mm_features,
        "mm_audio": _mm_audio,
        "mm_video": _mm_video,
        "mm_media_plan": _mm_media_plan,
        "smp_split": _smp_split_merged,
        "smp_pack": _smp_pack,
        "tr_turns": _tr_turns,
        "tr_sessionize": _tr_sessionize,
    }


def oracle_sql() -> dict[str, str]:
    return {
        # merged strategy gates: block-max WAND / cogroup / trained-IVF
        # are execution strategies whose output is provably the exact
        # result — each kernel's rows are tagged and the shared exact
        # oracle is cross-joined with the tags, so the driver
        # hash-checks every kernel's exactness claim in one row
        "ft_term_topk": _strategies_sql(_FT_TERM_SQL, ["exact", "wand"]),
        "ft_bool_and": _FT_AND_SQL,
        "ft_bool_or": _strategies_sql(_FT_OR_SQL, ["exact", "cogroup"]),
        "ft_bool_not": _FT_NOT_SQL,
        "ft_phrase": _strategies_sql(_FT_PHRASE_SQL, ["exact", "cogroup"]),
        "ft_phrase_sloppy": _strategies_sql(
            _FT_SLOPPY_SQL, ["exact", "cogroup"]
        ),
        "ft_wildcard": _FT_WILDCARD_SQL,
        "ft_range": _FT_RANGE_SQL,
        "ft_fuzzy": _FT_FUZZY_SQL,
        "ft_classic_term": _FT_CLASSIC_SQL,
        "ft_classic_bool": _FT_CLASSIC_BOOL_SQL,
        "ft_transcripts_bool": _FT_TRANSCRIPTS_SQL,
        "ft_phrase_scoped": _FT_PHRASE_SCOPED_SQL,
        "ft_wand_and": _strategies_sql(
            _FT_WAND_AND_SQL, ["exact", "cogroup"]
        ),
        "ft_and_default": _FT_AND_SQL,
        "ft_presort_limit": _FT_PRESORT_SQL,
        "ft_boosted_classic": _FT_BOOSTED_SQL,
        "ft_wildcard_widevocab": _FT_WIDE_SQL,
        "ft_fuzzy_widevocab": _FT_FUZZY_WIDE_SQL,
        "ft_custom_sim": _ft_custom_sim_sql(),
        "hl_html": _HL_HTML_SQL,
        "ix_postings": _IX_POSTINGS_SQL,
        "ix_term_dict": _IX_TERM_DICT_SQL,
        "ix_doc_lengths": _IX_DOC_LENGTHS_SQL,
        "ix_stats": _IX_STATS_SQL,
        "dd_exact": _DD_EXACT_SQL,
        "dd_minhash_sig": _DD_MINHASH_SIG_SQL,
        "dd_minhash_pairs": _DD_MINHASH_PAIRS_SQL,
        "dd_clusters": _DD_CLUSTERS_SQL,
        "dd_ngram_jaccard": _DD_NGRAM_SQL,
        "dd_spans": _DD_SPANS_SQL,
        "dd_simhash": _DD_SIMHASH_SQL,
        "dd_contamination": _DD_CONTAM_SQL,
        "ann_topk": _strategies_sql(
            _ANN_TOPK_SQL, ["brute", "ivf_trained"]
        ),
        "ann_ivf": _ANN_IVF_SQL,
        "ann_pairs": _ANN_PAIRS_SQL,
        "ann_pairs_lsh": _ANN_LSH_SQL,
        "ann_quantize": _ANN_QUANTIZE_SQL,
        "tx_lang_id": _tx_lang_merged_sql(),
        "tx_quality": _TX_QUALITY_MERGED_SQL,
        "tx_cleaning": _tx_cleaning_sql(),
        "tx_fingerprint": _TX_FP_SQL,
        "mm_features": _MM_SQL,
        "mm_audio": _MM_AUDIO_SQL,
        "mm_video": _MM_VIDEO_SQL,
        "mm_media_plan": _MM_MEDIA_PLAN_SQL,
        "smp_split": _SMP_MERGED_SQL,
        "smp_pack": _SMP_PACK_SQL,
        "tr_turns": _TR_TURNS_SQL,
        "tr_sessionize": _TR_SESSIONIZE_SQL,
    }
