"""Exact-substring duplicated-span detection and removal.

Document-level dedup (ops/dedup.py) drops whole near-identical docs;
this module finds VERBATIM REPEATED SPANS — boilerplate headers,
license blocks, quoted replies, templated paragraphs — that repeat
across (or within) otherwise-distinct documents. That is the
"exact substring deduplication" operation of Lee et al. 2022
("Deduplicating Training Data Makes Language Models Better"), which
builds a corpus-wide suffix array to find all substrings of >= N
tokens occurring twice. A suffix array is a single global sorted
structure — the wrong shape for a 100-TB Spark corpus — so this module
uses the standard distributed equivalent: k-token rolling window
hashing.

Key property (why windows are enough): a token belongs to a duplicated
substring of length >= k  <=>  it is covered by at least one k-token
window whose exact token sequence occurs >= min_count times in the
corpus. So the union of duplicated k-windows per document recovers
every maximal duplicated span of length >= k exactly (span boundaries
are token-exact; spans shorter than k are below the detection
threshold by definition, same as the suffix-array length cutoff).

Scale shape (100 TB): the window inventory has ~one row per corpus
token; its two shuffles are (1) a map-side-combinable count on the
128-bit window hash — uniformly distributed regardless of how hot the
duplicated content is, a hot window only makes a big COUNT, never a
pair explosion — and (2) a re-group on doc id for the interval union,
which is pure window functions / aggregation. Nothing is quadratic in
corpus size or in duplicate-family size (contrast LSH bucket joins,
which need ops/dedup.py's max_bucket_size cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lucene_spark.ops.dedup import tokens, word_shingles

__all__ = [
    "duplicated_span_stats",
    "remove_duplicated_spans",
]


def _window_occurrences(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """(docs, occ): docs = (id, toks, n_tokens); occ = one row per
    k-token window occurrence (id, start, h1, h2) where (h1, h2) are
    two independently-seeded xxhash64 values — 128 key bits.
    ``start`` is the 0-based token index of the window.

    Why 128 and not dedup.py's single 60-bit ``md5_long``: this op's
    semantics are EXACT (a false hash merge silently deletes innocent
    text in remove_duplicated_spans), and 60 bits birthday-collide
    right where this engine operates — the 40M-doc smoke (~0.9e9
    windows) measured exactly one collision (+2 falsely-duplicated
    docs) on the 60-bit key, as the math predicts (~0.35 expected).
    With two independently-seeded xxhash64 columns the expected
    collision count stays ~1e-15 even at a trillion windows — and
    xxhash64 is a native codegen'd hash, where the md5-hex →
    conv(,16,10) route costs string formatting plus base parsing per
    window (measured ~3× on the whole stats pass). The probabilistic
    dedup sketches (MinHash, SimHash) keep their md5-derived keys for
    SQL-oracle parity: a collision there is recall noise, not a
    correctness break, and candidates are Jaccard-verified; this op's
    oracle groups by the shingle string, so the engine-side key choice
    is free.

    Threat model: non-adversarial. The key assumes corpora whose text
    was not crafted against it (crawls, transcripts, user documents).
    Both seeds are public constants and xxhash64 is not a keyed
    cryptographic hash, so anyone who can add text to the corpus can
    compute windows that collide with a victim's window and have
    remove_duplicated_spans delete the victim's text. For corpora an
    attacker can write into, the key must be a keyed hash (e.g. an
    HMAC with a per-run secret) instead."""
    docs = df.select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))
    occ = docs.select(
        "id",
        F.posexplode(word_shingles(F.col("toks"), k)).alias("start", "w"),
    ).select(
        "id",
        "start",
        F.xxhash64("w").alias("h1"),
        F.xxhash64(F.lit("spans2"), F.col("w")).alias("h2"),
    )
    return docs, occ


_HK = ["h1", "h2"]  # the 128-bit window key


def _dup_window_hashes(occ: DataFrame, min_count: int) -> DataFrame:
    """Window hashes occurring >= min_count times corpus-wide (within-
    doc repeats count: a paragraph pasted twice in ONE document is a
    duplicated span, exactly as a suffix array would report it)."""
    return (
        occ.groupBy(*_HK)
        .agg(F.count(F.lit(1)).alias("wc"))
        .where(F.col("wc") >= min_count)
        .select(*_HK)
    )


def _merge_cover(dupw: DataFrame, k: int) -> DataFrame:
    """Per-doc interval union of fixed-length-k windows at ``start`` →
    (id, dup_tokens, n_spans). Windows sorted by start; each row's NEW
    coverage is min(gap, k) where gap = start - prev start (first row
    covers k); a gap > k opens a new maximal span (gap == k is
    touching-adjacent, still one contiguous covered run)."""
    w = Window.partitionBy("id").orderBy("start")
    gap = F.col("start") - F.lag("start").over(w)
    return (
        dupw.select(
            "id",
            F.least(F.coalesce(gap, F.lit(k)), F.lit(k)).alias("cov"),
            F.when(gap.isNull() | (gap > k), 1).otherwise(0).alias("opens"),
        )
        .groupBy("id")
        .agg(
            F.sum("cov").cast("long").alias("dup_tokens"),
            F.sum("opens").cast("long").alias("n_spans"),
        )
    )


def duplicated_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span coverage — the corpus diagnostic
    that decides whether span removal is worth running, and the
    quality-filter feature ("drop docs that are >80% boilerplate").

    Returns one row per input document:
      (id, n_tokens, dup_tokens, n_spans, dup_frac)
    where dup_tokens is the size of the union of all k-token windows
    whose exact token sequence occurs >= min_count times corpus-wide,
    n_spans the number of maximal such runs, and dup_frac the covered
    fraction (0.0 for docs with < k tokens or no duplicated windows).

    Plan: one window inventory (explode), one count-shuffle on the
    window hash, one semi join back, one id-shuffle for the interval
    union — every stage linear in corpus tokens. See module docstring
    for the 100-TB argument.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    docs, occ = _window_occurrences(df, id_col, text_col, k)
    dupw = occ.join(_dup_window_hashes(occ, min_count), _HK, "leftsemi")
    stats = _merge_cover(dupw, k)
    return docs.join(stats, "id", "left").select(
        "id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_frac"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Rewrite each document with its duplicated spans removed —
    (id, clean_text, n_tokens, removed_tokens).

    ``keep_first=True`` (the Lee et al. policy) keeps the corpus-wide
    FIRST occurrence of each duplicated window (global order by
    (id, start) — deterministic under any partitioning) and removes the
    union of all later occurrences' windows; ``False`` removes every
    occurrence. As in the reference method this is per-window greedy:
    a kept-first window is kept even if a LONGER span containing it is
    removed elsewhere — the first doc retains one canonical copy of
    each repeated k-gram.

    ``clean_text`` is the surviving tokens (original order) joined by
    single spaces — span removal is inherently lossy re-tokenization,
    same as the reference implementation, so the output is normalized
    token text, not original bytes. Docs with nothing removed still
    come back tokenized (stable shape for downstream training
    pipelines); compare ``removed_tokens > 0`` to find rewritten docs.

    Plan adds to the stats op: one min(struct) aggregation on the hash
    (keep_first) and one id-keyed interval merge whose output is ONE
    small interval-list row per affected doc — the token arrays are
    never exploded or shuffled; covered tokens are dropped by an
    index-aware Catalyst array filter at scan time. Linear in corpus
    tokens; no pair materialization anywhere.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    docs, occ = _window_occurrences(df, id_col, text_col, k)
    dup_occ = occ.join(_dup_window_hashes(occ, min_count), _HK, "leftsemi")
    if keep_first:
        # min(struct) instead of a row_number window: a corpus-hot
        # window (boilerplate in millions of docs) makes its h-group
        # huge, and a rank sort over that partition cannot be split —
        # the partial-aggregated min and the subsequent join both can
        # (AQE skew split applies to the join).
        firsts = dup_occ.groupBy(*_HK).agg(
            F.min(F.struct("id", "start")).alias("first_occ")
        )
        removal = (
            dup_occ.join(firsts, _HK)
            .where(
                (F.col("id") != F.col("first_occ.id"))
                | (F.col("start") != F.col("first_occ.start"))
            )
            .select("id", "start")
        )
    else:
        removal = dup_occ.select("id", "start")
    # Merge removal windows into per-doc maximal [s, e) intervals FIRST
    # (lag window + run-sum over the id-keyed removal rows — a tiny
    # table, one row per duplicated-window occurrence), then hand each
    # doc its interval list and drop covered tokens with an index-aware
    # array filter. The token table itself is never exploded or
    # shuffled: the only per-token work is a map-side Catalyst lambda,
    # so the rewrite costs one scan + small-side shuffles regardless of
    # corpus token count.
    w = Window.partitionBy("id").orderBy("start")
    gap = F.col("start") - F.lag("start").over(w)
    runs = (
        removal.withColumn(
            "run", F.sum(F.when(gap.isNull() | (gap > k), 1).otherwise(0)).over(w)
        )
        .groupBy("id", "run")
        .agg(F.min("start").alias("s"), (F.max("start") + k).alias("e"))
        .groupBy("id")
        .agg(F.collect_list(F.struct("s", "e")).alias("iv"))
    )
    idx_in = lambda i: lambda v: (i >= v["s"]) & (i < v["e"])  # noqa: E731
    kept_col = F.when(F.col("iv").isNull(), F.col("toks")).otherwise(
        F.filter("toks", lambda t, i: ~F.exists("iv", idx_in(i)))
    )
    return (
        docs.join(runs, "id", "left")
        .withColumn("_kept", kept_col)
        .select(
            "id",
            F.array_join("_kept", " ").alias("clean_text"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias("removed_tokens"),
        )
    )
