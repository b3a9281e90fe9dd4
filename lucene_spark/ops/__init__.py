"""Training-data-pipeline operators over document / embedding tables.

These are first-class engine components beyond the reference's search
surface: the operations a 100 TB training-data pipeline needs —
deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine, exact-substring duplicated-span detection/removal),
approximate-nearest-neighbor search (brute-force
cosine baseline + IVF-bucketed scale path), text analysis (language-ID,
quality scoring, token counting, fingerprinting), corpus cleaning
(PII detect/redact, Gopher repetition stats/filter, boilerplate-line
removal) and multimodal binary column plumbing.

Everything here is expressed with built-in ``pyspark.sql.functions``
(higher-order array functions, md5, aggregates) — whole-stage-codegen
JVM execution, no Python UDFs in any hot path — so each op both scales
and is exactly reproducible as ANSI SQL for the DuckDB oracle.
"""

from lucene_spark.ops.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from lucene_spark.ops.similarity import (
    brute_force_topk,
    cosine_pairs,
    ivf_topk,
    rp_lsh_pairs,
)
from lucene_spark.ops.packing import pack_sequences
from lucene_spark.ops.sampling import (
    hash_sample,
    hash_split,
    stratified_hash_sample,
)
from lucene_spark.ops.textstats import (
    fingerprint,
    lang_id,
    quality_score,
    token_counts,
)
from lucene_spark.ops.spans import (
    duplicated_span_stats,
    remove_duplicated_spans,
)
from lucene_spark.ops.cleaning import (
    boilerplate_lines,
    gopher_repetition_filter,
    pii_redact,
    pii_stats,
    remove_boilerplate,
    repetition_stats,
)

__all__ = [
    "duplicated_span_stats",
    "remove_duplicated_spans",
    "boilerplate_lines",
    "gopher_repetition_filter",
    "pii_redact",
    "pii_stats",
    "remove_boilerplate",
    "repetition_stats",
    "pack_sequences",
    "hash_sample",
    "hash_split",
    "stratified_hash_sample",
    "rp_lsh_pairs",
    "exact_dedup",
    "minhash_lsh_pairs",
    "minhash_signature",
    "ngram_jaccard_pairs",
    "simhash",
    "word_shingles",
    "brute_force_topk",
    "cosine_pairs",
    "ivf_topk",
    "fingerprint",
    "lang_id",
    "quality_score",
    "token_counts",
]
