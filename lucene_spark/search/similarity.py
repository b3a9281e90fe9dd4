"""Scoring primitives: classic (reference-parity) and BM25 (production).

Classic formulas (reference DefaultSimilarity):
- tf(freq) = sqrt(freq)                       (DefaultSimilarity.php:50-53)
- idf(df, N) = ln(N/(df+1)) + 1               (DefaultSimilarity.php:75-78)
- lengthNorm(n) = 1/sqrt(n), 0→1e10           (DefaultSimilarity.php:22-29)
- queryNorm(ssw) = 1/sqrt(ssw)                (DefaultSimilarity.php:38-41)
- coord(overlap, max) = overlap/max           (DefaultSimilarity.php:88-91)
- sloppyFreq(d) = 1/(d+1)                     (DefaultSimilarity.php:62-65)

BM25 is NOT in the reference; BASELINE.json mandates k1=1.2, b=0.75 for
the production path. We use the Lucene-standard idf:
``ln(1 + (N - df + 0.5)/(df + 0.5))`` and
``score = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``.
The same formula is emitted as Spark SQL, as the pure-Python model, and
as the DuckDB oracle SQL, so all three agree bit-for-bit.
"""

from __future__ import annotations

import math

BM25_K1 = 1.2
BM25_B = 0.75


def classic_tf(freq: float) -> float:
    return math.sqrt(freq)


def classic_idf(df: int, num_docs: int) -> float:
    return math.log(num_docs / (df + 1)) + 1.0


def classic_query_norm(sum_sq: float) -> float:
    return 1.0 / math.sqrt(sum_sq) if sum_sq > 0 else 1.0


def classic_coord(overlap: int, max_overlap: int) -> float:
    return overlap / max_overlap if max_overlap else 1.0


def sloppy_freq(distance: int) -> float:
    return 1.0 / (distance + 1.0)


def bm25_idf(df: int, num_docs: int) -> float:
    return math.log(1.0 + (num_docs - df + 0.5) / (df + 0.5))


def bm25_partial(tf: float, dl: float, avgdl: float,
                 k1: float = BM25_K1, b: float = BM25_B) -> float:
    """tf-and-length part of BM25 (idf applied by the caller)."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


# ------------------------------------------------- pluggable similarity


class Similarity:
    """Pluggable classic-scoring hooks ≙ the reference's similarity
    override points (AbstractSimilarity.php:296 ``setDefault``;
    DefaultSimilarity.php lengthNorm:22-29 queryNorm:38-41 tf:50-53
    sloppyFreq:62-65 idf:75-78 coord:88-91).

    The scalar hooks drive the pure-Python model, the index build
    (``length_norm`` — baked into the norm byte, like the reference's
    DocumentWriter), and driver-side weight math. ``tf_expr``
    additionally emits the equivalent Catalyst Column so the Spark
    engine scores identically — override BOTH ``tf`` and ``tf_expr``
    for a custom tf (parity asserted in tests). ``length_norm`` takes
    scalars or numpy arrays (the build kernel is vectorized);
    ``sloppy_freq_np`` takes a numpy distance array.

    Instances must be picklable: hooks are captured driver-side into
    builder/executor kernel closures (never resolved on workers, so a
    worker always scores with the similarity that planned the job).
    Defaults delegate to the module formulas above — default behavior
    is byte-identical with or without the indirection.
    """

    def tf(self, freq: float) -> float:
        return classic_tf(freq)

    def tf_expr(self, c):
        """Catalyst Column equivalent of :meth:`tf` (c: numeric Column)."""
        from pyspark.sql import functions as F

        return F.sqrt(c.cast("double"))

    def idf(self, df: int, num_docs: int) -> float:
        return classic_idf(df, num_docs)

    def length_norm(self, num_tokens):
        """ndarray|int → ndarray|float; quantized to the norm byte at
        index build time (same quantization as the reference)."""
        from lucene_spark.codec.norms import length_norm

        return length_norm(num_tokens)

    def query_norm(self, sum_sq: float) -> float:
        return classic_query_norm(sum_sq)

    def coord(self, overlap: int, max_overlap: int) -> float:
        return classic_coord(overlap, max_overlap)

    def coord_expr(self, overlap, max_overlap: int):
        """Catalyst Column equivalent of :meth:`coord` (overlap: int
        Column, max_overlap: driver int)."""
        from pyspark.sql import functions as F

        if not max_overlap:
            return F.lit(1.0)
        return overlap.cast("double") / F.lit(float(max_overlap))

    def sloppy_freq(self, distance: int) -> float:
        return sloppy_freq(distance)

    def sloppy_freq_np(self, d):
        """Vectorized :meth:`sloppy_freq` over a numpy distance array."""
        return 1.0 / (d + 1.0)


_default_similarity = Similarity()


def get_default() -> Similarity:
    """≙ AbstractSimilarity::getDefault (AbstractSimilarity.php:308-315)."""
    return _default_similarity


def set_default(sim: Similarity) -> None:
    """≙ AbstractSimilarity::setDefault (AbstractSimilarity.php:296-299):
    swap the classic scoring implementation globally — the Python
    model, index build (lengthNorm), and Spark executor all consult
    the default at plan/build time."""
    global _default_similarity
    _default_similarity = sim
