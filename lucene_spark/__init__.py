"""lucene_spark — a PySpark-native inverted-index + ranked-search engine.

A brand-new engine with the query/data-processing capabilities of the
reference full-text library (sajya/lucene, a PHP implementation of the
Lucene 2.x index format): analyzer chain, inverted-index build with
delta+varbyte-compressed posting blocks and block-max metadata, Lucene
query language (term / boolean / phrase / wildcard / fuzzy / range),
classic TF-IDF scoring (rank-parity mode) and BM25 (k1=1.2, b=0.75)
production scoring — re-architected for Spark: DataFrame-declarative
plans, vectorized Arrow UDFs, salted range-partitioned merges.

Package map
-----------
- ``analysis``   tokenizers + token filters (vectorized, pandas-level)
- ``codec``      delta/varbyte posting codec + norm byte codebook (numpy)
- ``index``      distributed index build: segments, manifests, merge
- ``search``     query parser, query tree, DataFrame execution, scoring
- ``model``      pure-Python single-process model implementation (test oracle)
- ``ops``        training-data ops: dedup, ANN, text quality, multimodal
"""

__version__ = "0.1.0"

from lucene_spark import _worker

# once per Python worker process; a no-op on the driver (see _worker)
_worker.install()
