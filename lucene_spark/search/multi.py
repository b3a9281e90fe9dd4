"""MultiSearcher: ranked search across several indexes.

Reference: ``MultiSearcher::find`` runs the query per sub-index,
shifts docIDs by the preceding indexes' sizes and concatenates WITHOUT
re-sorting (a documented @todo — src/MultiSearcher.php:370-395). We
keep the id-shifting contract but do the global re-rank correctly:
take top-k per index (cheap, parallel), union the small per-index
results, re-sort globally — the standard scatter/gather top-k.

Two statistics modes:

- ``global_stats=False`` (reference parity): scores use each sub-index's
  own (df, N, avgdl), so cross-index scores are only comparable when the
  sub-corpora are statistically similar — the same caveat the reference
  ships with.
- ``global_stats=True`` (the @todo fixed — what a sharded 100 TB
  deployment needs): merged corpus statistics are computed on the
  driver (a handful of integers per query term/field — df sums, total
  N, merged avgdl) and injected into every sub-query through a stats
  proxy, so a document scores identically wherever it is sharded.

Dictionary expansion (wildcard/fuzzy/range) is MERGED across shards,
like the reference's ``TermStreamsPriorityQueue`` k-way term-stream
merge (src/TermStreamsPriorityQueue.php:222-330, src/Index.php:
1190-1276): the query is rewritten ONCE against the union of the
shards' dictionaries, so the 1024-term expansion caps select one
GLOBAL term set — per-shard expansion could pick different terms per
shard near the cap. The rewritten (primitive) query is then handed to
every shard; re-rewriting a primitive tree is a no-op.
"""

from __future__ import annotations

import heapq
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from lucene_spark.index import tiers
from lucene_spark.index.builder import SparkIndex
from lucene_spark.search.executor import SparkSearcher
from lucene_spark.search.parser import parse_query
from lucene_spark.search.query import Query


def _texts(pairs: list[tuple[str, int]]) -> list[str]:
    # the merged df is global; each shard's df cache keeps its own
    return [text for text, _df in pairs]


class _GlobalStatsView:
    """Sub-index proxy that answers corpus-statistics questions (n_docs,
    doc_freq, avg_field_len) with MERGED values while delegating
    everything else (postings, docs, analyzer, dictionary scans…) to the
    wrapped shard. The executor's weight math only consumes these three
    driver-side stats, so this is the entire surface of the fix."""

    def __init__(self, sub: SparkIndex, owner: "MultiSearcher"):
        self._sub = sub
        self._owner = owner

    def __getattr__(self, name):
        return getattr(self._sub, name)

    @property
    def n_docs(self) -> int:
        return self._owner.total_docs

    def doc_freq(self, term) -> int:
        return self._owner.global_doc_freq(term)

    def has_term(self, term) -> bool:
        """GLOBAL presence, not the shard's: optimize() prunes tree
        nodes via has_term, and a per-shard answer would prune a
        locally-absent term from one shard's tree but not another's —
        changing the classic coord DENOMINATOR per shard and breaking
        the shard-layout-invariance global_stats promises (round-5
        multi-shard fuzzer finding, 3× coord skew). A globally-present
        term that is locally absent simply contributes no postings."""
        return self._owner.has_term(term)

    def prefetch_terms(self, terms) -> None:
        for ix in self._owner.indexes:
            ix.prefetch_terms(terms)

    def avg_field_len(self, field: str) -> float:
        return self._owner.global_avg_field_len(field)


class MultiSearcher:
    def __init__(self, indexes: list[SparkIndex]):
        if not indexes:
            raise ValueError("MultiSearcher needs at least one index")
        self.indexes = indexes
        self.offsets = []
        acc = 0
        for ix in indexes:
            self.offsets.append(acc)
            acc += ix.n_docs
        self.total_docs = acc

    # ---- merged reader protocol (for ONE global query rewrite) ----
    # MultiSearcher itself satisfies enough of IndexReader for
    # Query.rewrite/optimize: field names, analyzer, doc freqs, and —
    # the reference-parity piece — a MERGED term dictionary.

    def field_names(self, indexed_only: bool = True) -> list[str]:
        out: list[str] = []
        for ix in self.indexes:
            for f in ix.field_names(indexed_only):
                if f not in out:
                    out.append(f)
        return out

    def analyzer(self):
        return self.indexes[0].analyzer()

    def set_default_search_field(self, f: str | None):
        for ix in self.indexes:
            ix.set_default_search_field(f)

    def default_search_field(self):
        return self.indexes[0].default_search_field()

    @property
    def n_docs(self) -> int:
        return self.total_docs

    def prefetch_terms(self, terms) -> None:
        for ix in self.indexes:
            ix.prefetch_terms(terms)

    def doc_freq(self, term) -> int:
        return self.global_doc_freq(term)

    def has_term(self, term) -> bool:
        return any(ix.has_term(term) for ix in self.indexes)

    def avg_field_len(self, field: str) -> float:
        return self.global_avg_field_len(field)

    def undelete_all(self) -> int:
        """≙ reference MultiSearcher::undeleteAll() (MultiSearcher.php:
        834-839) — restore logical deletes on every shard. Returns the
        total number of docs restored across shards."""
        from lucene_spark.index.lifecycle import undelete_all

        return sum(undelete_all(ix) for ix in self.indexes)

    def terms_from(self, field: str, start: str = ""):
        """K-way merged sorted term stream over all shards, duplicates
        collapsed — the reference's TermStreamsPriorityQueue semantics
        (TermStreamsPriorityQueue.php:222-330) over per-shard
        ``terms_from`` cursors. Lazy: shards page only as consumed."""
        merged = heapq.merge(*[ix.terms_from(field, start) for ix in self.indexes])
        last = None
        for t in merged:
            if t != last:
                last = t
                yield t

    def _merged_term_dict(self) -> DataFrame:
        """Union of the shards' per-tier dictionary rows — the
        distributed-expansion source. No distinct/aggregate shuffle: the
        expansion collect sums a term's rows on the driver, so one
        expansion stays one job per field."""
        return reduce(
            lambda a, b: a.unionByName(b),
            [
                ix._tier_term_dict.select("field", "term", "df")
                for ix in self.indexes
            ],
        )

    def match_terms_regex(self, field, prefix, java_regex, limit, is_match=None):
        from lucene_spark.index.expansion import match_terms_regex

        return _texts(
            match_terms_regex(
                self._merged_term_dict(), field, prefix, java_regex, limit, is_match
            )
        )

    def match_terms_fuzzy(
        self, field, prefix, rest, min_similarity, limit, is_match=None
    ):
        from lucene_spark.index.expansion import match_terms_fuzzy

        return _texts(
            match_terms_fuzzy(
                self._merged_term_dict(),
                field,
                prefix,
                rest,
                min_similarity,
                limit,
                is_match,
            )
        )

    def match_terms_range(self, field, lower, upper, inclusive, limit):
        from lucene_spark.index.expansion import match_terms_range

        return _texts(
            match_terms_range(
                self._merged_term_dict(), field, lower, upper, inclusive, limit
            )
        )

    # ---- merged corpus statistics (driver-side integers) ----
    def global_doc_freq(self, term) -> int:
        return sum(ix.doc_freq(term) for ix in self.indexes)

    def global_avg_field_len(self, field: str) -> float:
        fs = tiers.sum_fields(*(ix._fields for ix in self.indexes)).get(field)
        n = fs["n_docs_with_field"] if fs else 0
        return fs["sum_len"] / n if n else 0.0

    def search(
        self,
        query,
        k: int = 10,
        score_mode: str = "bm25",
        default_field: str | None = None,
        global_stats: bool = False,
    ) -> DataFrame:
        """Global top-k over all sub-indexes; doc_id is globally shifted
        (sub-index local id + Σ preceding sizes — src/Index.php:866-873).
        With ``global_stats`` every shard scores against the merged
        (df, N, avgdl), making rankings shard-layout-invariant.
        """
        # classic + global_stats: per-shard top-score normalization would
        # re-introduce shard dependence (each shard divides by ITS max) —
        # collect raw scores and normalize once by the GLOBAL max. The
        # per-shard top-k cut is still safe: normalization is a single
        # monotone global scale. Default (reference-parity) mode keeps
        # the per-shard normalization the reference itself exhibits.
        global_classic = global_stats and score_mode == "classic"
        # ONE global rewrite against the merged dictionary (reference:
        # TermStreamsPriorityQueue term-stream merge) — wildcard/fuzzy/
        # range caps select a single global term set. Shards receive the
        # primitive tree; their own rewrite pass is then a no-op and
        # their optimize() prunes locally-missing terms as usual.
        if isinstance(query, str):
            self.set_default_search_field(default_field)
            query = parse_query(query, default_field)
        if isinstance(query, Query):
            query = query.rewrite(self)
            # Warm every shard's df cache ONCE before the scatter so the
            # threads below don't race into duplicate dictionary reads
            # (the global-stats view prefetches all shards from whichever
            # thread asks first; with warm caches that's a no-op).
            self.prefetch_terms(query.query_terms())

        def _shard_hits(ix: SparkIndex, off: int) -> DataFrame:
            target = _GlobalStatsView(ix, self) if global_stats else ix
            hits = SparkSearcher(target).search(
                query,
                k=k,
                score_mode=score_mode,
                default_field=default_field,
                classic_normalize=not global_classic,
            )
            return hits.select(
                (F.col("doc_id") + F.lit(off)).alias("doc_id"), "score"
            )

        # PARALLEL scatter: each shard's plan construction runs driver-
        # side Spark jobs (WAND seeds, candidate fetches) that
        # serialized shard-by-shard when this was a plain loop — on a
        # cluster the per-shard jobs touch disjoint executor
        # sets, so overlapping them is the scatter half of scatter/
        # gather. The tree handed to each thread is primitive and
        # rewrite/optimize are copy-on-write (no shared-tree mutation —
        # see BooleanQuery.optimize's collapse), and Spark supports
        # concurrent job submission from driver threads. Results keep
        # shard order, so plans are thread-count invariant.
        if len(self.indexes) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(len(self.indexes), 16)
            ) as pool:
                parts = list(pool.map(_shard_hits, self.indexes, self.offsets))
        else:
            parts = [_shard_hits(self.indexes[0], self.offsets[0])]
        un = reduce(lambda a, b: a.unionByName(b), parts)
        if global_classic:
            top = un.agg(F.max("score").alias("m"))
            un = un.crossJoin(F.broadcast(top)).select(
                "doc_id",
                F.when(F.col("m") > 1.0, F.col("score") / F.col("m"))
                .otherwise(F.col("score"))
                .alias("score"),
            )
        out = un.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        return out.limit(k) if k else out
