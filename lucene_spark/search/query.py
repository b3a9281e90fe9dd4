"""Query tree: primitive + preprocessing nodes with rewrite/optimize.

Mirrors the reference's query algebra (src/Search/Query/*) as a fresh
Python implementation. Every node supports:

- ``rewrite(reader)``  — resolve against the index: field fan-out,
  keyword short-circuit, analyzer application, wildcard/fuzzy/range term
  dictionary expansion. Produces primitive nodes only.
- ``optimize(reader)`` — EmptyResult/Insignificant propagation, missing
  term pruning, single-clause collapse, Boolean→MultiTerm decomposition.

Sign convention follows the reference: ``True`` = required, ``False`` =
prohibited, ``None`` = optional. A signs list of ``None`` (not a list)
means "conjunction: all required" and scores differently from an
explicit all-True list only in code path, not value.

All of this is driver-side pure Python: the distributed part of a query
is the *execution* of the resulting primitive tree (model backend in
``lucene_spark.model``, DataFrame backend in ``lucene_spark.search.executor``).

Semantics studied from: Query/Term.php, MultiTerm.php, Boolean.php,
Phrase.php, Wildcard.php:91-205, Fuzzy.php:147-298, Range.php:138-219,
Preprocessing/{Term,Phrase}.php.
"""

from __future__ import annotations

import copy
import re
from abc import ABC, abstractmethod
from typing import Iterable, Iterator, Protocol

TERMS_PER_QUERY_LIMIT = 1024  # reference: src/Lucene.php:39
MAX_CLAUSE_COUNT = 1024  # reference: Fuzzy.php:32
DEFAULT_MIN_SIMILARITY = 0.5  # reference: Fuzzy.php:25
DEFAULT_FUZZY_PREFIX_LENGTH = 3  # reference: Fuzzy.php:38
MIN_WILDCARD_PREFIX_LENGTH = 3  # reference: Wildcard.php:29


class Term:
    """(field, text) pair; sort key is ``field \\0 text``
    (reference: src/Index/Term.php:20-44,125-128)."""

    __slots__ = ("field", "text")

    def __init__(self, text: str, field: str):
        self.text = text
        self.field = field

    def key(self) -> str:
        return f"{self.field}\0{self.text}"

    def __eq__(self, other):
        return (
            isinstance(other, Term)
            and self.field == other.field
            and self.text == other.text
        )

    def __hash__(self):
        return hash((self.field, self.text))

    def __repr__(self):
        return f"Term({self.field}:{self.text})"

    def __str__(self):
        return f"{self.field}:{self.text}"


class IndexReader(Protocol):
    """What rewrite/optimize need from an index (model or Spark-backed)."""

    def field_names(self, indexed_only: bool = True) -> list[str]: ...

    def has_term(self, term: Term) -> bool: ...

    def terms_from(self, field: str, start: str = "") -> Iterator[str]:
        """Sorted term texts of ``field`` starting at ``start`` (>=)."""
        ...

    def analyzer(self): ...

    def default_search_field(self) -> str | None: ...


class Query(ABC):
    def __init__(self):
        self.boost: float = 1.0

    def set_boost(self, b: float) -> "Query":
        self.boost = b
        return self

    @abstractmethod
    def rewrite(self, reader: IndexReader) -> "Query": ...

    def optimize(self, reader: IndexReader) -> "Query":
        return self

    def query_terms(self) -> list[Term]:
        return []


class Insignificant(Query):
    """Matches nothing, poisons nothing (reference: Insignificant.php)."""

    def rewrite(self, reader):
        return self

    def __str__(self):
        return "<InsignificantQuery>"


class EmptyResult(Query):
    """Matches nothing; REQUIRED EmptyResult kills the whole Boolean."""

    def rewrite(self, reader):
        return self

    def __str__(self):
        return "<EmptyQuery>"


def _fmt_boost(q: Query) -> str:
    if q.boost == 1.0:
        return ""
    b = q.boost
    return f"^{int(b)}" if float(b).is_integer() else f"^{round(b, 4)}"


class TermQuery(Query):
    def __init__(self, term: Term):
        super().__init__()
        self.term = term

    def rewrite(self, reader):
        if self.term.field is not None:
            return self
        # fieldless primitive term fans out over all indexed fields as a
        # MultiTerm of optional terms (reference: Term.php:60-76)
        terms = [Term(self.term.text, f) for f in reader.field_names(True)]
        q = MultiTermQuery(terms, [None] * len(terms))
        q.boost = self.boost
        return q

    def optimize(self, reader):
        if not reader.has_term(self.term):
            return EmptyResult()
        return self

    def query_terms(self):
        return [self.term]

    def __str__(self):
        return f"{self.term}{_fmt_boost(self)}"


class MultiTermQuery(Query):
    """Set of terms with signs (reference: MultiTerm.php)."""

    def __init__(self, terms: list[Term], signs: list[bool | None] | None = None):
        super().__init__()
        self.terms = list(terms)
        # None → conjunction (all required); an all-True list normalizes
        # to None (reference: Boolean.php:68-84 constructor)
        if signs is not None and all(s is True for s in signs):
            signs = None
        self.signs = None if signs is None else list(signs)

    def add_term(self, term: Term, sign: bool | None = None):
        # signs stays None only while every sign is True (MultiTerm.php:127-140)
        if sign is not True or self.signs is not None:
            if self.signs is None:
                self.signs = [True] * len(self.terms)
            self.signs.append(sign)
        self.terms.append(term)

    def rewrite(self, reader):
        return self

    def optimize(self, reader):
        # prune terms missing from the index (MultiTerm.php:190-247)
        terms = list(self.terms)
        signs = None if self.signs is None else list(self.signs)
        keep_t, keep_s = [], []
        for i, t in enumerate(terms):
            s = True if signs is None else signs[i]
            if not reader.has_term(t):
                if s is True:
                    return EmptyResult()
                continue  # optional/prohibited missing → drop
            keep_t.append(t)
            keep_s.append(s)
        signs_out = None if signs is None else keep_s
        if signs_out is not None and all(s is False for s in signs_out):
            return EmptyResult()
        if len(keep_t) == 1:
            q = TermQuery(keep_t[0])
            q.boost = self.boost
            return q
        if not keep_t:
            return EmptyResult()
        q = MultiTermQuery(keep_t, signs_out)
        q.boost = self.boost
        return q

    def query_terms(self):
        return list(self.terms)

    def __str__(self):
        # reference MultiTerm.php:593-620: no outer parens; '+' for
        # required terms (signs===null means conjunction → all '+');
        # boost wraps the whole list in parens
        parts = []
        for i, t in enumerate(self.terms):
            s = True if self.signs is None else self.signs[i]
            prefix = "+" if s is True else "-" if s is False else ""
            parts.append(f"{prefix}{t}")
        body = " ".join(parts)
        if self.boost != 1.0:
            return f"({body})" + _fmt_boost(self)
        return body


class BooleanQuery(Query):
    """Signs algebra over arbitrary subqueries (reference: Boolean.php)."""

    def __init__(
        self,
        subqueries: list[Query] | None = None,
        signs: list[bool | None] | None = None,
    ):
        super().__init__()
        self.subqueries = list(subqueries or [])
        if signs is not None and all(s is True for s in signs):
            signs = None
        self.signs = None if signs is None else list(signs)

    def add_subquery(self, q: Query, sign: bool | None = None):
        # signs stays None only while every sign is True (Boolean.php:119-130)
        if sign is not True or self.signs is not None:
            if self.signs is None:
                self.signs = [True] * len(self.subqueries)
            self.signs.append(sign)
        self.subqueries.append(q)

    def _sign(self, i: int):
        return True if self.signs is None else self.signs[i]

    def rewrite(self, reader):
        q = BooleanQuery()
        q.boost = self.boost
        for i, sub in enumerate(self.subqueries):
            q.add_subquery(sub.rewrite(reader), self._sign(i))
        return q

    def optimize(self, reader):  # Boolean.php:141-412
        subqueries = [s.optimize(reader) for s in self.subqueries]
        signs = [self._sign(i) for i in range(len(subqueries))]

        # remove insignificant subqueries
        pairs = [
            (s, g) for s, g in zip(subqueries, signs) if not isinstance(s, Insignificant)
        ]
        if not pairs:
            return Insignificant()
        if all(g is False for _, g in pairs):
            return Insignificant()

        # empty-result handling
        out = []
        for s, g in pairs:
            if isinstance(s, EmptyResult):
                if g is True:
                    return EmptyResult()
                continue
            out.append((s, g))
        if not out:
            return EmptyResult()
        if all(g is False for _, g in out):
            return EmptyResult()

        if len(out) == 1:
            sub = out[0][0]
            if self.boost != 1.0:
                # optimize() of leaf nodes returns SELF, so `sub` may be
                # an object shared with the caller's tree (and with other
                # shards' trees in MultiSearcher, whose per-shard
                # optimize each collapse the same Boolean) — mutating its
                # boost in place would compound across repeated
                # optimize() calls. Copy before scaling.
                sub = copy.copy(sub)
                sub.boost = sub.boost * self.boost
            return sub

        subqueries = [s for s, _ in out]
        signs = [g for _, g in out]

        # ---- Term/MultiTerm decomposition (Boolean.php:230-412) ----
        terms: list[Term] = []
        tsigns: list[bool | None] = []
        boosts: list[float] = []
        rest_q: list[Query] = []
        rest_s: list[bool | None] = []
        for s, g in zip(subqueries, signs):
            if isinstance(s, TermQuery):
                terms.append(s.term)
                tsigns.append(g)
                boosts.append(s.boost)
            elif isinstance(s, MultiTermQuery):
                sub_signs = s.signs
                if g is True:
                    has_req = sub_signs is None or any(x is True for x in sub_signs)
                    has_proh = sub_signs is not None and any(
                        x is False for x in sub_signs
                    )
                    if has_proh or not has_req:
                        rest_q.append(s)
                        rest_s.append(g)
                        continue
                    for j, t in enumerate(s.terms):
                        terms.append(t)
                        tsigns.append(True if sub_signs is None else sub_signs[j])
                        boosts.append(s.boost)
                else:  # optional or prohibited subquery
                    only_opt = sub_signs is not None and all(
                        x is None for x in sub_signs
                    )
                    if not only_opt:
                        rest_q.append(s)
                        rest_s.append(g)
                        continue
                    for t in s.terms:
                        terms.append(t)
                        tsigns.append(None if g is None else False)
                        boosts.append(s.boost)
            else:
                rest_q.append(s)
                rest_s.append(g)

        if not terms:
            q = BooleanQuery(subqueries, signs)
            q.boost = self.boost
            return q

        if not rest_q and len(set(boosts)) == 1:
            q = MultiTermQuery(terms, tsigns)
            q.boost = boosts[0] * self.boost
            return q

        # partial regrouping (reference keeps a Boolean with grouped clauses)
        pro_terms = [t for t, g in zip(terms, tsigns) if g is False]
        pos = [(t, g, b) for t, g, b in zip(terms, tsigns, boosts) if g is not False]
        grouped_ok = True
        if len(pos) == 1:
            c = TermQuery(pos[0][0])
            c.boost = pos[0][2]
            rest_q.append(c)
            rest_s.append(pos[0][1])
        elif len(pos) > 1 and len({b for _, _, b in pos}) == 1:
            c = MultiTermQuery([t for t, _, _ in pos], [g for _, g, _ in pos])
            c.boost = pos[0][2]
            rest_q.append(c)
            rest_s.append(True if any(g is True for _, g, _ in pos) else None)
        elif pos:
            grouped_ok = False
        if pro_terms:
            if len(pro_terms) == 1:
                rest_q.append(TermQuery(pro_terms[0]))
            else:
                rest_q.append(MultiTermQuery(pro_terms, [None] * len(pro_terms)))
            rest_s.append(False)
        if grouped_ok:
            q = BooleanQuery(rest_q, rest_s)
            q.boost = self.boost
            return q
        q = BooleanQuery(subqueries, signs)
        q.boost = self.boost
        return q

    def query_terms(self):
        out = []
        for s in self.subqueries:
            out.extend(s.query_terms())
        return out

    def __str__(self):
        parts = []
        for i, s in enumerate(self.subqueries):
            g = self._sign(i)
            prefix = "+" if g is True else "-" if g is False else ""
            parts.append(f"{prefix}({s})")
        body = " ".join(parts)
        if self.boost != 1.0:
            return f"({body})" + _fmt_boost(self)
        return body


class PhraseQuery(Query):
    """Exact/sloppy phrase (reference: Phrase.php)."""

    def __init__(
        self,
        terms: list[Term] | None = None,
        offsets: list[int] | None = None,
        slop: int = 0,
    ):
        super().__init__()
        self.terms = list(terms or [])
        self.offsets = list(offsets) if offsets is not None else list(
            range(len(self.terms))
        )
        self.slop = slop

    def add_term(self, term: Term, position: int | None = None):
        pos = (
            position
            if position is not None
            else (self.offsets[-1] + 1 if self.offsets else 0)
        )
        self.terms.append(term)
        self.offsets.append(pos)

    def rewrite(self, reader):
        if not self.terms or self.terms[0].field is not None:
            return self
        q = BooleanQuery()
        q.boost = self.boost
        for f in reader.field_names(True):
            sub = PhraseQuery(
                [Term(t.text, f) for t in self.terms], self.offsets, self.slop
            )
            q.add_subquery(sub, None)
        return q

    def optimize(self, reader):  # Phrase.php:205-228
        for t in self.terms:
            if not reader.has_term(t):
                return EmptyResult()
        if len(self.terms) == 1:
            q = TermQuery(self.terms[0])
            q.boost = self.boost
            return q
        if not self.terms:
            return EmptyResult()
        return self

    def query_terms(self):
        return list(self.terms)

    def __str__(self):
        field = self.terms[0].field if self.terms else None
        words = " ".join(t.text for t in self.terms)
        s = f'{field}:"{words}"' if field else f'"{words}"'
        if self.slop:
            s += f"~{self.slop}"
        return s + _fmt_boost(self)


def _java_wildcard_regex(pattern: str) -> str:
    """Anchored Java-regex equivalent of a * / ? wildcard pattern, for
    the JVM-side ``rlike`` prefilter (distributed expansion). Escapes
    every non-alphanumeric ASCII char — Java regex treats an escaped
    punctuation char as the literal; alphanumerics must stay bare (\\w
    etc. would become classes)."""
    out = []
    for c in pattern:
        if c == "?":
            out.append(".")
        elif c == "*":
            out.append(".*")
        elif c.isalnum() or ord(c) > 127:
            out.append(c)
        else:
            out.append("\\" + c)
    return "^" + "".join(out) + "$"


def _prefix_term_scan(reader, field: str, prefix: str):
    """Sorted terms of ``field`` under ``prefix`` via the generic
    ``terms_from`` iterator (fallback for readers without distributed
    expansion), with the reference's break-on-prefix-exhausted."""
    for text in reader.terms_from(field, prefix):
        if prefix and not text.startswith(prefix):
            break
        yield text


def _wildcard_prefix(pattern: str) -> str:
    qm = pattern.find("?")
    st = pattern.find("*")
    if qm >= 0 and st >= 0:
        return pattern[: min(qm, st)]
    if qm >= 0:
        return pattern[:qm]
    if st >= 0:
        return pattern[:st]
    return pattern


class WildcardQuery(Query):
    """Pattern with * / ? (reference: Wildcard.php:91-205)."""

    min_prefix_length = MIN_WILDCARD_PREFIX_LENGTH

    def __init__(self, pattern: Term):
        super().__init__()
        self.pattern = pattern
        self._matches: list[Term] = []

    def rewrite(self, reader):
        fields = (
            [self.pattern.field]
            if self.pattern.field is not None
            else reader.field_names(True)
        )
        prefix = _wildcard_prefix(self.pattern.text)
        if len(prefix) < self.min_prefix_length:
            raise ValueError(
                f"At least {self.min_prefix_length} non-wildcard characters are "
                "required at the beginning of pattern."
            )
        rx = re.compile(
            "^" + re.escape(self.pattern.text).replace(r"\?", ".").replace(r"\*", ".*") + "$"
        )
        distributed = hasattr(reader, "match_terms_regex")
        matches: list[Term] = []
        for field in fields:
            if distributed:
                # JVM rlike inside the pushed-down term_dict scan — the
                # driver sees candidate terms only (≤ limit + ε), not
                # dictionary pages; the Python regex stays authoritative
                source = reader.match_terms_regex(
                    field,
                    prefix,
                    _java_wildcard_regex(self.pattern.text),
                    TERMS_PER_QUERY_LIMIT,
                    is_match=rx.match,
                )
            else:
                source = _prefix_term_scan(reader, field, prefix)
            for text in source:
                if rx.match(text):
                    matches.append(Term(text, field))
                    if len(matches) > TERMS_PER_QUERY_LIMIT:
                        raise ValueError("Terms per query limit is reached.")
        self._matches = matches
        if not matches:
            return EmptyResult()
        if len(matches) == 1:
            q = TermQuery(matches[0])
            q.boost = self.boost
            return q
        q = MultiTermQuery(matches, [None] * len(matches))
        q.boost = self.boost
        return q

    def __str__(self):
        f = self.pattern.field
        return (f"{f}:" if f else "") + self.pattern.text + _fmt_boost(self)


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


class FuzzyQuery(Query):
    """Levenshtein-expanded term (reference: Fuzzy.php:147-298)."""

    default_prefix_length = DEFAULT_FUZZY_PREFIX_LENGTH  # settable, like the
    # reference's Fuzzy::setDefaultPrefixLength (tests set it to 0)

    def __init__(
        self,
        term: Term,
        min_similarity: float = DEFAULT_MIN_SIMILARITY,
        prefix_length: int | None = None,
    ):
        super().__init__()
        self.term = term
        self.min_similarity = min_similarity
        self.prefix_length = (
            prefix_length
            if prefix_length is not None
            else type(self).default_prefix_length
        )

    def rewrite(self, reader):
        fields = (
            [self.term.field]
            if self.term.field is not None
            else reader.field_names(True)
        )
        prefix = self.term.text[: self.prefix_length]
        prefix_len = len(prefix)
        term_rest = self.term.text[prefix_len:]
        rest_len = len(term_rest)
        scale = 1.0 / (1.0 - self.min_similarity)

        def sim_of(text: str) -> float:
            """The reference similarity (Fuzzy.php:147-298) — the
            authoritative Python formula; the JVM prefilter in
            index/expansion.py mirrors it epsilon-banded."""
            target = text[prefix_len:]
            max_dist = int(
                (1.0 - self.min_similarity) * (min(rest_len, len(target)) + prefix_len)
            )
            if rest_len == 0:
                return 0.0 if prefix_len == 0 else 1.0 - len(target) / prefix_len
            if target == "":
                return 0.0 if prefix_len == 0 else 1.0 - rest_len / prefix_len
            if max_dist < abs(rest_len - len(target)):
                return 0.0
            if prefix:
                return 1.0 - _levenshtein(term_rest, target) / (
                    prefix_len + min(rest_len, len(target))
                )
            return 1.0 - _levenshtein(term_rest, target) / min(
                rest_len, len(target)
            )

        distributed = hasattr(reader, "match_terms_fuzzy")
        matches: list[Term] = []
        scores: list[float] = []
        for field in fields:
            if distributed:
                # levenshtein + similarity arithmetic run JVM-side over
                # the dictionary slice (the WHOLE field dictionary when
                # prefix_length=0) — the driver collects only candidate
                # terms (≤ limit + ε), never vocabulary pages
                source = reader.match_terms_fuzzy(
                    field,
                    prefix,
                    term_rest,
                    self.min_similarity,
                    TERMS_PER_QUERY_LIMIT,
                    is_match=lambda t: sim_of(t) > self.min_similarity,
                )
            else:
                source = _prefix_term_scan(reader, field, prefix)
            for text in source:
                sim = sim_of(text)
                if sim > self.min_similarity:
                    matches.append(Term(text, field))
                    scores.append((sim - self.min_similarity) * scale)
                    if len(matches) > TERMS_PER_QUERY_LIMIT:
                        raise ValueError("Terms per query limit is reached.")

        if not matches:
            return EmptyResult()
        if len(matches) == 1:
            return TermQuery(matches[0])
        # sort score desc, term key asc; truncate at MAX_CLAUSE_COUNT
        order = sorted(range(len(matches)), key=lambda i: (-scores[i], matches[i].key()))
        q = BooleanQuery()
        for i in order[:MAX_CLAUSE_COUNT]:
            sub = TermQuery(matches[i])
            sub.boost = scores[i]
            q.add_subquery(sub, None)
        return q

    def __str__(self):
        f = self.term.field
        s = (f"{f}:" if f else "") + self.term.text + "~"
        if self.min_similarity != DEFAULT_MIN_SIMILARITY:
            s += str(round(self.min_similarity, 4))
        return s + _fmt_boost(self)


class RangeQuery(Query):
    """Term range (reference: Range.php:138-219)."""

    def __init__(self, lower: Term | None, upper: Term | None, inclusive: bool):
        super().__init__()
        self.lower = lower
        self.upper = upper
        self.inclusive = inclusive
        self.field = (lower or upper).field if (lower or upper) else None

    def rewrite(self, reader):
        fields = [self.field] if self.field is not None else reader.field_names(True)
        distributed = hasattr(reader, "match_terms_range")
        matches: list[Term] = []
        for field in fields:
            lo = self.lower.text if self.lower is not None else ""
            up = self.upper.text if self.upper is not None else None
            if distributed:
                # pure range predicate — pushed down into the sorted
                # term_dict scan; one job instead of cursor pages
                source = reader.match_terms_range(
                    field,
                    self.lower.text if self.lower is not None else None,
                    up,
                    self.inclusive,
                    TERMS_PER_QUERY_LIMIT,
                )
            else:
                source = self._range_term_scan(reader, field, lo, up)
            for text in source:
                matches.append(Term(text, field))
                if len(matches) > TERMS_PER_QUERY_LIMIT:
                    raise ValueError("Terms per query limit is reached.")
        if not matches:
            return EmptyResult()
        if len(matches) == 1:
            return TermQuery(matches[0])
        return MultiTermQuery(matches, [None] * len(matches))

    def _range_term_scan(self, reader, field: str, lo: str, up: str | None):
        """terms_from fallback with the reference's bound handling
        (Range.php:138-219): skip an exclusive lower bound, break past
        the upper."""
        for text in reader.terms_from(field, lo):
            if not self.inclusive and self.lower is not None and text == lo:
                continue
            if up is not None:
                if text > up or (text == up and not self.inclusive):
                    break
            yield text

    def __str__(self):
        lb, rb = ("[", "]") if self.inclusive else ("{", "}")
        f = f"{self.field}:" if self.field else ""
        lo = self.lower.text if self.lower else "null"
        up = self.upper.text if self.upper else "null"
        return f"{f}{lb}{lo} TO {up}{rb}" + _fmt_boost(self)


class PrepTermQuery(Query):
    """Post-parse word resolution (reference: Preprocessing/Term.php:70-212)."""

    def __init__(self, word: str, field: str | None = None):
        super().__init__()
        self.word = word
        self.field = field

    def rewrite(self, reader):
        if self.field is None:
            q = MultiTermQuery([], [])
            q.boost = self.boost
            has_insignificant = False
            default_field = reader.default_search_field()
            fields = (
                [default_field] if default_field is not None else reader.field_names(True)
            )
            for f in fields:
                sub = PrepTermQuery(self.word, f).rewrite(reader)
                for t in sub.query_terms():
                    q.add_term(t, None)
                if isinstance(sub, Insignificant):
                    has_insignificant = True
            if not q.terms:
                return Insignificant() if has_insignificant else EmptyResult()
            return q

        # keyword exact match short-circuit
        t = Term(self.word, self.field)
        if reader.has_term(t):
            q = TermQuery(t)
            q.boost = self.boost
            return q

        # wildcard detection
        if "*" in self.word or "?" in self.word:
            analyzer = reader.analyzer()
            pattern = ""
            for i, sub in enumerate(re.split(r"([*?])", self.word)):
                if sub in ("*", "?"):
                    pattern += sub
                    continue
                toks = analyzer.terms(sub)
                if len(toks) > 1:
                    raise ValueError(
                        "Wildcard search is supported only for non-multiple word terms"
                    )
                pattern += toks[0] if toks else ""
            q = WildcardQuery(Term(pattern, self.field))
            q.boost = self.boost
            return q.rewrite(reader)

        toks = reader.analyzer().terms(self.word)
        if not toks:
            return Insignificant()
        if len(toks) == 1:
            q = TermQuery(Term(toks[0], self.field))
            q.boost = self.boost
            return q
        q = MultiTermQuery(
            [Term(tt, self.field) for tt in toks], [True] * len(toks)
        )
        q.boost = self.boost
        return q

    def __str__(self):
        return (f"{self.field}:" if self.field else "") + self.word + _fmt_boost(self)


class PrepPhraseQuery(Query):
    """Post-parse phrase resolution (reference: Preprocessing/Phrase.php:87-160)."""

    def __init__(self, phrase: str, field: str | None = None, slop: int = 0):
        super().__init__()
        self.phrase = phrase
        self.field = field
        self.slop = slop

    def rewrite(self, reader):
        if self.field is None:
            q = BooleanQuery()
            q.boost = self.boost
            default_field = reader.default_search_field()
            fields = (
                [default_field] if default_field is not None else reader.field_names(True)
            )
            for f in fields:
                sub = PrepPhraseQuery(self.phrase, f, self.slop)
                q.add_subquery(sub.rewrite(reader), None)
            return q

        t = Term(self.phrase, self.field)
        if reader.has_term(t):
            q = TermQuery(t)
            q.boost = self.boost
            return q

        toks = reader.analyzer().tokens(self.phrase)
        if not toks:
            return Insignificant()
        if len(toks) == 1:
            q = TermQuery(Term(toks[0].text, self.field))
            q.boost = self.boost
            return q
        q = PhraseQuery(slop=self.slop)
        position = -1
        for tok in toks:
            position += tok.position_increment
            q.add_term(Term(tok.text, self.field), position)
        q.boost = self.boost
        return q

    def __str__(self):
        f = f"{self.field}:" if self.field else ""
        s = f'{f}"{self.phrase}"'
        if self.slop:
            s += f"~{self.slop}"
        return s + _fmt_boost(self)


class PrepFuzzyQuery(Query):
    """Post-parse fuzzy resolution (reference: Preprocessing/Fuzzy.php)."""

    def __init__(
        self,
        word: str,
        field: str | None = None,
        min_similarity: float = DEFAULT_MIN_SIMILARITY,
    ):
        super().__init__()
        self.word = word
        self.field = field
        self.min_similarity = min_similarity

    def rewrite(self, reader):
        if self.field is None:
            q = BooleanQuery()
            has_insignificant = False
            default_field = reader.default_search_field()
            fields = (
                [default_field] if default_field is not None else reader.field_names(True)
            )
            for f in fields:
                sub = PrepFuzzyQuery(self.word, f, self.min_similarity).rewrite(reader)
                # fields with no fuzzy matches are SKIPPED, not kept as
                # empty children (Preprocessing/Fuzzy.php:106-114)
                if isinstance(sub, Insignificant):
                    has_insignificant = True
                    continue
                if isinstance(sub, EmptyResult):
                    continue
                q.add_subquery(sub, None)
            if not q.subqueries:
                return Insignificant() if has_insignificant else EmptyResult()
            if len(q.subqueries) == 1:
                q = q.subqueries[0]
            q.boost = self.boost
            return q

        toks = reader.analyzer().terms(self.word)
        if not toks:
            return Insignificant()
        if len(toks) > 1:
            raise ValueError("Fuzzy search is supported only for non-multiple word terms")
        q = FuzzyQuery(Term(toks[0], self.field), self.min_similarity)
        q.boost = self.boost
        return q.rewrite(reader)

    def __str__(self):
        f = f"{self.field}:" if self.field else ""
        s = f"{f}{self.word}~"
        if self.min_similarity != DEFAULT_MIN_SIMILARITY:
            s += str(round(self.min_similarity, 4))
        return s + _fmt_boost(self)
