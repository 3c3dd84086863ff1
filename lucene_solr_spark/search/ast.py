"""Query AST + logical rewrite rules.

Mirrors the reference's immutable Query tree and the BooleanQuery rewrite
fixpoint (`search/BooleanQuery.java:235-340`, applied by
`IndexSearcher.rewrite`, `search/IndexSearcher.java:754-761`):

- empty boolean → MatchNo
- single-SHOULD/MUST unwrap
- a term both SHOULD/MUST and MUST_NOT → MatchNo / clause elimination
- duplicate FILTER/MUST_NOT dedup
- minimumShouldMatch > #SHOULD → MatchNo
- nested single-occur flattening
- BoostQuery(boost=1) unwrap; nested boosts multiply
  (`search/BoostQuery.java:34,66`)

Terms are (field, text) pairs exactly as in the reference
(`index/Term.java:69`); every leaf node carries a field, defaulting to
the engine's default field ("text"). Multi-term leaves (prefix /
wildcard / regexp / fuzzy / range — `search/MultiTermQuery.java`) are
carried symbolically and expanded against the term dictionary by the
Searcher (the MultiTermQuery.rewrite step), not here.

The executor consumes the *normalized* tree only.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

DEFAULT_FIELD = "text"


class Occur(Enum):
    MUST = "MUST"
    SHOULD = "SHOULD"
    MUST_NOT = "MUST_NOT"
    FILTER = "FILTER"   # match-required, non-scoring


@dataclass(frozen=True)
class TermQuery:
    term: str
    field: str = DEFAULT_FIELD

    def __str__(self):
        return f"{self.field}:{self.term}"


@dataclass(frozen=True)
class PhraseQuery:
    terms: tuple
    field: str = DEFAULT_FIELD
    slop: int = 0           # PhraseQuery.java:70 — edit-distance budget
    # "mindisp" = the vectorized first-term-anchored min-displacement
    # spec (oracle-gated default); "lucene" = the per-doc faithful
    # SloppyPhraseMatcher port (search/sloppy_lucene.py)
    matcher: str = "mindisp"
    # explicit term positions (PhraseQuery.Builder.add(term, position)):
    # None = dense 0,1,2,…; a strictly-increasing tuple allows gaps —
    # the NGramPhraseQuery rewrite shape. Exact matching only.
    positions: tuple | None = None

    def __post_init__(self):
        if self.positions is not None:
            p = tuple(self.positions)
            if len(p) != len(self.terms):
                raise ValueError("positions must align with terms")
            if any(b <= a for a, b in zip(p, p[1:])):
                raise ValueError("positions must be strictly increasing")
            if self.slop != 0:
                raise ValueError(
                    "explicit positions support exact (slop=0) matching")
            if self.matcher != "mindisp":
                raise ValueError(
                    "explicit positions run on the vectorized matcher")

    def __str__(self):
        s = f'{self.field}:"' + " ".join(self.terms) + '"'
        return s + (f"~{self.slop}" if self.slop else "")


@dataclass(frozen=True)
class MultiPhraseQuery:
    """`search/MultiPhraseQuery.java:58` — a phrase in which each
    position admits any of several terms (the classic use is analyzer
    synonym/stem expansion at a slot); matching unions the postings of
    a slot's terms (`MultiPhraseQuery.java` UnionPostingsEnum) and then
    runs ordinary exact/sloppy phrase matching over the unioned
    position streams. One SimScorer is built over all terms' aggregated
    stats (MultiPhraseWeight ctor), so weight = boost × Σ idf over
    every term in every slot. Engine spec divergence (pinned in tests):
    terms with df == 0 are dropped from both matching and the weight
    sum; a slot with no surviving term cannot match."""
    slots: tuple            # tuple of tuple[str, ...], one per position
    field: str = DEFAULT_FIELD
    slop: int = 0

    def __str__(self):
        body = " ".join("(" + "|".join(s) + ")" for s in self.slots)
        return f'{self.field}:"{body}"' + (f"~{self.slop}" if self.slop
                                           else "")


@dataclass(frozen=True)
class SpanTermQuery:
    """`search/spans/SpanTermQuery.java:39`: each occurrence is a
    (p, p+1) span of width 0 (`TermSpans.java:110`). As a top-level
    query it scores like TermQuery (Σ 1/(1+0) = freq); its value is as
    a building block under the other span compositors."""
    term: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanNearQuery:
    """Span-near (`search/spans/SpanNearQuery.java:63`). Children are
    the `terms` tuple (each a str → SpanTermQuery) or, for composite
    spans, `clauses` (a tuple of Span*Query nodes — exactly one of
    `terms`/`clauses` may be non-empty).

    Ordered (`in_order=True`, `NearSpansOrdered.java:100-119`): engine
    spec (shared with oracle + SQL gate) — for every span s0 of the
    first child, greedily chain each later child to its FIRST span with
    start ≥ previous end; matchWidth = Σ (start_i − end_{i−1}) ≤ slop
    matches, contributing 1/(1+matchWidth) to the span freq
    (`SpanScorer.java:109`). (Lucene enumerates minimal spans rather
    than one candidate per first-child span — same matches for 2-term
    spans, may differ in *freq* on overlapping 3+-term repeats;
    divergence pinned in tests.)

    Unordered (`in_order=False`, `NearSpansUnordered.java:93-96,163`):
    engine spec — for every span s0 of the FIRST child, take each other
    child's span NEAREST by start position; the window [min start,
    max end) matches when (window − Σ child span lengths) ≤ slop,
    contributing 1/(1+window) — Lucene's width() for unordered spans is
    the window EXTENT, not the gap sum. (Lucene enumerates queue
    windows; one-candidate-per-first-child-span divergence pinned.)"""
    terms: tuple = ()
    slop: int = 0
    field: str = DEFAULT_FIELD
    clauses: tuple = ()
    in_order: bool = True


@dataclass(frozen=True)
class SpanOrQuery:
    """`search/spans/SpanOrQuery.java:360`: union of the child span
    streams; each span keeps its own width."""
    clauses: tuple
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanNotQuery:
    """`search/spans/SpanNotQuery.java:66,180-191`: spans of `include`
    with no `exclude` span overlapping — an include span [s, e) is
    rejected iff some exclude span has end > s − pre and
    start < e + post (pre/post default 0 = pure overlap; negative
    values allow that much overlap). Scoring weight is built from the
    INCLUDE terms only (`SpanNotQuery.java:126-128`
    extractTermStates)."""
    include: object
    exclude: object
    pre: int = 0
    post: int = 0
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanFirstQuery:
    """`search/spans/SpanFirstQuery.java:38-43` /
    `SpanPositionRangeQuery.java`: child spans ending at position
    ≤ `end` (a position-range check; width passes through,
    `FilterSpans.java:114`)."""
    match: object
    end: int
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanContainingQuery:
    """`search/spans/SpanContainingQuery.java:36` / `ContainSpans.java`:
    spans of ``big`` that contain at least one ``little`` span
    (big.start ≤ little.start AND little.end ≤ big.end). Result spans
    are the BIG spans (width passes through); scoring stats are built
    from BOTH sides' terms (SpanContainQuery extractTermStates)."""
    big: object
    little: object
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanWithinQuery:
    """`search/spans/SpanWithinQuery.java:36`: spans of ``little`` that
    are enclosed by some ``big`` span — the mirror of containing; the
    LITTLE spans are the results."""
    big: object
    little: object
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class SpanPositionRangeQuery:
    """`search/spans/SpanPositionRangeQuery.java:33`: child spans with
    start ≥ ``start`` AND end ≤ ``end`` (SpanFirstQuery is the
    start=0 special case)."""
    match: object
    start: int
    end: int
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class FieldMaskingSpanQuery:
    """`search/spans/FieldMaskingSpanQuery.java:61`: lie about the
    wrapped span's field so compositors (SpanNear etc.) accept clauses
    from DIFFERENT fields. Position streams come verbatim from the
    wrapped query's real field (getSpans delegates untouched); the
    composite validates and SCORES as the mask ``field`` (the javadoc's
    caveat — norms/stats of the masking field apply)."""
    match: object
    field: str = DEFAULT_FIELD


SPAN_NODES = (SpanTermQuery, SpanNearQuery, SpanOrQuery, SpanNotQuery,
              SpanFirstQuery, SpanContainingQuery, SpanWithinQuery,
              SpanPositionRangeQuery, FieldMaskingSpanQuery)


# ---- interval sources (queries/intervals — minimal-interval semantics) ----
#
# The reference's Intervals factory (`queries/intervals/Intervals.java`)
# builds IntervalsSource trees consumed by IntervalQuery. Each source
# enumerates per-document intervals [start, end] (inclusive, term
# interval start == end); composition is by the minimal-interval
# algebra: no enumerated interval properly contains another enumerated
# interval of the same source.

@dataclass(frozen=True)
class IntervalTerm:
    """`Intervals.term` — one interval per occurrence, width 1."""
    term: str


@dataclass(frozen=True)
class IntervalOrdered:
    """`Intervals.ordered` (`OrderedIntervalsSource.java:27`): minimal
    intervals containing one interval of each source IN ORDER, each
    child strictly after the previous one (child i advances while
    start ≤ prev end, `OrderedIntervalsSource.java:148`);
    minExtent = Σ child minExtents (`:83-88`)."""
    sources: tuple


@dataclass(frozen=True)
class IntervalUnordered:
    """`Intervals.unordered` (`UnorderedIntervalsSource.java`): minimal
    windows containing one interval of each source in any order
    (overlaps allowed). The kernel supports exactly TWO sources — the
    k-source queue generalization is not vectorizable the same way and
    raises."""
    sources: tuple


@dataclass(frozen=True)
class IntervalBlock:
    """`Intervals.phrase` (`BlockIntervalsSource.java`): contiguous run
    — child i starts exactly at prev end + 1; for terms this is the
    exact-phrase interval (width = len(terms), gaps = 0)."""
    terms: tuple


@dataclass(frozen=True)
class IntervalMaxGaps:
    """`Intervals.maxgaps` (`FilteredIntervalsSource.java` MaxGaps):
    keeps intervals whose gaps() ≤ `gaps`, where gaps = width − Σ child
    widths (`OrderedIntervalsSource.java:156-158`)."""
    source: object
    gaps: int


@dataclass(frozen=True)
class IntervalMaxWidth:
    """`Intervals.maxwidth` (`FilteredIntervalsSource.java` MaxWidth):
    keeps intervals with (end − start + 1) ≤ `width`."""
    source: object
    width: int


@dataclass(frozen=True)
class IntervalOr:
    """`Intervals.or` (`DisjunctionIntervalsSource.java`): union of the
    child interval streams. Engine spec: the union is MINIMALIZED (the
    canonical algebra — no emitted interval contains another);
    minExtent = min over children (`:132-137`)."""
    sources: tuple


@dataclass(frozen=True)
class IntervalContaining:
    """`Intervals.containing` (`ContainingIntervalsSource.java:52-57`):
    intervals of ``big`` that contain at least one interval of
    ``small`` (big.start ≤ small.start AND big.end ≥ small.end);
    minExtent = big's (`:65-66`)."""
    big: object
    small: object


@dataclass(frozen=True)
class IntervalNotContaining:
    """`Intervals.notContaining` (`NonOverlappingQuery` family /
    DifferenceIntervalsSource): intervals of ``minuend`` that contain
    NO interval of ``subtrahend``."""
    minuend: object
    subtrahend: object


@dataclass(frozen=True)
class IntervalContainedBy:
    """`Intervals.containedBy` (`ContainedByIntervalsSource.java`):
    intervals of ``small`` that lie inside some interval of ``big``."""
    small: object
    big: object


@dataclass(frozen=True)
class IntervalNotContainedBy:
    """`Intervals.notContainedBy`: intervals of ``small`` inside NO
    interval of ``big``."""
    small: object
    big: object


@dataclass(frozen=True)
class IntervalBefore:
    """`Intervals.before` (Intervals.java: containedBy(source,
    extend(offset(reference, start), MAX, 0))): intervals of ``source``
    that end BEFORE the start of some ``reference`` interval."""
    source: object
    reference: object


@dataclass(frozen=True)
class IntervalAfter:
    """`Intervals.after`: intervals of ``source`` that start AFTER the
    end of some ``reference`` interval."""
    source: object
    reference: object


@dataclass(frozen=True)
class IntervalOverlapping:
    """`Intervals.overlapping` (`OverlappingIntervalsSource`): intervals
    of ``source`` that overlap some ``reference`` interval
    (s.start ≤ r.end AND s.end ≥ r.start)."""
    source: object
    reference: object


@dataclass(frozen=True)
class IntervalNonOverlapping:
    """`Intervals.nonOverlapping` (`NonOverlappingIntervalsSource`):
    intervals of ``minuend`` overlapping NO ``subtrahend`` interval."""
    minuend: object
    subtrahend: object


@dataclass(frozen=True)
class IntervalNotWithin:
    """`Intervals.notWithin` (Intervals.java: nonOverlapping(minuend,
    extend(subtrahend, positions, positions))): minuend intervals at
    least ``positions``+1 away from every subtrahend interval."""
    minuend: object
    positions: int
    subtrahend: object


@dataclass(frozen=True)
class IntervalWithin:
    """`Intervals.within`: source intervals within ``positions`` of
    some reference interval (containedBy against the ±positions
    extension)."""
    source: object
    positions: int
    reference: object


@dataclass(frozen=True)
class IntervalPrefix:
    """`Intervals.prefix` (`MultiTermIntervalsSource.java` /
    Intervals.java DEFAULT_MAX_EXPANSIONS = 128): expands against the
    term dictionary into an IntervalOr of term sources at search time
    (Searcher.expand_multiterm); past ``max_expansions`` the highest-df
    terms are kept (the engine's top-terms degradation posture — the
    reference throws)."""
    prefix: str
    max_expansions: int = 128


@dataclass(frozen=True)
class IntervalWildcard:
    """`Intervals.wildcard` — dictionary expansion like
    :class:`IntervalPrefix`, pattern with * and ?."""
    pattern: str
    max_expansions: int = 128


INTERVAL_SOURCES = (IntervalTerm, IntervalOrdered, IntervalUnordered,
                    IntervalBlock, IntervalMaxGaps, IntervalMaxWidth,
                    IntervalOr, IntervalContaining, IntervalNotContaining,
                    IntervalContainedBy, IntervalNotContainedBy,
                    IntervalBefore, IntervalAfter, IntervalOverlapping,
                    IntervalNonOverlapping, IntervalNotWithin,
                    IntervalWithin, IntervalPrefix, IntervalWildcard)


@dataclass(frozen=True)
class IntervalQuery:
    """`queries/intervals/IntervalQuery.java:73`: scores each matching
    doc with the saturation function over the interval freq —
    freq = Σ 1 / max(length − minExtent + 1, 1) over enumerated
    intervals (`IntervalScorer.java:66-72`), score = boost ×
    (1 − pivot/(pivot + freq)) (`IntervalScoreFunction.java:69-73`,
    default pivot 1). Norm-free: the similarity is NOT consulted
    (`IntervalScorer` scores via the score function, not the session
    Similarity)."""
    source: object
    field: str = DEFAULT_FIELD
    pivot: float = 1.0


def interval_source_keys(src, field: str) -> list[tuple[str, str]]:
    """All (field, term) keys under an interval source, appearance order."""
    if isinstance(src, IntervalTerm):
        return [(field, src.term)]
    if isinstance(src, IntervalBlock):
        return [(field, t) for t in src.terms]
    if isinstance(src, (IntervalOrdered, IntervalUnordered, IntervalOr)):
        return [k for ch in src.sources
                for k in interval_source_keys(ch, field)]
    if isinstance(src, (IntervalMaxGaps, IntervalMaxWidth)):
        return interval_source_keys(src.source, field)
    if isinstance(src, IntervalContaining):
        return (interval_source_keys(src.big, field)
                + interval_source_keys(src.small, field))
    if isinstance(src, IntervalNotContaining):
        return (interval_source_keys(src.minuend, field)
                + interval_source_keys(src.subtrahend, field))
    if isinstance(src, (IntervalContainedBy, IntervalNotContainedBy)):
        return (interval_source_keys(src.small, field)
                + interval_source_keys(src.big, field))
    if isinstance(src, (IntervalPrefix, IntervalWildcard)):
        return []    # dictionary-expanded at search time
    raise ValueError(f"not an interval source: {src!r}")


@dataclass(frozen=True)
class BoostQuery:
    """BoostQuery.java:34 — multiplies the wrapped query's score."""
    query: object
    boost: float = 1.0


@dataclass(frozen=True)
class DisjunctionMaxQuery:
    """DisjunctionMaxQuery.java:45,51 — score = max over disjuncts plus
    tie_breaker × (sum of the other matching disjuncts' scores)."""
    disjuncts: tuple
    tie_breaker: float = 0.0


# --- multi-term leaves (expanded by Searcher against the dictionary) ------

@dataclass(frozen=True)
class PrefixQuery:
    prefix: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class WildcardQuery:
    pattern: str            # * = any run, ? = one char
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class RegexpQuery:
    pattern: str
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class FuzzyQuery:
    term: str
    max_edits: int = 2
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class TermRangeQuery:
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = False
    field: str = DEFAULT_FIELD


MULTI_TERM_NODES = (PrefixQuery, WildcardQuery, RegexpQuery, FuzzyQuery,
                    TermRangeQuery)


@dataclass(frozen=True)
class MatchAllQuery:
    pass


@dataclass(frozen=True)
class MatchNoQuery:
    pass


@dataclass(frozen=True)
class FieldExistsQuery:
    """Matches every live doc that has ≥1 indexed token in ``field``
    (constant score 1 × boost) — `index/NormsFieldExistsQuery.java:34`
    restated over the norms table (one row per (field, doc) exactly
    when the field produced tokens). Solr rewrites `field:*` and
    `field:[* TO *]` to this shape (`solr/core/.../FieldType.java:863-878`)
    instead of enumerating the dictionary; the parser does the same.

    Envelope: a doc whose field analyzed to ZERO tokens has no norms
    row here (Lucene would record a length-0 norm), so FieldExists ≡
    TermRange[* TO *] on this index — documented, test-pinned."""
    field: str = DEFAULT_FIELD


@dataclass(frozen=True)
class Clause:
    occur: Occur
    query: object


@dataclass(frozen=True)
class BooleanQuery:
    clauses: tuple = field(default_factory=tuple)
    min_should_match: int = 0

    def grouped(self):
        g = {o: [] for o in Occur}
        for c in self.clauses:
            g[c.occur].append(c.query)
        return g


MAX_CLAUSE_COUNT = 1024  # IndexSearcher.java:768 guard


def rewrite(q):
    """Normalize to fixpoint."""
    prev = None
    while q != prev:
        prev, q = q, _rewrite_once(q)
    return q


def _rewrite_once(q):
    if isinstance(q, BoostQuery):
        sub = _rewrite_once(q.query)
        if q.boost == 1.0:
            return sub
        if isinstance(sub, BoostQuery):        # nested boosts multiply
            return BoostQuery(sub.query, q.boost * sub.boost)
        if isinstance(sub, (MatchNoQuery,)):
            return sub
        return BoostQuery(sub, q.boost)
    if isinstance(q, DisjunctionMaxQuery):
        subs = tuple(s for s in (_rewrite_once(d) for d in q.disjuncts)
                     if not isinstance(s, MatchNoQuery))
        if not subs:
            return MatchNoQuery()
        if len(subs) == 1:
            return subs[0]
        return DisjunctionMaxQuery(subs, q.tie_breaker)
    if not isinstance(q, BooleanQuery):
        return q
    if len(q.clauses) > MAX_CLAUSE_COUNT:
        raise ValueError(f"too many clauses: {len(q.clauses)} > {MAX_CLAUSE_COUNT}")
    clauses = []
    for c in q.clauses:
        sub = _rewrite_once(c.query)
        # flatten nested pure-SHOULD booleans under SHOULD, pure-MUST under MUST
        if isinstance(sub, BooleanQuery) and sub.min_should_match <= 1:
            occs = {cl.occur for cl in sub.clauses}
            if len(sub.clauses) == 1 and sub.min_should_match == 0:
                inner = sub.clauses[0]
                if inner.occur in (Occur.MUST, Occur.SHOULD):
                    clauses.append(Clause(c.occur, inner.query))
                    continue
            if c.occur == Occur.SHOULD and occs == {Occur.SHOULD} and sub.min_should_match == 0:
                clauses.extend(sub.clauses)
                continue
            if c.occur == Occur.MUST and occs == {Occur.MUST}:
                clauses.extend(sub.clauses)
                continue
        if isinstance(sub, MatchNoQuery):
            if c.occur in (Occur.MUST, Occur.FILTER):
                return MatchNoQuery()
            continue  # SHOULD/MUST_NOT MatchNo drops out
        clauses.append(Clause(c.occur, sub))
    # FILTER ∧ MatchAll elimination, only while another MUST or FILTER
    # clause remains (BooleanQuery.rewrite): alone it is the match set
    def all_filter(c):
        return c.occur == Occur.FILTER and isinstance(c.query, MatchAllQuery)
    if any(c.occur in (Occur.MUST, Occur.FILTER) and not all_filter(c)
           for c in clauses):
        clauses = [c for c in clauses if not all_filter(c)]

    # dedup FILTER / MUST_NOT
    seen = set()
    dedup = []
    for c in clauses:
        key = (c.occur, c.query) if c.occur in (Occur.FILTER, Occur.MUST_NOT) else id(c)
        if key in seen:
            continue
        seen.add(key)
        dedup.append(c)
    clauses = dedup

    neg = {c.query for c in clauses if c.occur == Occur.MUST_NOT}
    req = {c.query for c in clauses if c.occur in (Occur.MUST, Occur.FILTER)}
    if req & neg:
        return MatchNoQuery()  # required and prohibited
    n_should = sum(1 for c in clauses if c.occur == Occur.SHOULD)
    n_must = sum(1 for c in clauses if c.occur in (Occur.MUST, Occur.FILTER))
    if q.min_should_match > n_should:
        return MatchNoQuery()
    if not clauses:
        return MatchNoQuery()
    if len(clauses) == 1 and q.min_should_match == 0:
        c = clauses[0]
        if c.occur in (Occur.MUST, Occur.SHOULD):
            return c.query
    if n_should == 0 and n_must == 0:
        return MatchNoQuery()  # only MUST_NOT clauses match nothing
    # NOTE: a term appearing both MUST and SHOULD keeps BOTH clauses — it
    # scores twice (BooleanWeight builds one scorer per clause); the
    # executor keys its kernel spec by CLAUSE, not by term.
    return BooleanQuery(tuple(clauses), q.min_should_match)


def span_leaf_keys(n) -> list[tuple[str, str]]:
    """All (field, term) leaf keys under a span node, appearance order
    (include AND exclude branches — callers needing scoring-only keys
    walk the compiled plan instead)."""
    if isinstance(n, SpanTermQuery):
        return [(n.field, n.term)]
    if isinstance(n, SpanNearQuery):
        out = [(n.field, t) for t in n.terms]
        for ch in n.clauses:
            out.extend(span_leaf_keys(ch))
        return out
    if isinstance(n, SpanOrQuery):
        return [k for ch in n.clauses for k in span_leaf_keys(ch)]
    if isinstance(n, SpanNotQuery):
        return span_leaf_keys(n.include) + span_leaf_keys(n.exclude)
    if isinstance(n, SpanFirstQuery):
        return span_leaf_keys(n.match)
    if isinstance(n, (SpanContainingQuery, SpanWithinQuery)):
        return span_leaf_keys(n.big) + span_leaf_keys(n.little)
    if isinstance(n, SpanPositionRangeQuery):
        return span_leaf_keys(n.match)
    if isinstance(n, FieldMaskingSpanQuery):
        # positions are read from the REAL field; only validation and
        # scoring see the mask
        return span_leaf_keys(n.match)
    raise ValueError(f"not a span node: {n!r}")


def span_effective_fields(n) -> set:
    """The field set a span node PRESENTS to same-field validation —
    FieldMaskingSpanQuery substitutes its mask (SpanNearQuery.java:73
    checks getField(), which the mask overrides)."""
    if isinstance(n, FieldMaskingSpanQuery):
        return {n.field}
    if isinstance(n, SpanTermQuery):
        return {n.field}
    if isinstance(n, SpanNearQuery):
        out = {n.field} if n.terms else set()
        for ch in n.clauses:
            out |= span_effective_fields(ch)
        return out
    if isinstance(n, SpanOrQuery):
        out = set()
        for ch in n.clauses:
            out |= span_effective_fields(ch)
        return out
    if isinstance(n, SpanNotQuery):
        return (span_effective_fields(n.include)
                | span_effective_fields(n.exclude))
    if isinstance(n, (SpanFirstQuery, SpanPositionRangeQuery)):
        return span_effective_fields(n.match)
    if isinstance(n, (SpanContainingQuery, SpanWithinQuery)):
        return (span_effective_fields(n.big)
                | span_effective_fields(n.little))
    raise ValueError(f"not a span node: {n!r}")


def collect_terms(q) -> list[tuple[str, str]]:
    """All distinct (field, term) pairs in the tree, in appearance order."""
    out, seen = [], set()

    def add(f, t):
        if (f, t) not in seen:
            seen.add((f, t))
            out.append((f, t))

    def walk(n):
        if isinstance(n, TermQuery):
            add(n.field, n.term)
        elif isinstance(n, PhraseQuery):
            for t in n.terms:
                add(n.field, t)
        elif isinstance(n, MultiPhraseQuery):
            for slot in n.slots:
                for t in slot:
                    add(n.field, t)
        elif isinstance(n, SPAN_NODES):
            for f, t in span_leaf_keys(n):
                add(f, t)
        elif isinstance(n, IntervalQuery):
            for f, t in interval_source_keys(n.source, n.field):
                add(f, t)
        elif isinstance(n, BooleanQuery):
            for c in n.clauses:
                walk(c.query)
        elif isinstance(n, BoostQuery):
            walk(n.query)
        elif isinstance(n, DisjunctionMaxQuery):
            for d in n.disjuncts:
                walk(d)

    walk(q)
    return out
