"""CustomAnalyzer — user-composed char filters → tokenizer → filters.

Mirrors `analysis/custom/CustomAnalyzer.java:100` (the builder Solr
uses for every schema fieldType): an analysis chain assembled from
named components instead of a fixed class.  Components:

* ``char_filters`` — str → str callables run over the whole text
  before tokenization (e.g. :func:`~lucene_solr_spark.analysis.
  charfilters.html_strip`, a ``functools.partial`` of
  ``mapping_filter``).
* ``tokenizer`` — str → list[str] raw-token callable (default: the
  StandardTokenizer analog; :func:`~lucene_solr_spark.analysis.
  urlemail.tokenize_url_email` wrapped to drop types, or
  ``path_hierarchy_tokens`` also fit).
* ``token_filters`` — stream rewriters over ``[(token, position)]``
  built with the three adapters below, which reproduce Lucene's
  position-increment discipline exactly:

  - :func:`map_filter` (1:1, posInc preserved; return None to drop
    WITH a position gap — LowerCaseFilter, TrimFilter, stemmers,
    StopFilter via ``map_filter(lambda t: None if t in stops else t)``),
  - :func:`drop_filter` (FilteringTokenFilter: removed tokens leave
    gaps — `FilteringTokenFilter.java:47-57`),
  - :func:`expand_filter` (1:many, every emitted token stacks on the
    source position — the NGram/SynonymFilter posInc-0 convention).

Indexing: ``IndexBuilder`` consults ``batch_vectorizable`` — False
here routes every row through the per-doc inversion front
(`index/builder.py` ``_tokens_per_doc``), which only needs
``term_positions``; its token stream is encoded by the same back end
as the vectorized front's. That numpy front stays reserved for the
StandardAnalyzer family whose chain it restates; an arbitrary Python
chain on it would silently diverge instead.

Offsets: char filters rewrite the text, so character offsets into the
ORIGINAL text are no longer derivable (the reference solves this with
per-filter offset-correction maps — out of envelope here);
``term_occurrences`` raises rather than returning wrong offsets.
Offsets-enabled indexes require the standard chain.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterable, Sequence

from .lowercase import simple_lowercase
from .tokenizer import DEFAULT_MAX_TOKEN_LENGTH, tokenize_raw

Stream = "list[tuple[str, int]]"


def map_filter(fn: Callable[[str], str | None]):
    """1:1 token rewrite; ``None`` drops the token leaving a gap."""
    def run(stream):
        out = []
        for t, p in stream:
            m = fn(t)
            if m is not None:
                out.append((m, p))
        return out
    return run


def drop_filter(pred: Callable[[str], bool]):
    """FilteringTokenFilter: remove tokens matching ``pred``, positions
    of survivors unchanged (gaps preserved)."""
    return map_filter(lambda t: None if pred(t) else t)


def expand_filter(fn: Callable[[str], Iterable[str]]):
    """1:many expansion; every output token keeps the source position
    (posInc 0 stacking, as NGramTokenFilter/SynonymFilter emit)."""
    def run(stream):
        out = []
        for t, p in stream:
            for e in fn(t):
                out.append((e, p))
        return out
    return run


def lowercase_filter():
    """LowerCaseFilter as a map_filter (simple mapping)."""
    return map_filter(simple_lowercase)


def stop_filter(words: Iterable[str]):
    """StopFilter with position gaps."""
    ws = frozenset(words)
    return drop_filter(lambda t: t in ws)


@dataclass(frozen=True)
class CustomAnalyzer:
    """charFilters → tokenizer → tokenFilters, Lucene position rules.

    Duck-type-compatible with StandardAnalyzer everywhere the engine
    consumes an analyzer per doc (``tokens`` / ``tokens_positions`` /
    ``term_freqs`` / ``term_positions``); ``batch_vectorizable=False``
    steers IndexBuilder onto the per-doc reference path.
    """

    char_filters: tuple = ()
    tokenizer: Callable[[str], Sequence[str]] = tokenize_raw
    token_filters: tuple = ()
    max_token_length: int = DEFAULT_MAX_TOKEN_LENGTH

    batch_vectorizable = False
    # StandardAnalyzer attributes the batch path would consult — inert
    # here, present so shared helpers can introspect without guards
    stemmer = None
    stop_words: frozenset = field(default=frozenset(), init=False)

    def tokens_positions(self, text: str) -> tuple[list[str], list[int]]:
        if not text:
            return [], []
        for cf in self.char_filters:
            text = cf(text)
        stream = []
        for p, t in enumerate(self.tokenizer(text)):
            if len(t) <= self.max_token_length:
                stream.append((t, p))
        for f in self.token_filters:
            stream = f(stream)
        return [t for t, _ in stream], [p for _, p in stream]

    def tokens(self, text: str) -> list[str]:
        return self.tokens_positions(text)[0]

    def term_freqs(self, text: str) -> dict[str, int]:
        tf: dict[str, int] = {}
        for t in self.tokens(text):
            tf[t] = tf.get(t, 0) + 1
        return tf

    def term_positions(self, text: str) -> dict[str, list[int]]:
        tp: dict[str, list[int]] = {}
        toks, pos = self.tokens_positions(text)
        for t, p in zip(toks, pos):
            tp.setdefault(t, []).append(p)
        return tp

    def term_occurrences(self, text: str):
        raise NotImplementedError(
            "CustomAnalyzer cannot report character offsets: char "
            "filters rewrite the text and no offset-correction map is "
            "kept (reference: BaseCharFilter.correct). Build "
            "offsets-enabled indexes with the standard chain.")


def analyze_debug(analyzer, text: str) -> list[dict]:
    """FieldAnalysisRequestHandler analog (`solr/core/src/java/org/
    apache/solr/handler/FieldAnalysisRequestHandler.java:56` — the
    admin-UI "Analysis" screen): run ``text`` through the chain one
    stage at a time and report each stage's output, so a user can see
    WHICH filter dropped, rewrote, or stacked a token.

    → [{"stage": name, "output": …}] — char-filter stages report the
    rewritten text, the tokenizer and every token-filter stage report
    [(token, position)]. Works on CustomAnalyzer chains; a
    StandardAnalyzer-family analyzer reports its fixed stages through
    the same shape (tokenizer output, then the finished stream).
    """
    stages: list[dict] = []
    if isinstance(analyzer, CustomAnalyzer):
        cur = text or ""
        for cf in analyzer.char_filters:
            cur = cf(cur)
            name = getattr(cf, "__name__", None) or type(cf).__name__
            stages.append({"stage": f"charfilter:{name}", "output": cur})
        stream = []
        for p, t in enumerate(analyzer.tokenizer(cur)):
            if len(t) <= analyzer.max_token_length:
                stream.append((t, p))
        tname = getattr(analyzer.tokenizer, "__name__", None) \
            or type(analyzer.tokenizer).__name__
        stages.append({"stage": f"tokenizer:{tname}",
                       "output": list(stream)})
        for f in analyzer.token_filters:
            stream = f(stream)
            qn = getattr(f, "__qualname__", "") or ""
            # factory-built closures carry the factory name in their
            # qualname ("map_filter.<locals>.run") — report the factory
            name = (qn.split(".")[0] if ".<locals>." in qn else
                    getattr(f, "__name__", None) or type(f).__name__)
            stages.append({"stage": f"filter:{name}",
                           "output": list(stream)})
        return stages
    # StandardAnalyzer family: fixed chain, two observable stages
    raw = [(t, p) for p, t in enumerate(tokenize_raw(text or ""))]
    stages.append({"stage": "tokenizer:standard", "output": raw})
    tp = analyzer.term_positions(text or "")
    finished = sorted(((t, p) for t, ps in tp.items() for p in ps),
                      key=lambda x: (x[1], x[0]))
    stages.append({"stage": "analyzed", "output": finished})
    return stages
