"""Seeded inputs: document corpora and query streams.

Everything here is a pure function of the seed, so one seed always gives
the same documents and the same queries. Of the engine, only the analyzer
is used here: it counts the terms a generated document adds to the index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lucene_solr_spark.analysis.analyzer import (ENGLISH_ANALYZER,
                                                 ENGLISH_STOP_WORDS)

# The 31 words of the sf-scale `documents` table the BENCH_r01..r05 draws
# used (30 near-uniform words plus the rare "dup"); "a" and "the" are
# stopwords, so they cost tokenizer time but never reach the index.
SF_CORE = ("join hash row batch scan column customer filter small slow merge "
           "order vector line table data agg value key stream window a spark "
           "part group big sort query fast the").split()

# Vocabularies are fixed, so corpus statistics (word lengths, df curve)
# do not move with the seed; the seed picks the documents and queries.
VOCAB_SEED = 42

# The 12 query shapes of bench.py (BENCH_r01..r05 names), as templates
# whose slots are filled per query from the seeded term pools.
SHAPES = (
    ("q_term", "{0}"),
    ("q_term2", "{0}"),
    ("q_or2", "{0} {1}"),
    ("q_or3", "{0} {1} {2}"),
    ("q_and2", "{0} AND {1}"),
    ("q_and3", "{0} AND {1} AND {2}"),
    ("q_phrase", '"{0} {1}"'),
    ("q_sloppy", '"{0} {1}"~2'),
    ("q_nested", "({0} OR {1}) AND {2}"),
    ("q_deep", "({0} AND {1}) OR ({2} AND {3})"),
    ("q_not", "{0} NOT {1}"),
    ("q_wide_or", "{0} {1} {2} {3} {4} {5} {6}"),
)
SHAPE_NAMES = tuple(name for name, _ in SHAPES)


def _words(rng: np.random.Generator, n: int, lo: int = 3, hi: int = 10,
           taken: frozenset = frozenset()) -> list[str]:
    """n distinct lowercase ASCII words that are not stopwords."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: list[str] = []
    seen = set(taken) | set(ENGLISH_STOP_WORDS)
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(lo, hi)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def marker(doc_id: int) -> str:
    """A token unique to one document (an id-like term, df = 1)."""
    return f"m{doc_id}x"


def sf_docs(seed: int, lo: int, hi: int, with_markers: bool) -> pd.DataFrame:
    """sf-shaped documents [lo, hi): 10-99 words drawn uniformly from the
    31-word core, plus a sprinkle of mid- and tail-frequency words so a
    query stream can reach every df band."""
    rng = np.random.default_rng([seed, 1, lo])
    extra = _words(np.random.default_rng(VOCAB_SEED), 440,
                   taken=frozenset(SF_CORE))
    mid, tail = np.array(extra[:40], dtype=object), np.array(extra[40:],
                                                             dtype=object)
    core = np.array(SF_CORE, dtype=object)
    n = hi - lo
    lens = rng.integers(10, 100, n)
    words = core[rng.integers(0, len(core), int(lens.sum()))]
    has_mid = rng.random(n) < 0.3
    has_tail = rng.random(n) < 0.05
    has_dup = rng.random(n) < 0.005
    mid_w = mid[rng.integers(0, len(mid), n)]
    tail_w = tail[rng.integers(0, len(tail), n)]
    texts, start = [], 0
    for i in range(n):
        doc = list(words[start:start + lens[i]])
        start += lens[i]
        if has_mid[i]:
            doc.append(mid_w[i])
        if has_tail[i]:
            doc.append(tail_w[i])
        if has_dup[i]:
            doc.append("dup")
        if with_markers:
            doc.append(marker(lo + i))
        texts.append(" ".join(doc))
    return pd.DataFrame({"doc_id": np.arange(lo, hi, dtype=np.int64),
                         "text": texts})


def indexed_terms(text: str) -> int:
    """Distinct terms the analyzer emits for a document: the count its
    index stats must grow by."""
    return len(ENGLISH_ANALYZER.term_freqs(text))


def term_pools(rows, strata: tuple[int, ...]) -> list[list[str]]:
    """Split dictionary rows (term, df) into pools by df rank: pool i
    holds ranks [strata[i-1], strata[i]), the last pool the rest.

    Only plain alphabetic terms of df >= 2 qualify, so every pool term
    parses back to itself; marker tokens (df = 1) never enter a pool."""
    ranked = [t for _, t in sorted(
        ((int(r["df"]), r["term"]) for r in rows
         if r["term"].isalpha() and r["term"].isascii() and int(r["df"]) >= 2),
        key=lambda x: (-x[0], x[1]))]
    edges = [0, *[min(e, len(ranked) - 1) for e in strata], len(ranked)]
    return [ranked[a:max(b, a + 1)] for a, b in zip(edges, edges[1:])]


class QueryStream:
    """Seeded stream of (shape, query text) whose per-round make-up is the
    same for every seed.

    Each round has every shape once, in a seeded order. Slot j of shape s
    in round r takes its term from pool ``cycle[(7s + j + 3r) % len]``, so
    each round asks for the same shapes over the same df bands. Each pool
    deals its terms from a seeded shuffle, all of them before any repeats,
    so small pools are used evenly. The seed picks the order of shapes and
    of each pool's terms."""

    def __init__(self, seed: int, pools: list[list[str]], cycle: str,
                 salt: int = 0):
        self.rng = np.random.default_rng([seed, 5, salt])
        self.pools = pools
        self.cycle = [int(c) for c in cycle]
        self.round_no = -1
        self.order: list[int] = []
        self.decks: list[list[str]] = [[] for _ in pools]

    def _deal(self, p: int, taken: list[str]) -> str:
        """Next term of pool p not already in the query, where possible."""
        deck = self.decks[p]
        if not deck:
            deck.extend(self.pools[p][i]
                        for i in self.rng.permutation(len(self.pools[p])))
        for i, t in enumerate(deck):
            if t not in taken:
                return deck.pop(i)
        return deck.pop(0)

    def _fill(self, si: int) -> str:
        template = SHAPES[si][1]
        terms: list[str] = []
        for j in range(template.count("{")):
            p = self.cycle[(7 * si + j + 3 * self.round_no) % len(self.cycle)]
            terms.append(self._deal(p, terms))
        return template.format(*terms)

    def next(self) -> tuple[str, str]:
        if not self.order:
            self.round_no += 1
            self.order = list(self.rng.permutation(len(SHAPES)))
        si = self.order.pop()
        return SHAPES[si][0], self._fill(si)
