"""TermAutomatonQuery — proximity matching by a term automaton.

Reference: `lucene/sandbox/src/java/org/apache/lucene/search/
TermAutomatonQuery.java:63` + `TermAutomatonScorer.java:40` — a
generalization of PhraseQuery/MultiPhraseQuery/SpanNearQuery: states +
transitions labelled by terms (or ANY), a token at position p moves
the NFA from state(p) to state(p+1), and every step that lands in an
accept state counts one match. Semantics restated from the reference
(not a port — the Java is priority-queue enum plumbing; this is a
dense-table NFA over numpy-decoded position streams):

- ``finish()`` (`TermAutomatonQuery.java finish(int)`): rejects a
  leading or trailing ANY transition, then rewrites every ANY
  transition to match the whole term alphabet (the reference widens
  the transition to [0, termCount-1]) and determinizes by subset
  construction.
- match counting (`TermAutomatonScorer.countMatches:225`): tokens of
  the query's terms stream by position; per token, every pending
  state steps by the token's term id, AND a fresh match is seeded
  from state 0; each step landing on an accept state increments
  ``freq``. Pending state lists keep DUPLICATES exactly like the
  reference's PosState.add (two converging paths both count).
  Positions carrying none of the query terms advance pending states
  via the ANY id only while any state survives ("petered out" break).
- scoring (`TermAutomatonQuery.java TermAutomatonWeight`): one
  SimScorer over the field's collection stats with the term stats of
  every REAL term that exists (idf = Σ idf_i, BM25Similarity's
  multi-term idfExplain), score = idf_sum × freq / (freq + k1(1 − b +
  b·dl/avgdl)) — the PhraseQuery/SpanWeight convention this engine
  already uses.

Spark shape / 100-TB posture: like the clause kernel, ONE pushed
(field, term)-filtered postings scan (the searcher's block scan,
`Searcher._postings`: bucket-major layout keeps each doc's blocks in
one partition; `decode_blocks` positions, tombstoned docs dropped),
the NFA runs per partition over the decoded position streams, and only (doc_id, freq, norm) rows leave the
executor — no shuffle in, one narrow aggregation-free stream out;
scoring is a codegen projection.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..functions.smallfloat import LENGTH_TABLE


class TermAutomaton:
    """Builder + determinized runner (TermAutomatonQuery.java:80-117
    createState/setAccept/addTransition/addAnyTransition/finish)."""

    def __init__(self, field: str = "text"):
        self.field = field
        self._n_states = 1          # state 0 is always initial
        self._accept: set[int] = set()
        self._trans: list[tuple[int, int, int]] = []   # (src, dst, tid)
        self._term_to_id: dict[str | None, int] = {}
        self.any_id: int | None = None
        self._det = None

    # ---------------------------------------------------------- build
    def create_state(self) -> int:
        self._n_states += 1
        return self._n_states - 1

    def set_accept(self, state: int, accept: bool = True) -> None:
        if accept:
            self._accept.add(state)
        else:
            self._accept.discard(state)

    def _tid(self, term: str | None) -> int:
        if term not in self._term_to_id:
            self._term_to_id[term] = len(self._term_to_id)
            if term is None:
                self.any_id = self._term_to_id[term]
        return self._term_to_id[term]

    def add_transition(self, src: int, dst: int, term: str) -> None:
        if term is None:
            raise ValueError("term should not be null — use "
                             "add_any_transition")
        self._trans.append((src, dst, self._tid(term)))

    def add_any_transition(self, src: int, dst: int) -> None:
        self._trans.append((src, dst, self._tid(None)))

    @property
    def terms(self) -> list[str]:
        return [t for t in self._term_to_id if t is not None]

    # --------------------------------------------------------- finish
    def finish(self) -> "TermAutomaton":
        """Validate ANY placement, widen ANY to the alphabet,
        determinize (subset construction) into a dense step table."""
        n_ids = len(self._term_to_id)
        if self.any_id is not None:
            for src, dst, tid in self._trans:
                if tid != self.any_id:
                    continue
                if src == 0:
                    raise ValueError(
                        "automaton cannot lead with an ANY transition")
                if dst in self._accept:
                    raise ValueError(
                        "automaton cannot end with an ANY transition")
        # NFA: src -> tid -> set(dst); ANY widened to every id
        nfa: dict[int, dict[int, set[int]]] = {}
        for src, dst, tid in self._trans:
            ids = range(n_ids) if tid == self.any_id else (tid,)
            row = nfa.setdefault(src, {})
            for i in ids:
                row.setdefault(i, set()).add(dst)
        # subset construction
        start = frozenset([0])
        subsets = {start: 0}
        order = [start]
        table: list[list[int]] = []
        i = 0
        while i < len(order):
            cur = order[i]
            i += 1
            row = []
            for tid in range(n_ids):
                nxt = frozenset(
                    d for s in cur for d in nfa.get(s, {}).get(tid, ()))
                if not nxt:
                    row.append(-1)
                    continue
                if nxt not in subsets:
                    subsets[nxt] = len(order)
                    order.append(nxt)
                row.append(subsets[nxt])
            table.append(row)
        self._step = np.array(table, dtype=np.int64).reshape(
            len(order), n_ids)
        self._det_accept = np.array(
            [bool(sub & self._accept) for sub in order], dtype=bool)
        self._det = True
        return self

    # ------------------------------------------------------------ run
    def count_matches(self, tids: np.ndarray,
                      positions: np.ndarray) -> int:
        """freq for ONE doc — faithful restatement of
        `TermAutomatonScorer.countMatches:225-345` (duplicate-keeping
        state lists, fresh start per token, ANY gap advance with the
        petered-out break)."""
        if self._det is None:
            raise ValueError("call finish() first")
        step, accept, any_id = self._step, self._det_accept, self.any_id
        freq = 0
        pending: dict[int, list[int]] = {}
        last_pos = -1
        for pos, tid in zip(positions.tolist(), tids.tolist()):
            if last_pos != -1 and any_id is not None and last_pos < pos:
                start_last = last_pos
                while last_pos < pos:
                    cur = pending.get(last_pos)
                    if not cur and last_pos > start_last:
                        last_pos = pos
                        break
                    nxt = pending.setdefault(last_pos + 1, [])
                    for st in (cur or ()):
                        s2 = step[st, any_id]
                        if s2 >= 0:
                            nxt.append(int(s2))
                    last_pos += 1
            cur = pending.get(pos, ())
            nxt = pending.setdefault(pos + 1, [])
            for st in cur:
                s2 = step[st, tid]
                if s2 >= 0:
                    nxt.append(int(s2))
                    if accept[s2]:
                        freq += 1
            s2 = step[0, tid]
            if s2 >= 0:
                nxt.append(int(s2))
                if accept[s2]:
                    freq += 1
            last_pos = pos
        return freq


def from_phrase(terms: list[str], field: str = "text") -> TermAutomaton:
    """Linear chain — degenerates to exact PhraseQuery matching."""
    a = TermAutomaton(field)
    prev = 0
    for i, t in enumerate(terms):
        nxt = a.create_state()
        a.add_transition(prev, nxt, t)
        prev = nxt
    a.set_accept(prev, True)
    return a


def token_stream_to_automaton(stream, field: str = "text") -> TermAutomaton:
    """`TokenStreamToTermAutomatonQuery.toQuery` restated: ``stream``
    is [(term, pos_inc, pos_len)]; node p = automaton state p, each
    token is a transition pos → pos + pos_len; the literal term '*'
    becomes an ANY transition; holes (pos_inc > 1) are rejected with
    the reference's message; the last created state accepts."""
    a = TermAutomaton(field)
    pos = -1
    state = 0                      # state 0 pre-exists (initial node)
    if not stream:
        raise ValueError("empty token stream")
    for term, pos_inc, pos_len in stream:
        if pos == -1 and pos_inc <= 0:
            raise ValueError("first token must advance the position")
        if pos_inc > 1:
            raise ValueError(
                "cannot handle holes; to accept any term, use '*' term")
        if pos_inc > 0:
            pos += pos_inc
        end_pos = pos + int(pos_len)
        while state < end_pos:
            state = a.create_state()
        if term == "*":
            a.add_any_transition(pos, end_pos)
        else:
            a.add_transition(pos, end_pos, term)
    a.set_accept(state, True)
    return a.finish()


def graph_automaton(graph, tokens, field: str = "text") -> TermAutomaton:
    """SynonymGraph → TermAutomaton (the TermAutomatonQuery javadoc
    pairing: posLength-aware graph matching that flattened SpanNear
    alternatives cannot express — a single-token synonym spans ONE
    position while its multi-token original spans several). Each
    segment's alternatives become parallel paths between the segment's
    boundary states; multi-token alternatives chain fresh states."""
    a = TermAutomaton(field)
    node = 0
    for alts in graph.segments(tokens):
        end = a.create_state()
        for alt in alts:
            prev = node
            for t in alt[:-1]:
                mid = a.create_state()
                a.add_transition(prev, mid, t)
                prev = mid
            a.add_transition(prev, end, alt[-1])
        node = end
    a.set_accept(node, True)
    return a.finish()


def term_automaton_scores(searcher, q: TermAutomaton) -> DataFrame:
    """Exhaustive (doc_id, score) — ScoreMode.COMPLETE analog."""
    if q._det is None:
        raise ValueError("call finish() first")
    field = q.field
    keys = [(field, t) for t in q.terms]
    st = searcher.term_stats(keys)
    live = [k for k in keys if k in st]
    from .executor import KERNEL_SCHEMA
    if not live:
        return searcher.spark.createDataFrame([], KERNEL_SCHEMA)
    fs = searcher.field_stats(field)
    doc_count = int(fs["doc_count"])
    avgdl = float(fs["sum_ttf"]) / doc_count
    idf_sum = sum(
        math.log(1.0 + (doc_count - st[k][0] + 0.5) / (st[k][0] + 0.5))
        for k in live)
    k1, b = float(searcher.k1), float(searcher.b)
    tid_of = {t: q._term_to_id[t] for t in q.terms}
    qb = searcher.spark.sparkContext.broadcast(q)

    def kernel(parts):
        auto = qb.value
        all_doc, all_tid, all_pos, all_norm = [], [], [], []
        for pdf, p in parts:
            tids = pdf["term"].map(tid_of).to_numpy(dtype=np.int64)
            all_doc.append(np.repeat(p["doc"], p["freq"]))
            all_tid.append(np.repeat(tids[p["row"]], p["freq"]))
            all_pos.append(p["pos"])
            all_norm.append(np.repeat(p["norm"], p["freq"]))
        if not all_doc:
            return
        doc = np.concatenate(all_doc)
        tid = np.concatenate(all_tid)
        pos = np.concatenate(all_pos)
        nrm = np.concatenate(all_norm)
        order = np.lexsort((pos, doc))
        doc, tid, pos, nrm = doc[order], tid[order], pos[order], nrm[order]
        bounds = np.flatnonzero(np.diff(doc)) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(doc)]))
        out_d, out_f, out_n = [], [], []
        for s, e in zip(starts, ends):
            f = auto.count_matches(tid[s:e], pos[s:e])
            if f > 0:
                out_d.append(int(doc[s]))
                out_f.append(f)
                out_n.append(int(nrm[s]))
        yield pd.DataFrame({"doc_id": np.array(out_d, dtype=np.int64),
                            "freq": np.array(out_f, dtype=np.float64),
                            "dl": LENGTH_TABLE[
                                np.array(out_n, dtype=np.int64)]
                            .astype(np.float64)})

    hits = searcher._postings(live, kernel,
                              "doc_id long, freq double, dl double",
                              channels=("pos",))
    return hits.select(
        "doc_id",
        (F.lit(idf_sum) * F.col("freq")
         / (F.col("freq") + F.lit(k1) * (1.0 - b + b * F.col("dl") / avgdl))
         ).alias("score"))


def term_automaton_topk(searcher, q: TermAutomaton, k: int = 10) -> DataFrame:
    """Top-k (score desc, doc_id asc) — TakeOrderedAndProject."""
    return (term_automaton_scores(searcher, q)
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
