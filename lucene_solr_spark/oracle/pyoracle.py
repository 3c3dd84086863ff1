"""Pure-Python single-node oracle with exact Lucene scoring semantics.

The FIXTURES.md §6 oracle: a dict-of-lists inverted index (per-field, a
Term is (field, text) — `index/Term.java:69`) plus float32 BM25
(k1=1.2, b=0.75), per-field collection stats
(`search/IndexSearcher.java:914-933`), and the reference's tie-breaks —
score desc, then docID asc (`search/HitQueue.java:76-81`,
`search/TopDocs.java:34,70`). The Spark engine must be rank-identical
(docIDs AND float32 scores) to this oracle; the oracle itself is pinned
by golden tests.

``search_ast`` interprets the SAME tree plan the Spark kernel executes
(search/executor.py:flatten_plan → build_tree), so node ordering — and
therefore float32 accumulation order, one partial sum per bool node —
agrees by construction; a term appearing in both MUST and SHOULD scores
twice, exactly as BooleanWeight builds one scorer per clause.
"""

from __future__ import annotations

import bisect
import itertools

import numpy as np

from ..analysis.analyzer import StandardAnalyzer
from ..functions import bm25
from ..functions.smallfloat import int_to_byte4

DEFAULT_FIELD = "text"


class OracleIndex:
    def __init__(self, analyzer: StandardAnalyzer):
        self.analyzer = analyzer
        # per-field structures: field -> term -> doc -> ...
        self.postings: dict[str, dict[str, dict[int, int]]] = {}
        self.positions: dict[str, dict[str, dict[int, list[int]]]] = {}
        self.norms: dict[str, dict[int, int]] = {}     # field -> doc -> byte
        self.doc_len: dict[str, dict[int, int]] = {}
        self.field_doc_count: dict[str, int] = {}
        self.field_sum_ttf: dict[str, int] = {}
        self.all_docs: set[int] = set()

    def add(self, doc_id: int, text, fields: dict | None = None):
        """Add a document. ``text`` is the default field's text; extra
        fields via ``fields={name: text}`` (demo/IndexFiles.java:168-186
        multi-field document shape)."""
        fmap = {DEFAULT_FIELD: text} if fields is None else dict(fields)
        if fields is not None and text is not None:
            fmap.setdefault(DEFAULT_FIELD, text)
        added = False
        for fld, ftext in fmap.items():
            tp = self.analyzer.term_positions(ftext or "")
            if not tp:
                continue
            added = True
            length = sum(len(v) for v in tp.values())
            self.field_doc_count[fld] = self.field_doc_count.get(fld, 0) + 1
            self.field_sum_ttf[fld] = self.field_sum_ttf.get(fld, 0) + length
            self.doc_len.setdefault(fld, {})[doc_id] = length
            self.norms.setdefault(fld, {})[doc_id] = int(
                int_to_byte4(np.array([length]))[0])
            fpost = self.postings.setdefault(fld, {})
            fpos = self.positions.setdefault(fld, {})
            for term, pos in tp.items():
                fpost.setdefault(term, {})[doc_id] = len(pos)
                fpos.setdefault(term, {})[doc_id] = pos
        if added:
            self.all_docs.add(doc_id)

    # --- legacy single-field views (existing tests) --------------------
    @property
    def doc_count(self) -> int:
        return self.field_doc_count.get(DEFAULT_FIELD, 0)

    @property
    def sum_ttf(self) -> int:
        return self.field_sum_ttf.get(DEFAULT_FIELD, 0)

    # --- stats ---------------------------------------------------------
    def df(self, term: str, field: str = DEFAULT_FIELD) -> int:
        return len(self.postings.get(field, {}).get(term, {}))

    def ttf(self, term: str, field: str = DEFAULT_FIELD) -> int:
        return sum(self.postings.get(field, {}).get(term, {}).values())

    def term_weight(self, term: str, boost: float = 1.0,
                    field: str = DEFAULT_FIELD) -> bm25.TermWeight:
        return bm25.make_term_weight(
            term, self.df(term, field), self.field_doc_count.get(field, 0),
            self.field_sum_ttf.get(field, 0), boost=boost)

    # --- scoring ---------------------------------------------------------
    def _term_scores(self, term: str, boost: float = 1.0,
                     field: str = DEFAULT_FIELD) -> dict[int, np.float32]:
        plist = self.postings.get(field, {}).get(term, {})
        if not plist:
            return {}
        w = self.term_weight(term, boost=boost, field=field)
        docs = np.array(sorted(plist), dtype=np.int64)
        freqs = np.array([plist[d] for d in docs], dtype=np.int64)
        norms = np.array([self.norms[field][d] for d in docs], dtype=np.int64)
        scores = w.score(freqs, norms)
        return dict(zip(docs.tolist(), scores))

    def _phrase_scores(self, keys, slop: int,
                       boost: float = 1.0) -> dict[int, np.float32]:
        """Min-displacement sloppy/exact phrase (the kernel's semantics —
        SloppyPhraseMatcher.java:56 sloppy weight 1/(1+matchLength); at
        slop=0 this is exact ExactPhraseMatcher counting)."""
        field = keys[0][0]
        terms = [t for _, t in keys]
        fpos = self.positions.get(field, {})
        if any(t not in fpos for t in terms):
            return {}
        cand = set(fpos[terms[0]])
        for t in terms[1:]:
            cand &= set(fpos[t])
        pfs: dict[int, float] = {}
        for d in cand:
            pf = 0.0
            for p0 in fpos[terms[0]][d]:
                tot = 0.0
                for i, t in enumerate(terms[1:], 1):
                    target = p0 + i
                    dist = min(abs(p - target) for p in fpos[t][d])
                    tot += dist
                    if tot > slop:
                        break
                if tot <= slop:
                    pf += 1.0 / (1.0 + tot)
            pfs[d] = pf
        return self._bm25_pf(field, keys, boost, pfs)


    def _phrase_scores_lucene(self, keys, slop: int,
                              boost: float = 1.0) -> dict[int, np.float32]:
        """Fidelity sloppy matcher: per-doc SloppyPhraseMatcher port
        (search/sloppy_lucene.py, itself pinned by reference-test
        goldens) with the same BM25 weighting as _phrase_scores — the
        engine's matcher="lucene" mirror, so the differential checks
        the distributed decode path."""
        from ..search.sloppy_lucene import sloppy_freq
        field = keys[0][0]
        terms = [t for _, t in keys]
        fpos = self.positions.get(field, {})
        if any(t not in fpos for t in terms):
            return {}
        cand = set(fpos[terms[0]])
        for t in terms[1:]:
            cand &= set(fpos[t])
        offs = list(range(len(terms)))
        return self._bm25_pf(field, keys, boost, {
            d: sloppy_freq(offs, [fpos[t][d] for t in terms], slop)
            for d in cand})

    def _multiphrase_scores(self, slots, slop: int,
                            boost: float = 1.0) -> dict[int, np.float32]:
        """MultiPhraseQuery (`search/MultiPhraseQuery.java:58`): per
        slot, union the alternative terms' positions, then the same
        min-displacement exact/sloppy matching as _phrase_scores.
        Engine spec (shared with executor._eval_multiphrase): df == 0
        terms are dropped from matching AND from the weight sum; an
        empty slot → no match. Weight = boost × Σ idf over surviving
        terms, slot-major order (f32)."""
        field = slots[0][0][0]
        fpos = self.positions.get(field, {})
        live = [[t for _, t in slot if t in fpos] for slot in slots]
        if any(not slot for slot in live):
            return {}
        upos = []               # slot -> doc -> sorted positions
        for slot in live:
            m: dict[int, list[int]] = {}
            for t in slot:
                for d, ps in fpos[t].items():
                    m.setdefault(d, []).extend(ps)
            upos.append({d: sorted(ps) for d, ps in m.items()})
        cand = set(upos[0])
        for m in upos[1:]:
            cand &= set(m)
        pfs: dict[int, float] = {}
        for d in cand:
            pf = 0.0
            for p0 in upos[0][d]:
                tot = 0.0
                for i, m in enumerate(upos[1:], 1):
                    target = p0 + i
                    dist = min(abs(p - target) for p in m[d])
                    tot += dist
                    if tot > slop:
                        break
                if tot <= slop:
                    pf += 1.0 / (1.0 + tot)
            pfs[d] = pf
        return self._bm25_pf(field, [(field, t) for slot in live
                                     for t in slot], boost, pfs)

    def _span_op_spans(self, op) -> dict[int, list]:
        """Interpret a span-op tree → {doc: [(start, end, width), ...]},
        lists sorted — the per-doc mirror of executor._eval_span_op
        (same greedy/nearest choices, same width rules). A term reads
        its own field's positions (a masked clause's real field)."""
        o = op["op"]
        if o == "sterm":
            f, t = op["key"]
            fpos = self.positions.get(f, {}).get(t, {})
            return {d: [(p, p + 1, 0) for p in sorted(ps)]
                    for d, ps in fpos.items()}
        if o == "sor":
            out: dict[int, list] = {}
            for ch in op["children"]:
                for d, sp in self._span_op_spans(ch).items():
                    out.setdefault(d, []).extend(sp)
            return {d: sorted(sp) for d, sp in out.items()}
        if o == "sfirst":
            inner = self._span_op_spans(op["child"])
            out = {d: [x for x in sp if x[1] <= op["end"]]
                   for d, sp in inner.items()}
            return {d: sp for d, sp in out.items() if sp}
        if o == "sposrange":
            inner = self._span_op_spans(op["child"])
            out = {d: [x for x in sp
                       if x[0] >= op["start"] and x[1] <= op["end"]]
                   for d, sp in inner.items()}
            return {d: sp for d, sp in out.items() if sp}
        if o in ("scontain", "swithin"):
            bigs = self._span_op_spans(op["big"])
            littles = self._span_op_spans(op["little"])
            out = {}
            for d, bsp in bigs.items():
                lsp = littles.get(d, [])
                if o == "scontain":
                    kept = [b for b in bsp
                            if any(b[0] <= s and e <= b[1]
                                   for s, e, _ in lsp)]
                else:
                    kept = [x for x in lsp
                            if any(b[0] <= x[0] and x[1] <= b[1]
                                   for b in bsp)]
                if kept:
                    out[d] = sorted(kept)
            return out
        if o == "snot":
            inc = self._span_op_spans(op["include"])
            exc = self._span_op_spans(op["exclude"])
            pre, post = op["pre"], op["post"]
            out = {}
            for d, sp in inc.items():
                xs = exc.get(d, [])
                kept = [x for x in sp
                        if not any(e2 > x[0] - pre and s2 < x[1] + post
                                   for s2, e2, _ in xs)]
                if kept:
                    out[d] = kept
            return out
        # snear
        kids = [self._span_op_spans(ch) for ch in op["children"]]
        docs = set(kids[0])
        for k in kids[1:]:
            docs &= set(k)
        slop, out = op["slop"], {}
        for d in sorted(docs):
            spans = []
            for s0, e0, _ in kids[0][d]:
                if op["ordered"]:
                    cur, width, ok = e0, 0, True
                    for k in kids[1:]:
                        nxt = next(((s, e) for s, e, _ in k[d] if s >= cur),
                                   None)
                        if nxt is None:
                            ok = False
                            break
                        width += nxt[0] - cur
                        cur = nxt[1]
                    if ok and width <= slop:
                        spans.append((s0, cur, width))
                else:
                    win_s, win_e, tot, ok = s0, e0, e0 - s0, True
                    for k in kids[1:]:
                        lst = k[d]
                        j = bisect.bisect_left([x[0] for x in lst], s0)
                        right = lst[j] if j < len(lst) else None
                        left = lst[j - 1] if j > 0 else None
                        if right is None and left is None:
                            ok = False
                            break
                        if (left is not None
                                and (right is None
                                     or s0 - left[0] < right[0] - s0)):
                            pick = left
                        else:
                            pick = right
                        win_s = min(win_s, pick[0])
                        win_e = max(win_e, pick[1])
                        tot += pick[1] - pick[0]
                    if ok and (win_e - win_s - tot) <= slop:
                        spans.append((win_s, win_e, win_e - win_s))
            if spans:
                out[d] = sorted(spans)
        return out

    def _interval_op_intervals(self, op, field: str) -> dict[int, list]:
        """Interpret an iv-op tree → {doc: [(start, end, Σ child widths)]}
        by BRUTE FORCE over the canonical minimal-interval semantics
        (enumerate every admissible combination of child intervals, then
        remove any interval that non-strictly contains another) — an
        independent spec the executor's vectorized fold is differential-
        tested against, not a mirror of it."""
        def minimalize(cands: list) -> list:
            # same envelope from different child combos keeps the MAX
            # Σ child widths (the executor's deterministic fl rule)
            best: dict = {}
            for s, e, l in cands:
                best[(s, e)] = max(best.get((s, e), -1), l)
            ivs = [(s, e, l) for (s, e), l in best.items()]
            out = [x for x in ivs
                   if not any((y[0], y[1]) != (x[0], x[1])
                              and y[0] >= x[0] and y[1] <= x[1]
                              for y in ivs)]
            return sorted(out)

        o = op["op"]
        if o == "iterm":
            fpos = self.positions.get(field, {}).get(op["key"][1], {})
            return {d: [(p, p, 1) for p in sorted(ps)]
                    for d, ps in fpos.items()}
        if o == "iblock":
            keys = [t for _, t in op["keys"]]
            per = [self.positions.get(field, {}).get(t, {}) for t in keys]
            docs = set(per[0])
            for m in per[1:]:
                docs &= set(m)
            out = {}
            for d in docs:
                runs = [(p, p + len(keys) - 1, len(keys))
                        for p in sorted(per[0][d])
                        if all(p + i in per[i][d] for i in range(1, len(keys)))]
                if runs:
                    out[d] = runs
            return out
        if o in ("iord", "iunord"):
            kids = [self._interval_op_intervals(ch, field)
                    for ch in op["children"]]
            docs = set(kids[0])
            for k in kids[1:]:
                docs &= set(k)
            out = {}
            for d in docs:
                cands = []
                for combo in itertools.product(*(k[d] for k in kids)):
                    if o == "iord":
                        if any(combo[i + 1][0] <= combo[i][1]
                               for i in range(len(combo) - 1)):
                            continue
                    s = min(x[0] for x in combo)
                    e = max(x[1] for x in combo)
                    cands.append((s, e, sum(x[2] for x in combo)))
                kept = minimalize(cands)
                if kept:
                    out[d] = kept
            return out
        if o == "ior":
            cands: dict[int, list] = {}
            for ch in op["children"]:
                for d, sp in self._interval_op_intervals(ch, field).items():
                    cands.setdefault(d, []).extend(sp)
            return {d: m for d, sp in cands.items()
                    if (m := minimalize(sp))}
        if o in ("icontaining", "inotcontaining"):
            bigs = self._interval_op_intervals(op["big"], field)
            smalls = self._interval_op_intervals(op["small"], field)
            want = o == "icontaining"
            out = {}
            for d, sp in bigs.items():
                sm = smalls.get(d, [])
                kept = [x for x in sp
                        if any(s >= x[0] and e <= x[1]
                               for s, e, _ in sm) == want]
                if kept:
                    out[d] = kept
            return out
        if o in ("icontainedby", "inotcontainedby"):
            smalls = self._interval_op_intervals(op["small"], field)
            bigs = self._interval_op_intervals(op["big"], field)
            want = o == "icontainedby"
            out = {}
            for d, sp in smalls.items():
                bg = bigs.get(d, [])
                kept = [x for x in sp
                        if any(s <= x[0] and e >= x[1]
                               for s, e, _ in bg) == want]
                if kept:
                    out[d] = kept
            return out
        if o in ("ibefore", "iafter", "ioverlap", "inonoverlap",
                 "iwithin"):
            srcs = self._interval_op_intervals(op["src"], field)
            refs = self._interval_op_intervals(op["ref"], field)
            p = op.get("positions", 0)
            out = {}
            for d, sp in srcs.items():
                rf = refs.get(d, [])
                if o == "ibefore":
                    kept = [x for x in sp
                            if any(x[1] < s for s, e, _ in rf)]
                elif o == "iafter":
                    kept = [x for x in sp
                            if any(x[0] > e for s, e, _ in rf)]
                elif o == "iwithin":
                    kept = [x for x in sp
                            if any(s - p <= x[0] and e + p >= x[1]
                                   for s, e, _ in rf)]
                else:
                    overlap = [x for x in sp
                               if any(s - p <= x[1] and e + p >= x[0]
                                      for s, e, _ in rf)]
                    kept = (overlap if o == "ioverlap"
                            else [x for x in sp if x not in overlap])
                if kept:
                    out[d] = kept
            return out
        inner = self._interval_op_intervals(op["child"], field)
        if o == "imaxgaps":
            out = {d: [x for x in sp if x[1] - x[0] + 1 - x[2] <= op["gaps"]]
                   for d, sp in inner.items()}
        else:    # imaxwidth
            out = {d: [x for x in sp if x[1] - x[0] + 1 <= op["width"]]
                   for d, sp in inner.items()}
        return {d: sp for d, sp in out.items() if sp}

    def _interval_scores(self, c):
        """IntervalQuery leaf (executor._eval_interval spec): freq = Σ
        1/max(length − minExtent + 1, 1) accumulated in f64, saturation
        applied in f32 — w32 × (1 − pivot/(pivot + freq))."""
        field = c["field"]
        if any(t not in self.postings.get(f, {})
               for f, t in self._iv_keys(c["root"])):
            return {}
        iv = self._interval_op_intervals(c["root"], field)
        me = c["root"]["min_extent"]
        w = np.float32(c["boost"])
        p = np.float32(c["pivot"])
        out = {}
        for d, sp in iv.items():
            freq = float(sum(1.0 / max(e - s + 1 - me + 1, 1)
                             for s, e, _ in sp))
            f = np.float32(freq)
            out[d] = np.float32(w * (np.float32(1.0) - p / (p + f)))
        return out

    @staticmethod
    def _iv_keys(op) -> list:
        from ..search.executor import _interval_required_keys
        return _interval_required_keys(op)

    def _spantree_scores(self, c):
        """Composite span query — freq = Σ 1/(1+width), BM25 weight over
        the distinct scoring keys (the executor's spantree leaf)."""
        from ..search.executor import _annotate_span_op, _span_op_keys
        st = {(f, t) for f, terms in self.postings.items() for t in terms}
        root = _annotate_span_op(c["root"], st)
        if root is None:
            return {}
        keys = list(dict.fromkeys(_span_op_keys(root, scoring_only=True)))
        return self._bm25_pf(c["field"], keys, c["boost"], {
            d: sum(1.0 / (1.0 + wd) for _, _, wd in sp)
            for d, sp in self._span_op_spans(root).items()})

    def _bm25_pf(self, field, keys, boost,
                 pfs: dict[int, float]) -> dict[int, np.float32]:
        """float32 BM25 of per-doc phrase/span freqs — the one scoring
        step of every positional leaf: weight = boost × Σ idf over
        ``keys`` (f32 sum in key order, each key's own field stats),
        norms and avgdl of the scoring ``field``; pf = 0 docs drop."""
        pfs = {d: pf for d, pf in pfs.items() if pf > 0}
        if not pfs:
            return {}
        idf_sum = np.float32(sum(
            np.float32(bm25.idf(self.df(t, f), self.field_doc_count[f]))
            for f, t in keys))
        w = np.float32(np.float32(boost) * idf_sum)
        avgdl = bm25.avg_field_length(self.field_sum_ttf[field],
                                      self.field_doc_count[field])
        cache = bm25.norm_inverse_cache(avgdl)
        return {d: np.float32(w - w / (np.float32(1.0) + np.float32(pf)
                                       * cache[self.norms[field][d]]))
                for d, pf in pfs.items()}

    def _leaf_scores(self, c) -> dict[int, np.float32]:
        """Score a tree-plan leaf dict — the executor's _LEAF_EVAL
        semantics, one kind at a time."""
        if c["kind"] == "term":
            f, t = c["key"]
            return self._term_scores(t, boost=c["boost"], field=f)
        if c["kind"] == "phrase":
            if c.get("matcher") == "lucene":
                return self._phrase_scores_lucene(c["keys"], c["slop"],
                                                  c["boost"])
            return self._phrase_scores(c["keys"], c["slop"], c["boost"])
        if c["kind"] == "multiphrase":
            return self._multiphrase_scores(c["slots"], c["slop"],
                                            c["boost"])
        if c["kind"] == "spantree":
            return self._spantree_scores(c)
        return self._interval_scores(c)

    # ------------------------------------------------------------------
    # recursive tree-plan interpreter (executor._eval_tree mirror)
    # ------------------------------------------------------------------
    def _eval_tree_node(self, node, scoring: bool = True):
        """→ (match_set, {doc: float32 score, restricted to matches}).

        Mirrors the Spark kernel's recursive evaluation exactly —
        including float32 accumulation order (MUST children in
        appearance order, then SHOULD children) — so engine and oracle
        agree bit-for-bit on nested plans."""
        kind = node["kind"]
        if kind in ("term", "phrase", "multiphrase", "spantree",
                    "interval"):
            sc = self._leaf_scores(node)
            return set(sc), (sc if scoring else {})
        if kind == "dismax":
            per = [self._eval_tree_node(ch, scoring)
                   for ch in node["children"]]
            docs = set()
            for m, _ in per:
                docs |= m
            if not scoring:
                return docs, {}
            out = {}
            for d in docs:
                mx = np.float32(0.0)
                sm = np.float32(0.0)
                for m, s in per:
                    if d in m:
                        v = s.get(d, np.float32(0.0))
                        sm = np.float32(sm + v)
                        mx = max(mx, v)
                out[d] = np.float32(
                    mx + np.float32(node["tie"]) * np.float32(sm - mx))
            return docs, out
        # bool node (the oracle's universe IS all_docs, so MatchAll
        # constants — SimpleQueryParser NOT-wrapper shape — evaluate
        # exactly, grounded or not)
        if node.get("never"):
            return set(), {}
        acc: dict[int, np.float32] = {}

        def add(sc):
            for d, s in sc.items():
                acc[d] = np.float32(acc.get(d, np.float32(0.0)) + s)

        req = None
        for ch in node["must"]:
            m, s = self._eval_tree_node(ch, scoring)
            req = m if req is None else (req & m)
            if scoring:
                add(s)
        for ch in node["filter"]:
            m, _ = self._eval_tree_node(ch, False)
            req = m if req is None else (req & m)
        if req is None and node.get("all_must"):
            req = set(self.all_docs)
        all_should = node.get("all_should", 0)
        cnt: dict[int, int] = {}
        for ch in node["should"]:
            m, s = self._eval_tree_node(ch, scoring)
            for d in m:
                cnt[d] = cnt.get(d, 0) + 1
            if scoring:
                add(s)
        if req is not None:
            docs = req
            if node["msm"] > 0:
                docs = {d for d in docs
                        if cnt.get(d, 0) + all_should >= node["msm"]}
        else:
            need = max(1, node["msm"])
            if all_should >= need:
                docs = set(self.all_docs)
            else:
                docs = {d for d, n in cnt.items()
                        if n + all_should >= need}
        for ch in node["must_not"]:
            m, _ = self._eval_tree_node(ch, False)
            docs = docs - m
        if not scoring:
            return docs, {}
        const = np.float32(node.get("const", 0.0))
        return docs, {d: np.float32(acc.get(d, np.float32(0.0)) + const)
                      for d in docs}

    # ------------------------------------------------------------------
    # AST interpreter (same tree plan as the Spark kernel)
    # ------------------------------------------------------------------
    def search_ast(self, query, k: int = 10):
        from ..search.ast import rewrite
        from ..search.executor import flatten_plan
        plan = flatten_plan(rewrite(query))
        if plan is None:
            return []
        if plan == "ALL":
            docs = sorted(self.all_docs)[:k]
            return [(d, np.float32(1.0)) for d in docs]
        docs, sc = self._eval_tree_node(plan["tree"], scoring=True)
        return self._topk({d: sc.get(d, np.float32(0.0)) for d in docs}, k)

    # --- single-field reference API: scores without build_tree, so the
    # end-to-end tests check the engine's plan against independent code
    def search_or(self, terms: list[str], k: int = 10):
        acc: dict[int, np.float32] = {}
        for t in terms:
            for d, s in self._term_scores(t).items():
                acc[d] = np.float32(acc.get(d, np.float32(0.0)) + s)
        return self._topk(acc, k)

    def search_and(self, terms: list[str], k: int = 10):
        sets = [set(self.postings.get(DEFAULT_FIELD, {}).get(t, {}))
                for t in terms]
        if not sets:
            return []
        docs = set.intersection(*sets)
        acc: dict[int, np.float32] = {d: np.float32(0.0) for d in docs}
        for t in terms:
            ts = self._term_scores(t)
            for d in docs:
                acc[d] = np.float32(acc[d] + ts[d])
        return self._topk(acc, k)

    def search_bool(self, must=(), should=(), must_not=(), k: int = 10,
                    min_should_match: int = 0):
        """Lucene semantics: if there are MUST clauses, SHOULD clauses only
        contribute score (ReqOptSumScorer); else ≥max(1, msm) SHOULD must
        match. MUST_NOT excludes. A term in both MUST and SHOULD scores
        twice (one scorer per clause)."""
        must, should, must_not = list(must), list(should), list(must_not)
        fpost = self.postings.get(DEFAULT_FIELD, {})
        excluded = set()
        for t in must_not:
            excluded |= set(fpost.get(t, {}))
        if must:
            docs = set.intersection(*[set(fpost.get(t, {})) for t in must])
        else:
            msm = max(1, min_should_match)
            from collections import Counter
            c: Counter = Counter()
            for t in set(should):
                c.update(fpost.get(t, {}).keys())
            docs = {d for d, n in c.items() if n >= msm}
        docs -= excluded
        acc = {d: np.float32(0.0) for d in docs}
        for t in must + should:
            ts = self._term_scores(t)
            for d in docs:
                if d in ts:
                    acc[d] = np.float32(acc[d] + ts[d])
        return self._topk(acc, k)

    def search_phrase(self, terms: list[str], k: int = 10):
        """Exact phrase (slop=0) — one BM25 evaluation on the phrase
        freq with weight = sum of per-term idfs."""
        sc = self._phrase_scores([(DEFAULT_FIELD, t) for t in terms], 0)
        return self._topk(sc, k)

    @staticmethod
    def _topk(acc: dict[int, np.float32], k: int):
        """Sort by (score desc, doc asc) — HitQueue tie-break — take k."""
        items = sorted(acc.items(), key=lambda kv: (-float(kv[1]), kv[0]))
        return [(d, np.float32(s)) for d, s in items[:k]]
