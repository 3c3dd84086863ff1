"""UnifiedHighlighter passage ranking — multi-passage, BM25-weighted.

Reference semantics (`lucene/highlighter/.../uhighlight/
UnifiedHighlighter.java:93`, `PassageScorer.java`, `FieldHighlighter`):
content is split into passages (BreakIterator sentences, with a length
goal), each passage scores

    norm(start) × Σ_unique-terms weight(contentLen, ttf_doc)
                  × tf(freq_in_passage, passageLen)

with the PassageScorer formulas (k1=1.2, b=0.75, pivot=87 defaults):
    weight(L, ttf) = (k1+1) · ln(1 + (1 + L/pivot + 0.5)/(ttf + 0.5))
    tf(f, plen)    = f / (f + k1·((1−b) + b·plen/pivot))
    norm(start)    = 1 + 1/ln(pivot + start)

and the top-N passages are returned sorted by offset with matches
wrapped in tags.

Spark shape: match spans come from the searcher's one block scan
(`Searcher._postings`: pushed (field, term) + bucket IN predicate,
offsets decoded by `decode_blocks`, tombstoned docs dropped), and only
(doc_id, term, start, end) rows reach the driver; the offsets
highlighter reads the same rows. Per-doc passage assembly is
driver-side over the k requested hit docs only, like the reference's
per-hit highlight loop. Sentence breaking: deterministic [.!?]+whitespace boundaries,
with a token-aligned length-goal fallback for unpunctuated content
(LengthGoalBreakIterator analog).
"""

from __future__ import annotations

import math
import re

from .ast import DEFAULT_FIELD

_SENT_RE = re.compile(r"[.!?]+\s+")


def matched_spans(searcher, terms: list[str], doc_ids,
                  field: str = DEFAULT_FIELD):
    """(doc_id, term, start, end) rows for the given terms restricted to
    the given docs — the distributed offsets scan, term-labeled."""
    if not searcher.index.with_offsets:
        raise ValueError("matched_spans requires "
                         "IndexBuilder(with_offsets=True)")
    schema = "doc_id long, term string, start long, end long"
    wanted = sorted({int(d) for d in doc_ids})
    if not wanted:
        return searcher.spark.createDataFrame([], schema)
    grid = int(searcher.index.stats["grid"])

    def extract(parts):
        import numpy as np
        import pandas as pd
        want = np.asarray(wanted, dtype=np.int64)
        for pdf, p in parts:
            occ = np.repeat(np.arange(len(p["doc"])), p["freq"])
            doc = p["doc"][occ]
            m = np.isin(doc, want)
            if m.any():
                yield pd.DataFrame({
                    "doc_id": doc[m],
                    "term": pdf["term"].to_numpy()[p["row"][occ[m]]],
                    "start": p["start"][m], "end": p["end"][m]})

    return searcher._postings([(field, t) for t in terms], extract, schema,
                              channels=("off",),
                              buckets=sorted({d // grid for d in wanted}))


def _break_passages(text: str, max_chars: int) -> list[tuple[int, int]]:
    """[start, end) passage windows: sentence boundaries first
    (BreakIterator.getSentenceInstance analog), each sentence further
    split at token-aligned length goals (LengthGoalBreakIterator)."""
    sentences = []
    pos = 0
    for m in _SENT_RE.finditer(text):
        sentences.append((pos, m.end()))
        pos = m.end()
    if pos < len(text):
        sentences.append((pos, len(text)))
    out = []
    for s, e in sentences:
        while e - s > max_chars:
            cut = text.rfind(" ", s + 1, s + max_chars + 1)
            if cut <= s:
                cut = s + max_chars
            out.append((s, cut))
            s = cut + 1 if cut < e and text[cut:cut + 1] == " " else cut
        if e > s:
            out.append((s, e))
    return out


def _w(k1: float, pivot: float, content_len: int, ttf: int) -> float:
    num_docs = 1.0 + content_len / pivot
    return (k1 + 1.0) * math.log(1.0 + (num_docs + 0.5) / (ttf + 0.5))


def passage_highlight(searcher, terms: list[str],
                      doc_texts: dict[int, str],
                      field: str = DEFAULT_FIELD, max_passages: int = 3,
                      k1: float = 1.2, b: float = 0.75,
                      pivot: float = 87.0, max_passage_chars: int = 200,
                      pre: str = "<b>", post: str = "</b>") -> dict:
    """{doc_id: [(score, start, end, snippet), ...]} — up to
    ``max_passages`` matching passages per doc, PASSAGE-SCORE-ranked
    then returned in offset order (the UnifiedHighlighter contract);
    docs with no matching passage map to []."""
    rows = matched_spans(searcher, terms, list(doc_texts), field).collect()
    by_doc: dict[int, list] = {int(d): [] for d in doc_texts}
    for r in rows:
        by_doc[int(r["doc_id"])].append(
            (r["term"], int(r["start"]), int(r["end"])))
    out: dict[int, list] = {}
    for d, text in doc_texts.items():
        spans = by_doc[int(d)]
        if not spans:
            out[int(d)] = []
            continue
        ttf = {}
        for t, _, _ in spans:
            ttf[t] = ttf.get(t, 0) + 1
        weights = {t: _w(k1, pivot, len(text), f) for t, f in ttf.items()}
        scored = []
        for ps, pe in _break_passages(text, max_passage_chars):
            inside = [(t, s, e) for t, s, e in spans if s >= ps and e <= pe]
            if not inside:
                continue
            plen = pe - ps
            freq: dict[str, int] = {}
            for t, _, _ in inside:
                freq[t] = freq.get(t, 0) + 1
            score = sum(weights[t] * (f / (f + k1 * ((1 - b)
                        + b * plen / pivot)))
                        for t, f in freq.items())
            score *= 1.0 + 1.0 / math.log(pivot + ps)
            scored.append((score, ps, pe, inside))
        top = sorted(scored, key=lambda x: (-x[0], x[1]))[:max_passages]
        top.sort(key=lambda x: x[1])          # final order: by offset
        res = []
        for score, ps, pe, inside in top:
            pieces, cur = [], ps
            for s, e in sorted({(s, e) for _, s, e in inside}):
                if s < cur:
                    continue
                pieces.append(text[cur:s])
                pieces.append(pre + text[s:e] + post)
                cur = e
            pieces.append(text[cur:pe])
            res.append((score, ps, pe, "".join(pieces)))
        out[int(d)] = res
    return out
