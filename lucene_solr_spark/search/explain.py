"""Score explanations — the IndexSearcher.explain surface.

The reference treats explanations as part of the correctness contract
(`search/IndexSearcher.java:814` explain, checked by
`CheckHits.checkExplanations:280`: the explanation's value must equal
the score the scorer produced). Same here, by construction: ``explain``
evaluates the query's annotated tree plan with the kernel's own
`_BucketData` / `_eval_tree` over the postings of the buckets that hold
the requested docs, and reports every node's value at every doc. The
root value is bit-equal to the ``Searcher.top_k`` score for every leaf
kind and any nesting depth, and a bool node's details sum (float32, in
the kernel's order: MUST, FILTER, SHOULD, then the MatchAll constant)
to its value.

Driver-side by design — explain is a per-doc debugging surface, not a
scan operator; the fetch is a term- and bucket-filtered (pushed-down)
scan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from ..functions.smallfloat import LENGTH_TABLE
from .executor import (_BucketData, _LEAF_KINDS, _bucket_deleted,
                       _eval_tree)


def _describe(node) -> str:
    kind = node["kind"]
    if kind == "term":
        return "weight({}:{})".format(*node["key"])
    if kind == "phrase":
        return f"phrase({node['keys']}~{node['slop']})"
    if kind == "multiphrase":
        return f"multiphrase({node['slots']}~{node['slop']})"
    if kind == "dismax":
        return f"dismax(tie={node['tie']})"
    if kind == "bool":
        return f"boolean(msm={node['msm']})"
    return kind


def _explain_node(node, data, spec, dtype, grid, locs, scoring=True):
    """→ one detail dict per bucket offset in ``locs``: the node's match
    flag and value there (the kernel's own `_eval_tree`), with the
    details of its matching children nested under "details"."""
    mask, score = _eval_tree(node, data, spec, dtype, grid, scoring)
    kind = node["kind"]
    if kind == "bool":
        kids = [(occur, ch, scoring and occur in ("must", "should"))
                for occur in ("must", "filter", "should", "must_not")
                for ch in node[occur]]
    elif kind == "dismax":
        kids = [("disjunct", ch, scoring) for ch in node["children"]]
    else:
        kids = []
    sub = [(occur, _explain_node(ch, data, spec, dtype, grid, locs, sc))
           for occur, ch, sc in kids]
    w = node.get("w32" if dtype is np.float32 else "w64")
    post = data.decode(node["key"]) if kind == "term" else None
    out = []
    for i, loc in enumerate(locs):
        e = {"description": _describe(node), "match": bool(mask[loc]),
             "value": float(score[loc])}
        if kind in _LEAF_KINDS:
            e.update(boost=node["boost"], weight=float(w))
        if post is not None:
            j = np.searchsorted(post[0], loc + data.off)
            if j < len(post[0]) and post[0][j] == loc + data.off:
                e.update(freq=int(post[1][j]),
                         dl=int(LENGTH_TABLE[int(post[2][j]) & 0xFF]))
        details = [dict(s[i], occur=occur) for occur, s in sub
                   if s[i]["match"]]
        if kind == "bool" and node.get("const") and mask[loc] and scoring:
            details.append({"description": "MatchAllDocsQuery",
                            "match": True,
                            "value": float(dtype(node["const"]))})
        if details:
            e["details"] = details
        out.append(e)
    return out


def explain(searcher, query, doc_ids: list[int], mode: str = "f32") -> dict:
    """→ {doc_id: {"match": bool, "value": float, "details": [...]}}.

    The top-level details are the root's explanation: the root node
    itself for a leaf or dismax root, the matching clauses (each with
    its own nested details) for a boolean root. Leaves carry their
    boost and weight, term leaves also freq and quantized dl — the
    `weight(field:term in doc) = score(freq=..., norm=...)` shape of
    the reference's Explanation tree."""
    doc_ids = [int(d) for d in doc_ids]
    if searcher.sim != "bm25":
        mode = "f64"      # non-BM25 similarities are f64-only
    out = {d: {"match": False, "value": 0.0, "details": []}
           for d in doc_ids}
    plan = searcher._plan(query)
    if plan is None:
        return out
    if "compose" in plan:
        # a composition (MatchAll, pure negation, FieldExistsQuery) is a
        # DataFrame fold, not a tree: report its score as one detail
        rows = (searcher.score_all(query, mode=mode)
                .filter(F.col("doc_id").isin(doc_ids)).collect())
        for r in rows:
            v = float(r["score"])
            out[int(r["doc_id"])] = {
                "match": True, "value": v,
                "details": [{"description": "composition", "value": v}]}
        return out
    spec, live, dead = searcher._spec_for_plan(plan, mode, 0, False,
                                               collect_all=True)
    if dead:
        return out
    grid = spec["grid"]
    pdf = searcher._collect_blocks(live, sorted({d // grid for d in doc_ids}))
    dtype = np.float32 if mode == "f32" else np.float64
    for bucket, grp in pdf.groupby("bucket"):
        off = int(bucket) * grid
        docs = [d for d in doc_ids if d // grid == bucket]
        dead_offs = _bucket_deleted(grp, spec, off, grid)
        dead_offs = set() if dead_offs is None else set(dead_offs.tolist())
        root = _explain_node(spec["tree"], _BucketData(grp, off),
                             spec, dtype, grid, [d - off for d in docs])
        for d, e in zip(docs, root):
            if not e["match"] or d - off in dead_offs:
                continue
            details = (e.pop("details", [])
                       if spec["tree"]["kind"] == "bool" else [e])
            out[d] = {"match": True, "value": e["value"],
                      "details": details}
    return out
