"""DataFrame-level query operators composed over the index tables:
SynonymQuery, searchAfter paging, boosted disjunction, constant-score,
sort-by-docvalue — the reference operators whose natural Spark shape is
a declarative plan over decoded postings rather than a kernel mode.

References (semantics only): `search/SynonymQuery.java:55` (pseudo-term
stats: docFreq = max over terms, one BM25 invocation on the summed
freq), `search/IndexSearcher.java:471-506` (searchAfter),
`search/BoostQuery.java:34`, `search/ConstantScoreQuery.java:32`,
`search/TopFieldCollector.java:42` (Sort/SortField).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.smallfloat import LENGTH_TABLE
from .ast import DEFAULT_FIELD

POSTINGS_ROWS_SCHEMA = "term string, doc_id long, freq long, norm int"
POSTINGS_POS_SCHEMA = POSTINGS_ROWS_SCHEMA + ", positions array<int>"


def postings_rows(searcher, terms: list[str],
                  with_positions: bool = False,
                  field: str = DEFAULT_FIELD) -> DataFrame:
    """Decoded postings for a term set: (term, doc_id, freq, norm
    [, positions]) — the public 'postings reader' API (PostingsEnum /
    ImpactsEnum analog). A view over the searcher's one block scan
    (`Searcher._postings`: pushed (field, term) predicate,
    `decode_blocks`), narrow and shuffle-free; tombstoned docs are
    masked (liveDocs), as in every search-side reader."""
    if with_positions and not searcher.index.with_positions:
        raise ValueError("index built without positions")

    def dec(parts):
        for pdf, p in parts:
            out = {
                "term": pdf["term"].to_numpy()[p["row"]],
                "doc_id": p["doc"],
                "freq": p["freq"],
                "norm": p["norm"].astype("int32"),
            }
            if with_positions:
                out["positions"] = pd.Series(
                    np.split(p["pos"].astype("int32"),
                             np.cumsum(p["freq"])[:-1]), dtype="object")
            yield pd.DataFrame(out)

    return searcher._postings(
        [(field, t) for t in terms], dec,
        POSTINGS_POS_SCHEMA if with_positions else POSTINGS_ROWS_SCHEMA,
        channels=("pos",) if with_positions else ())


def _bm25_f64_col(freq_col, norm_col, df_val: int, searcher,
                  field: str = DEFAULT_FIELD):
    """Double-precision BM25 column on decoded (freq, norm byte), using
    the FIELD's collection stats (IndexSearcher.java:914-933)."""
    st = searcher.field_stats(field)
    n_docs, avgdl = st["doc_count"], st["sum_ttf"] / float(st["doc_count"])
    idf = math.log(1.0 + (n_docs - df_val + 0.5) / (df_val + 0.5))
    lt = F.array(*[F.lit(int(v)) for v in LENGTH_TABLE])
    dl = F.element_at(lt, norm_col + 1).cast("double")
    f = freq_col.cast("double")
    k1, b = searcher.k1, searcher.b
    return F.lit(idf) * f / (f + F.lit(k1) *
                             (F.lit(1.0 - b) + F.lit(b) * dl / F.lit(avgdl)))


def synonym_score_all(searcher, terms: list[str],
                      field: str = DEFAULT_FIELD) -> DataFrame:
    """SynonymQuery: terms scored as ONE pseudo-term — per-doc freq is the
    SUM over the synonyms, docFreq is the MAX over the synonyms, one BM25
    evaluation (float64). → (doc_id, score)."""
    st = searcher.term_stats([(field, t) for t in terms])
    live = [t for t in terms if (field, t) in st]
    if not live:
        return searcher.spark.createDataFrame([], "doc_id long, score double")
    df_syn = max(st[(field, t)][0] for t in live)
    rows = postings_rows(searcher, live, field=field)
    agg = rows.groupBy("doc_id").agg(F.sum("freq").alias("freq"),
                                     F.max("norm").alias("norm"))
    return agg.select(
        "doc_id",
        _bm25_f64_col(F.col("freq"), F.col("norm"), df_syn, searcher, field)
        .alias("score"))


def ngram_phrase_rewrite(q, n: int):
    """NGramPhraseQuery.rewrite (`search/NGramPhraseQuery.java:48`):
    over an n-gram-analyzed field, a dense exact phrase of grams is
    over-determined — gram i and gram i+n overlapping the same text
    imply every gram between them — so keep only every n-th gram plus
    the last, at their ORIGINAL positions (PhraseQuery.Builder.add with
    gaps). Matches are identical; the postings scanned drop to
    ~len/n + 1 streams. Not optimizable (returned unchanged, like the
    reference) when slop != 0, n < 2, fewer than 3 terms, or the
    phrase already carries explicit positions."""
    from .ast import PhraseQuery
    if not isinstance(q, PhraseQuery):
        raise TypeError("ngram_phrase_rewrite takes a PhraseQuery")
    if (q.slop != 0 or n < 2 or len(q.terms) < 3
            or q.positions is not None or q.matcher != "mindisp"):
        return q
    keep = [i for i in range(len(q.terms))
            if i % n == 0 or i == len(q.terms) - 1]
    return PhraseQuery(tuple(q.terms[i] for i in keep), field=q.field,
                       positions=tuple(keep))


def blended_term_score_all(searcher, terms: list[str],
                           boosts: dict[str, float] | None = None,
                           tie: float = 0.1, disjunction_max: bool = True,
                           field: str = DEFAULT_FIELD) -> DataFrame:
    """BlendedTermQuery (`search/BlendedTermQuery.java:63`): every term
    is scored as its OWN TermQuery, but over BLENDED statistics — each
    term's docFreq is lifted to the max across the set
    (`BlendedTermQuery.java:327-351` adjustFrequencies), so a rare
    variant ("analytics") is not over-rewarded against a common one
    ("storage") the way a plain disjunction's per-term idf would.
    Unlike SynonymQuery (one pseudo-term over SUMMED freqs), each term
    keeps its own tf saturation and the per-term scores are combined by
    the rewrite method: DisjunctionMax with ``tie`` (the reference's
    DisjunctionMaxRewrite default shape) or Boolean SHOULD sum
    (BooleanQueryRewrite). → (doc_id, score), float64.

    Plan: one term-pushed block scan → decode → per-row BM25 column
    with the blended df folded in as a literal → one groupBy(doc_id)
    (map-side combined). No Python past the bounded decode."""
    st = searcher.term_stats([(field, t) for t in terms])
    live = [t for t in terms if (field, t) in st]
    if not live:
        return searcher.spark.createDataFrame([], "doc_id long, score double")
    df_blend = max(st[(field, t)][0] for t in live)
    rows = postings_rows(searcher, live, field=field)
    boost = F.lit(1.0)
    for t, b in (boosts or {}).items():
        boost = F.when(F.col("term") == t, F.lit(float(b))).otherwise(boost)
    per = rows.select(
        "doc_id",
        (_bm25_f64_col(F.col("freq"), F.col("norm"), df_blend, searcher,
                       field) * boost).alias("s"))
    if not disjunction_max:
        return per.groupBy("doc_id").agg(F.sum("s").alias("score"))
    agg = per.groupBy("doc_id").agg(F.max("s").alias("mx"),
                                    F.sum("s").alias("sm"))
    return agg.select(
        "doc_id",
        (F.col("mx") + F.lit(float(tie)) * (F.col("sm") - F.col("mx")))
        .alias("score"))


def search_after(searcher, query, after_score: float, after_doc: int,
                 k: int = 10, mode: str = "f64") -> DataFrame:
    """Next page: hits strictly after (after_score, after_doc) in
    (score desc, doc_id asc) order — IndexSearcher.searchAfter."""
    scored = searcher.score_all(query, mode=mode)
    nxt = scored.filter(
        (F.col("score") < after_score) |
        ((F.col("score") == after_score) & (F.col("doc_id") > after_doc)))
    return nxt.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def boosted_sum_score_all(searcher, boosts: dict[str, float]) -> DataFrame:
    """OR over BoostQuery-wrapped terms: score = Σ boost_t * bm25_t, in
    one kernel job. → (doc_id, score)."""
    from .ast import BooleanQuery, BoostQuery, Clause, Occur, TermQuery
    return searcher.score_all(BooleanQuery(tuple(
        Clause(Occur.SHOULD, BoostQuery(TermQuery(t), float(b)))
        for t, b in boosts.items())), mode="f64")


def proximity_score_all(searcher, term_a: str, term_b: str,
                        window: int, field: str = DEFAULT_FIELD) -> DataFrame:
    """Proximity query: docs where term_a and term_b co-occur within
    `window` positions (unordered). pf = number of (pa, pb) position
    pairs with |pa - pb| <= window; scored like a phrase — one BM25
    evaluation with weight idf(a) + idf(b) on pf (float64).

    The pair counting runs JVM-side (`aggregate`/`filter` over position
    arrays) after an inner join on doc_id — the SloppyPhraseMatcher role
    (`search/SloppyPhraseMatcher.java:56`) with simplified, exactly-
    specified pf semantics. → (doc_id, score)."""
    ka, kb = (field, term_a), (field, term_b)
    st = searcher.term_stats([ka, kb])
    if ka not in st or kb not in st:
        return searcher.spark.createDataFrame([], "doc_id long, score double")
    n_docs = searcher.field_stats(field)["doc_count"]
    idf = (math.log(1.0 + (n_docs - st[ka][0] + 0.5) / (st[ka][0] + 0.5))
           + math.log(1.0 + (n_docs - st[kb][0] + 0.5) / (st[kb][0] + 0.5)))
    a = (postings_rows(searcher, [term_a], with_positions=True, field=field)
         .select("doc_id", F.col("positions").alias("pos_a"), "norm"))
    b = (postings_rows(searcher, [term_b], with_positions=True, field=field)
         .select("doc_id", F.col("positions").alias("pos_b")))
    j = a.join(b, "doc_id")
    pf = F.aggregate(
        "pos_a", F.lit(0),
        lambda acc, pa: acc + F.size(F.filter(
            "pos_b", lambda pb: F.abs(pb - pa) <= F.lit(window))))
    scored = j.select("doc_id", pf.alias("pf"), "norm").filter(F.col("pf") > 0)
    st_all = searcher.field_stats(field)
    avgdl = st_all["sum_ttf"] / float(st_all["doc_count"])
    lt = F.array(*[F.lit(int(v)) for v in LENGTH_TABLE])
    dl = F.element_at(lt, F.col("norm") + 1).cast("double")
    f = F.col("pf").cast("double")
    k1, bb = searcher.k1, searcher.b
    score = (F.lit(idf) * f /
             (f + F.lit(k1) * (F.lit(1.0 - bb) + F.lit(bb) * dl / F.lit(avgdl))))
    return scored.select("doc_id", score.alias("score"))


def constant_score(searcher, query, score: float = 1.0) -> DataFrame:
    """ConstantScoreQuery: matching docs, fixed score."""
    return searcher.match_docs(query).distinct().select(
        "doc_id", F.lit(float(score)).alias("score"))


def fetch_documents(spark, hits, docs: DataFrame,
                    columns: list[str] | None = None):
    """StoredFields retrieval — ``IndexSearcher.doc(docID)`` analog.

    The source Parquet table IS the row store (SURVEY §2.3: Lucene87
    StoredFieldsWriter ↔ the columnar doc table). ``hits`` is a top_k
    pandas frame (rank, doc_id, score) or any DataFrame with doc_id; the
    hit set is broadcast (it is ≤k rows) against the doc store and the
    result preserves hit order. → pandas DataFrame."""
    import pandas as pd
    if isinstance(hits, pd.DataFrame):
        hit_ids = [int(d) for d in hits["doc_id"]]
        order = {d: i for i, d in enumerate(hit_ids)}
        sel = docs.filter(F.col("doc_id").isin(hit_ids))
        if columns:
            sel = sel.select("doc_id", *columns)
        out = sel.toPandas()
        out["__o"] = out["doc_id"].map(order)
        out = (out.sort_values("__o").drop(columns="__o")
               .reset_index(drop=True))
        for c in hits.columns:
            if c != "doc_id":
                out[c] = out["doc_id"].map(
                    dict(zip(hit_ids, hits[c])))
        return out
    sel = docs.join(F.broadcast(hits.select("doc_id").distinct()), "doc_id")
    if columns:
        sel = sel.select("doc_id", *columns)
    return sel


def numeric_range_filter(searcher, query, docs: DataFrame, col: str,
                         lo=None, hi=None, include_lo: bool = True,
                         include_hi: bool = True) -> DataFrame:
    """Text query ∧ numeric doc-value range — the PointRangeQuery /
    IndexOrDocValuesQuery surface (`search/PointRangeQuery.java:47`):
    the text side runs in the kernel, the numeric side is a Catalyst
    predicate on the doc table (pushed to the Parquet scan — exactly the
    doc-values-vs-points choice the reference's IndexOrDocValuesQuery
    makes, delegated to the optimizer). → (doc_id, score)."""
    cond = F.lit(True)
    if lo is not None:
        cond = cond & (F.col(col) >= lo if include_lo else F.col(col) > lo)
    if hi is not None:
        cond = cond & (F.col(col) <= hi if include_hi else F.col(col) < hi)
    scored = searcher.score_all(query, mode="f64")
    rng = docs.filter(cond).select("doc_id")
    return scored.join(rng, "doc_id")


def multi_range_filter(searcher, query, docs: DataFrame, col: str,
                       ranges) -> DataFrame:
    """Text query ∧ OR-of-numeric-ranges — the sandbox MultiRangeQuery
    surface (`sandbox/.../MultiRangeQuery.java:47`: one BKD pass
    testing every RangeClause; a doc matches when ANY clause does).
    ``ranges`` is [(lo, hi)] inclusive both ends (the reference's
    byte-encoded clauses are always closed intervals); None = open.
    Overlapping clauses are first coalesced into disjoint intervals —
    the rewrite the reference marks TODO — purely to shrink the
    predicate; match semantics are identical. The whole disjunction is
    ONE Catalyst predicate pushed at the Parquet scan. → (doc_id,
    score)."""
    closed = sorted(
        ((float("-inf") if lo is None else lo,
          float("inf") if hi is None else hi) for lo, hi in ranges),
        key=lambda r: r[0])
    merged: list[list] = []
    for lo, hi in closed:
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    cond = F.lit(False)
    for lo, hi in merged:
        c = F.lit(True)
        if lo != float("-inf"):
            c = c & (F.col(col) >= lo)
        if hi != float("inf"):
            c = c & (F.col(col) <= hi)
        cond = cond | c
    scored = searcher.score_all(query, mode="f64")
    rng = docs.filter(cond).select("doc_id")
    return scored.join(rng, "doc_id")


def numeric_set_filter(searcher, query, docs: DataFrame, col: str,
                       values) -> DataFrame:
    """Text query ∧ doc-value IN set — the PointInSetQuery surface
    (`search/PointInSetQuery.java:59`, the sorted-set BKD intersect):
    the set side is a Catalyst In/InSet predicate (pushed to the
    Parquet scan), the text side runs in the kernel. → (doc_id, score)."""
    scored = searcher.score_all(query, mode="f64")
    hits = docs.filter(F.col(col).isin(list(values))).select("doc_id")
    return scored.join(hits, "doc_id")


def sort_by_fields(searcher, query, docs: DataFrame, keys,
                   k: int = 10) -> DataFrame:
    """Multi-key TopFieldCollector (`search/Sort.java:44` — a Sort of
    several SortFields; `search/SortField.java` setMissingValue is the
    per-key missing policy, Solr's sortMissingLast): ``keys`` is
    [(column, ascending, nulls_last)], doc_id breaks remaining ties.
    Plain Catalyst TakeOrderedAndProject over matched docs."""
    hits = searcher.match_docs(query).distinct()
    cols = [c for c, _, _ in keys]
    j = hits.join(docs.select("doc_id", *cols), "doc_id")
    order = []
    for col, asc, nulls_last in keys:
        c = F.col(col)
        if asc:
            order.append(c.asc_nulls_last() if nulls_last
                         else c.asc_nulls_first())
        else:
            order.append(c.desc_nulls_last() if nulls_last
                         else c.desc_nulls_first())
    order.append(F.asc("doc_id"))
    return j.orderBy(*order).limit(k)


def sort_by_field(searcher, query, docs: DataFrame, field_col: str,
                  ascending: bool = False, k: int = 10) -> DataFrame:
    """TopFieldCollector: hits ordered by a doc-value column (tie: doc_id
    asc) — the Sort/SortField path, a plain Catalyst TakeOrderedAndProject."""
    hits = searcher.match_docs(query).distinct()
    j = hits.join(docs.select("doc_id", field_col), "doc_id")
    order = [F.asc(field_col) if ascending else F.desc(field_col),
             F.asc("doc_id")]
    return j.orderBy(*order).limit(k)


def term_vectors(searcher, doc_ids, field: str = DEFAULT_FIELD) -> DataFrame:
    """Per-document term vectors (IndexReader.getTermVectors,
    `index/IndexReader.java:288-295`; stored by TermVectorsWriter) →
    (doc_id, term, freq).

    The reference stores an optional per-doc mini-index beside the
    postings; here the retained raw-postings table (doc_id, field,
    term, freq) IS that mini-index, so a term vector is a narrow
    doc_id filter — no decode, no shuffle."""
    raw = searcher.index.raw
    if raw is None:
        raise ValueError("index did not retain raw postings "
                         "(term vectors unavailable)")
    return (raw.filter((F.col("field") == field)
                       & F.col("doc_id").isin([int(d) for d in doc_ids]))
            .select("doc_id", "term", "freq"))


def cursor_page(searcher, query, docs: DataFrame, keys, k: int = 10,
                cursor=None) -> DataFrame:
    """CursorMark deep paging (solr/search/CursorMark.java, Solr's
    stateless cursor: the sort must end in the unique key — doc_id
    here — and the next page is WHERE row >after cursor, no offset
    scan). ``keys`` is [(column, ascending, nulls_last)] as in
    :func:`sort_by_fields`; ``cursor`` is None (first page) or the
    tuple of the previous page's last-row key values + doc_id.

    The after-cursor predicate is the lexicographic OR-of-ANDs — every
    term is sargable, so Catalyst pushes the leading-key bounds into
    the scan; cost is one TakeOrderedAndProject per page regardless of
    page depth (the cursorMark contract). Cursor key values must be
    non-null (Solr serializes the missing marker; not modeled here —
    null COLUMN values still order by their nulls policy)."""
    hits = searcher.match_docs(query).distinct()
    cols = [c for c, _, _ in keys]
    j = hits.join(docs.select("doc_id", *cols), "doc_id")
    if cursor is not None:
        if len(cursor) != len(keys) + 1:
            raise ValueError("cursor must hold one value per sort key "
                             "plus the doc_id tiebreaker")
        if any(v is None for v in cursor[:-1]):
            raise ValueError("cursor key values must be non-null")
        branches = []
        eqs = []
        for (col, asc, nulls_last), cv in zip(keys, cursor[:-1]):
            c = F.col(col)
            after = (c > F.lit(cv)) if asc else (c < F.lit(cv))
            if nulls_last:
                after = after | c.isNull()
            branches.append(_and_all(eqs + [after]))
            eqs.append(c.eqNullSafe(F.lit(cv)))
        branches.append(_and_all(eqs + [F.col("doc_id") > int(cursor[-1])]))
        pred = branches[0]
        for b in branches[1:]:
            pred = pred | b
        j = j.filter(pred)
    order = []
    for col, asc, nulls_last in keys:
        c = F.col(col)
        if asc:
            order.append(c.asc_nulls_last() if nulls_last
                         else c.asc_nulls_first())
        else:
            order.append(c.desc_nulls_last() if nulls_last
                         else c.desc_nulls_first())
    order.append(F.asc("doc_id"))
    return j.orderBy(*order).limit(k)


def _and_all(preds):
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def terms_enum(searcher, field: str = DEFAULT_FIELD,
               prefix: str | None = None, regex: str | None = None,
               lower: str | None = None, upper: str | None = None,
               lower_incl: bool = True, upper_incl: bool = False,
               mincount: int = 1, maxcount: int | None = None,
               sort: str = "count", limit: int = 10) -> DataFrame:
    """Solr TermsComponent (`solr/core/src/java/org/apache/solr/handler/
    component/TermsComponent.java:54`): enumerate dictionary terms of a
    field with prefix/regex/range bounds and df counts → (term, df).

    `sort` is 'count' (df desc, term asc — terms.sort=count) or 'index'
    (term asc). The whole enumeration is a pushed-predicate scan over
    the terms table — prefix and range bounds reach the Parquet
    row-group stats on the sorted `term` column; the driver receives at
    most `limit` rows (TakeOrderedAndProject)."""
    t = searcher.index.terms.filter(F.col("field") == field)
    if prefix is not None:
        t = t.filter(F.col("term").startswith(prefix))
    if regex is not None:
        t = t.filter(F.col("term").rlike(regex))
    if lower is not None:
        t = t.filter(F.col("term") >= lower if lower_incl
                     else F.col("term") > lower)
    if upper is not None:
        t = t.filter(F.col("term") <= upper if upper_incl
                     else F.col("term") < upper)
    t = t.filter(F.col("df") >= mincount)
    if maxcount is not None:
        t = t.filter(F.col("df") <= maxcount)
    order = ([F.desc("df"), F.asc("term")] if sort == "count"
             else [F.asc("term")])
    return t.select("term", "df").orderBy(*order).limit(limit)


def term_vectors_positions(searcher, docs, doc_ids, analyzer=None,
                           field: str = DEFAULT_FIELD,
                           with_positions: bool = True):
    """Full TermVectorComponent response (solr TermVectorComponent
    tv.df/tv.positions; ``Terms.hasPositions`` side of
    ``IndexReader.getTermVector``): :func:`term_vectors` returns the
    (doc_id, term, freq) mini-index slice; this variant adds corpus df
    and per-occurrence positions.

    The reference stores term vectors as a parallel per-doc structure
    written at index time; here the row store IS that structure — the
    requested docs are fetched with a PUSHED doc_id IN (…) predicate
    (k docs read, not the corpus) and re-inverted through the real
    indexing chain (`IndexBuilder.invert` and `pack_postings`, the same
    code path that built the index), then positions are decoded
    executor-side by `decode_blocks`. The
    corpus df per term comes from the dictionary (broadcast of the
    ≤ |vocab of k docs| term rows joined against the sorted terms
    table's pushed term-IN predicate).

    → (doc_id, term, freq, df, positions) with positions a
    comma-joined string (deterministic, oracle-comparable)."""
    from ..index.builder import IndexBuilder, decode_blocks, pack_postings

    ids = [int(d) for d in doc_ids]
    sub = docs.filter(F.col("doc_id").isin(ids)).select("doc_id", field)
    b = IndexBuilder(analyzer or searcher.index.analyzer,
                     with_positions=with_positions)
    blocks = pack_postings(b.invert(sub, fields=(field,)),
                           int(searcher.stats["grid"]),
                           (with_positions, False, False))
    channels = ("pos",) if with_positions else ()

    def _decode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p = decode_blocks(pdf.to_dict("records"), channels)
            pos = ([",".join(map(str, a.tolist())) for a in
                    np.split(p["pos"], np.cumsum(p["freq"])[:-1])]
                   if with_positions else [""] * len(p["doc"]))
            yield pd.DataFrame({"doc_id": p["doc"],
                                "term": pdf["term"].to_numpy()[p["row"]],
                                "freq": p["freq"], "positions": pos})

    tv = blocks.mapInPandas(
        _decode,
        schema="doc_id long, term string, freq long, positions string")
    dic = (searcher.index.terms
           .filter(F.col("field") == field).select("term", "df"))
    # tv is ≤ k docs' vocabularies — broadcast it into the dictionary
    # scan (every re-inverted term exists in the dictionary: same
    # analyzer, same corpus)
    return (dic.join(F.broadcast(tv), "term")
            .select("doc_id", "term", "freq",
                    F.col("df").cast("long").alias("df"), "positions"))


def export_sorted(searcher, query, docs: DataFrame, keys) -> DataFrame:
    """Solr /export handler (`solr/core/src/java/org/apache/solr/
    handler/export/ExportWriter.java:120`): stream the ENTIRE sorted
    result set from docvalues — no top-k heap, no stored-field reads,
    no paging. ``keys`` as in :func:`sort_by_fields`.

    Spark shape: the match set semi-joins the docvalue columns, then a
    range-partitioned global sort (Tungsten sort-shuffle) — the same
    contract the reference meets with its 30k-doc sort batches, but
    expressed as one declarative plan; writing the result streams it
    out partition-parallel, which IS the export."""
    hits = searcher.match_docs(query).distinct()
    cols = [c for c, _, _ in keys]
    j = hits.join(docs.select("doc_id", *cols), "doc_id")
    order = []
    for col, asc, nulls_last in keys:
        c = F.col(col)
        order.append((c.asc_nulls_last() if nulls_last else c.asc_nulls_first())
                     if asc else
                     (c.desc_nulls_last() if nulls_last else c.desc_nulls_first()))
    order.append(F.asc("doc_id"))
    return j.orderBy(*order)


def diversified_topk(searcher, query, docs: DataFrame, key_col: str,
                     k: int = 10, max_per_key: int = 1) -> DataFrame:
    """DiversifiedTopDocsCollector (`lucene/misc/src/java/org/apache/
    lucene/search/DiversifiedTopDocsCollector.java:61`): the top-k hits
    with AT MOST ``max_per_key`` results per key — the "no more than N
    per artist/domain/host" collector. The reference keeps a global
    heap plus one per-key mini-heap and demotes a key's weakest hit
    when its cap is exceeded; the end state is exactly "rank within
    key ≤ cap, then global top-k", which is how it is restated here.

    Spark shape: one window (single shuffle on the key — the same
    exchange a groupBy would pay) ranks hits within each key in
    codegen, then TakeOrderedAndProject takes the global k; per-key
    rank never materializes more than the match set, and the window
    partition carries no skew a head key didn't already have in the
    match set. → (doc_id, key, score), score desc."""
    from pyspark.sql.window import Window
    hits = (searcher.score_all(query, mode="f64")
            .join(docs.select("doc_id", F.col(key_col).alias("key")),
                  "doc_id"))
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("doc_id"))
    return (hits.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_per_key).drop("_rn")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


def covering_query(searcher, clauses, docs: DataFrame, min_match,
                   k: int | None = None) -> DataFrame:
    """CoveringQuery (`lucene/sandbox/src/java/org/apache/lucene/search/
    CoveringQuery.java:43`): matches documents where at least
    ``minimumNumberMatch(doc)`` of the clauses match, the threshold
    being a per-document LongValuesSource rather than a constant (the
    dynamic-mm generalization of minShouldMatch). Score = sum of the
    matching clauses' scores (`CoveringScorer.java:168`).

    ``min_match`` is a Column over ``docs`` — the LongValuesSource
    analog. Plan: per-clause exhaustive scores (each a narrow
    term-pruned scan), one unionByName (no shuffle), ONE groupBy
    doc_id (count + sum — map-side combined), then a join against the
    per-doc threshold. The threshold join is on doc_id, the same key
    the agg just shuffled on, so AQE plans it without a second
    exchange. k=None returns all covered docs.
    """
    scored = None
    for q in clauses:
        s = searcher.score_all(q, mode="f64")
        scored = s if scored is None else scored.unionByName(s)
    agg = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_matching"), F.sum("score").alias("score"))
    thr = docs.select("doc_id", min_match.alias("_min_match"))
    out = (agg.join(thr, "doc_id")
           .filter(F.col("n_matching") >= F.col("_min_match"))
           .select("doc_id", "n_matching", "score"))
    if k is not None:
        out = out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return out
