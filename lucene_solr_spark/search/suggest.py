"""Suggest / autocomplete + highlighting — the reference's suggest and
highlighter module roles, Spark-first.

Suggest (`lucene/suggest/.../Lookup.java:35`, InputIterator over
(term, weight)): the term dictionary IS the suggestion source; a prefix
completion is a pushed-down range scan over the sorted `term` column
ordered by document frequency (the weight the reference's
FreeTextSuggester derives from corpus counts).

Highlighting (`lucene/highlighter/.../Highlighter.java:42`,
getBestFragment): a first-match window snippet with the query terms
wrapped in tags. Fully JVM-side (locate / substring / replace inside
whole-stage codegen) — the fragmenter-and-formatter pipeline collapsed
into one declarative expression, exactly replicable in ANSI SQL for the
oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .ast import DEFAULT_FIELD


def suggest_terms(terms_df: DataFrame, prefix: str, k: int = 10,
                  field: str = DEFAULT_FIELD) -> DataFrame:
    """Top-k completions of ``prefix`` by descending document frequency
    (ties: term asc) → (term, df). The prefix predicate pushes into the
    Parquet scan of the sorted dictionary (row-group pruning)."""
    return (terms_df.filter((F.col("field") == field)
                            & F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term")).limit(k)
            .select("term", "df"))


def fuzzy_suggest(terms_df: DataFrame, key: str, k: int = 10,
                  max_edits: int = 1, non_fuzzy_prefix: int = 1,
                  min_fuzzy_length: int = 3,
                  field: str = DEFAULT_FIELD) -> DataFrame:
    """FuzzySuggester (`suggest/analyzing/FuzzySuggester.java:77` over
    AnalyzingSuggester.java:121): typo-tolerant completion — a
    suggestion matches when some PREFIX of it is within ``max_edits``
    of the typed key. Defaults mirror the reference: 1 edit, the first
    ``non_fuzzy_prefix`` chars must match exactly, and keys shorter
    than ``min_fuzzy_length`` complete exactly (no edits). Ranked by
    weight (df) desc then term asc → (term, df).

    Exactness: prefix-edit-distance(key, t) ≤ e iff some prefix of t
    with length in [|key|−e, |key|+e] has levenshtein ≤ e to the key —
    so the filter is a bounded OR of 2e+1 substring levenshteins, all
    whole-stage codegen over the dictionary scan (the reference's
    LevenshteinAutomata ∩ FST walk restated relationally); the driver
    sees k rows."""
    from ..analysis.analyzer import simple_lowercase
    key = simple_lowercase(key.strip())
    if not key:
        raise ValueError("empty suggestion key")
    base = terms_df.filter(F.col("field") == field)
    if len(key) < min_fuzzy_length or max_edits == 0:
        cond = F.col("term").startswith(key)
    else:
        cond = None
        for j in range(max(1, len(key) - max_edits),
                       len(key) + max_edits + 1):
            c = (F.levenshtein(F.substring("term", 1, j), F.lit(key))
                 <= max_edits)
            cond = c if cond is None else (cond | c)
        if non_fuzzy_prefix > 0:
            cond &= F.col("term").startswith(key[:non_fuzzy_prefix])
    return (base.filter(cond)
            .orderBy(F.desc("df"), F.asc("term")).limit(k)
            .select("term", "df"))


def spellcheck(terms_df: DataFrame, word: str, max_edits: int = 2,
               k: int = 5, field: str = DEFAULT_FIELD) -> DataFrame:
    """Did-you-mean corrections (`suggest/spell/DirectSpellChecker.java:49`
    semantics: candidates within edit distance from the live dictionary,
    ranked closest-first then most-frequent) → (term, distance, df).

    Distance filtering runs executor-side (JVM levenshtein behind a
    pushed-down length pre-filter) exactly like fuzzy expansion — the
    driver sees only the k suggestions."""
    cand = (terms_df.filter(
        (F.col("field") == field)
        & (F.length("term") >= len(word) - max_edits)
        & (F.length("term") <= len(word) + max_edits))
        .withColumn("distance", F.levenshtein(F.col("term"), F.lit(word)))
        .filter(F.col("distance") <= max_edits))
    return (cand.orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
            .limit(k).select("term", "distance", "df"))


def highlight_by_offsets(searcher, terms: list[str],
                         doc_texts: dict[int, str],
                         field: str = DEFAULT_FIELD, radius: int = 30,
                         pre: str = "<b>", post: str = "</b>") -> dict:
    """Token-accurate highlighting from INDEXED character offsets — the
    real highlighter's input (`index/IndexOptions.java:25-53`
    DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS; the unified highlighter's
    offsets-from-postings mode). Requires an index built with
    ``IndexBuilder(with_offsets=True)``.

    Unlike :func:`highlight` (substring windows), spans come from the
    analyzer's OffsetAttribute as stored in the postings, so querying
    ``cat`` never tags the ``cat`` inside ``category``.

    → {doc_id: snippet or None}.

    Scale shape: the spans are :func:`passages.matched_spans` rows —
    the scan is restricted to (field, term) AND the hit docs' grid
    buckets (``bucket = doc_id div grid``, derived driver-side and
    pushed as an IN predicate into the sorted Parquet layout), span
    extraction runs executor-side, tombstoned docs are dropped, and
    ONLY (doc_id, term, start, end) rows for the requested docs reach
    the driver."""
    from .passages import matched_spans

    if not searcher.index.with_offsets:
        raise ValueError(
            "highlight_by_offsets requires IndexBuilder(with_offsets=True)")
    if not doc_texts:
        return {}
    wanted = sorted({int(d) for d in doc_texts})
    span_rows = matched_spans(searcher, terms, wanted, field).collect()
    spans: dict[int, list] = {d: [] for d in wanted}
    for r in span_rows:
        spans[int(r["doc_id"])].append((int(r["start"]), int(r["end"])))
    out: dict[int, str | None] = {}
    for d, text in doc_texts.items():
        sp = sorted(set(spans[int(d)]))
        if not sp:
            out[int(d)] = None
            continue
        s0, e0 = sp[0]
        lo, hi = max(0, s0 - radius), min(len(text), e0 + radius)
        pieces, cur = [], lo
        for s, e in sp:
            if s < lo or e > hi:
                continue
            pieces.append(text[cur:s])
            pieces.append(pre + text[s:e] + post)
            cur = e
        pieces.append(text[cur:hi])
        out[int(d)] = "".join(pieces)
    return out


class SpellChecker:
    """Candidate-pruned spellcheck — the `DirectSpellChecker.java:49`
    posture (Levenshtein automaton ∩ FST touches a tiny dictionary
    fraction), Spark-first:

    - the dictionary is persisted ONCE as Parquet **partitioned by
      (field, tlen)** — the per-query length band [|w|−e, |w|+e] becomes
      directory-level partition pruning, never a full dictionary scan;
    - an occurrence-indexed character-bigram table (one row per (term,
      gram#occ)) supports the q-gram count filter: edit distance ≤ e ⇒
      multiset-shared bigrams ≥ max(|a|,|b|) − 1 − 2e, so when that
      bound is positive the Levenshtein only runs on terms surviving a
      gram semi-join (lossless by the lemma; occurrence indexing makes
      a set intersection equal the multiset intersection);
    - short words / large e (bound ≤ 0) fall back to the pruned length
      band alone — still partition-pruned, still exact.

    Suggestions rank (distance asc, df desc, term asc), identical to
    :func:`spellcheck`, which remains as the index-free surface.
    """

    def __init__(self, spark, terms_df: DataFrame, path: str, *,
                 fields: tuple | None = None):
        d = (terms_df.select("field", "term", "df")
             .withColumn("tlen", F.length("term")))
        if fields is not None:
            d = d.filter(F.col("field").isin(list(fields)))
        d.write.mode("overwrite").partitionBy("field", "tlen").parquet(
            f"{path}/dict")
        grams = d.select(
            "field", "term", "tlen",
            F.explode(F.expr(
                "transform(sequence(1, length(term) - 1),"
                " i -> substring(term, i, 2))")).alias("gram"))
        occ = Window.partitionBy("field", "term", "gram").orderBy("gram")
        grams = grams.withColumn(
            "gramkey",
            F.concat_ws("#", "gram",
                        (F.row_number().over(occ) - 1).cast("string")))
        (grams.select("field", "term", "tlen", "gramkey")
         .write.mode("overwrite").partitionBy("field").parquet(
             f"{path}/grams"))
        self.spark = spark
        self.dict = spark.read.parquet(f"{path}/dict")
        self.grams = spark.read.parquet(f"{path}/grams")

    @staticmethod
    def _query_gramkeys(word: str) -> list[str]:
        seen: dict[str, int] = {}
        out = []
        for i in range(len(word) - 1):
            g = word[i:i + 2]
            out.append(f"{g}#{seen.get(g, 0)}")
            seen[g] = seen.get(g, 0) + 1
        return out

    def suggest(self, word: str, max_edits: int = 2, k: int = 5,
                field: str = DEFAULT_FIELD) -> DataFrame:
        """→ (term, distance, df), ranked closest-first then most
        frequent. The scan is partition-pruned to the length band; when
        the q-gram bound is positive, a gram semi-join prunes further."""
        lo, hi = len(word) - max_edits, len(word) + max_edits
        cand = self.dict.filter((F.col("field") == field)
                                & F.col("tlen").between(lo, hi))
        required = len(word) - 1 - 2 * max_edits
        if required > 0:
            keys = self._query_gramkeys(word)
            hits = (self.grams
                    .filter((F.col("field") == field)
                            & F.col("tlen").between(lo, hi)
                            & F.col("gramkey").isin(keys))
                    .groupBy("term")
                    .agg(F.count("*").alias("shared"))
                    .filter(F.col("shared") >= required)
                    .select("term"))
            cand = cand.join(hits, "term", "left_semi")
        out = (cand.withColumn("distance",
                               F.levenshtein(F.col("term"), F.lit(word)))
               .filter(F.col("distance") <= max_edits))
        return (out.orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
                .limit(k).select("term", "distance", "df"))


def highlight(docs: DataFrame, term: str, text_col: str = "text",
              radius: int = 30, pre: str = "<b>",
              post: str = "</b>") -> DataFrame:
    """First-occurrence window snippet with every in-window occurrence of
    ``term`` wrapped in pre/post tags → adds a ``snippet`` column.

    Exact spec (shared with the SQL oracle): let p = 1-based position of
    the first occurrence of `term`; snippet = substring(text,
    max(1, p - radius), 2*radius + len(term)) with all occurrences of
    `term` inside the window replaced by pre||term||post. Rows where the
    term does not occur get a NULL snippet."""
    pos = F.locate(term, F.col(text_col))
    start = F.greatest(F.lit(1), pos - F.lit(radius))
    window = F.substring(F.col(text_col), start,
                         F.lit(2 * radius + len(term)))
    snippet = F.replace(window, F.lit(term), F.lit(pre + term + post))
    return docs.withColumn(
        "snippet", F.when(pos > 0, snippet).otherwise(F.lit(None)))


class FreeTextSuggester:
    """`suggest/analyzing/FreeTextSuggester.java:112` — next-word
    prediction from corpus n-gram counts with "stupid backoff"
    (`:506-548,664-669`): the longest context whose counts exist wins,
    each shorter order is discounted by ALPHA = 0.4 (`:133`); a
    suggestion's score at order g is
    backoff × count(context + word) / count(context) (unigrams divide
    by totTokens). grams = 2 here (the reference default,
    `DEFAULT_GRAMS:124`).

    Spark shape: the model is two small aggregate tables derived from
    the corpus token stream in one pass — unigram counts and bigram
    counts, both map-side-combined and persisted columnar; a lookup is
    two pushed-filter scans + a limit, never a corpus pass."""

    ALPHA = 0.4

    @staticmethod
    def _token_array(analyzer, col):
        """JVM-side token array: lowercase + [a-z0-9]+ runs minus the
        analyzer's stop set — the StandardAnalyzer chain within its
        simple-ASCII envelope (the model-building pass stays
        whole-stage-codegen; corpora outside the envelope should feed a
        pre-tokenized column instead)."""
        toks = F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)
        stops = sorted(analyzer.stop_words or [])
        if stops:
            toks = F.filter(toks, lambda t: ~t.isin(stops))
        return toks

    def __init__(self, spark, docs: DataFrame, analyzer,
                 text_col: str = "text"):
        arr = self._token_array(analyzer, F.col(text_col))
        toks = docs.select(F.explode(arr).alias("term"))
        # per-doc positions so bigrams never cross documents
        tp = docs.select(F.col("doc_id"),
                         F.posexplode(arr).alias("p", "term"))
        nxt = (tp.alias("a")
               .join(tp.alias("b"),
                     (F.col("a.doc_id") == F.col("b.doc_id"))
                     & (F.col("b.p") == F.col("a.p") + 1))
               .select(F.col("a.term").alias("w1"),
                       F.col("b.term").alias("w2")))
        self.bigrams = (nxt.groupBy("w1", "w2")
                        .agg(F.count(F.lit(1)).alias("c")).cache())
        self.unigrams = (toks.groupBy("term")
                         .agg(F.count(F.lit(1)).alias("c")).cache())
        self.tot_tokens = (self.unigrams.agg(F.sum("c")).collect()[0][0]
                           or 0)

    def lookup(self, key: str, num: int = 10) -> DataFrame:
        """``key`` ends with a space → predict the next word after the
        last token; otherwise the last token is an in-progress prefix.
        → (term, score) top-``num`` by score desc then term asc."""
        trailing = key != key.rstrip(" ")
        parts = key.split()
        if not parts:
            raise ValueError("empty suggestion key")
        if trailing:
            context, prefix = parts[-1], ""
        elif len(parts) >= 2:
            context, prefix = parts[-2], parts[-1]
        else:
            context, prefix = None, parts[-1]
        cands = []
        if context is not None:
            big = self.bigrams.filter(F.col("w1") == context)
            if prefix:
                big = big.filter(F.col("w2").startswith(prefix))
            ctx_count = (self.bigrams.filter(F.col("w1") == context)
                         .agg(F.sum("c")).collect()[0][0])
            if ctx_count:
                cands.append(big.select(
                    F.col("w2").alias("term"),
                    (F.col("c").cast("double") / float(ctx_count))
                    .alias("score")))
        uni = self.unigrams
        if prefix:
            uni = uni.filter(F.col("term").startswith(prefix))
        backoff = self.ALPHA if cands else 1.0
        cands.append(uni.select(
            "term", (F.lit(backoff) * F.col("c").cast("double")
                     / float(self.tot_tokens)).alias("score")))
        out = cands[0]
        for c in cands[1:]:
            # keep the HIGHEST-order score per term (the reference seen
            # set: a term surfaced by a longer context is not re-offered
            # by the backed-off order, :652-656)
            out = out.unionByName(c)
        best = (out.groupBy("term").agg(F.max("score").alias("score")))
        return (best.orderBy(F.desc("score"), F.asc("term")).limit(num)
                .select("term", F.round("score", 6).alias("score")))


SEP_LABEL = "\x1f"   # AnalyzingSuggester.SEP_LABEL (0x1f unit separator)


def build_analyzing_suggest(docs: DataFrame, analyzer,
                            text_col: str = "title",
                            weight_col: str | None = None,
                            preserve_sep: bool = True,
                            max_surface_forms: int = 256) -> DataFrame:
    """AnalyzingSuggester build (`suggest/analyzing/
    AnalyzingSuggester.java:121,397`): each suggestion's text runs
    through the suggest ANALYZER and the resulting token sequence —
    joined with SEP_LABEL 0x1f when ``preserve_sep`` (preserveSep flag),
    concatenated bare otherwise — becomes the lookup key. This is the
    class's headline behavior: "dept" completes to "The Department
    Store" because both analyze to keys sharing the ``dept…`` prefix,
    where a raw surface-prefix lookup misses. Identical surface forms
    dedup to their max weight; each analyzed form keeps at most
    ``max_surface_forms`` surfaces by weight desc
    (maxSurfaceFormsPerAnalyzedForm, :161).

    → (analyzed_key, surface, weight), the columnar FST analog. Spark
    shape: one Arrow-batched analysis projection + one agg keyed on
    (analyzed_key, surface) + one bounded per-key window — a build-time
    job, shuffle-bounded by the suggestion table (not the corpus)."""
    from pyspark.sql.functions import pandas_udf

    from ..analysis.analyzer import analyze_series

    def _an(col):
        return analyze_series(col, analyzer)

    toks = pandas_udf(_an, "array<string>")(F.col(text_col))
    sep = SEP_LABEL if preserve_sep else ""
    w = (F.col(weight_col).cast("double") if weight_col
         else F.length(text_col).cast("double"))
    tbl = (docs.select(F.col(text_col).alias("surface"),
                       w.alias("weight"),
                       F.array_join(toks, sep).alias("analyzed_key"))
           .filter(F.length("analyzed_key") > 0)
           .groupBy("analyzed_key", "surface")
           .agg(F.max("weight").alias("weight")))
    rank = Window.partitionBy("analyzed_key").orderBy(
        F.desc("weight"), F.asc("surface"))
    return (tbl.withColumn("_r", F.row_number().over(rank))
            .filter(F.col("_r") <= int(max_surface_forms)).drop("_r"))


def analyzing_suggest(table: DataFrame, analyzer, key: str, k: int = 10,
                      exact_first: bool = True,
                      preserve_sep: bool = True) -> DataFrame:
    """AnalyzingSuggester lookup (`AnalyzingSuggester.java:571`): the
    typed key runs through the SAME analyzer; matches are stored
    analyzed keys with the analyzed query as a PREFIX. ``exact_first``
    (exactFirst flag, :151) floats suggestions whose analyzed key
    EXACTLY equals the analyzed query above all others regardless of
    weight; within each class, weight desc then surface asc.
    → (surface, weight, is_exact). The prefix predicate is a sargable
    startswith over the sorted analyzed_key column — at scale a pushed
    range scan, the FST-traversal analog."""
    sep = SEP_LABEL if preserve_sep else ""
    qkey = sep.join(analyzer.tokens(key))
    if not qkey:
        return (table.select("surface", "weight",
                             F.lit(False).alias("is_exact")).limit(0))
    hit = table.filter(F.col("analyzed_key").startswith(qkey))
    out = hit.select("surface", "weight",
                     (F.col("analyzed_key") == qkey).alias("is_exact"))
    order = [F.desc("is_exact")] if exact_first else []
    return out.orderBy(*order, F.desc("weight"), F.asc("surface")).limit(k)


def suggest_infix(docs: DataFrame, key: str, k: int = 10,
                  text_col: str = "title",
                  weight_col: str | None = None) -> DataFrame:
    """AnalyzingInfixSuggester (`suggest/analyzing/
    AnalyzingInfixSuggester.java:92`): suggestions whose text contains
    the typed fragment at a TOKEN START (the infix suggester matches
    prefixes of any token, not arbitrary substrings), ranked by weight
    desc then text asc. → (doc_id, <text_col>, weight).

    Spark shape: a token-start predicate in whole-stage codegen over
    the suggestion table — ``' ' || lower(text) LIKE '% key%'`` — plus
    TakeOrderedAndProject; the reference's dedicated suggest index is
    the columnar suggestion table itself."""
    frag = key.strip().lower()
    if not frag:
        raise ValueError("empty suggestion key")
    w = (F.col(weight_col).cast("double") if weight_col
         else F.length(text_col).cast("double"))
    hay = F.concat(F.lit(" "), F.lower(F.col(text_col)))
    return (docs.filter(hay.contains(" " + frag))
            .select("doc_id", text_col, w.alias("weight"))
            .orderBy(F.desc("weight"), F.asc(text_col), F.asc("doc_id"))
            .limit(k))


BLENDER_LINEAR_COEF = 0.10   # BlendedInfixSuggester.LINEAR_COEF


def blended_infix_suggest(docs: DataFrame, key: str, k: int = 10,
                          text_col: str = "title",
                          weight_col: str | None = None,
                          blender: str = "linear",
                          exponent: float = 2.0) -> DataFrame:
    """BlendedInfixSuggester (`lucene/suggest/.../analyzing/
    BlendedInfixSuggester.java:60`): infix suggestions whose score
    blends the stored weight with WHERE in the text the match occurs —
    earlier matches rank higher. Per ``calculateCoefficient``:

    - ``linear``     (BlenderType.POSITION_LINEAR):
      coefficient = 1 − 0.10 × position (LINEAR_COEF; the reference
      does not clamp, so position > 10 goes negative — kept).
    - ``reciprocal`` (POSITION_RECIPROCAL): 1 / (position + 1).
    - ``exp_reciprocal`` (POSITION_EXPONENTIAL_RECIPROCAL):
      1 / (position + 1)^exponent.

    ``position`` = index of the first token whose PREFIX matches the
    typed fragment (the infix suggester's token-start contract);
    score = weight × coefficient (BlendedInfixSuggester.createResults).
    → (doc_id, <text_col>, position, score), score desc / text asc /
    doc_id asc.

    Spark shape: tokens, first-match position (array_position over a
    startswith map) and the coefficient are ONE whole-stage-codegen
    projection over the suggestion table + TakeOrderedAndProject — the
    same sargable shape as ``suggest_infix``, no shuffle."""
    frag = key.strip().lower()
    if not frag:
        raise ValueError("empty suggestion key")
    if blender not in ("linear", "reciprocal", "exp_reciprocal"):
        raise ValueError(f"unknown blender {blender!r}")
    toks = F.regexp_extract_all(F.lower(F.col(text_col)),
                                F.lit("[a-z0-9]+"), 0)
    pos1 = F.array_position(
        F.transform(toks, lambda t: t.startswith(frag)), F.lit(True))
    w = (F.col(weight_col).cast("double") if weight_col
         else F.length(text_col).cast("double"))
    position = (pos1 - 1).cast("int")
    if blender == "linear":
        coef = F.lit(1.0) - F.lit(BLENDER_LINEAR_COEF) * position
    elif blender == "reciprocal":
        coef = F.lit(1.0) / (position + 1)
    else:
        coef = F.lit(1.0) / F.pow(position.cast("double") + 1.0,
                                  F.lit(float(exponent)))
    return (docs.withColumn("position", position)
            .filter(pos1 > 0)
            .select("doc_id", text_col, "position",
                    (w * coef).alias("score"))
            .orderBy(F.desc("score"), F.asc(text_col), F.asc("doc_id"))
            .limit(k))


def collate(searcher, words: list[str], suggester, max_cands: int = 3,
            max_collations: int = 5, field: str = DEFAULT_FIELD):
    """Spellcheck collation (solr/spelling/SpellCheckCollator.java:54
    via SpellCheckComponent spellcheck.collate): substitute each query
    term's top suggestions, RE-QUERY every combination against the
    index, and return the collations that actually produce hits,
    best-first.

    ``suggester(word, k) -> [candidate term, ...]`` (rank order, e.g.
    ``SpellChecker.suggest``); a word with no candidates stands as
    itself. Like the reference — which issues one internal test query
    per collation try (SpellCheckCollator.java "collationQueryStr"
    loop) — each combination costs one COUNT query; combinations are
    capped at max_cands^|words| by construction, and only hits > 0
    survive. → DataFrame (collation, hits), hits desc then collation
    asc, ≤ max_collations rows."""
    from itertools import product

    from .ast import BooleanQuery, Clause, Occur, TermQuery

    cand_lists = []
    for w in words:
        cands = list(suggester(w, max_cands)) or [w]
        cand_lists.append(cands)
    rows = []
    for combo in product(*cand_lists):
        q = BooleanQuery(tuple(Clause(Occur.MUST, TermQuery(t, field=field))
                               for t in combo))
        n = searcher.count(q)
        if n > 0:
            rows.append((" ".join(combo), int(n)))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return searcher.spark.createDataFrame(
        rows[:max_collations] or [], "collation string, hits long")


def suggest_with_contexts(docs: DataFrame, key: str, contexts, k: int = 10,
                          field: str = "title", weight_col: str = "n_chars",
                          context_col: str = "source") -> DataFrame:
    """Context-filtered completion — ContextQuery over a document
    dictionary (`lucene/suggest/src/java/org/apache/lucene/search/suggest/
    document/ContextQuery.java:63`, `DocumentDictionary.java:47`): each
    document contributes (suggestion = field value, weight, context set);
    a lookup matches the analyzed prefix AND filters to the requested
    contexts, ranking by weight.

    The reference intersects a context FST with the completion FST; the
    Spark shape is a sargable conjunctive predicate — context IN (...)
    AND prefix range — which Catalyst pushes into the parquet scan, then
    TakeOrderedAndProject for the top-k. No shuffle.
    → (suggestion, context, weight, doc_id) by weight desc.
    """
    ctx = list(contexts)
    return (docs
            .filter(F.col(context_col).isin(ctx)
                    & F.col(field).startswith(key))
            .select(F.col(field).alias("suggestion"),
                    F.col(context_col).alias("context"),
                    F.col(weight_col).cast("long").alias("weight"),
                    F.col("doc_id").cast("long").alias("doc_id"))
            .orderBy(F.desc("weight"), F.asc("suggestion"), F.asc("doc_id"))
            .limit(k))


# ---------------------------------------------------------------------------
# WordBreakSpellChecker (`lucene/suggest/src/java/org/apache/lucene/
# search/spell/WordBreakSpellChecker.java:33`)
# ---------------------------------------------------------------------------

def _df_map(searcher, field: str, texts) -> dict:
    """df for every candidate text in ONE pushed dictionary IN-probe —
    the reference issues one ir.docFreq per substring (:332-339); all
    its probes are contiguous substrings of the input, so a single
    bounded scan covers the whole recursion."""
    uniq = list(dict.fromkeys(texts))
    st = searcher.term_stats([(field, t) for t in uniq])
    return {t: st.get((field, t), (0, 0))[0] for t in uniq}


def suggest_word_breaks(searcher, word: str, field: str = DEFAULT_FIELD,
                        max_suggestions: int = 5, *,
                        suggest_mode: str = "not_in_index",
                        sort_method: str = "max_freq",
                        min_suggestion_frequency: int = 1,
                        min_break_word_length: int = 1,
                        max_changes: int = 1,
                        max_evaluations: int = 1000):
    """`suggestWordBreaks` (:91-129, generateBreakUpSuggestions
    :257-305): split ``word`` into dictionary words — every split point
    whose LEFT part meets the frequency floor recurses into the right
    remainder while breaks ≤ max_changes; score = number of breaks.

    suggest_mode: "not_in_index" (suggest only when the original term
    is absent), "more_popular" (parts must beat the original's df), or
    "always". sort_method: "max_freq" | "sum_freq" (the two
    BreakSuggestionSortMethods): fewest breaks first, then the higher
    max/summed component frequency. → [[(word, freq), …], …] best
    first. Divergence (documented): the reference's PriorityQueue
    breaks exact ties in heap order; we pin ties lexicographically.

    Spark shape: ONE pushed (field, term IN substrings) dictionary
    probe (≤ L(L+1)/2 keys), then the reference's recursion runs on the
    driver against the in-memory df map."""
    if max_suggestions < 1 or not word:
        return []
    if suggest_mode not in ("not_in_index", "more_popular", "always"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    if sort_method not in ("max_freq", "sum_freq"):
        raise ValueError(f"unknown sort_method {sort_method!r}")
    subs = {word[i:j] for i in range(len(word))
            for j in range(i + 1, len(word) + 1)}
    dfs = _df_map(searcher, field, list(subs))
    orig = dfs.get(word, 0)
    if orig > 0 and suggest_mode == "not_in_index":
        return []
    use_min = ((orig if orig else 1) if suggest_mode == "more_popular"
               else min_suggestion_frequency)
    min_len = max(1, min_break_word_length)
    out: list[tuple] = []
    evals = [0]

    def gen(text: str, breaks: int, prefix: tuple):
        if len(text) < min_len * 2:
            return
        for i in range(min_len, len(text) - min_len + 1):
            left, right = text[:i], text[i:]
            if dfs.get(left, 0) >= use_min:
                if dfs.get(right, 0) >= use_min:
                    words = prefix + (left, right)
                    out.append(words)
                if breaks + 1 <= max_changes:
                    gen(right, breaks + 1, prefix + (left,))
            evals[0] += 1
            if evals[0] >= max_evaluations:
                return

    gen(word, 1, ())
    agg = max if sort_method == "max_freq" else sum

    def key(words):
        return (len(words), -agg(dfs[w] for w in words), words)

    best = sorted(set(out), key=key)[:max_suggestions]
    return [[(w, dfs[w]) for w in ws] for ws in best]


SEPARATOR_TERM = ""      # WordBreakSpellChecker.SEPARATOR_TERM


def suggest_word_combinations(searcher, words, field: str = DEFAULT_FIELD,
                              max_suggestions: int = 5, *,
                              suggest_mode: str = "not_in_index",
                              min_suggestion_frequency: int = 1,
                              max_combine_word_length: int = 20,
                              max_changes: int = 1,
                              max_evaluations: int = 1000):
    """`suggestWordCombinations` (:159-253): concatenate runs of up to
    ``max_changes``+1 adjacent query terms into one dictionary word;
    an empty-string element (SEPARATOR_TERM) forbids combining across
    it. Modes: "not_in_index" = at least one combined part absent from
    the index; "more_popular" = the combination at least as frequent
    as its most frequent part; "always". Score = parts − 1. →
    [(combined, freq, (orig indexes…)), …] fewest-combinations /
    highest-freq first (ties pinned lexicographically).

    Spark shape: one pushed dictionary probe for originals + all
    candidate concatenations; the window walk is driver-side."""
    if max_suggestions < 1 or not words:
        return []
    if suggest_mode not in ("not_in_index", "more_popular", "always"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    cands = []
    for i in range(len(words) - 1):
        if words[i] == SEPARATOR_TERM or len(words[i]) > \
                max_combine_word_length:
            continue
        combined = words[i]
        for j in range(i + 1, min(len(words), i + max_changes + 1)):
            if words[j] == SEPARATOR_TERM:
                break
            combined += words[j]
            if len(combined) > max_combine_word_length:
                break
            cands.append((i, j, combined))
    probe = [w for w in words if w] + [c for _, _, c in cands]
    dfs = _df_map(searcher, field, probe)
    out = []
    evals = 0
    for i, j, combined in cands:
        span = [dfs.get(words[k], 0) for k in range(i, j + 1)]
        max_f, min_f = max(span), min(span)
        cf = dfs.get(combined, 0)
        if (suggest_mode != "more_popular" or cf >= max_f) and \
                (suggest_mode != "not_in_index" or min_f == 0) and \
                cf >= min_suggestion_frequency:
            out.append((combined, cf, tuple(range(i, j + 1))))
        evals += 1
        if evals >= max_evaluations:
            break
    out.sort(key=lambda t: (len(t[2]) - 1, -t[1], t[0]))
    return out[:max_suggestions]
