"""Multilingual routing — one index over a mixed-script web corpus.

The reference's model is a fieldType per language (every Solr schema
ships text_en, text_de, text_ar, … — `solr/server/solr/configsets/
_default/conf/managed-schema`), which presumes documents are routed
to the right field upstream. For a raw web crawl the routing signal
IS the text: this module provides

* :func:`analyzer_for` — the language-code → analysis-chain registry
  (the configset's text_* fieldTypes, over the chains this package
  implements), and
* :class:`ScriptRoutingAnalyzer` — a per-document router: detect the
  dominant Unicode script (the same classes
  `pipeline/textstats.script_profile` counts corpus-side) and
  delegate to that script's chain; Latin text goes to the default
  (e.g. English) chain. Duck-type-compatible with StandardAnalyzer's
  per-doc surface, so ``IndexBuilder(ScriptRoutingAnalyzer())`` just
  works (``batch_vectorizable=False`` → the per-doc inversion front,
  the same routing the CJK fallback rows take).

Mixed-script documents route by majority letter count; the per-script
chains only see whole documents, matching how the reference's
language analyzers are deployed (per-field, not per-token).
"""

from __future__ import annotations

import unicodedata


def analyzer_for(lang: str, **kwargs):
    """text_<lang> fieldType registry → an analyzer instance.

    Supported: en, fr, de, es, it, pt, ru, el, ar, fa, hi, id, tr,
    no, sv, fi, cs, bg, lv, ckb, cjk. Extra kwargs (stop_words, stem_exclusions) pass through."""
    lang = lang.lower()
    if lang == "en":
        # the full EnglishAnalyzer chain (possessive + Porter), the
        # reference's text_en fieldType — not the bare standard chain
        from .analyzer import ENGLISH_STEM_ANALYZER
        return ENGLISH_STEM_ANALYZER
    if lang == "cjk":
        from .cjk import cjk_bigram_tokenizer
        from .custom import CustomAnalyzer, lowercase_filter
        return CustomAnalyzer(tokenizer=cjk_bigram_tokenizer(),
                              token_filters=(lowercase_filter(),))
    if lang == "ar":
        from .ar import arabic_light_analyzer
        return arabic_light_analyzer(**kwargs)
    if lang == "fa":
        from .ar import persian_analyzer
        kwargs.pop("stem_exclusions", None)
        return persian_analyzer(**kwargs)
    if lang == "ckb":
        from .ar import sorani_analyzer
        return sorani_analyzer(**kwargs)
    if lang == "hi":
        from .hi import hindi_analyzer
        return hindi_analyzer(**kwargs)
    if lang == "id":
        from .id import indonesian_analyzer
        return indonesian_analyzer(**kwargs)
    from . import lang as L
    table = {"fr": L.french_light_analyzer, "de": L.german_light_analyzer,
             "es": L.spanish_light_analyzer, "it": L.italian_light_analyzer,
             "pt": L.portuguese_light_analyzer,
             "ru": L.russian_light_analyzer, "el": L.greek_analyzer,
             "tr": L.turkish_analyzer, "no": L.norwegian_light_analyzer,
             "sv": L.swedish_light_analyzer, "cs": L.czech_analyzer,
             "bg": L.bulgarian_analyzer, "lv": L.latvian_analyzer,
             "fi": L.finnish_light_analyzer}
    if lang in table:
        if lang in ("el", "tr"):
            kwargs.pop("stem_exclusions", None)
        return table[lang](**kwargs)
    raise ValueError(f"no analysis chain registered for {lang!r}")


_SCRIPT_LANG = {
    "CYRILLIC": "ru",
    "ARABIC": "ar",
    "DEVANAGARI": "hi",
    "GREEK": "el",
    "HAN": "cjk", "HIRAGANA": "cjk", "KATAKANA": "cjk", "HANGUL": "cjk",
}


def detect_route(text: str, default: str = "en") -> str:
    """Dominant-script route for one document (majority letter count
    over the script→chain table; Latin and anything unmapped → the
    default chain)."""
    counts: dict[str, int] = {}
    for ch in text or "":
        if not ch.isalpha():
            continue
        try:
            name = unicodedata.name(ch, "")
        except ValueError:          # pragma: no cover
            continue
        script = name.split(" ")[0]
        if script == "CJK":
            script = "HAN"
        route = _SCRIPT_LANG.get(script, default)
        counts[route] = counts.get(route, 0) + 1
    if not counts:
        return default
    best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
    return best[0]


class ScriptRoutingAnalyzer:
    """Route each document to its script's analysis chain."""

    batch_vectorizable = False
    stemmer = None
    stop_words: frozenset = frozenset()

    def __init__(self, default: str = "en", **chain_kwargs):
        self.default = default
        self._chains = {}
        self._kwargs = chain_kwargs

    def _chain(self, route: str):
        if route not in self._chains:
            self._chains[route] = analyzer_for(route) if route != "en" \
                else analyzer_for("en")
        return self._chains[route]

    def term_positions(self, text: str):
        return self._chain(detect_route(text, self.default)) \
            .term_positions(text or "")

    def tokens(self, text: str):
        return self._chain(detect_route(text, self.default)) \
            .tokens(text or "")

    def term_freqs(self, text: str):
        tp = self.term_positions(text)
        return {t: len(ps) for t, ps in tp.items()}
