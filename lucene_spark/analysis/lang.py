"""Per-language light stemmers + analyzer presets (analysis/common zoo).

Algorithm transliterations (like analysis/porter.py): the rule tables and
traversal order ARE the scoring contract, so each function mirrors its
reference file step-for-step and is validated against the reference's own
test-vector archives (fr/frlighttestdata.zip, de/delighttestdata.zip,
es/eslighttestdata.zip, it/itlighttestdata.zip, pt/ptlighttestdata.zip —
see tests/test_lang_analyzers.py):

* ``french_light_stem``  ≙ analysis/common/.../fr/FrenchLightStemmer.java:57
  (Savoy, "Light Stemming Approaches for the French, Portuguese, German and
  Hungarian Languages", SAC 2006 — the default stemmer of
  FrenchAnalyzer.java:129-137).
* ``german_light_stem``  ≙ de/GermanLightStemmer.java:57 (same paper).
* ``german_normalize``   ≙ de/GermanNormalizationFilter.java:43 (the FSM
  umlaut/ß normalizer GermanAnalyzer.java:134 runs before the stem).
* ``spanish_light_stem`` ≙ es/SpanishLightStemmer.java:51 (Savoy's light
  stemmer for Spanish, the default of SpanishAnalyzer.java:113-119).
* ``italian_light_stem`` ≙ it/ItalianLightStemmer.java:51 (Savoy's light
  stemmer for Italian, the default of ItalianAnalyzer.java:121-129).
* ``portuguese_light_stem`` ≙ pt/PortugueseLightStemmer.java:51 (same SAC
  2006 paper, the default of PortugueseAnalyzer.java:112-119).
* ``elide``              ≙ fr/FrenchAnalyzer.java DEFAULT_ARTICLES /
  it/ItalianAnalyzer.java DEFAULT_ARTICLES +
  util/ElisionFilter.java:51 (strip article + apostrophe), lowered as a
  PRE-TOKENIZE char filter: on the declared input subset an elision
  article+apostrophe only ever precedes a letter run, so replacing it with
  a space yields the exact token stream ElisionFilter produces (engine,
  oracle, and DuckDB twins share the one regex — parity by construction).

All stemmers are pure per-term functions, so the IndexBuilder applies them
on the DISTINCT TERM DICTIONARY (builder.apply_dict_stemmer): O(|vocab|)
Python once per build, broadcast-joined back — never per token, never per
row.  At 100 TB the vocabulary is millions of terms; an Arrow batch over
it is milliseconds of Python.
"""

from __future__ import annotations

import re

from lucene_spark.analysis.lang_stopwords import (  # noqa: F401
    FRENCH_STOP_WORDS,
    GERMAN_STOP_WORDS,
    ITALIAN_STOP_WORDS,
    PORTUGUESE_STOP_WORDS,
    SPANISH_STOP_WORDS,
)

# fr/FrenchAnalyzer.java:47-55 DEFAULT_ARTICLES (ElisionFilter set)
FRENCH_ELISION_ARTICLES = (
    "l", "m", "t", "qu", "n", "s", "j", "d", "c",
    "jusqu", "quoiqu", "lorsqu", "puisqu",
)

# it/ItalianAnalyzer.java:48-56 DEFAULT_ARTICLES
ITALIAN_ELISION_ARTICLES = (
    "c", "l", "all", "dall", "dell", "nell", "sull", "coll", "pell",
    "gl", "agl", "dagl", "degl", "negl", "sugl", "un", "m", "t", "s",
    "v", "d",
)

# Pre-tokenize elision char filters (module docstring).  Longest-first
# alternation; \b is ASCII in Java (Spark), RE2 (DuckDB), and Python with
# re.ASCII — an accented letter abutting the article start is out of the
# declared subset on all three engines alike.
ELISION_PATTERNS = {
    "fr": r"\b(jusqu|quoiqu|lorsqu|puisqu|qu|[lmtnsjdc])'",
    "it": (
        r"\b(dagl|degl|negl|sugl|all|dall|dell|nell|sull|coll|pell"
        r"|agl|gl|un|[clmtsvd])'"
    ),
    # CatalanAnalyzer.DEFAULT_ARTICLES (ca/CatalanAnalyzer.java:48-50)
    "ca": r"\b([dlmnst])'",
    # IrishAnalyzer.DEFAULT_ARTICLES (ga/IrishAnalyzer.java:47-48)
    "ga": r"\b([dmb])'",
}
# back-compat alias (the French pattern was first)
ELISION_PATTERN = ELISION_PATTERNS["fr"]

_ELISION_RES = {
    k: re.compile(p, re.IGNORECASE | re.ASCII)
    for k, p in ELISION_PATTERNS.items()
}


def elide(text: str, lang: str) -> str:
    return _ELISION_RES[lang].sub(" ", text)


def elide_french(text: str) -> str:
    return elide(text, "fr")


# ---------------------------------------------------------------------------
# French (FrenchLightStemmer.java:57-257; helper ``delete`` shifts the
# buffer left, which Python's ``del`` reproduces)


def _fr_norm(s: list, n: int) -> int:
    """FrenchLightStemmer.norm (java:205-256)."""
    if n > 4:
        fold = {"à": "a", "á": "a", "â": "a", "ô": "o", "è": "e", "é": "e",
                "ê": "e", "ù": "u", "û": "u", "î": "i", "ç": "c"}
        for i in range(n):
            s[i] = fold.get(s[i], s[i])
        ch = s[0]
        i = 1
        while i < n:
            if s[i] == ch and ch.isalpha():
                del s[i]
                n -= 1
            else:
                ch = s[i]
                i += 1
    if n > 4 and s[n - 2 : n] == ["i", "e"]:
        n -= 2
    if n > 4:
        if s[n - 1] == "r":
            n -= 1
        if s[n - 1] == "e":
            n -= 1
        if s[n - 1] == "e":
            n -= 1
        if s[n - 1] == s[n - 2] and s[n - 1].isalpha():
            n -= 1
    return n


def french_light_stem(w: str) -> str:
    s = list(w)
    n = len(s)

    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 5 and s[n - 1] == "x":
        if s[n - 3] == "a" and s[n - 2] == "u" and s[n - 4] != "e":
            s[n - 2] = "l"
        n -= 1
    if n > 3 and s[n - 1] == "x":
        n -= 1
    if n > 3 and s[n - 1] == "s":
        n -= 1

    if n > 9 and ends("issement"):
        n -= 6
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 8 and ends("issant"):
        n -= 4
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 6 and ends("ement"):
        n -= 4
        if n > 3 and ends("ive"):
            n -= 1
            s[n - 1] = "f"
        return "".join(s[: _fr_norm(s, n)])
    if n > 11 and ends("ficatrice"):
        n -= 5
        s[n - 2] = "e"
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 10 and ends("ficateur"):
        n -= 4
        s[n - 2] = "e"
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 9 and ends("catrice"):
        n -= 3
        s[n - 4] = "q"
        s[n - 3] = "u"
        s[n - 2] = "e"
        # s[n-1] already 'r' (java:83 comment)
        return "".join(s[: _fr_norm(s, n)])
    if n > 8 and ends("cateur"):
        n -= 2
        s[n - 4] = "q"
        s[n - 3] = "u"
        s[n - 2] = "e"
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 8 and ends("atrice"):
        n -= 4
        s[n - 2] = "e"
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 7 and ends("ateur"):
        n -= 3
        s[n - 2] = "e"
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 6 and ends("trice"):
        # falls through (java:117-122, no return)
        n -= 1
        s[n - 3] = "e"
        s[n - 2] = "u"
        s[n - 1] = "r"
    if n > 5 and ends("ième"):
        return "".join(s[: _fr_norm(s, n - 4)])
    if n > 7 and ends("teuse"):
        n -= 2
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 6 and ends("teur"):
        n -= 1
        s[n - 1] = "r"
        return "".join(s[: _fr_norm(s, n)])
    if n > 5 and ends("euse"):
        return "".join(s[: _fr_norm(s, n - 2)])
    if n > 8 and ends("ère"):
        n -= 1
        s[n - 2] = "e"
        return "".join(s[: _fr_norm(s, n)])
    if n > 7 and ends("ive"):
        n -= 1
        s[n - 1] = "f"
        return "".join(s[: _fr_norm(s, n)])
    if n > 4 and (ends("folle") or ends("molle")):
        n -= 2
        s[n - 1] = "u"
        return "".join(s[: _fr_norm(s, n)])
    if n > 9 and ends("nnelle"):
        return "".join(s[: _fr_norm(s, n - 5)])
    if n > 9 and ends("nnel"):
        return "".join(s[: _fr_norm(s, n - 3)])
    if n > 4 and ends("ète"):
        # falls through (java:143-146, no return)
        n -= 1
        s[n - 2] = "e"
    if n > 8 and ends("ique"):
        n -= 4  # falls through (java:148)
    if n > 8 and ends("esse"):
        return "".join(s[: _fr_norm(s, n - 3)])
    if n > 7 and ends("inage"):
        return "".join(s[: _fr_norm(s, n - 3)])
    if n > 9 and ends("isation"):
        n -= 7
        if n > 5 and ends("ual"):
            s[n - 2] = "e"
        return "".join(s[: _fr_norm(s, n)])
    if n > 9 and ends("isateur"):
        return "".join(s[: _fr_norm(s, n - 7)])
    if n > 8 and ends("ation"):
        return "".join(s[: _fr_norm(s, n - 5)])
    if n > 8 and ends("ition"):
        return "".join(s[: _fr_norm(s, n - 5)])
    return "".join(s[: _fr_norm(s, n)])


# ---------------------------------------------------------------------------
# German (GermanLightStemmer.java:57-141)

_DE_FOLD = {
    "ä": "a", "à": "a", "á": "a", "â": "a",
    "ö": "o", "ò": "o", "ó": "o", "ô": "o",
    "ï": "i", "ì": "i", "í": "i", "î": "i",
    "ü": "u", "ù": "u", "ú": "u", "û": "u",
}

_DE_ST_ENDING = frozenset("bdfghklmnt")


def german_light_stem(w: str) -> str:
    s = [_DE_FOLD.get(c, c) for c in w]
    n = len(s)
    # step1 (java:90-106)
    if n > 5 and s[n - 3] == "e" and s[n - 2] == "r" and s[n - 1] == "n":
        n -= 3
    elif n > 4 and s[n - 2] == "e" and s[n - 1] in ("m", "n", "r", "s"):
        n -= 2
    elif n > 3 and s[n - 1] == "e":
        n -= 1
    elif n > 3 and s[n - 1] == "s" and s[n - 2] in _DE_ST_ENDING:
        n -= 1
    # step2 (java:108-116)
    if n > 5 and s[n - 3] == "e" and s[n - 2] == "s" and s[n - 1] == "t":
        n -= 3
    elif n > 4 and s[n - 2] == "e" and s[n - 1] in ("r", "n"):
        n -= 2
    elif n > 4 and s[n - 2] == "s" and s[n - 1] == "t" and s[n - 3] in _DE_ST_ENDING:
        n -= 2
    return "".join(s[:n])


def german_normalize(w: str) -> str:
    """GermanNormalizationFilter.java:43-95 — a 3-state FSM: umlauts fold
    to their base vowel, ß becomes ss, and an 'e' is deleted after the
    folded-umlaut/'u' state (so 'ue' spellings collapse like 'ü')."""
    N, V, U = 0, 1, 2
    state = N
    buf = list(w)
    i = 0
    while i < len(buf):
        c = buf[i]
        if c in ("a", "o"):
            state = U
        elif c == "u":
            state = U if state == N else V
        elif c == "e":
            if state == U:
                del buf[i]
                i -= 1
            state = V
        elif c in ("i", "q", "y"):
            state = V
        elif c == "ä":
            buf[i] = "a"
            state = V
        elif c == "ö":
            buf[i] = "o"
            state = V
        elif c == "ü":
            buf[i] = "u"
            state = V
        elif c == "ß":
            buf[i] = "s"
            buf.insert(i + 1, "s")
            i += 1
            state = N
        else:
            state = N
        i += 1
    return "".join(buf)


def german_normalize_and_stem(w: str) -> str:
    """GermanAnalyzer.java:129-137 stem slot: normalization filter then
    light stem (the two dictionary-stage filters composed)."""
    return german_light_stem(german_normalize(w))


# ---------------------------------------------------------------------------
# Spanish (SpanishLightStemmer.java:51-115)

_ES_FOLD = {
    "à": "a", "á": "a", "â": "a", "ä": "a",
    "ò": "o", "ó": "o", "ô": "o", "ö": "o",
    "è": "e", "é": "e", "ê": "e", "ë": "e",
    "ù": "u", "ú": "u", "û": "u", "ü": "u",
    "ì": "i", "í": "i", "î": "i", "ï": "i",
}


def spanish_light_stem(w: str) -> str:
    n = len(w)
    if n < 5:
        return w
    s = [_ES_FOLD.get(c, c) for c in w]
    last = s[n - 1]
    if last in ("o", "a", "e"):
        return "".join(s[: n - 1])
    if last == "s":
        if s[n - 2] == "e" and s[n - 3] == "s" and s[n - 4] == "e":
            return "".join(s[: n - 2])
        if s[n - 2] == "e" and s[n - 3] == "c":
            s[n - 3] = "z"
            return "".join(s[: n - 2])
        if s[n - 2] in ("o", "a", "e"):
            return "".join(s[: n - 2])
    return "".join(s[:n])


# ---------------------------------------------------------------------------
# Italian (ItalianLightStemmer.java:51-110; same fold map as Spanish
# minus ç, applied only at length >= 6)

_IT_FOLD = {k: v for k, v in _ES_FOLD.items()}


def italian_light_stem(w: str) -> str:
    n = len(w)
    if n < 6:
        return w
    s = [_IT_FOLD.get(c, c) for c in w]
    last = s[n - 1]
    if last == "e":
        return "".join(s[: n - 2 if s[n - 2] in ("i", "h") else n - 1])
    if last == "i":
        return "".join(s[: n - 2 if s[n - 2] in ("h", "i") else n - 1])
    if last == "a":
        return "".join(s[: n - 2 if s[n - 2] == "i" else n - 1])
    if last == "o":
        return "".join(s[: n - 2 if s[n - 2] == "i" else n - 1])
    return "".join(s)


# ---------------------------------------------------------------------------
# Portuguese (PortugueseLightStemmer.java:51-208: plural/adverb suffix
# removal -> feminine normalization -> final-vowel strip -> accent fold)

_PT_FOLD = {
    "à": "a", "á": "a", "â": "a", "ä": "a", "ã": "a",
    "ò": "o", "ó": "o", "ô": "o", "ö": "o", "õ": "o",
    "è": "e", "é": "e", "ê": "e", "ë": "e",
    "ù": "u", "ú": "u", "û": "u", "ü": "u",
    "ì": "i", "í": "i", "î": "i", "ï": "i",
    "ç": "c",
}


def _pt_remove_suffix(s: list, n: int) -> int:
    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 4 and ends("es") and s[n - 3] in ("r", "s", "l", "z"):
        return n - 2
    if n > 3 and ends("ns"):
        s[n - 2] = "m"
        return n - 1
    if n > 4 and (ends("eis") or ends("éis")):
        s[n - 3] = "e"
        s[n - 2] = "l"
        return n - 1
    if n > 4 and ends("ais"):
        s[n - 2] = "l"
        return n - 1
    if n > 4 and ends("óis"):
        s[n - 3] = "o"
        s[n - 2] = "l"
        return n - 1
    if n > 4 and ends("is"):
        s[n - 1] = "l"
        return n
    if n > 3 and (ends("ões") or ends("ães")):
        n -= 1
        s[n - 2] = "ã"
        s[n - 1] = "o"
        return n
    if n > 6 and ends("mente"):
        return n - 5
    if n > 3 and s[n - 1] == "s":
        return n - 1
    return n


def _pt_norm_feminine(s: list, n: int) -> int:
    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 7 and (ends("inha") or ends("iaca") or ends("eira")):
        s[n - 1] = "o"
        return n
    if n > 6:
        if (
            ends("osa") or ends("ica") or ends("ida") or ends("ada")
            or ends("iva") or ends("ama")
        ):
            s[n - 1] = "o"
            return n
        if ends("ona"):
            s[n - 3] = "ã"
            s[n - 2] = "o"
            return n - 1
        if ends("ora"):
            return n - 1
        if ends("esa"):
            s[n - 3] = "ê"
            return n - 1
        if ends("na"):
            s[n - 1] = "o"
            return n
    return n


def portuguese_light_stem(w: str) -> str:
    n = len(w)
    if n < 4:
        return w
    s = list(w)
    n = _pt_remove_suffix(s, n)
    if n > 3 and s[n - 1] == "a":
        n = _pt_norm_feminine(s, n)
    if n > 4 and s[n - 1] in ("e", "a", "o"):
        n -= 1
    return "".join(_PT_FOLD.get(c, c) for c in s[:n])


# ---------------------------------------------------------------------------
# CJK (cjk/CJKAnalyzer.java:94-101: StandardTokenizer -> CJKWidthFilter ->
# LowerCase -> CJKBigramFilter -> StopFilter)

# cjk/stopwords.txt — the analyzer's default stop set (an English list:
# CJK tokens are never stopped, only embedded Latin words)
CJK_STOP_WORDS = frozenset(
    "a and are as at be but by for if in into is it no not of on or s such "
    "t that the their then there these they this to was will with www".split()
)

# CJKWidthFilter.java, the FULL filter as a pre-tokenize char filter:
# * fullwidth-ASCII variants -> basic latin (java:44-48, ch - 0xFEE0)
# * halfwidth katakana -> standard katakana (java:28-41 KANA_NORM)
# * halfwidth voiced/semi-voiced sound marks (0xFF9E/0xFF9F) COMBINE with
#   the preceding (already normalized) kana when a composed form exists
#   (java:70-99 KANA_COMBINE_VOICED/_HALF_VOICED deltas over
#   0x30A6..0x30FD), else fall back to U+3099/U+309A.
# Applying it before tokenization (the reference applies it after) is
# equivalent on this subset: every output char keeps its script class, so
# token boundaries agree; it also lets the halfwidth forms join their kana
# runs for the bigram stage.

# CJKWidthFilter.java:28-41 — halfwidth kana 0xFF65-0xFF9F
_KANA_NORM = [
    0x30FB, 0x30F2, 0x30A1, 0x30A3, 0x30A5, 0x30A7, 0x30A9, 0x30E3, 0x30E5,
    0x30E7, 0x30C3, 0x30FC, 0x30A2, 0x30A4, 0x30A6, 0x30A8, 0x30AA, 0x30AB,
    0x30AD, 0x30AF, 0x30B1, 0x30B3, 0x30B5, 0x30B7, 0x30B9, 0x30BB, 0x30BD,
    0x30BF, 0x30C1, 0x30C4, 0x30C6, 0x30C8, 0x30CA, 0x30CB, 0x30CC, 0x30CD,
    0x30CE, 0x30CF, 0x30D2, 0x30D5, 0x30D8, 0x30DB, 0x30DE, 0x30DF, 0x30E0,
    0x30E1, 0x30E2, 0x30E4, 0x30E6, 0x30E8, 0x30E9, 0x30EA, 0x30EB, 0x30EC,
    0x30ED, 0x30EF, 0x30F3, 0x3099, 0x309A,
]
# CJKWidthFilter.java:70-81 — kana combining deltas over 0x30A6-0x30FD
_KANA_COMBINE_VOICED = [
    78, 0, 0, 0, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0, 1, 0,
    1, 0, 1, 0, 1, 0, 0, 1, 0, 1, 0, 1, 0, 0, 0, 0, 0, 0, 1, 0, 0, 1, 0,
    0, 1, 0, 0, 1, 0, 0, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 8, 8, 8, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1,
]
_KANA_COMBINE_HALF_VOICED = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 2, 0, 0, 2, 0,
    0, 2, 0, 0, 2, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
]

_WIDTH_FROM = "".join(chr(c) for c in range(0xFF01, 0xFF5F)) + "".join(
    chr(c) for c in range(0xFF65, 0xFF9E)
)
_WIDTH_TO = "".join(chr(c - 0xFEE0) for c in range(0xFF01, 0xFF5F)) + "".join(
    chr(_KANA_NORM[c - 0xFF65]) for c in range(0xFF65, 0xFF9E)
)
_WIDTH_TABLE = str.maketrans(_WIDTH_FROM, _WIDTH_TO)

# (normalized base + halfwidth mark) -> composed form, for the chained
# replaces of cjk_width_fold.  Derived from the delta tables; only deltas != 0 combine (CJKWidthFilter.combine:93-98).
KANA_COMBINE_PAIRS: list[tuple[str, str]] = []
for _i, _d in enumerate(_KANA_COMBINE_VOICED):
    if _d:
        KANA_COMBINE_PAIRS.append(
            (chr(0x30A6 + _i) + "ﾞ", chr(0x30A6 + _i + _d))
        )
for _i, _d in enumerate(_KANA_COMBINE_HALF_VOICED):
    if _d:
        KANA_COMBINE_PAIRS.append(
            (chr(0x30A6 + _i) + "ﾟ", chr(0x30A6 + _i + _d))
        )
# fallback for marks that could not combine (java:57 KANA_NORM tail)
_MARK_TABLE = str.maketrans("ﾞﾟ", "゙゚")


def cjk_width_fold(text: str) -> str:
    """CJKWidthFilter as translate -> combining replaces -> fallback
    translate — equivalent to CJKWidthFilter's left-to-right
    in-place loop because each combining pattern is over ALREADY-normalized
    text and the pattern sets are disjoint."""
    t = text.translate(_WIDTH_TABLE)
    if "ﾞ" in t or "ﾟ" in t:
        for pat, rep in KANA_COMBINE_PAIRS:
            if pat in t:
                t = t.replace(pat, rep)
        t = t.translate(_MARK_TABLE)
    return t


def cjk_bigram_expand(tok: str, run_class_re) -> list:
    """Expand one token: a CJK run of length L >= 2 becomes its L-1
    character bigrams (<DOUBLE>), a lone CJK char or any non-CJK token
    passes through (CJKBigramFilter.java:122-199, outputUnigrams=false)."""
    if len(tok) > 1 and run_class_re.match(tok):
        return [tok[i : i + 2] for i in range(len(tok) - 1)]
    return [tok]


# ---------------------------------------------------------------------------
# Russian (ru/RussianLightStemmer.java:67-148: Dolamic & Savoy, "Indexing
# and Searching Strategies for the Russian Language" — case-ending removal
# then soft-sign / double-н normalization).  The RussianLightStemFilter
# variant of ru/RussianAnalyzer.java's chain (the analyzer default is
# Snowball; the light stemmer is the zoo alternative with its own
# rulighttestdata.zip vector archive).

_RU_CASE4 = ("иями", "оями")
_RU_CASE3 = (
    "иям", "иях", "оях", "ями", "оям", "оьв", "ами", "его", "ему", "ери",
    "ими", "ого", "ому", "ыми", "оев",
)
_RU_CASE2 = (
    "ая", "яя", "ях", "юю", "ах", "ею", "их", "ия", "ию", "ьв", "ою", "ую",
    "ям", "ых", "ея", "ам", "ем", "ей", "ём", "ев", "ий", "им", "ое", "ой",
    "ом", "ов", "ые", "ый", "ым", "ми",
)
_RU_CASE1 = frozenset("аеиоуйыяь")


def russian_light_stem(w: str) -> str:
    n = len(w)

    def ends(suf: str) -> bool:
        return w[:n].endswith(suf)

    # removeCase (java:84-146)
    if n > 6 and any(ends(s) for s in _RU_CASE4):
        n -= 4
    elif n > 5 and any(ends(s) for s in _RU_CASE3):
        n -= 3
    elif n > 4 and any(ends(s) for s in _RU_CASE2):
        n -= 2
    elif n > 3 and w[n - 1] in _RU_CASE1:
        n -= 1
    # normalize (java:72-82)
    if n > 3:
        if w[n - 1] in ("ь", "и"):
            n -= 1
        elif w[n - 1] == "н" and w[n - 2] == "н":
            n -= 1
    return w[:n]


# ---------------------------------------------------------------------------
# Swedish (sv/SwedishLightStemmer.java:63-100: Savoy, CLEF-2003).  The
# SwedishLightStemFilter variant of sv/SwedishAnalyzer.java's chain
# (analyzer default is Snowball; vectors: svlighttestdata.zip).

_SV_SUF5 = ("elser", "heten")
_SV_SUF4 = ("arne", "erna", "ande", "else", "aste", "orna", "aren")
_SV_SUF3 = ("are", "ast", "het")
_SV_SUF2 = ("ar", "er", "or", "en", "at", "te", "et")


def swedish_light_stem(w: str) -> str:
    n = len(w)
    if n > 4 and w[n - 1] == "s":
        n -= 1

    def ends(suf: str) -> bool:
        return w[:n].endswith(suf)

    if n > 7 and any(ends(s) for s in _SV_SUF5):
        return w[: n - 5]
    if n > 6 and any(ends(s) for s in _SV_SUF4):
        return w[: n - 4]
    if n > 5 and any(ends(s) for s in _SV_SUF3):
        return w[: n - 3]
    if n > 4 and any(ends(s) for s in _SV_SUF2):
        return w[: n - 2]
    if n > 3 and w[n - 1] in ("t", "a", "e", "n"):
        n -= 1
    return w[:n]


# ---------------------------------------------------------------------------
# Finnish (fi/FinnishLightStemmer.java:63-233: Savoy, CLEF-2003 — vowel
# fold, particle strip (step1, recursive), possessive (step2), case
# (step3), then two normalization passes incl. the k/p/t doubled-consonant
# dedup loop).  The FinnishLightStemFilter variant of
# fi/FinnishAnalyzer.java's chain (vectors: filighttestdata.zip).

_FI_VOWELS = frozenset("aeiouy")


def _fi_step1(s: list, n: int) -> int:
    if n > 8:
        if s[n - 3 : n] == list("kin"):
            return _fi_step1(s, n - 3)
        if s[n - 2 : n] == list("ko"):
            return _fi_step1(s, n - 2)
    if n > 11:
        if s[n - 8 : n] == list("dellinen"):
            return n - 8
        if s[n - 9 : n] == list("dellisuus"):
            return n - 9
    return n


def _fi_step2(s: list, n: int) -> int:
    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 5:
        if ends("lla") or ends("tse") or ends("sti"):
            return n - 3
        if ends("ni"):
            return n - 2
        if ends("aa"):
            return n - 1
    return n


def _fi_step3(s: list, n: int) -> int:
    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 8:
        if ends("nnen"):
            s[n - 4] = "s"
            return n - 3
        if ends("ntena"):
            s[n - 5] = "s"
            return n - 4
        if ends("tten"):
            return n - 4
        if ends("eiden"):
            return n - 5
    if n > 6:
        if ends("neen") or ends("niin") or ends("seen") or ends("teen") or ends("inen"):
            return n - 4
        if s[n - 3] == "h" and s[n - 2] in _FI_VOWELS and s[n - 1] == "n":
            return n - 3
        if ends("den"):
            s[n - 3] = "s"
            return n - 2
        if ends("ksen"):
            s[n - 4] = "s"
            return n - 3
        if (
            ends("ssa") or ends("sta") or ends("lla") or ends("lta")
            or ends("tta") or ends("ksi") or ends("lle")
        ):
            return n - 3
    if n > 5:
        if ends("na") or ends("ne"):
            return n - 2
        if ends("nei"):
            return n - 3
    if n > 4:
        if ends("ja") or ends("ta"):
            return n - 2
        if s[n - 1] == "a":
            return n - 1
        if s[n - 1] == "n" and s[n - 2] in _FI_VOWELS:
            return n - 2
        if s[n - 1] == "n":
            return n - 1
    return n


def _fi_norm1(s: list, n: int) -> int:
    if n > 5 and s[n - 3 : n] == list("hde"):
        s[n - 3], s[n - 2], s[n - 1] = "k", "s", "i"
    if n > 4 and (s[n - 2 : n] == list("ei") or s[n - 2 : n] == list("at")):
        return n - 2
    if n > 3 and s[n - 1] in ("t", "s", "j", "e", "a", "i"):
        return n - 1
    return n


def _fi_norm2(s: list, n: int) -> int:
    if n > 8 and s[n - 1] in ("e", "o", "u"):
        n -= 1
    if n > 4:
        if s[n - 1] == "i":
            n -= 1
        if n > 4:
            # doubled k/p/t dedup: delete the repeat, keep comparing the
            # shifted-in char against the SAME ch (java:232-238 i-- idiom)
            ch = s[0]
            i = 1
            while i < n:
                if s[i] == ch and ch in ("k", "p", "t"):
                    del s[i]
                    n -= 1
                else:
                    ch = s[i]
                    i += 1
    return n


def finnish_light_stem(w: str) -> str:
    if len(w) < 4:
        return w
    s = [{"ä": "a", "å": "a", "ö": "o"}.get(c, c) for c in w]
    n = len(s)
    n = _fi_step1(s, n)
    n = _fi_step2(s, n)
    n = _fi_step3(s, n)
    n = _fi_norm1(s, n)
    n = _fi_norm2(s, n)
    return "".join(s[:n])


# ---------------------------------------------------------------------------
# Hungarian (hu/HungarianLightStemmer.java:61-242: Savoy's UniNE light
# stemmer, "Light Stemming Approaches for the French, Portuguese, German
# and Hungarian Languages" — vowel fold, case, possessive, plural,
# normalize).  The HungarianLightStemFilter variant of
# hu/HungarianAnalyzer.java's chain (vectors: hulighttestdata.zip).

_HU_FOLD = {
    "á": "a",
    "ë": "e", "é": "e",
    "í": "i",
    "ó": "o", "ő": "o", "õ": "o", "ö": "o",
    "ú": "u", "ű": "u", "ũ": "u", "û": "u", "ü": "u",
}
_HU_VOWELS = frozenset("aeiouy")
_HU_CASE3 = (
    "nak", "nek", "val", "vel", "ert", "rol", "ban", "ben", "bol", "nal",
    "nel", "hoz", "hez", "tol",
)
_HU_CASE2 = ("at", "et", "ot", "va", "ve", "ra", "re", "ba", "be", "ul", "ig")


def _hu_remove_case(s: list, n: int) -> int:
    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 6 and ends("kent"):
        return n - 4
    if n > 5:
        if any(ends(suf) for suf in _HU_CASE3):
            return n - 3
        if (ends("al") or ends("el")) and s[n - 3] not in _HU_VOWELS and s[n - 3] == s[n - 4]:
            return n - 3
    if n > 4:
        if any(ends(suf) for suf in _HU_CASE2):
            return n - 2
        if (ends("on") or ends("en")) and s[n - 3] not in _HU_VOWELS:
            return n - 2
        if s[n - 1] in ("t", "n"):
            return n - 1
        if s[n - 1] in ("a", "e") and s[n - 2] == s[n - 3] and s[n - 2] not in _HU_VOWELS:
            return n - 2
    return n


def _hu_remove_possessive(s: list, n: int) -> int:
    def ends(suf: str) -> bool:
        return n >= len(suf) and s[n - len(suf) : n] == list(suf)

    if n > 6:
        if s[n - 5] not in _HU_VOWELS and (ends("atok") or ends("otok") or ends("etek")):
            return n - 4
        if ends("itek") or ends("itok"):
            return n - 4
    if n > 5:
        if s[n - 4] not in _HU_VOWELS and (ends("unk") or ends("tok") or ends("tek")):
            return n - 3
        if s[n - 4] in _HU_VOWELS and ends("juk"):
            return n - 3
        if ends("ink"):
            return n - 3
    if n > 4:
        if s[n - 3] not in _HU_VOWELS and (
            ends("am") or ends("em") or ends("om") or ends("ad")
            or ends("ed") or ends("od") or ends("uk")
        ):
            return n - 2
        if s[n - 3] in _HU_VOWELS and (ends("nk") or ends("ja") or ends("je")):
            return n - 2
        if ends("im") or ends("id") or ends("ik"):
            return n - 2
    if n > 3:
        c = s[n - 1]
        if c in ("a", "e"):
            if s[n - 2] not in _HU_VOWELS:
                return n - 1
        elif c in ("m", "d"):
            if s[n - 2] in _HU_VOWELS:
                return n - 1
        elif c == "i":
            return n - 1
    return n


def _hu_remove_plural(s: list, n: int) -> int:
    # java:207-217 — the a/o/e cases FALL THROUGH to default when len <= 4
    if n > 3 and s[n - 1] == "k":
        if s[n - 2] in ("a", "o", "e") and n > 4:
            return n - 2
        return n - 1
    return n


def hungarian_light_stem(w: str) -> str:
    s = [_HU_FOLD.get(c, c) for c in w]
    n = len(s)
    n = _hu_remove_case(s, n)
    n = _hu_remove_possessive(s, n)
    n = _hu_remove_plural(s, n)
    # normalize (java:220-229)
    if n > 3 and s[n - 1] in ("a", "e", "i", "o"):
        n -= 1
    return "".join(s[:n])


# ---------------------------------------------------------------------------
# Minimal / plural-only stemmer variants (round 5) — each validated against
# the reference's own archive (tests/test_lang_analyzers.py):
# * french_minimal_stem  ≙ fr/FrenchMinimalStemmer.java:46-62 (Savoy's
#   minimal stemmer for French, frminimaltestdata.zip)
# * german_minimal_stem  ≙ de/GermanMinimalStemmer.java:46-82 (morphology
#   by Savoy/UniNE, deminimaltestdata.zip)
# * spanish_plural_stem  ≙ es/SpanishPluralStemmer.java:169-245 (plural
#   reduction with invariant/special word lists, espluraltestdata.zip)


def french_minimal_stem(w: str) -> str:
    n = len(w)
    if n < 6:
        return w
    s = list(w)
    if s[n - 1] == "x":
        if s[n - 3] == "a" and s[n - 2] == "u":
            s[n - 2] = "l"
        return "".join(s[: n - 1])
    if s[n - 1] == "s":
        n -= 1
    if s[n - 1] == "r":
        n -= 1
    if s[n - 1] == "e":
        n -= 1
    if s[n - 1] == "é":
        n -= 1
    if s[n - 1] == s[n - 2] and s[n - 1].isalpha():
        n -= 1
    return "".join(s[:n])


def german_minimal_stem(w: str) -> str:
    if len(w) < 5:
        return w
    s = [{"ä": "a", "ö": "o", "ü": "u"}.get(c, c) for c in w]
    n = len(s)
    if n > 6 and s[n - 3 :] == ["n", "e", "n"]:
        return "".join(s[: n - 3])
    if n > 5 and (
        (s[n - 1] == "n" and s[n - 2] == "e")
        or (s[n - 1] == "e" and s[n - 2] == "s")
        or (s[n - 1] == "s" and s[n - 2] == "e")
        or (s[n - 1] == "r" and s[n - 2] == "e")
    ):
        return "".join(s[: n - 2])
    if s[n - 1] in ("n", "e", "s", "r"):
        return "".join(s[: n - 1])
    return "".join(s)


# es/SpanishPluralStemmer.java:34-145 invariantsList (matched AFTER the
# accent fold) and :150-164 specialCasesList (stem = word minus 2 chars)
SPANISH_PLURAL_INVARIANTS = frozenset(
    """abrebotellas abrecartas abrelatas afueras albatros albricias aledaños
    alexis alicates analisis andurriales antitesis añicos apendicitis
    apocalipsis arcoiris aries bilis boletus boris brindis cactus canutas
    caries cascanueces cascarrabias ciempies cifosis cortaplumas corpus
    cosmos cosquillas creces crisis cuatrocientas cuatrocientos
    cuelgacapas cuentacuentos cuentapasos cumpleaños doscientas doscientos
    dosis enseres entonces esponsales estatus exequias fauces forceps
    fotosintesis gafas gafotas gargaras gris honorarios ictus jueves
    lapsus lavacoches lavaplatos limpiabotas lunes maitines martes
    mondadientes novecientas novecientos nupcias ochocientas ochocientos
    pais paris parabrisas paracaidas parachoques paraguas pararrayos
    pisapapeles piscis portaaviones portamaletas portamantas quinientas
    quinientos quitamanchas recogepelotas rictus rompeolas sacacorchos
    sacapuntas saltamontes salvavidas seis seiscientas seiscientos
    setecientas setecientos sintesis tenis tifus trabalenguas vacaciones
    venus versus viacrucis virus viveres volandas""".split()
)
SPANISH_PLURAL_SPECIAL = frozenset(
    """yoes noes sies clubes faralaes albalaes itemes albumes sandwiches
    relojes bojes contrarreloj carcajes""".split()
)

_ES_PLURAL_VOWELS = frozenset("aeiou")


def spanish_plural_stem(w: str) -> str:
    if len(w) < 4:
        return w
    s = [_ES_FOLD.get(c, c) for c in w]
    n = len(s)
    word = "".join(s)
    if word in SPANISH_PLURAL_INVARIANTS:
        return word
    if word in SPANISH_PLURAL_SPECIAL:
        return word[: n - 2]
    if s[n - 1] != "s":
        return word
    v = _ES_PLURAL_VOWELS
    if s[n - 2] not in v:
        return word[: n - 1]
    if s[n - 4] == "q" or (
        s[n - 4] == "g" and s[n - 3] == "u" and s[n - 2] in ("i", "e")
    ):
        return word[: n - 1]
    if s[n - 4] in v and s[n - 3] == "r" and s[n - 2] == "e":
        return word[: n - 2]
    if s[n - 4] in v and s[n - 3] in ("d", "l", "n", "x") and s[n - 2] == "e":
        return word[: n - 2]
    if s[n - 3] in ("y", "u") and s[n - 2] == "e":
        return word[: n - 2]
    if s[n - 4] in ("u", "l", "r", "t", "n") and s[n - 3] == "i" and s[n - 2] == "e":
        return word[: n - 2]
    if s[n - 3] == "s" and s[n - 2] == "e":
        return word[: n - 2]
    if s[n - 3] in v and s[n - 2] == "i":
        return word[: n - 2] + "y"
    if s[n - 3] == "d" and s[n - 2] == "i":
        return word[: n - 2] + "y"
    if s[n - 2] == "e" and s[n - 3] == "c":
        return word[: n - 3] + "z"
    if s[n - 2] in v:
        return word[: n - 1]
    return word
