"""Standard analyzer: UAX#29-subset word-break + lowercase + 255-char chop.

This is the single tokenizer *spec* shared by the Spark engine and the pure
Python oracle, guaranteeing parity by construction (the #1 rank-identity risk,
SURVEY.md §7).  It reproduces the behavior of the reference's
``StandardAnalyzer`` (= ``StandardTokenizer`` → ``LowerCaseFilter``, empty
stopword set — ``core/analysis/standard/StandardAnalyzer.java:51-93``) on the
declared supported subset of input text (FIXTURES.md §3):

* ASCII letters / digits, whitespace, common punctuation.
* Words = maximal runs of ``[a-z0-9]``(after lowercasing), extended by
  UAX#29 mid-token joiners within the subset: an apostrophe between letters
  (MidLetter, WB6/WB7) and ``.``/``,`` between digits (MidNum, WB11/WB12).
* Tokens longer than 255 chars are chopped into consecutive 255-char chunks,
  each emitted at the next position — matching ``StandardTokenizer``'s
  scanner-buffer chop (``StandardTokenizer.java:86-90``, buffer size =
  maxTokenLength = 255, ``StandardAnalyzer.java:37``).
* No stopwords; positions are dense 0..n-1 (``StandardAnalyzer.java:51-53``).

Non-ASCII input is tokenized by the same regex (any non-matching char is a
break); full UAX#29 (ideographs, emoji, extended scripts) is out of the
declared subset — callers needing it plug in a custom pandas-UDF analyzer
(the UDF surface, SURVEY.md §2.12).

``tokenize_text`` is the one implementation: the engine runs it inside
Arrow-batched Python (the index build's invert pass, and
``Analyzer.analyze_column`` for every other Spark caller), and the Python
oracle calls it directly.  The DuckDB oracle twins replay ``token_pattern``
as SQL.
"""

from __future__ import annotations

import re

MAX_TOKEN_LENGTH = 255

# Java and Python regex compatible (lookbehind/lookahead are fixed-width).
TOKEN_PATTERN = (
    r"[a-z0-9]+"
    r"(?:(?<=[a-z])'(?=[a-z])[a-z0-9]+"
    r"|(?<=[0-9])[.,](?=[0-9])[a-z0-9]+)*"
)

# Latin-1 alphabet extension for the per-language analyzers (fr/de/es):
# StandardTokenizer accepts all Unicode letters; the declared subset here
# widens [a-z] to the post-lowercase Latin-1 letters (U+00E0–U+00F6,
# U+00F8–U+00FF) plus ß.  Same literal class in Java (Spark), RE2 (the
# DuckDB twins use the joiner-free simplification), and Python.
_L1_LETTER = "a-zà-öø-ÿß"
TOKEN_PATTERN_LATIN1 = (
    rf"[{_L1_LETTER}0-9]+"
    rf"(?:(?<=[{_L1_LETTER}])'(?=[{_L1_LETTER}])[{_L1_LETTER}0-9]+"
    rf"|(?<=[0-9])[.,](?=[0-9])[{_L1_LETTER}0-9]+)*"
)

# CJK script runs for the CJKAnalyzer preset: maximal runs of adjacent CJK
# letters come out as ONE token here and the analyzer's bigram stage
# splits them (run adjacency ≙ StandardTokenizer's per-char IDEOGRAPHIC/
# HIRAGANA/KATAKANA/HANGUL tokens + CJKBigramFilter's aligned-offsets
# check, cjk/CJKBigramFilter.java:205-214).  BMP subset: Han (incl.
# Ext-A + compatibility), Hiragana, Katakana, Hangul syllables + jamo;
# supplementary-plane ideographs (surrogates) are out of the declared
# subset.  Same literal class in Java, RE2, and Python.
CJK_RUN_CLASS = (
    "぀-ヿ"   # hiragana + katakana
    "㐀-䶿"   # han ext-A
    "一-鿿"   # han
    "豈-﫿"   # han compatibility
    "가-힯"   # hangul syllables
    "ᄀ-ᇿ"   # hangul jamo
)


def _cjk_pattern(base: str) -> str:
    return rf"(?:{base})|[{CJK_RUN_CLASS}]+"


def _base_pattern(letters: str) -> str:
    """The word pattern over an arbitrary letter char-class fragment —
    same shape as TOKEN_PATTERN (maximal letter/digit runs + the UAX#29
    mid-token joiners); the lookarounds stay fixed-width for Java parity."""
    return (
        rf"[{letters}0-9]+"
        rf"(?:(?<=[{letters}])'(?=[{letters}])[{letters}0-9]+"
        rf"|(?<=[0-9])[.,](?=[0-9])[{letters}0-9]+)*"
    )


# UAX29URLEmailTokenizer subset (email/UAX29URLEmailTokenizer.java:36,
# UAX29URLEmailTokenizerImpl.jflex): scheme URLs and RFC-simple emails as
# single tokens, recognized BEFORE the word pattern (the JFlex grammar's
# URL/EMAIL rules outrank word rules).  Declared subset: schemes
# http/https/ftp/file with "//", terminated by whitespace/angle brackets;
# emails = dotted-atom local parts @ dotted domains.  No-scheme URL
# detection (the grammar's embedded IANA TLD list, e.g. "index.ph") and
# the mailto:/comma-delimiter quirks (LUCENE-3880 TODOs in the reference
# test) are OUT of the subset.  Same literal pattern in Java, RE2, Python.
URL_RX = r"(?:https?|ftp|file)://[^\s<>]+"
EMAIL_RX = r"[a-z0-9_.+-]+@[a-z0-9-]+(?:\.[a-z0-9-]+)+"


_TOKEN_RE = re.compile(TOKEN_PATTERN)
_TOKEN_RE_LATIN1 = re.compile(TOKEN_PATTERN_LATIN1)
_TOKEN_RE_CJK = re.compile(_cjk_pattern(TOKEN_PATTERN))
_TOKEN_RE_CJK_LATIN1 = re.compile(_cjk_pattern(TOKEN_PATTERN_LATIN1))
_EXTRA_RE_CACHE: dict = {}


def token_pattern(
    latin1: bool = False, cjk: bool = False, extra: str = "", urls: bool = False
) -> str:
    """``extra`` is a raw regex char-class fragment of ADDITIONAL letters
    appended to the base alphabet (e.g. ``"а-яё"`` for Cyrillic, ``"őűũ"``
    for the Hungarian Latin-Extended-A letters) — the per-language presets
    widen StandardTokenizer's all-Unicode-letters contract to their
    declared script subset this way.  Same literal class in Java (Spark),
    RE2 (DuckDB twins), and Python."""
    if extra:
        letters = ("a-zà-öø-ÿß" if latin1 else "a-z") + extra
        base = _base_pattern(letters)
    else:
        base = TOKEN_PATTERN_LATIN1 if latin1 else TOKEN_PATTERN
    pat = _cjk_pattern(base) if cjk else base
    if urls:
        pat = f"{URL_RX}|{EMAIL_RX}|{pat}"
    return pat


def tokenize_text(
    text: str | None,
    max_token_length: int = MAX_TOKEN_LENGTH,
    latin1: bool = False,
    cjk: bool = False,
    extra: str = "",
    urls: bool = False,
) -> list[str]:
    """Reference tokenizer (oracle path). Returns tokens in order."""
    if not text:
        return []
    out: list[str] = []
    if extra or urls:
        key = (latin1, cjk, extra, urls)
        rx = _EXTRA_RE_CACHE.get(key)
        if rx is None:
            rx = _EXTRA_RE_CACHE[key] = re.compile(
                token_pattern(latin1=latin1, cjk=cjk, extra=extra, urls=urls)
            )
    else:
        rx = {
            (False, False): _TOKEN_RE,
            (True, False): _TOKEN_RE_LATIN1,
            (False, True): _TOKEN_RE_CJK,
            (True, True): _TOKEN_RE_CJK_LATIN1,
        }[(latin1, cjk)]
    for run in rx.findall(text.lower()):
        if len(run) <= max_token_length:
            out.append(run)
        else:
            out.extend(
                run[i : i + max_token_length]
                for i in range(0, len(run), max_token_length)
            )
    return out

