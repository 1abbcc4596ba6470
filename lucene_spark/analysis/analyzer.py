"""Analyzer chain v2: tokenize → stop (position holes) → stem → synonyms.

≙ the reference's analysis chain (SURVEY.md §2.2):

* StopFilter with position holes — ``core/analysis/StopFilter.java`` /
  ``FilteringTokenFilter.java:61-77``: a removed token advances the next
  surviving token's position increment, so survivors keep their ORIGINAL
  token positions (phrase queries must honor the gaps).
* Stemming — ``analysis/common/.../en/PorterStemFilter.java`` (full Porter,
  see analysis/porter.py, validated against the reference's own
  porterTestData vectors) or the S-stemmer (Harman 1991, "How effective is
  suffixing?"), a 3-rule light stemmer that is expressible as a plain SQL
  CASE expression — the cross-engine-checkable option.
* Synonyms — ``analysis/common/.../synonym/SynonymGraphFilter.java``
  subset: single-token, index-time additive synonyms; each mapped term also
  emits its synonyms at the SAME position (posIncrement 0).
* Multi-word synonym graphs — ``SynonymGraphFilter.java:78`` +
  ``core/analysis/FlattenGraphFilter.java`` (the mandatory index-time
  flattening, since the index stores no positionLength): greedy
  longest-match scan over the token stream; a rule (w1..wn -> o1..om)
  emits input token wi at p+i and output token oj at p+j, and the stream
  resumes at p+max(n,m).  This reproduces the FLATTENED positions that
  actually land in a Lucene index — including the documented lossiness
  (e.g. an exact phrase across an n>m rule's tail can miss), and the
  headline win: a phrase over the multi-word OUTPUT matches documents
  containing only the input (["wifi" -> "wireless fidelity"]: doc
  "wifi router" indexes wifi@0 wireless@0 fidelity@1 router@2, so
  "wireless fidelity" matches).  Runs right after tokenization (before
  stop/stem), the filter's canonical chain slot.
* Document length (norms): every EMITTED token counts
  (``FieldInvertState.length``): stopped tokens don't count, synonym
  emissions do — dl = #survivors + #synonym-emissions.

* Per-language presets — ``Analyzer.english/french/german/spanish/italian/
  portuguese()`` reproduce the analysis-common analyzers' default chains
  (elision, Snowball stop sets, light stemmers — see analysis/lang.py).

Engine path: ``analyze_text`` is the one executable chain.  The index
build runs it inside its Arrow-batched invert pass (builder._arrow_base),
minus the dictionary stemmers (Porter + the per-language light stemmers),
which the IndexBuilder applies on the DISTINCT TERM DICTIONARY via an
Arrow-batched UDF + broadcast join — O(|vocabulary|) Python work, never
per token (see builder.apply_dict_stemmer).  Every other Spark caller
uses ``analyze_column``, the same chain as an Arrow-batched column
function.  The DuckDB oracle twins lower the chain to SQL independently.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from lucene_spark.analysis.lang import (
    CJK_STOP_WORDS,
    ELISION_PATTERNS,
    cjk_bigram_expand,
    cjk_width_fold,
    FRENCH_STOP_WORDS,
    GERMAN_STOP_WORDS,
    ITALIAN_STOP_WORDS,
    PORTUGUESE_STOP_WORDS,
    SPANISH_STOP_WORDS,
    elide,
    finnish_light_stem,
    french_light_stem,
    french_minimal_stem,
    german_minimal_stem,
    german_normalize_and_stem,
    hungarian_light_stem,
    italian_light_stem,
    portuguese_light_stem,
    russian_light_stem,
    spanish_light_stem,
    spanish_plural_stem,
    swedish_light_stem,
)
from lucene_spark.analysis.lang_stopwords import (
    ARABIC_STOP_WORDS,
    BRAZILIAN_STOP_WORDS,
    BENGALI_STOP_WORDS,
    BULGARIAN_STOP_WORDS,
    CZECH_STOP_WORDS,
    FINNISH_STOP_WORDS,
    GALICIAN_STOP_WORDS,
    GREEK_STOP_WORDS,
    HINDI_STOP_WORDS,
    INDONESIAN_STOP_WORDS,
    LATVIAN_STOP_WORDS,
    NORWEGIAN_STOP_WORDS,
    PERSIAN_STOP_WORDS,
    SORANI_STOP_WORDS,
    HUNGARIAN_STOP_WORDS,
    RUSSIAN_STOP_WORDS,
    SWEDISH_STOP_WORDS,
)
from lucene_spark.analysis.greek import (
    GREEK_FOLD,
    GREEK_LETTERS,
    greek_fold_and_stem,
)
from lucene_spark.analysis.intl import (
    ARABIC_LETTERS,
    BENGALI_LETTERS,
    BULGARIAN_LETTERS,
    CZECH_LETTERS,
    HINDI_LETTERS,
    LATVIAN_LETTERS,
    PERSIAN_FOLD,
    PERSIAN_LETTERS,
    TELUGU_DIGIT_FOLD,
    TELUGU_LETTERS,
    arabic_normalize_and_stem,
    bengali_normalize_and_stem,
    bulgarian_stem,
    czech_stem,
    hindi_normalize_and_stem,
    indonesian_stem,
    latvian_stem,
    norwegian_light_stem,
    norwegian_minimal_stem,
    persian_stem,
    telugu_normalize_and_stem,
)
from lucene_spark.analysis.brazilian import brazilian_stem
from lucene_spark.analysis.kstem import kstem_stem
from lucene_spark.analysis.rslp import (
    galician_minimal_stem,
    galician_stem,
    portuguese_minimal_stem,
    portuguese_rslp_stem,
)
from lucene_spark.analysis.sorani import SORANI_LETTERS, sorani_normalize_and_stem
from lucene_spark.analysis.wave3 import (
    APOSTROPHE_SUB,
    ARMENIAN_LETTERS,
    DEVANAGARI_DIGIT_FOLD,
    ESTONIAN_LETTERS,
    IRISH_ECLIPSIS_SUB,
    IRISH_HYPHENATIONS,
    LITHUANIAN_LETTERS,
    ROMANIAN_LETTERS,
    SERBIAN_LETTERS,
    TAMIL_DIGIT_FOLD,
    TAMIL_LETTERS,
    TURKISH_I_FOLD,
    TURKISH_LETTERS,
    armenian_stem,
    basque_stem,
    catalan_stem,
    danish_stem,
    dutch_stem,
    english_snowball_stem,
    estonian_stem,
    irish_stem,
    lithuanian_stem,
    nepali_stem,
    romanian_stem,
    serbian_stem,
    tamil_stem,
    turkish_stem,
)
from lucene_spark.analysis.lang_stopwords import (
    ARMENIAN_STOP_WORDS,
    BASQUE_STOP_WORDS,
    CATALAN_STOP_WORDS,
    DANISH_STOP_WORDS,
    DUTCH_STOP_WORDS,
    ESTONIAN_STOP_WORDS,
    IRISH_STOP_WORDS,
    LITHUANIAN_STOP_WORDS,
    NEPALI_STOP_WORDS,
    ROMANIAN_STOP_WORDS,
    SERBIAN_STOP_WORDS,
    TAMIL_STOP_WORDS,
    TELUGU_STOP_WORDS,
    TURKISH_STOP_WORDS,
)
from lucene_spark.analysis.porter import porter_stem
from lucene_spark.analysis.tokenizer import CJK_RUN_CLASS, tokenize_text

import re as _re

_CJK_RUN_RE = _re.compile(f"^[{CJK_RUN_CLASS}]")

# EnglishAnalyzer.java:46-50 — the default English stop set
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

# Dictionary-stage stemmers: pure per-term functions the IndexBuilder
# applies to the DISTINCT TERM DICTIONARY (builder.apply_dict_stemmer),
# never per token.  's' runs per token in analyze_text (s_stem_sql is its
# SQL twin); these run as one Arrow batch over the vocabulary.
DICT_STEMMERS = {
    "porter": porter_stem,
    "kstem": kstem_stem,
    "french_light": french_light_stem,
    "german_light": german_normalize_and_stem,
    "spanish_light": spanish_light_stem,
    "italian_light": italian_light_stem,
    "portuguese_light": portuguese_light_stem,
    "russian_light": russian_light_stem,
    "swedish_light": swedish_light_stem,
    "finnish_light": finnish_light_stem,
    "hungarian_light": hungarian_light_stem,
    "galician": galician_stem,
    "portuguese_rslp": portuguese_rslp_stem,
    "brazilian": brazilian_stem,
    "sorani": sorani_normalize_and_stem,
    # minimal / plural-only variants (the *MinimalStemFilter zoo): fewer
    # conflations, same dictionary-stage plumbing
    "french_minimal": french_minimal_stem,
    "german_minimal": german_minimal_stem,
    "spanish_plural": spanish_plural_stem,
    "portuguese_minimal": portuguese_minimal_stem,
    "galician_minimal": galician_minimal_stem,
    # round-5 international wave (analysis/intl.py, analysis/greek.py)
    "arabic": arabic_normalize_and_stem,
    "persian": persian_stem,  # normalization = the preset's char_fold
    "czech": czech_stem,
    "bulgarian": bulgarian_stem,
    "hindi": hindi_normalize_and_stem,
    "bengali": bengali_normalize_and_stem,
    "indonesian": indonesian_stem,
    "latvian": latvian_stem,
    "norwegian_light": norwegian_light_stem,
    "norwegian_minimal": norwegian_minimal_stem,
    "greek": greek_fold_and_stem,  # idempotent over the preset's char_fold
    # round-5 wave 3: the Snowball-stemmed chains (analysis/wave3.py,
    # analysis/snowball/ — 503k-vector parity with the compiled
    # reference stemmers; composition notes in the wave3 docstring)
    "danish": danish_stem,
    "dutch": dutch_stem,  # StemmerOverrideFilter dict + Snowball
    "romanian": romanian_stem,  # RomanianNormalizer + Snowball
    "catalan": catalan_stem,
    "lithuanian": lithuanian_stem,
    "irish": irish_stem,
    "armenian": armenian_stem,
    "basque": basque_stem,
    "nepali": nepali_stem,  # IndicNormalizer(Devanagari) + Snowball
    "estonian": estonian_stem,
    "tamil": tamil_stem,  # IndicNormalizer(Tamil) + Snowball
    "telugu": telugu_normalize_and_stem,
    "turkish": turkish_stem,
    "serbian": serbian_stem,  # Snowball + SerbianNormalizationFilter
    "english_snowball": english_snowball_stem,  # Porter2
}


def s_stem(w: str) -> str:
    """Harman S-stemmer: 3 ordered rules; the FIRST rule whose suffix
    matches ends processing (its exception list blocks without falling
    through): ies→y (unless eies/aies); es→e (unless aes/ees/oes);
    s→ε (unless us/ss)."""
    if w.endswith("ies"):
        return w if w.endswith(("eies", "aies")) else w[:-3] + "y"
    if w.endswith("es"):
        return w if w.endswith(("aes", "ees", "oes")) else w[:-1]
    if w.endswith("s"):
        return w if w.endswith(("us", "ss")) else w[:-1]
    return w


def s_stem_sql(expr: str) -> str:
    """DuckDB twin of s_stem over a VARCHAR expression."""
    return f"""CASE
  WHEN ({expr}) LIKE '%eies' OR ({expr}) LIKE '%aies' THEN ({expr})
  WHEN ({expr}) LIKE '%ies' THEN substr(({expr}), 1, length(({expr})) - 3) || 'y'
  WHEN ({expr}) LIKE '%aes' OR ({expr}) LIKE '%ees' OR ({expr}) LIKE '%oes' THEN ({expr})
  WHEN ({expr}) LIKE '%es' THEN substr(({expr}), 1, length(({expr})) - 1)
  WHEN ({expr}) LIKE '%us' OR ({expr}) LIKE '%ss' THEN ({expr})
  WHEN ({expr}) LIKE '%s' THEN substr(({expr}), 1, length(({expr})) - 1)
  ELSE ({expr}) END"""


# ASCIIFoldingFilter subset: 1:1 Latin-1 / Latin-Extended-A/B foldings,
# applied as a CHAR filter before tokenization (the tokenizer's [a-z0-9]
# alphabet would otherwise split words at accented characters).  The
# reference folds a far larger table (ASCIIFoldingFilter.java:78+); this
# covers the Latin-script accents; multi-char ligatures (æ, œ, ß) are out
# of the 1:1 subset and documented as such.  The table is DERIVED, not
# hand-written: NFD-decompose each code point in U+00C0–U+024F and keep
# the base letter when the decomposition is base+combining-marks, plus a
# small manual table for the letters that don't decompose (stroke/bar
# forms the reference also folds: ø→o, ł→l, đ→d, ð→d, ħ→h, ŧ→t, þ→th is
# multi-char so excluded, ı→i).
def _build_fold_table() -> tuple[str, str]:
    import unicodedata

    manual = {"ø": "o", "ł": "l", "đ": "d", "ð": "d", "ħ": "h", "ŧ": "t", "ı": "i"}
    frm, to = [], []
    for cp in range(0x00C0, 0x0250):
        ch = chr(cp)
        low = manual.get(ch.lower())
        if low is None:
            decomp = unicodedata.normalize("NFD", ch)
            base = "".join(c for c in decomp if not unicodedata.combining(c))
            if len(base) != 1:
                continue
            low = base.lower()
            if low == ch:
                continue
        if "a" <= low <= "z":
            frm.append(ch)
            to.append(low)
    return "".join(frm), "".join(to)


_FOLD_FROM, _FOLD_TO = _build_fold_table()
_FOLD_TABLE = str.maketrans(_FOLD_FROM, _FOLD_TO)


def scandinavian_normalize(t: str) -> str:
    """Faithful transliteration of ScandinavianNormalizer.processToken
    (miscellaneous/ScandinavianNormalizer.java:79-137, ALL_FOLDINGS):
    one left-to-right scan, single-char ä/Ä/ö/Ö checks first, then the
    aa/ao/ae/oe/oo digraph folds (delete second char, don't re-examine)."""
    buf = list(t)
    i = 0
    while i < len(buf):
        c = buf[i]
        if c == "ä":
            buf[i] = "æ"
        elif c == "Ä":
            buf[i] = "Æ"
        elif c == "ö":
            buf[i] = "ø"
        elif c == "Ö":
            buf[i] = "Ø"
        elif i + 1 < len(buf):
            n = buf[i + 1]
            if c == "a" and n in "aAoO":
                del buf[i + 1]
                buf[i] = "å"
            elif c == "A" and n in "aAoO":
                del buf[i + 1]
                buf[i] = "Å"
            elif c == "a" and n in "eE":
                del buf[i + 1]
                buf[i] = "æ"
            elif c == "A" and n in "eE":
                del buf[i + 1]
                buf[i] = "Æ"
            elif c == "o" and n in "eEoO":
                del buf[i + 1]
                buf[i] = "ø"
            elif c == "O" and n in "eEoO":
                del buf[i + 1]
                buf[i] = "Ø"
        i += 1
    return "".join(buf)


def scandinavian_fold(t: str) -> str:
    """Faithful transliteration of ScandinavianFoldingFilter.incrementToken
    (miscellaneous/ScandinavianFoldingFilter.java:44-96): å/ä/æ -> a,
    ö/ø -> o (both cases), then a[aAeEoO] / o[eEoO] digraphs collapse to
    the first char."""
    buf = list(t)
    i = 0
    while i < len(buf):
        c = buf[i]
        if c in "åäæ":
            buf[i] = "a"
        elif c in "ÅÄÆ":
            buf[i] = "A"
        elif c in "öø":
            buf[i] = "o"
        elif c in "ÖØ":
            buf[i] = "O"
        elif i + 1 < len(buf):
            n = buf[i + 1]
            if c in "aA" and n in "aAeEoO":
                del buf[i + 1]
            elif c in "oO" and n in "eEoO":
                del buf[i + 1]
        i += 1
    return "".join(buf)


_SCANDINAVIAN_PY = {"normalize": scandinavian_normalize, "fold": scandinavian_fold}


def ascii_fold(text: str) -> str:
    return text.translate(_FOLD_TABLE)


_CHAR_FOLD_CACHE: dict = {}
_RX_CACHE: dict = {}


def _check_replacement(rep: str) -> None:
    """Reject replacement escapes outside the shared python/Java subset:
    only \\N backrefs and an escaped backslash are portable.  Python's
    re.sub expands \\t/\\n/\\g<N> while Java's regexp_replace reads them
    as literal chars — write literal characters directly instead."""
    i = 0
    while i < len(rep):
        if rep[i] == "\\":
            if i + 1 >= len(rep) or not (rep[i + 1].isdigit() or rep[i + 1] == "\\"):
                raise ValueError(
                    f"unsupported replacement escape in {rep!r}: only \\N "
                    "backrefs and \\\\ are portable across the python and "
                    "JVM lowerings"
                )
            i += 2
            continue
        i += 1


def _to_plain(v):
    if isinstance(v, frozenset):
        return sorted(v)
    if isinstance(v, tuple):
        return [_to_plain(x) for x in v]
    return v


def _from_plain(v):
    return tuple(map(_from_plain, v)) if isinstance(v, list) else v


# Stage composition, checked in one place (Analyzer.__post_init__): a
# stage is "on" when its field differs from the default.  Each entry below
# names a restricted stage and the stages it refuses; a pair not listed
# either way composes.  An unsupported pair raises — the chain never drops
# a stage silently.
_REFUSES = {
    # custom token patterns replace the tokenizer: the alphabet and
    # tokenizer specials have nothing to act on
    "token_match_pattern": (
        "token_split_pattern", "latin1", "extra_letters", "cjk_bigrams",
        "urls_emails", "word_delimiter",
    ),
    "token_split_pattern": (
        "latin1", "extra_letters", "cjk_bigrams", "urls_emails",
        "word_delimiter",
    ),
    # WDGF brings its own whitespace tokenizer: the standard tokenizer's
    # options and the raw-stream rewriters after it would be skipped;
    # stopwords/stemmer/synonyms compose, like the reference chains that
    # follow WDGF with LowerCase/Stop/Stem
    "word_delimiter": (
        "latin1", "extra_letters", "urls_emails", "limit_tokens",
        "cjk_bigrams", "elision", "possessive", "scandinavian",
        "pattern_replace", "graph_synonyms", "shingle_size", "ngram",
        "common_grams", "pattern_capture",
    ),
    # bigrams rewrite the raw stream; the stem/synonym/shingle/gram stages
    # assume word tokens
    "cjk_bigrams": (
        "stemmer", "synonyms", "graph_synonyms", "shingle_size", "ngram",
        "scandinavian", "common_grams",
    ),
    # shingles and common grams read the raw stream: a stem/synonym/gram
    # stage on the unigram side would make the two vocabularies diverge,
    # and a position-shifting graph stage would desynchronize them
    "shingle_size": ("stemmer", "synonyms", "graph_synonyms", "ngram"),
    "common_grams": (
        "stemmer", "synonyms", "graph_synonyms", "shingle_size", "ngram",
        "edge_ngram",
    ),
    # FixedShingleFilter drops the unigram stream, so every unigram-side
    # stage would have nothing to act on
    "fixed_shingles": (
        "stopwords", "stemmer", "synonyms", "length_range", "keep_words",
        "truncate", "edge_ngram", "stem_exclusions",
    ),
    "graph_synonyms": ("ngram",),
    "ngram": ("stemmer", "synonyms", "edge_ngram"),
    "edge_ngram": ("stemmer", "synonyms"),
    # a stem of a reversed token is meaningless; grams/shingles of it too
    "reverse_tokens": (
        "stemmer", "synonyms", "graph_synonyms", "shingle_size", "ngram",
        "edge_ngram", "common_grams",
    ),
    "pattern_capture": (
        "stemmer", "synonyms", "graph_synonyms", "shingle_size", "ngram",
        "edge_ngram", "reverse_tokens",
    ),
}
_REQUIRES = {
    "fixed_shingles": ("shingle_size",),
    "wd_prot_words": ("word_delimiter",),
}


@dataclass(frozen=True)
class Analyzer:
    """Immutable analyzer spec shared by engine, oracle, and SQL twins.

    stemmer: None | 's' (Harman, SQL-expressible) | 'porter' (full Porter,
    applied on the term dictionary by the builder).
    synonyms: mapping term -> tuple of additional terms emitted at the same
    position (applied AFTER stemming, on the stemmed form, like an
    index-time SynonymGraphFilter placed last in the chain).
    shingle_size: >= 2 emits word n-grams of that size ALONGSIDE unigrams
    (ShingleFilter.java with outputUnigrams=true, separator ' '), built
    from the RAW token stream (the filter's usual right-after-tokenizer
    slot) at the first word's position; stop/stem apply to unigrams only.
    ngram: (min, max) character n-grams REPLACING each surviving token at
    its position (NGramTokenFilter.java, preserveOriginal=false).

    Each stage is one field below; a field left at its default is off.
    Which stages compose is decided only by the module-level ``_REFUSES``
    table and the ``_REQUIRES`` list, checked by one loop in
    ``__post_init__``: an unsupported pair raises ``ValueError`` naming
    both stages instead of silently dropping one.  ``is_noop``,
    ``to_json`` and ``from_json`` derive from the field list, and
    ``analyze_text`` / ``analyze_query_positions`` share one chain
    (``_token_stream`` + ``_token_filters``), so adding a stage means
    one field declaration, its step in the chain, and a table entry if
    it is restricted.
    """

    stopwords: frozenset = frozenset()
    stemmer: str | None = None
    synonyms: tuple = ()  # tuple of (term, extra_term) pairs
    # index-time multi-word synonym graph rules: (input_phrase, output_phrase)
    # space-separated strings; additive (originals kept), greedy longest
    # input match, flattened positions (module docstring).  Applied on the
    # raw token stream BEFORE stop/stem (so porter composes, unlike the
    # post-stem single-token ``synonyms``).
    graph_synonyms: tuple = ()
    shingle_size: int = 0
    ngram: tuple | None = None  # (min_gram, max_gram)
    # EdgeNGramTokenFilter (ngram/EdgeNGramTokenFilter.java:31,
    # preserveOriginal=false): front grams min..max REPLACING each
    # surviving token at its position; tokens shorter than min_gram drop
    # WITH a position hole (TestEdgeNGramTokenFilter.testPreserveOriginal
    # posInc vector 2,0,1,0,1)
    edge_ngram: tuple | None = None
    # ASCIIFoldingFilter (1:1 subset) as a pre-tokenize char filter —
    # composes with every other stage
    ascii_folding: bool = False
    # EnglishPossessiveFilter (en/EnglishPossessiveFilter.java:33): strip a
    # trailing 's right after tokenization (the compound tokenizer keeps
    # "spark's" as one token), BEFORE stop/stem — the EnglishAnalyzer slot
    possessive: bool = False
    # ElisionFilter, lowered as a pre-tokenize char filter (lang.py module
    # docstring): None | 'fr' (FrenchAnalyzer.DEFAULT_ARTICLES) | 'it'
    # (ItalianAnalyzer.DEFAULT_ARTICLES)
    elision: str | None = None
    # widen the tokenizer alphabet to Latin-1 letters (tokenizer.py
    # TOKEN_PATTERN_LATIN1) — the per-language presets set this
    latin1: bool = False
    # ADDITIONAL letters appended to the token alphabet, as a raw regex
    # char-class fragment (tokenizer.token_pattern extra): the Russian
    # preset widens to Cyrillic ("а-яё"), the Hungarian one adds the
    # Latin-Extended-A letters its stemmer folds ("őűũ") — the declared
    # per-script subset of StandardTokenizer's all-Unicode-letters contract
    extra_letters: str = ""
    # CJKBigramFilter (cjk/CJKBigramFilter.java:122-199, outputUnigrams=
    # false): CJK script runs tokenize as ONE token (tokenizer.py
    # CJK_RUN_CLASS) and expand to character bigrams (lone char ->
    # unigram); positions are dense over the EXPANDED stream, then stop
    # holes apply (the filter's StopFilter-after-bigram slot)
    cjk_bigrams: bool = False
    # the FULL CJKWidthFilter as a pre-tokenize char filter: fullwidth
    # ASCII -> latin, halfwidth katakana -> kana, voiced-mark combining
    width_fold: bool = False
    # generic per-char fold as a pre-tokenize char filter: (from, to)
    # translate pair, chars beyond len(to) are DELETED (F.translate /
    # str.maketrans / DuckDB translate all share this contract).  Lowers
    # the char-for-char normalizer filters that run BEFORE StopFilter in
    # their reference chains — GreekLowerCaseFilter (el), ArabicNormalizer
    # + PersianNormalizer (fa) — so stop matching sees folded tokens
    # exactly like the reference
    char_fold: tuple = ()
    # generic pre-tokenize regex substitutions: tuple of (pattern,
    # replacement) pairs in Python backref syntax, applied after
    # char_fold and before elision.  Lowers the raw-case-dependent
    # per-token filters that cannot be 1:1 translates — ApostropheFilter
    # (tr/ApostropheFilter.java) and the Irish eclipsis split
    # (wave3.py).  Patterns stay inside the shared Python-re / RE2
    # subset (no lookaround, numbered backrefs only) so the DuckDB
    # oracle twins replay them verbatim.
    pre_sub: tuple = ()
    # WordDelimiterGraphFilter flags (analysis/worddelim.py — 0 = off).
    # When set, the chain becomes the reference's canonical WDGF stack
    # (TestWordDelimiterGraphFilter's analyzers): WhitespaceTokenizer
    # (case-preserving, the MockTokenizer.WHITESPACE slot) → WDGF →
    # LowerCaseFilter → StopFilter → stemmer.  Positions are the filter's
    # own posInc stream (parts advance, catenations overlay, swallowed
    # all-delimiter tokens leave holes); dl counts every emission
    # (FieldInvertState.length counts what the filter emits).
    word_delimiter: int = 0
    # WDGF protected words (pass through unsplit), matched case-sensitively
    # against the raw whitespace tokens; requires word_delimiter
    wd_prot_words: tuple = ()
    # SetKeywordMarkerFilter (miscellaneous/SetKeywordMarkerFilter.java:28,
    # KeywordMarkerFilter.java:38): surface forms the stem stage passes
    # through unchanged (KeywordAttribute contract — every reference
    # stemmer checks isKeyword() before touching the term).  Matched
    # against the token as it reaches the stem stage (post-lowercase,
    # post-truncate) — the filter's canonical right-before-stemmer slot.
    stem_exclusions: frozenset = frozenset()
    # LengthFilter (miscellaneous/LengthFilter.java:33) == CodepointCount-
    # Filter (CodepointCountFilter.java:31) on our codepoint-counted
    # lengths: keep tokens with min <= len <= max (inclusive), dropping
    # with position holes (FilteringTokenFilter, like StopFilter).
    length_range: tuple | None = None
    # KeepWordFilter (miscellaneous/KeepWordFilter.java:30): the inverse
    # StopFilter — drop every token NOT in the set, with position holes.
    keep_words: frozenset = frozenset()
    # TruncateTokenFilter (miscellaneous/TruncateTokenFilter.java:33):
    # truncate each surviving token to this many leading chars (0 = off).
    # Chain slot: after the hole-preserving drops (stop/length/keep),
    # before the stem stage — the usual StopFilter->Truncate factory order.
    truncate: int = 0
    # CommonGramsFilter (commongrams/CommonGramsFilter.java:40): for each
    # consecutive raw-token pair where either side is a common word, emit
    # the bigram "w1_w2" at the FIRST word's position (posInc 0, type
    # 'gram') ALONGSIDE the unigrams; stop removal (if configured) then
    # drops common unigrams while the grams survive — the
    # phrase-acceleration layout.  Composes with stopwords only (grams
    # come from the raw stream, like shingles).
    common_grams: frozenset = frozenset()
    # LimitTokenCountFilter (miscellaneous/LimitTokenCountFilter.java:33,
    # the LimitTokenCountAnalyzer slot right after the tokenizer): keep
    # only the first N raw tokens per document (0 = off); everything
    # downstream (stop/stem/shingles/dl) sees the capped stream
    limit_tokens: int = 0
    # UAX29URLEmailTokenizer (email/UAX29URLEmailTokenizer.java:36):
    # scheme URLs and RFC-simple emails come out as single tokens ahead
    # of the word rules (declared subset — tokenizer.py URL_RX/EMAIL_RX
    # docstring; no-scheme TLD URLs and mailto: quirks excluded)
    urls_emails: bool = False
    # ScandinavianNormalizationFilter ('normalize',
    # miscellaneous/ScandinavianNormalizer.java:79: ä->æ, ö->ø, aa/ao->å,
    # ae->æ, oe/oo->ø with ALL_FOLDINGS) or ScandinavianFoldingFilter
    # ('fold', ScandinavianFoldingFilter.java:44: å/ä/æ->a, ö/ø->o,
    # a[aeo]/o[eo] digraphs collapse to the first char).  Applied per
    # token right after tokenization (before stop/stem).  The single
    # left-to-right scan with per-position priority decomposes into
    # ordered global regex passes — digraphs (pure-ASCII patterns whose
    # outputs can never re-match) BEFORE the 1:1 translate, leftmost
    # matches first within each pass — proven equal on the reference's
    # own TestScandinavian*Filter vectors plus randomized strings.
    scandinavian: str | None = None
    # PatternReplaceFilter (pattern/PatternReplaceFilter.java:33) with
    # replaceAll=true (the PatternReplaceFilterFactory default; the
    # replace-first variant is out of scope): (pattern, replacement)
    # pairs applied IN ORDER to every token right after the tokenize
    # rewrites, before stop.  Patterns stay inside the shared
    # Python-re/RE2 subset; replacements use Python backref syntax.
    pattern_replace: tuple = ()
    # ReverseStringFilter (reverse/ReverseStringFilter.java:36): reverse
    # every surviving token — the reversed-field layout that turns a
    # leading wildcard into a prefix seek (the filter's documented use).
    # Applied after the hole-preserving drops and truncate; composes with
    # the drop/rewrite stages only (_REFUSES).  Stem exclusions do not
    # protect a token from it (ReverseStringFilter ignores KeywordAttribute).
    reverse_tokens: bool = False
    # FixedShingleFilter (shingle/FixedShingleFilter.java:35 — a
    # ShingleFilter with outputUnigrams=false): ONLY the size-n word
    # shingles are emitted; requires shingle_size and refuses the
    # unigram-side stages, which have no stream to act on (_REFUSES).
    fixed_shingles: bool = False
    # PatternCaptureGroupTokenFilter (pattern/PatternCaptureGroupTokenFilter.
    # java:56) with preserveOriginal=true: every capture group of every
    # match of every pattern emits as an extra token at the SOURCE token's
    # position (posInc 0); empty captures and whole-token captures are
    # skipped (:99-104).  Emission order is canonicalized to (pattern,
    # group, match) with per-token dedup (RemoveDuplicates semantics —
    # the reference's min-start-offset interleave orders same-position
    # attribute packets, which carries no index-level meaning; duplicate
    # same-position tokens would break the distinct-positions postings
    # invariant).  The expanded stream then passes StopFilter, like the
    # filter's right-after-tokenizer factory slot.
    pattern_capture: tuple = ()
    # PatternTokenizer (pattern/PatternTokenizer.java:45) — replaces the
    # StandardTokenizer subset with a regex-defined tokenizer over the
    # lowered text (the engine's lowercase substrate, documented):
    # ``token_match_pattern`` = group-0 MATCH mode (each regex match is a
    # token; SimplePatternTokenizer shape), ``token_split_pattern`` =
    # group=-1 SPLIT mode (pattern matches are the separators, empty
    # slices dropped; SimplePatternSplitTokenizer shape).  Mutually
    # exclusive; compose with the per-token/drop stages but not with the
    # alphabet/tokenizer specials (latin1/extra/cjk/urls/word_delimiter).
    token_match_pattern: str | None = None
    token_split_pattern: str | None = None

    def __post_init__(self):
        active = [
            f.name for f in fields(self) if getattr(self, f.name) != f.default
        ]
        errors = [
            f"{stage} requires {other}"
            for stage in active
            for other in _REQUIRES.get(stage, ())
            if other not in active
        ] + [
            f"{stage} does not compose with {other}"
            for stage in active
            for other in _REFUSES.get(stage, ())
            if other in active
        ]
        if errors:
            raise ValueError("; ".join(errors))
        for pat in (self.token_match_pattern, self.token_split_pattern):
            if pat and _re.compile(pat).groups:
                # re.findall/re.split return group captures, while SQL
                # regexp_extract_all/split match group 0 / drop
                # separators — a grouped pattern silently diverges between
                # the chain and its SQL twins.  Use non-capturing (?:...)
                # groups.
                raise ValueError(
                    "custom token patterns must not contain capture "
                    "groups (use (?:...))"
                )
        for pat in self.pattern_capture:
            if _re.compile(pat).groups < 1:
                raise ValueError(f"pattern_capture pattern has no groups: {pat!r}")
        for pat, rep in self.pattern_replace:
            _re.compile(pat)  # raise early on a bad pattern
            _check_replacement(rep)
        for pat, rep in self.pre_sub:
            _check_replacement(rep)
        if self.word_delimiter:
            from lucene_spark.analysis.worddelim import _ALL_FLAGS

            if self.word_delimiter & ~_ALL_FLAGS:
                raise ValueError(
                    f"unknown word_delimiter flags: {self.word_delimiter}"
                )
        if self.stemmer not in (None, "s", *DICT_STEMMERS):
            raise ValueError(f"unknown stemmer {self.stemmer!r}")
        if self.elision not in (None, *ELISION_PATTERNS):
            raise ValueError(f"unknown elision language {self.elision!r}")
        if self.stemmer in DICT_STEMMERS and self.synonyms:
            # a composition rule on the stemmer's VALUE, not its presence:
            # dictionary stemmers run on the term dictionary AFTER
            # inversion; a synonym stage ordered after them would need a
            # second dictionary pass — out of scope (use stemmer='s' with
            # synonyms instead)
            raise ValueError(
                f"synonyms are not supported with stemmer={self.stemmer!r}"
            )
        for rule in self.graph_synonyms:
            inp, out = rule
            if not str(inp).split() or not str(out).split():
                raise ValueError(f"empty side in graph synonym rule {rule!r}")
        if self.shingle_size and self.shingle_size < 2:
            raise ValueError("shingle_size must be >= 2 (or 0 to disable)")
        for name in ("ngram", "edge_ngram"):
            rng = getattr(self, name)
            if rng is not None and not (1 <= rng[0] <= rng[1]):
                # EdgeNGramTokenFilter.java:58-63 rejects minGram < 1 and
                # minGram > maxGram
                raise ValueError(f"bad {name} range {rng!r}")
        if self.length_range is not None:
            mn, mx = self.length_range
            if not (0 <= mn <= mx):
                # LengthFilter.java:44 rejects negative min / max < min
                raise ValueError(f"bad length_range {self.length_range!r}")
        if self.scandinavian not in (None, *_SCANDINAVIAN_PY):
            raise ValueError(
                f"scandinavian must be normalize|fold, got {self.scandinavian!r}"
            )
        if self.truncate < 0:
            # TruncateTokenFilter.java:38 requires length >= 1
            raise ValueError(f"truncate must be >= 0, got {self.truncate}")
        if self.limit_tokens < 0:
            # LimitTokenCountFilter.java:52: maxTokenCount must be > 0
            raise ValueError(
                f"limit_tokens must be >= 0, got {self.limit_tokens}"
            )

    @classmethod
    def english(cls, stemmer: str = "porter") -> "Analyzer":
        """The EnglishAnalyzer preset (analysis/common/src/java/org/apache/
        lucene/analysis/en/EnglishAnalyzer.java:37-52): possessive filter +
        ENGLISH_STOP_WORDS (with position holes) + PorterStemFilter.

        ``stemmer="kstem"`` swaps the stem stage for Krovetz' KStem
        (en/KStemFilter.java — the chain several reference English
        analyzers default to; see analysis/kstem.py).  ``stemmer=
        "snowball"`` swaps in Porter2 (org.tartarus.snowball.ext.
        EnglishStemmer via SnowballPorterFilterFactory — the third
        English stem stage the reference ships; analysis/snowball/)."""
        if stemmer not in ("porter", "kstem", "snowball"):
            raise ValueError(
                f"english() stemmer must be porter|kstem|snowball, got {stemmer!r}"
            )
        key = "english_snowball" if stemmer == "snowball" else stemmer
        return cls(stopwords=ENGLISH_STOP_WORDS, stemmer=key, possessive=True)

    @classmethod
    def brazilian(cls) -> "Analyzer":
        """The BrazilianAnalyzer preset (br/BrazilianAnalyzer.java:43-120):
        StandardTokenizer + LowerCase + br/stopwords.txt (plain wordlist,
        matched BEFORE stemming) + BrazilianStemFilter (analysis/
        brazilian.py — the Orengo-style heuristic stemmer, which deaccents
        internally; the token alphabet stays Latin-1 for the accented
        surface forms)."""
        return cls(
            stopwords=BRAZILIAN_STOP_WORDS, stemmer="brazilian", latin1=True
        )

    @classmethod
    def french(cls, stemmer: str = "light") -> "Analyzer":
        """The FrenchAnalyzer preset (fr/FrenchAnalyzer.java:129-137):
        elision (DEFAULT_ARTICLES) + french_stop.txt (position holes) +
        FrenchLightStemFilter.

        ``stemmer="minimal"`` swaps in FrenchMinimalStemFilter
        (fr/FrenchMinimalStemmer.java — Savoy's minimal stemmer,
        frminimaltestdata.zip)."""
        if stemmer not in ("light", "minimal"):
            raise ValueError(f"french() stemmer must be light|minimal, got {stemmer!r}")
        return cls(
            stopwords=FRENCH_STOP_WORDS,
            stemmer=f"french_{stemmer}",
            elision="fr",
            latin1=True,
        )

    @classmethod
    def german(cls, stemmer: str = "light") -> "Analyzer":
        """The GermanAnalyzer preset (de/GermanAnalyzer.java:129-137):
        german_stop.txt + GermanNormalizationFilter + GermanLightStemFilter
        (both normalization and stem run at the dictionary stage).

        ``stemmer="minimal"`` swaps in GermanMinimalStemFilter
        (de/GermanMinimalStemmer.java, deminimaltestdata.zip — folds its
        own umlauts, so no separate normalization pass)."""
        if stemmer not in ("light", "minimal"):
            raise ValueError(f"german() stemmer must be light|minimal, got {stemmer!r}")
        return cls(
            stopwords=GERMAN_STOP_WORDS, stemmer=f"german_{stemmer}", latin1=True
        )

    @classmethod
    def spanish(cls, stemmer: str = "light") -> "Analyzer":
        """The SpanishAnalyzer preset (es/SpanishAnalyzer.java:113-119):
        spanish_stop.txt + SpanishLightStemFilter.

        ``stemmer="plural"`` swaps in SpanishPluralStemFilter
        (es/SpanishPluralStemmer.java — plural-only reduction with the
        invariant/special word lists, espluraltestdata.zip)."""
        if stemmer not in ("light", "plural"):
            raise ValueError(f"spanish() stemmer must be light|plural, got {stemmer!r}")
        return cls(
            stopwords=SPANISH_STOP_WORDS, stemmer=f"spanish_{stemmer}", latin1=True
        )

    @classmethod
    def italian(cls) -> "Analyzer":
        """The ItalianAnalyzer preset (it/ItalianAnalyzer.java:121-129):
        elision (DEFAULT_ARTICLES) + italian_stop.txt +
        ItalianLightStemFilter."""
        return cls(
            stopwords=ITALIAN_STOP_WORDS,
            stemmer="italian_light",
            elision="it",
            latin1=True,
        )

    @classmethod
    def cjk(cls) -> "Analyzer":
        """The CJKAnalyzer preset (cjk/CJKAnalyzer.java:94-101):
        CJKWidthFilter (fullwidth ASCII + halfwidth katakana with
        voiced-mark combining) + CJKBigramFilter + the analyzer's
        default stop set (English words)."""
        return cls(
            stopwords=CJK_STOP_WORDS, cjk_bigrams=True, width_fold=True
        )

    @classmethod
    def portuguese(cls, stemmer: str = "light") -> "Analyzer":
        """The PortugueseAnalyzer preset (pt/PortugueseAnalyzer.java:112-119):
        portuguese_stop.txt + PortugueseLightStemFilter.

        ``stemmer="rslp"`` swaps the stem stage for the original Orengo RSLP
        (pt/PortugueseStemFilter.java + pt/PortugueseStemmer.java — the zoo
        alternative validated by ptrslptestdata.zip; see analysis/rslp.py)."""
        if stemmer not in ("light", "rslp", "minimal"):
            raise ValueError(
                f"portuguese() stemmer must be light|rslp|minimal, got {stemmer!r}"
            )
        return cls(
            stopwords=PORTUGUESE_STOP_WORDS,
            stemmer=f"portuguese_{stemmer}",
            latin1=True,
        )

    @classmethod
    def portuguese_rslp(cls) -> "Analyzer":
        """Alias preset for the gate/CLI surface: portuguese(stemmer="rslp")."""
        return cls.portuguese(stemmer="rslp")

    @classmethod
    def galician(cls, stemmer: str = "rslg") -> "Analyzer":
        """The GalicianAnalyzer preset (gl/GalicianAnalyzer.java:103-116):
        gl/stopwords.txt + GalicianStemFilter (the RSLG rule engine,
        analysis/rslp.py, validated by gltestdata.zip).

        ``stemmer="minimal"`` swaps in GalicianMinimalStemFilter
        (gl/GalicianMinimalStemmer.java — the Plural step only)."""
        if stemmer not in ("rslg", "minimal"):
            raise ValueError(
                f"galician() stemmer must be rslg|minimal, got {stemmer!r}"
            )
        return cls(
            stopwords=GALICIAN_STOP_WORDS,
            stemmer="galician" if stemmer == "rslg" else "galician_minimal",
            latin1=True,
        )

    @classmethod
    def russian(cls) -> "Analyzer":
        """The RussianAnalyzer chain (ru/RussianAnalyzer.java:103-116:
        StandardTokenizer + LowerCase + russian_stop.txt) with the
        RussianLightStemFilter variant in the stem slot
        (ru/RussianLightStemFilter.java — the analyzer default is
        Snowball; the light stemmer is the zoo alternative validated by
        rulighttestdata.zip).  Cyrillic token alphabet."""
        return cls(
            stopwords=RUSSIAN_STOP_WORDS,
            stemmer="russian_light",
            extra_letters="а-яё",
        )

    @classmethod
    def swedish(cls) -> "Analyzer":
        """The SwedishAnalyzer chain (sv/SwedishAnalyzer.java:107-120) with
        the SwedishLightStemFilter variant in the stem slot
        (sv/SwedishLightStemFilter.java, svlighttestdata.zip)."""
        return cls(
            stopwords=SWEDISH_STOP_WORDS, stemmer="swedish_light", latin1=True
        )

    @classmethod
    def finnish(cls) -> "Analyzer":
        """The FinnishAnalyzer chain (fi/FinnishAnalyzer.java:107-120) with
        the FinnishLightStemFilter variant in the stem slot
        (fi/FinnishLightStemFilter.java, filighttestdata.zip)."""
        return cls(
            stopwords=FINNISH_STOP_WORDS, stemmer="finnish_light", latin1=True
        )

    @classmethod
    def hungarian(cls) -> "Analyzer":
        """The HungarianAnalyzer chain (hu/HungarianAnalyzer.java:107-120)
        with the HungarianLightStemFilter variant in the stem slot
        (hu/HungarianLightStemFilter.java, hulighttestdata.zip).  Adds the
        Latin-Extended-A letters the stemmer folds to the alphabet."""
        return cls(
            stopwords=HUNGARIAN_STOP_WORDS,
            stemmer="hungarian_light",
            latin1=True,
            extra_letters="őűũ",
        )

    @classmethod
    def arabic(cls) -> "Analyzer":
        """The ArabicAnalyzer preset (ar/ArabicAnalyzer.java:131-143):
        ar/stopwords.txt (matched on RAW tokens — the reference stops
        BEFORE ArabicNormalizationFilter, ":135 the stopword list is not
        normalized!") + ArabicNormalizationFilter + ArabicStemFilter
        composed at the dictionary stage (analysis/intl.py)."""
        return cls(
            stopwords=ARABIC_STOP_WORDS,
            stemmer="arabic",
            extra_letters=ARABIC_LETTERS,
        )

    @classmethod
    def persian(cls) -> "Analyzer":
        """The PersianAnalyzer preset (fa/PersianAnalyzer.java:128-144,
        :156-160): PersianCharFilter (ZWNJ = token break, lowered by
        EXCLUDING ZWNJ from the token alphabet) + Arabic+Persian
        normalization as ONE pre-tokenize char_fold translate (both are
        1:1 maps/deletions) + fa/stopwords.txt on the FOLDED tokens
        (":136 the stopword list is normalized") + PersianStemFilter at
        the dictionary stage.  DecimalDigitFilter declared out of scope
        (intl.py module docstring)."""
        return cls(
            stopwords=PERSIAN_STOP_WORDS,
            stemmer="persian",
            char_fold=PERSIAN_FOLD,
            extra_letters=PERSIAN_LETTERS,
        )

    @classmethod
    def czech(cls) -> "Analyzer":
        """The CzechAnalyzer preset (cz/CzechAnalyzer.java:113-124):
        cz/stopwords.txt + CzechStemFilter."""
        return cls(
            stopwords=CZECH_STOP_WORDS,
            stemmer="czech",
            latin1=True,
            extra_letters=CZECH_LETTERS,
        )

    @classmethod
    def bulgarian(cls) -> "Analyzer":
        """The BulgarianAnalyzer preset (bg/BulgarianAnalyzer.java:
        110-121): bg/stopwords.txt + BulgarianStemFilter.  Cyrillic
        token alphabet."""
        return cls(
            stopwords=BULGARIAN_STOP_WORDS,
            stemmer="bulgarian",
            extra_letters=BULGARIAN_LETTERS,
        )

    @classmethod
    def greek(cls) -> "Analyzer":
        """The GreekAnalyzer preset (el/GreekAnalyzer.java:100-109):
        GreekLowerCaseFilter as a pre-tokenize char_fold (1:1 on letters,
        analysis/greek.py) + el/stopwords.txt on the FOLDED tokens (the
        shipped list is post-fold: "τησ") + GreekStemFilter."""
        return cls(
            stopwords=GREEK_STOP_WORDS,
            stemmer="greek",
            char_fold=GREEK_FOLD,
            extra_letters=GREEK_LETTERS,
        )

    @classmethod
    def hindi(cls) -> "Analyzer":
        """The HindiAnalyzer preset (hi/HindiAnalyzer.java:121-131):
        hi/stopwords.txt + IndicNormalization (Devanagari subset) +
        HindiNormalization + HindiStem composed at the dictionary stage.
        Declared-subset deviation: stopwords match RAW tokens (the
        reference stops after normalization) — same contract as the
        Sorani preset (analysis/sorani.py docstring)."""
        return cls(
            stopwords=HINDI_STOP_WORDS,
            stemmer="hindi",
            extra_letters=HINDI_LETTERS,
        )

    @classmethod
    def bengali(cls) -> "Analyzer":
        """The BengaliAnalyzer preset (bn/BengaliAnalyzer.java:119-130):
        bn/stopwords.txt + IndicNormalization (Bengali subset) +
        BengaliNormalization + BengaliStem at the dictionary stage.
        Same raw-token stopword subset note as hindi()."""
        return cls(
            stopwords=BENGALI_STOP_WORDS,
            stemmer="bengali",
            extra_letters=BENGALI_LETTERS,
        )

    @classmethod
    def indonesian(cls) -> "Analyzer":
        """The IndonesianAnalyzer preset (id/IndonesianAnalyzer.java:
        110-121): id/stopwords.txt + IndonesianStemFilter
        (stemDerivational=true, the filter default)."""
        return cls(stopwords=INDONESIAN_STOP_WORDS, stemmer="indonesian")

    @classmethod
    def latvian(cls) -> "Analyzer":
        """The LatvianAnalyzer preset (lv/LatvianAnalyzer.java:107-118):
        lv/stopwords.txt + LatvianStemFilter."""
        return cls(
            stopwords=LATVIAN_STOP_WORDS,
            stemmer="latvian",
            latin1=True,
            extra_letters=LATVIAN_LETTERS,
        )

    @classmethod
    def norwegian(cls, stemmer: str = "light") -> "Analyzer":
        """The NorwegianAnalyzer chain (no/NorwegianAnalyzer.java:
        107-120: StandardTokenizer + LowerCase + snowball
        norwegian_stop.txt) with the light/minimal stemmer variants in
        the stem slot (no/NorwegianLightStemFilter.java BOKMAAL default;
        no/NorwegianMinimalStemFilter.java — the analyzer default is
        Snowball, these are the zoo alternatives validated by
        nb_light.txt / nb_minimal.txt)."""
        if stemmer not in ("light", "minimal"):
            raise ValueError(
                f"norwegian() stemmer must be light|minimal, got {stemmer!r}"
            )
        return cls(
            stopwords=NORWEGIAN_STOP_WORDS,
            stemmer=f"norwegian_{stemmer}",
            latin1=True,
        )

    @classmethod
    def sorani(cls) -> "Analyzer":
        """The SoraniAnalyzer preset (ckb/SoraniAnalyzer.java:112-121):
        ckb/stopwords.txt + SoraniNormalizationFilter + SoraniStemFilter
        (analysis/sorani.py — normalize+stem compose as one dictionary-stage
        stemmer; the stop list ships pre-normalized, see the module
        docstring for the declared stop-order subset).  Arabic-script token
        alphabet incl. the marks/ZWNJ the normalizer consumes."""
        return cls(
            stopwords=SORANI_STOP_WORDS,
            stemmer="sorani",
            extra_letters=SORANI_LETTERS,
        )

    # -- round-5 wave 3: Snowball-stemmed chains (analysis/wave3.py) ------

    @classmethod
    def danish(cls) -> "Analyzer":
        """The DanishAnalyzer preset (da/DanishAnalyzer.java:104-111):
        snowball danish_stop.txt + SnowballFilter(DanishStemmer)."""
        return cls(stopwords=DANISH_STOP_WORDS, stemmer="danish", latin1=True)

    @classmethod
    def dutch(cls) -> "Analyzer":
        """The DutchAnalyzer preset (nl/DutchAnalyzer.java:146-155):
        snowball dutch_stop.txt + StemmerOverrideFilter(DEFAULT_STEM_DICT,
        :80-84) + SnowballFilter(DutchStemmer) — the override dict and
        stemmer compose at the dictionary stage (wave3.dutch_stem)."""
        return cls(stopwords=DUTCH_STOP_WORDS, stemmer="dutch", latin1=True)

    @classmethod
    def romanian(cls) -> "Analyzer":
        """The RomanianAnalyzer preset (ro/RomanianAnalyzer.java:123-131):
        ro/stopwords.txt matched BEFORE normalization (the reference's
        chain order — replicated exactly since the dictionary stage runs
        after stop) + RomanianNormalizationFilter (cedilla -> comma-below)
        + SnowballFilter(RomanianStemmer)."""
        return cls(
            stopwords=ROMANIAN_STOP_WORDS,
            stemmer="romanian",
            latin1=True,
            extra_letters=ROMANIAN_LETTERS,
        )

    @classmethod
    def catalan(cls) -> "Analyzer":
        """The CatalanAnalyzer preset (ca/CatalanAnalyzer.java:121-129):
        elision (DEFAULT_ARTICLES d/l/m/n/s/t, :48-50) + ca/stopwords.txt
        + SnowballFilter(CatalanStemmer)."""
        return cls(
            stopwords=CATALAN_STOP_WORDS,
            stemmer="catalan",
            elision="ca",
            latin1=True,
        )

    @classmethod
    def lithuanian(cls) -> "Analyzer":
        """The LithuanianAnalyzer preset (lt/LithuanianAnalyzer.java:
        104-112): lt/stopwords.txt + SnowballFilter(LithuanianStemmer)."""
        return cls(
            stopwords=LITHUANIAN_STOP_WORDS,
            stemmer="lithuanian",
            latin1=True,
            extra_letters=LITHUANIAN_LETTERS,
        )

    @classmethod
    def irish(cls) -> "Analyzer":
        """The IrishAnalyzer preset (ga/IrishAnalyzer.java:127-134):
        HYPHENATIONS stop (h/n/t fragments, :56-57) + elision
        (DEFAULT_ARTICLES d/m/b) + IrishLowerCaseFilter + irish_stop.txt
        + SnowballFilter(IrishStemmer).  The eclipsis branch of the
        lowercase filter is lowered as a pre-tokenize split + the h/n/t
        stop entries (wave3.IRISH_ECLIPSIS_SUB docstring — declared
        subset: both "tAthair" and "t-athair" index as "athair")."""
        return cls(
            stopwords=IRISH_STOP_WORDS | IRISH_HYPHENATIONS,
            stemmer="irish",
            elision="ga",
            latin1=True,
            pre_sub=(IRISH_ECLIPSIS_SUB,),
        )

    @classmethod
    def armenian(cls) -> "Analyzer":
        """The ArmenianAnalyzer preset (hy/ArmenianAnalyzer.java:104-112):
        hy/stopwords.txt + SnowballFilter(ArmenianStemmer).  Armenian
        token alphabet."""
        return cls(
            stopwords=ARMENIAN_STOP_WORDS,
            stemmer="armenian",
            extra_letters=ARMENIAN_LETTERS,
        )

    @classmethod
    def basque(cls) -> "Analyzer":
        """The BasqueAnalyzer preset (eu/BasqueAnalyzer.java:104-112):
        eu/stopwords.txt + SnowballFilter(BasqueStemmer)."""
        return cls(stopwords=BASQUE_STOP_WORDS, stemmer="basque", latin1=True)

    @classmethod
    def nepali(cls) -> "Analyzer":
        """The NepaliAnalyzer preset (ne/NepaliAnalyzer.java:117-126):
        DecimalDigitFilter (Devanagari digit row as char_fold) +
        IndicNormalization (Devanagari) + ne/stopwords.txt +
        SnowballFilter(NepaliStemmer).  Raw-token stopword subset as in
        hindi() (the reference stops after normalization)."""
        return cls(
            stopwords=NEPALI_STOP_WORDS,
            stemmer="nepali",
            extra_letters=HINDI_LETTERS,
            char_fold=DEVANAGARI_DIGIT_FOLD,
        )

    @classmethod
    def estonian(cls) -> "Analyzer":
        """The EstonianAnalyzer preset (et/EstonianAnalyzer.java:104-112):
        et/stopwords.txt + SnowballFilter(EstonianStemmer)."""
        return cls(
            stopwords=ESTONIAN_STOP_WORDS,
            stemmer="estonian",
            latin1=True,
            extra_letters=ESTONIAN_LETTERS,
        )

    @classmethod
    def tamil(cls) -> "Analyzer":
        """The TamilAnalyzer preset (ta/TamilAnalyzer.java:117-126):
        DecimalDigitFilter (Tamil digit row as char_fold) +
        IndicNormalization (Tamil block) + ta/stopwords.txt +
        SnowballFilter(TamilStemmer).  Raw-token stopword subset as in
        hindi()."""
        return cls(
            stopwords=TAMIL_STOP_WORDS,
            stemmer="tamil",
            extra_letters=TAMIL_LETTERS,
            char_fold=TAMIL_DIGIT_FOLD,
        )

    @classmethod
    def telugu(cls) -> "Analyzer":
        """The TeluguAnalyzer preset (te/TeluguAnalyzer.java:117-127):
        DecimalDigitFilter (Telugu digit row as char_fold) +
        IndicNormalization (Telugu block) + TeluguNormalization +
        te/stopwords.txt + TeluguStem composed at the dictionary stage.
        Raw-token stopword subset as in hindi()."""
        return cls(
            stopwords=TELUGU_STOP_WORDS,
            stemmer="telugu",
            extra_letters=TELUGU_LETTERS,
            char_fold=TELUGU_DIGIT_FOLD,
        )

    @classmethod
    def turkish(cls) -> "Analyzer":
        """The TurkishAnalyzer preset (tr/TurkishAnalyzer.java:108-116):
        ApostropheFilter (pre_sub) + TurkishLowerCaseFilter (İ/I char_fold
        before the generic lowercase; NFC subset, wave3.TURKISH_I_FOLD) +
        tr/stopwords.txt + SnowballFilter(TurkishStemmer)."""
        return cls(
            stopwords=TURKISH_STOP_WORDS,
            stemmer="turkish",
            latin1=True,
            extra_letters=TURKISH_LETTERS,
            char_fold=TURKISH_I_FOLD,
            pre_sub=(APOSTROPHE_SUB,),
        )

    @classmethod
    def serbian(cls) -> "Analyzer":
        """The SerbianAnalyzer preset (sr/SerbianAnalyzer.java:118-126):
        sr/stopwords.txt + SnowballFilter(SerbianStemmer) +
        SerbianNormalizationFilter (normalization AFTER the stemmer —
        composed in wave3.serbian_stem).  Cyrillic + Latin-diacritic
        token alphabet."""
        return cls(
            stopwords=SERBIAN_STOP_WORDS,
            stemmer="serbian",
            latin1=True,
            extra_letters=SERBIAN_LETTERS,
        )

    def _char_fold_trans(self) -> dict:
        key = self.char_fold
        if key not in _CHAR_FOLD_CACHE:
            frm, to = key
            _CHAR_FOLD_CACHE[key] = str.maketrans(
                frm[: len(to)], to, frm[len(to):]
            )
        return _CHAR_FOLD_CACHE[key]

    @property
    def syn_map(self) -> dict[str, list[str]]:
        m: dict[str, list[str]] = {}
        for t, extra in self.synonyms:
            m.setdefault(t, []).append(extra)
        return m

    @property
    def graph_rules(self) -> list[tuple[tuple[str, ...], tuple[str, ...]]]:
        """Parsed graph rules, longest input first (greedy longest match,
        ties by declaration order — SynonymMap's matching contract)."""
        rules = [
            (tuple(str(i).split()), tuple(str(o).split()))
            for i, o in self.graph_synonyms
        ]
        order = sorted(range(len(rules)), key=lambda j: (-len(rules[j][0]), j))
        return [rules[j] for j in order]

    def is_noop(self) -> bool:
        return all(getattr(self, f.name) == f.default for f in fields(self))

    # -- commit.json round-trip -----------------------------------------
    def to_json(self) -> dict | None:
        """Every field by name: frozensets as sorted lists, tuples as
        lists (recursively); ``None`` for the no-op analyzer."""
        if self.is_noop():
            return None
        return {f.name: _to_plain(getattr(self, f.name)) for f in fields(self)}

    @classmethod
    def from_json(cls, d: dict | None) -> "Analyzer | None":
        """Inverse of :meth:`to_json`, typed by each field's default; a
        missing key (a commit written before the stage existed) gives
        the default."""
        if not d:
            return None
        return cls(
            **{
                f.name: (
                    frozenset(d[f.name])
                    if isinstance(f.default, frozenset)
                    else _from_plain(d[f.name])
                )
                for f in fields(cls)
                if f.name in d
            }
        )

    # -- python reference (oracle path) ---------------------------------
    def _graph_scan(self, toks: list[str]) -> list[tuple[str, int]]:
        """Greedy longest-match graph-synonym pass over the raw token
        stream; returns (term, flattened position) pairs (module
        docstring: FlattenGraphFilter output shape)."""
        rules = self.graph_rules
        out: list[tuple[str, int]] = []
        i, pos = 0, 0
        while i < len(toks):
            hit = None
            for inp, outp in rules:
                if tuple(toks[i : i + len(inp)]) == inp:
                    hit = (inp, outp)
                    break
            if hit is None:
                out.append((toks[i], pos))
                i += 1
                pos += 1
                continue
            inp, outp = hit
            for j, w in enumerate(inp):
                out.append((w, pos + j))
            for j, o in enumerate(outp):
                out.append((o, pos + j))
            i += len(inp)
            pos += max(len(inp), len(outp))
        return out

    def analyze_text(self, text: str | None) -> list[tuple[str, int]]:
        """[(term, position)] after the full chain.  Positions carry stop
        holes; synonym emissions share their source's position."""
        toks, positions = self._token_stream(text)
        if self.fixed_shingles:
            pairs = ()  # outputUnigrams=false: only the shingles below
        elif self.graph_synonyms:
            pairs = self._graph_scan(toks)
        else:
            pairs = zip(toks, positions)
        if self.pattern_capture:
            pairs = self._capture_expand(pairs)
        out = self._token_filters(pairs, expand=True)
        if self.shingle_size:
            n = self.shingle_size
            for i in range(len(toks) - n + 1):
                out.append((" ".join(toks[i : i + n]), i))
        if self.common_grams:
            for i in range(len(toks) - 1):
                if toks[i] in self.common_grams or toks[i + 1] in self.common_grams:
                    out.append((f"{toks[i]}_{toks[i + 1]}", i))
        return out

    def analyze_column(self, col):
        """Column(string) -> Column(array<struct<term:string,pos:int>>):
        :meth:`analyze_text` in one Arrow-batched ``pandas_udf`` (null
        text -> no entries) — the column form of the chain for callers
        that analyze text outside the index build (suggesters, classify,
        the monitor).  ``Analyzer()`` gives the plain ``tokenize_text``
        stream with dense positions."""
        import pandas as pd
        from pyspark.sql import functions as F

        an = self
        # session-registered stemmers (hunspell.register_stemmer) exist
        # only in the driver's table: ship the resolved function and
        # register it in the worker's module (a closure-captured global
        # would be a pickled copy, not the table analyze_text reads)
        stem = DICT_STEMMERS.get(self.stemmer)

        @F.pandas_udf("array<struct<term:string,pos:int>>")
        def _entries(texts):
            if stem is not None:
                from lucene_spark.analysis.analyzer import DICT_STEMMERS as table

                table[an.stemmer] = stem
            return pd.Series(
                [
                    [{"term": t, "pos": p} for t, p in an.analyze_text(x)]
                    for x in texts
                ],
                index=texts.index,
            )

        return _entries(col)

    def analyze_query_positions(self, text: str | None) -> list[tuple[str, int]]:
        """Query-side analysis with hole-carrying positions (for
        PhraseQuery): the index chain minus its expansions — no synonym,
        graph-synonym, shingle, common-gram, n-gram or capture emissions,
        positions dense over the rewritten stream, and the FIRST stem of
        a multi-output stemmer.  The reference expands query synonyms via
        SynonymQuery, not the index chain; QueryParser does that
        explicitly."""
        toks, positions = self._token_stream(text)
        return self._token_filters(zip(toks, positions), expand=False)

    def _token_stream(self, text):
        """Char filters → tokenizer → raw-stream rewrites, shared by the
        index and query chains: (tokens, positions), positions dense
        except under WDGF, which carries the filter's own posInc
        stream."""
        if text is not None:
            if self.ascii_folding:
                text = ascii_fold(text)
            if self.width_fold:
                text = cjk_width_fold(text)
            if self.char_fold:
                text = text.translate(self._char_fold_trans())
            for pat, rep in self.pre_sub:
                text = _re.sub(pat, rep, text)
            if self.elision:
                text = elide(text, self.elision)
        if self.word_delimiter:
            # whitespace tokenizer (case-preserving) → WDGF → lowercase
            from lucene_spark.analysis.worddelim import wdg_stream

            pairs = wdg_stream(
                (text or "").split(),
                self.word_delimiter,
                frozenset(self.wd_prot_words),
            )
            return [t.lower() for t, _ in pairs], [p for _, p in pairs]
        toks = self._tokenize_py(text)
        if self.limit_tokens:
            toks = toks[: self.limit_tokens]
        if self.cjk_bigrams:
            toks = [e for t in toks for e in cjk_bigram_expand(t, _CJK_RUN_RE)]
        if self.possessive:
            toks = [t[:-2] if t.endswith("'s") else t for t in toks]
        if self.scandinavian:
            fn = _SCANDINAVIAN_PY[self.scandinavian]
            toks = [fn(t) for t in toks]
        for pat, rep in self.pattern_replace:
            toks = [_re.sub(pat, rep, t) for t in toks]
        return toks, range(len(toks))

    def _token_filters(self, pairs, expand: bool) -> list[tuple[str, int]]:
        """The per-token stages over (token, position) pairs: drop (stop /
        length / keep, leaving holes) → truncate → reverse → stem
        (honouring stem_exclusions — the KeywordAttribute contract every
        reference stemmer checks; ReverseStringFilter ignores it).  With
        ``expand`` (index side) n-grams replace the token, a multi-output
        stemmer emits every stem and synonyms follow the stem; without
        it (query side) the token is kept whole and the first stem
        wins."""
        out: list[tuple[str, int]] = []
        syn = self.syn_map if expand else {}
        stem = s_stem if self.stemmer == "s" else DICT_STEMMERS.get(self.stemmer)
        multi = getattr(stem, "emits_multiple", False)
        for t, pos in pairs:
            if t in self.stopwords:
                continue
            if self.length_range is not None and not (
                self.length_range[0] <= len(t) <= self.length_range[1]
            ):
                continue
            if self.keep_words and t not in self.keep_words:
                continue
            if self.truncate:
                t = t[: self.truncate]
            if self.reverse_tokens:
                t = t[::-1]
            if expand and self.ngram is not None:
                mn, mx = self.ngram
                for ln in range(mn, mx + 1):
                    for s in range(len(t) - ln + 1):
                        out.append((t[s : s + ln], pos))
                continue
            if expand and self.edge_ngram is not None:
                mn, mx = self.edge_ngram
                for ln in range(mn, min(mx, len(t)) + 1):
                    out.append((t[:ln], pos))
                continue
            if stem is not None and t not in self.stem_exclusions:
                if multi:
                    # multi-output stemmers (hunspell all_stems): every
                    # stem at the token's position
                    stems = list(dict.fromkeys(stem(t)))
                    if expand:
                        out.extend((s, pos) for s in stems)
                        continue
                    t = stems[0] if stems else t
                else:
                    t = stem(t)
            out.append((t, pos))
            for extra in syn.get(t, ()):
                out.append((extra, pos))
        return out

    def _tokenize_py(self, text):
        """StandardTokenizer subset, or the custom PatternTokenizer modes
        (match/split) over the lowered text."""
        if self.token_match_pattern:
            rx = _RX_CACHE.get(self.token_match_pattern)
            if rx is None:
                rx = _RX_CACHE[self.token_match_pattern] = _re.compile(
                    self.token_match_pattern
                )
            return rx.findall((text or "").lower())
        if self.token_split_pattern:
            rx = _RX_CACHE.get(self.token_split_pattern)
            if rx is None:
                rx = _RX_CACHE[self.token_split_pattern] = _re.compile(
                    self.token_split_pattern
                )
            return [t for t in rx.split((text or "").lower()) if t]
        return tokenize_text(
            text,
            latin1=self.latin1,
            cjk=self.cjk_bigrams,
            extra=self.extra_letters,
            urls=self.urls_emails,
        )

    def _capture_expand(self, pairs):
        """PatternCaptureGroupTokenFilter emission (preserveOriginal=true):
        original first, then each (pattern, group)'s matches in order,
        skipping empty / non-participating / whole-token captures; per-token
        dedup keeps the first occurrence."""
        out = []
        for t, pos in pairs:
            emit = [t]
            for pat in self.pattern_capture:
                rx = _RX_CACHE.get(pat)
                if rx is None:
                    rx = _RX_CACHE[pat] = _re.compile(pat)
                for g in range(1, rx.groups + 1):
                    for m in rx.finditer(t):
                        s, e = m.span(g)
                        if s < 0 or s == e or (s == 0 and e == len(t)):
                            continue
                        emit.append(m.group(g))
            for term in dict.fromkeys(emit):
                out.append((term, pos))
        return out

    def analyze_query(self, text: str | None) -> list[str]:
        return [t for t, _ in self.analyze_query_positions(text)]
