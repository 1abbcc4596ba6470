"""WordDelimiterGraphFilter parity — vectors hand-ported from
``analysis/common/.../miscellaneous/TestWordDelimiterGraphFilter.java``
(the named test methods below).  The stream harness reproduces
assertAnalyzesTo's (term, startOffset, endOffset, posInc) tuples via the
whitespace tokenizer + per-token graph emissions."""

import pytest

from lucene_spark.analysis.worddelim import (
    CATENATE_ALL,
    CATENATE_NUMBERS,
    CATENATE_WORDS,
    DEFAULT_FLAGS,
    GENERATE_NUMBER_PARTS,
    GENERATE_WORD_PARTS,
    PRESERVE_ORIGINAL,
    SPLIT_ON_CASE_CHANGE,
    SPLIT_ON_NUMERICS,
    STEM_ENGLISH_POSSESSIVE,
    wdg_stream,
    wdg_token,
)

FULL = (
    GENERATE_WORD_PARTS
    | GENERATE_NUMBER_PARTS
    | CATENATE_ALL
    | SPLIT_ON_CASE_CHANGE
    | SPLIT_ON_NUMERICS
    | STEM_ENGLISH_POSSESSIVE
)


def _ws_tokens(text):
    """MockTokenizer(WHITESPACE) with offsets."""
    out = []
    i = 0
    for tok in text.split():
        start = text.index(tok, i)
        out.append((tok, start, start + len(tok)))
        i = start + len(tok)
    return out


def _posincs(text, flags, prot=frozenset(), stop=frozenset()):
    toks = [t for t, _, _ in _ws_tokens(text)]
    stream = []
    base = 0
    for tok in toks:
        if tok in stop:
            base += 1
            continue
        emissions, width = wdg_token(tok, flags, prot)
        stream += [(t, base + s) for t, s, *_ in emissions]
        base += width
    prev = -1
    incs = []
    for _, p in stream:
        incs.append(p - prev)
        prev = p
    return [t for t, _ in stream], incs


def _do_split(inp, *out, flags=DEFAULT_FLAGS):
    emissions, _ = wdg_token(inp, flags)
    assert tuple(t for t, *_ in emissions) == out, (inp, emissions)


def test_splits_ported():
    # testSplits (:188-220)
    _do_split("basic-split", "basic", "split")
    _do_split("camelCase", "camel", "Case")
    _do_split("บ้าน", "บ้าน")
    _do_split("test's'", "test")
    _do_split("Роберт", "Роберт")
    _do_split("РобЕрт", "Роб", "Ерт")
    _do_split("aǅungla", "aǅungla")
    _do_split("ســـــــــــــــــلام", "ســـــــــــــــــلام")
    _do_split("हिन्दी", "हिन्दी")
    _do_split("١٢٣٤", "١٢٣٤")
    _do_split("𠀀𠀀", "𠀀𠀀")


def test_possessives_ported():
    # testPossessives (:236-239)
    _do_split("ra's", "ra")
    _do_split(
        "ra's",
        "ra",
        "s",
        flags=GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | SPLIT_ON_CASE_CHANGE
        | SPLIT_ON_NUMERICS,
    )


def test_token_type_case_ported():
    # testTokenType (:241-258): foo-bar with CATENATE_ALL
    emissions, width = wdg_token("foo-bar", FULL)
    assert [t for t, *_ in emissions] == ["foobar", "foo", "bar"]
    assert width == 2


def test_lots_of_concatenating_ported():
    # testLotsOfConcatenating (:626-661)
    flags = (
        GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | CATENATE_WORDS
        | CATENATE_NUMBERS
        | CATENATE_ALL
        | SPLIT_ON_CASE_CHANGE
        | SPLIT_ON_NUMERICS
        | STEM_ENGLISH_POSSESSIVE
    )
    emissions, _ = wdg_token("abc-def-123-456", flags)
    assert [t for t, *_ in emissions] == [
        "abcdef123456", "abcdef", "abc", "def", "123456", "123", "456",
    ]
    # offsets (start_part/end_part with adjustInternalOffsets=true)
    assert [sp for *_, sp, _ep in emissions] == [0, 0, 0, 4, 8, 8, 12]
    assert [ep for *_, ep in emissions] == [15, 7, 3, 7, 15, 11, 15]
    # posIncs from graph start positions: 1, 0, 0, 1, 1, 0, 1
    terms, incs = _posincs("abc-def-123-456", flags)
    assert incs == [1, 0, 0, 1, 1, 0, 1]


def test_lots_of_concatenating2_ported():
    # testLotsOfConcatenating2 (:664-701): + PRESERVE_ORIGINAL
    flags = (
        PRESERVE_ORIGINAL
        | GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | CATENATE_WORDS
        | CATENATE_NUMBERS
        | CATENATE_ALL
        | SPLIT_ON_CASE_CHANGE
        | SPLIT_ON_NUMERICS
        | STEM_ENGLISH_POSSESSIVE
    )
    terms, incs = _posincs("abc-def-123-456", flags)
    assert terms == [
        "abc-def-123-456", "abcdef123456", "abcdef", "abc", "def",
        "123456", "123", "456",
    ]
    assert incs == [1, 0, 0, 0, 1, 1, 0, 1]


def test_position_increments_ported():
    # testPositionIncrements (:283-448)
    a4_flags = (
        SPLIT_ON_NUMERICS
        | GENERATE_WORD_PARTS
        | PRESERVE_ORIGINAL
        | GENERATE_NUMBER_PARTS
        | SPLIT_ON_CASE_CHANGE
    )
    terms, incs = _posincs("SAL_S8371 - SAL", a4_flags)
    assert terms == ["SAL_S8371", "SAL", "S", "8371", "-", "SAL"]
    assert incs == [1, 0, 1, 1, 1, 1]

    prot = frozenset(["NUTCH"])
    terms, incs = _posincs("LUCENE / SOLR", FULL, prot)
    assert terms == ["LUCENE", "SOLR"] and incs == [1, 2]

    terms, incs = _posincs("LUCENE / solR", FULL, prot)
    assert terms == ["LUCENE", "solR", "sol", "R"]
    assert incs == [1, 2, 0, 1]

    terms, incs = _posincs("LUCENE / NUTCH SOLR", FULL, prot)
    assert terms == ["LUCENE", "NUTCH", "SOLR"] and incs == [1, 2, 1]

    # a3: stopword creates the input hole that WDGF preserves
    stop = frozenset(["the"])
    terms, incs = _posincs("lucene.solr", FULL, prot)
    assert terms == ["lucenesolr", "lucene", "solr"] and incs == [1, 0, 1]
    terms, incs = _posincs("the lucene.solr", FULL, prot, stop)
    assert terms == ["lucenesolr", "lucene", "solr"] and incs == [2, 0, 1]


def test_offsets_ported():
    # testOffsets (:61-92): adjustInternalOffsets over "foo-bar"
    flags = FULL
    emissions, _ = wdg_token("foo-bar", flags)
    # (term, start_part, end_part): foobar 0-7, foo 0-3, bar 4-7
    assert [(t, sp, ep) for t, _s, _e, sp, ep in emissions] == [
        ("foobar", 0, 7), ("foo", 0, 3), ("bar", 4, 7),
    ]


def test_original_token_emitted_first_ported():
    # testOriginalTokenEmittedFirst (:504-538): "abc-def abcDEF abc123",
    # every token's original form emitted first
    flags = (
        PRESERVE_ORIGINAL
        | GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | CATENATE_WORDS
        | CATENATE_NUMBERS
        | CATENATE_ALL
        | SPLIT_ON_CASE_CHANGE
        | SPLIT_ON_NUMERICS
        | STEM_ENGLISH_POSSESSIVE
    )
    terms, _ = _posincs("abc-def abcDEF abc123", flags)
    assert terms == [
        "abc-def", "abcdef", "abc", "def", "abcDEF", "abcDEF", "abc", "DEF",
        "abc123", "abc123", "abc", "123",
    ]


def test_catenate_all_emitted_before_parts_ported():
    # testCatenateAllEmittedBeforeParts (:540-583, LUCENE-9006)
    flags = PRESERVE_ORIGINAL | GENERATE_WORD_PARTS | CATENATE_ALL
    emissions, _ = wdg_token("8-other", flags)
    assert [(t, sp, ep) for t, _s, _e, sp, ep in emissions] == [
        ("8-other", 0, 7), ("8other", 0, 7), ("other", 2, 7),
    ]
    terms, incs = _posincs("8-other", flags)
    assert incs == [1, 0, 0]
    emissions, _ = wdg_token("other-9", flags)
    assert [(t, sp, ep) for t, _s, _e, sp, ep in emissions] == [
        ("other-9", 0, 7), ("other9", 0, 7), ("other", 0, 5),
    ]
    terms, incs = _posincs("other-9", flags)
    assert incs == [1, 0, 0]


def test_only_numbers_and_no_catenate_ported():
    # testOnlyNumbers (:1234): word parts only, no number parts -> empty
    emissions, _ = wdg_token(
        "7-586", GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE | SPLIT_ON_NUMERICS
    )
    assert emissions == []
    # testNoCatenate (:1240)
    emissions, _ = wdg_token(
        "a-b-c-9-d",
        GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | SPLIT_ON_CASE_CHANGE
        | SPLIT_ON_NUMERICS,
    )
    assert [t for t, *_ in emissions] == ["a", "b", "c", "9", "d"]


def test_protected_words_ported():
    # testProtectedWords (:1287): protected words pass through whole
    prot = frozenset(["foo17-bar"])
    emissions, _ = wdg_token("foo17-bar", GENERATE_WORD_PARTS, prot)
    assert [t for t, *_ in emissions] == ["foo17-bar"]
    emissions, _ = wdg_token("foo-bar", GENERATE_WORD_PARTS, prot)
    assert [t for t, *_ in emissions] == ["foo", "bar"]


def test_graph_paths_basic_splits():
    # testBasicGraphSplits (:1015-1089) via graph-path enumeration
    def paths(token, flags):
        emissions, width = wdg_token(token, flags)
        if not emissions:
            return set()
        arcs: dict = {}
        for t, s, e, *_ in emissions:
            arcs.setdefault(s, []).append((t, e))
        out = set()

        def walk(node, acc):
            if node >= width:
                out.add(" ".join(acc))
                return
            for t, dest in arcs.get(node, []):
                walk(dest, acc + [t])

        walk(0, [])
        return out

    assert paths("PowerShotPlus", 0) == {"PowerShotPlus"}
    assert paths("PowerShotPlus", GENERATE_WORD_PARTS) == {"PowerShotPlus"}
    assert paths("PowerShotPlus", GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE) == {
        "Power Shot Plus"
    }
    assert paths(
        "PowerShotPlus",
        GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE | PRESERVE_ORIGINAL,
    ) == {"PowerShotPlus", "Power Shot Plus"}
    assert paths("Power-Shot-Plus", GENERATE_WORD_PARTS) == {"Power Shot Plus"}
    assert paths(
        "PowerShot1000Plus", GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE
    ) == {"Power Shot1000Plus"}
    assert paths(
        "PowerShotPlus",
        GENERATE_WORD_PARTS | SPLIT_ON_CASE_CHANGE | CATENATE_WORDS,
    ) == {"Power Shot Plus", "PowerShotPlus"}
    assert paths(
        "Power-Shot-1000-17-Plus",
        GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | SPLIT_ON_CASE_CHANGE
        | CATENATE_WORDS
        | CATENATE_NUMBERS,
    ) == {
        "Power Shot 1000 17 Plus",
        "Power Shot 100017 Plus",
        "PowerShot 1000 17 Plus",
        "PowerShot 100017 Plus",
    }
    assert paths(
        "Power-Shot-1000-17-Plus",
        GENERATE_WORD_PARTS
        | GENERATE_NUMBER_PARTS
        | SPLIT_ON_CASE_CHANGE
        | CATENATE_WORDS
        | CATENATE_NUMBERS
        | PRESERVE_ORIGINAL,
    ) == {
        "Power-Shot-1000-17-Plus",
        "Power Shot 1000 17 Plus",
        "Power Shot 100017 Plus",
        "PowerShot 1000 17 Plus",
        "PowerShot 100017 Plus",
    }


def test_stream_positions():
    # wdg_stream: "wi-fi router power-shot" -> dense graph positions
    got = wdg_stream(["wi-fi", "router", "power-shot"], DEFAULT_FLAGS)
    assert got == [
        ("wi", 0), ("fi", 1), ("router", 2), ("power", 3), ("shot", 4)
    ]
    # hole from an all-delimiter token
    got = wdg_stream(["a", "/", "b"], DEFAULT_FLAGS)
    assert got == [("a", 0), ("b", 2)]


def test_invalid_flag_rejected():
    # testInvalidFlag (:1140)
    with pytest.raises(ValueError):
        wdg_token("foo", 1 << 31)


def test_analyzer_integration():
    from lucene_spark.analysis import Analyzer

    an = Analyzer(word_delimiter=DEFAULT_FLAGS)
    assert an.analyze_text("Wi-Fi PowerShot500 O'Neil's") == [
        ("wi", 0), ("fi", 1), ("power", 2), ("shot", 3), ("500", 4),
        ("o", 5), ("neil", 6),
    ]
    # stopwords and stemmer compose after the filter + lowercase
    an2 = Analyzer(
        word_delimiter=DEFAULT_FLAGS,
        stopwords=frozenset(["fi"]),
        stemmer="porter",
    )
    assert an2.analyze_query("Wi-Fi sharing") == ["wi", "share"]
    # serialization round-trip (commit.json)
    assert Analyzer.from_json(an2.to_json()) == an2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        Analyzer(word_delimiter=DEFAULT_FLAGS, shingle_size=2)


@pytest.mark.parametrize(
    "stage",
    [
        dict(pattern_replace=(("foo", "bar"),)),
        dict(limit_tokens=1),
        dict(urls_emails=True),
    ],
    ids=["pattern_replace", "limit_tokens", "urls_emails"],
)
def test_analyzer_rejects_stages_wdgf_skips(stage):
    """The WDGF chain runs its own whitespace tokenizer, so the standard
    tokenizer's options and the token rewriters after it would be dropped
    without a word (e.g. limit_tokens=1 still emitted every part of
    "foo-baz qux"): the analyzer refuses the combination instead."""
    from lucene_spark.analysis import Analyzer

    with pytest.raises(ValueError, match="word_delimiter"):
        Analyzer(word_delimiter=DEFAULT_FLAGS, **stage)


def test_index_and_phrase_across_parts(spark):
    """Positions from the WDG graph are real: a phrase query spanning
    split parts matches, and matches exactly like the python stream."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, PhraseQuery, TermQuery

    rows = [
        ("c0", 0, "u", "the Wi-Fi router PowerShot500", None, None),
        ("c0", 1, "u", "wi fi router", None, None),
        ("c0", 2, "u", "fi wi power shot", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    an = Analyzer(word_delimiter=DEFAULT_FLAGS)
    idx = IndexBuilder(num_segments=2, analyzer=an).build(df)
    s = IndexSearcher(idx)
    # "wi fi" phrase: split doc and literal doc both match; doc 2 doesn't
    hits = {r.doc_id for r in s.search(PhraseQuery(("wi", "fi")), 10).collect()}
    docs = {
        (r.conv_id, r.turn_idx): r.doc_id
        for r in idx.docs.select("doc_id", "conv_id", "turn_idx").collect()
    }
    assert docs[("c0", 0)] in hits and docs[("c0", 1)] in hits
    assert docs[("c0", 2)] not in hits
    # number part is searchable
    hits500 = {r.doc_id for r in s.search(TermQuery("500"), 10).collect()}
    assert hits500 == {docs[("c0", 0)]}
