"""PatternReplaceFilter / ReverseStringFilter / FixedShingleFilter stages
(pattern/PatternReplaceFilter.java, reverse/ReverseStringFilter.java,
shingle/FixedShingleFilter.java) and the pattern tokenizers: semantics
pinned by hard-coded analyze_text vectors."""

import pytest

from lucene_spark.analysis import Analyzer


def test_pattern_replace_basic():
    an = Analyzer(pattern_replace=(("(ab)+", "x"),))
    got = an.analyze_text("fooabab bar cabd")
    assert got == [("foox", 0), ("bar", 1), ("cxd", 2)]


def test_pattern_replace_backref():
    # collapse doubled letters via a backref — Python \1 syntax, lowered
    # to Java's $1
    an = Analyzer(pattern_replace=((r"([a-z])\1", r"\1"),))
    got = an.analyze_text("aabbcc dd spark")
    assert got == [("abc", 0), ("d", 1), ("spark", 2)]


def test_pattern_replace_before_stop():
    # a replacement that produces a stopword: the token drops WITH a hole
    an = Analyzer(
        stopwords=frozenset({"the"}), pattern_replace=(("^spk$", "the"),)
    )
    got = an.analyze_text("spk data")
    assert got == [("data", 1)]


def test_pattern_replace_query_side():
    an = Analyzer(pattern_replace=(("(ab)+", "x"),))
    assert an.analyze_query("fooabab bar") == ["foox", "bar"]


def test_reverse_tokens():
    an = Analyzer(reverse_tokens=True)
    got = an.analyze_text("Spark data")
    assert got == [("kraps", 0), ("atad", 1)]
    assert an.analyze_query("spark") == ["kraps"]


def test_reverse_leading_wildcard_layout(spark):
    """The documented ReverseStringFilter use: a leading wildcard becomes
    a PREFIX seek on the reversed index."""
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, PrefixQuery

    rows = [
        {"conv_id": "c0", "turn_idx": 0, "role": "u", "text": "spark dark", "tool": "", "ts": None},
        {"conv_id": "c0", "turn_idx": 1, "role": "u", "text": "sparse marks", "tool": "", "ts": None},
    ]
    an = Analyzer(reverse_tokens=True)
    idx = IndexBuilder(num_segments=2, analyzer=an).build(
        transcripts_df(spark, rows=rows)
    )
    s = IndexSearcher(idx, scoring="plain_f64")
    # *ark -> prefix "kra" on the reversed terms
    hits = {
        (r.conv_id, r.turn_idx)
        for r in s.search(PrefixQuery("kra"), k=10).collect()
    }
    assert hits == {("c0", 0)}  # spark + dark reverse to kraps/krad


def test_reverse_guard():
    with pytest.raises(ValueError):
        Analyzer(reverse_tokens=True, stemmer="s")


def test_fixed_shingles():
    an = Analyzer(shingle_size=2, fixed_shingles=True)
    got = an.analyze_text("a b c")
    assert got == [("a b", 0), ("b c", 1)]
    # sub-size stream: no output at all (FixedShingleFilter emits nothing)
    assert an.analyze_text("solo") == []


def test_fixed_shingles_guards():
    with pytest.raises(ValueError):
        Analyzer(fixed_shingles=True)
    with pytest.raises(ValueError):
        Analyzer(
            fixed_shingles=True,
            shingle_size=2,
            stopwords=frozenset({"the"}),
        )


def test_new_stages_json_roundtrip():
    for an in (
        Analyzer(pattern_replace=((r"([a-z])\1", r"\1"),)),
        Analyzer(reverse_tokens=True),
        Analyzer(shingle_size=3, fixed_shingles=True),
    ):
        assert Analyzer.from_json(an.to_json()) == an


def test_hyphenated_words_via_pre_sub():
    """HyphenatedWordsFilter (miscellaneous/HyphenatedWordsFilter.java:47)
    reduces to the pre-tokenize substitution '-\\s+' -> '': a token ending
    in '-' joins the following token — the reference's line-break
    hyphenation repair (its own test string, TestHyphenatedWordsFilter.
    java:32; inner hyphens then split per the standard tokenizer, where
    the reference's whitespace tokenizer keeps them)."""
    an = Analyzer(pre_sub=((r"-\s+", ""),))
    text = "ecologi-\r\ncal devel-\r\n\r\nop compre-\thensive-hands-on and ecologi-\ncal"
    got = [t for t, _ in an.analyze_text(text)]
    assert got == [
        "ecological",
        "develop",
        "comprehensive",
        "hands",
        "on",
        "and",
        "ecological",
    ]


def test_pattern_capture_reference_camelcase_vector():
    """TestPatternCaptureGroupTokenFilter.testCamelCase (preserveOriginal
    block): the capture SET matches the reference; emission order is the
    engine's canonical (pattern, group, match) order (documented)."""
    an = Analyzer(
        pattern_capture=(
            "([A-Z]{2,})",
            "(?<![A-Z])([A-Z][a-z]+)",
            r"(?:^|\b|(?<=[0-9_])|(?<=[A-Z]{2}))([a-z]+)",
            "([0-9]+)",
        )
    )
    pairs = an._capture_expand([("letsPartyLIKEits1999_dude", 0)])
    assert {t for t, _ in pairs} == {
        "letsPartyLIKEits1999_dude",
        "lets",
        "Party",
        "LIKE",
        "its",
        "1999",
        "dude",
    }
    assert all(p == 0 for _, p in pairs)
    assert pairs[0][0] == "letsPartyLIKEits1999_dude"  # original first


def test_pattern_capture_full_chain():
    an = Analyzer(pattern_capture=(r"(\d+)",))
    got = an.analyze_text("table42 x9 plain")
    assert got == [
        ("table42", 0),
        ("42", 0),
        ("x9", 1),
        ("9", 1),
        ("plain", 2),
    ]


def test_pattern_capture_url_groups():
    # the class javadoc example: nested groups emit both the URL and host
    an = Analyzer(
        urls_emails=True,
        pattern_capture=("(https?://([a-z0-9.-]+))",),
    )
    text = "see http://www.foo.com/index"
    got = an.analyze_text(text)
    assert got == [
        ("see", 0),
        ("http://www.foo.com/index", 1),
        ("http://www.foo.com", 1),
        ("www.foo.com", 1),
    ]


def test_pattern_capture_stop_after_expand():
    # captures that are stopwords drop; originals too
    an = Analyzer(
        stopwords=frozenset({"the"}), pattern_capture=("x(the)y",)
    )
    got = an.analyze_text("xthey data")
    assert got == [("xthey", 0), ("data", 1)]


def test_pattern_capture_guards():
    import pytest as _pt

    with _pt.raises(ValueError):
        Analyzer(pattern_capture=("nogroups",))
    with _pt.raises(ValueError):
        Analyzer(pattern_capture=("(a)",), stemmer="s")
    an = Analyzer(pattern_capture=(r"(\d+)",))
    assert Analyzer.from_json(an.to_json()) == an


def test_pattern_tokenizer_match_mode():
    an = Analyzer(token_match_pattern="[a-z]+")
    got = an.analyze_text("Spark 42 data3x the")
    assert got == [("spark", 0), ("data", 1), ("x", 2), ("the", 3)]
    assert an.analyze_query("42 spark") == ["spark"]


def test_pattern_tokenizer_split_mode():
    an = Analyzer(token_split_pattern="[^a-z0-9.]+")
    text = "Spark, 3.14! data..x"
    got = an.analyze_text(text)
    assert got == [("spark", 0), ("3.14", 1), ("data..x", 2)]


def test_pattern_tokenizer_composes_with_stop():
    an = Analyzer(
        token_match_pattern="[a-z]+", stopwords=frozenset({"the"})
    )
    got = an.analyze_text("the Spark the data")
    assert got == [("spark", 1), ("data", 3)]


def test_pattern_tokenizer_guards():
    import pytest as _pt

    with _pt.raises(ValueError):
        Analyzer(token_match_pattern="[a-z]+", token_split_pattern="x")
    with _pt.raises(ValueError):
        Analyzer(token_match_pattern="[a-z]+", urls_emails=True)
    an = Analyzer(token_split_pattern="[^a-z]+")
    assert Analyzer.from_json(an.to_json()) == an


def test_randomized_new_stage_parity(spark):
    """Randomized executor-vs-driver parity for the wave-6 stages: random
    texts through random pattern_replace / pattern_capture /
    reverse_tokens / fixed_shingles / custom-tokenizer configs —
    analyze_column on the executors must emit analyze_text's (term, pos)
    sequences."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(20260821)
    alphabet = "ab1 c-d,x yz42 . q|w 3.14 ée "
    configs = [
        Analyzer(pattern_replace=(("[0-9]+", "0"),)),
        Analyzer(pattern_replace=(("a", "b"), ("bb", "c"))),
        Analyzer(reverse_tokens=True),
        Analyzer(reverse_tokens=True, length_range=(2, 8)),
        Analyzer(shingle_size=2, fixed_shingles=True),
        Analyzer(pattern_capture=(r"(\d+)", "([a-z])[0-9]")),
        Analyzer(token_match_pattern="[a-z]+"),
        Analyzer(token_split_pattern="[^a-z0-9]+"),
        Analyzer(
            stopwords=frozenset({"ab", "c"}),
            pattern_replace=(("z", "c"),),
        ),
    ]
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(40)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for an in configs:
        rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
        for text, row in zip(texts, rows):
            assert [(x.term, x.pos) for x in row.e] == an.analyze_text(text), (
                an,
                text,
            )


def test_named_tokenizers_as_pattern_instances(spark):
    """The core named tokenizers reduce to pattern-tokenizer configs
    (analysis/core/*.java), over the engine's lowered-text substrate:

    * KeywordTokenizer  — the whole input as ONE token: match (?s).+
    * LetterTokenizer / LowerCaseTokenizer — maximal letter runs: [a-z]+
      (LowerCaseTokenizer = LetterTokenizer + LowerCaseFilter, which the
      lowercase substrate provides by construction)
    * WhitespaceTokenizer — split on \\s+
    """
    kw = Analyzer(token_match_pattern="(?s).+")
    assert kw.analyze_text("Hello,  World\nx") == [("hello,  world\nx", 0)]

    letter = Analyzer(token_match_pattern="[a-z]+")
    got_l = letter.analyze_text("don't x2y")
    assert got_l == [("don", 0), ("t", 1), ("x", 2), ("y", 3)]

    ws = Analyzer(token_split_pattern=r"\s+")
    got = ws.analyze_text("foo   bar-baz\tqux")
    assert got == [("foo", 0), ("bar-baz", 1), ("qux", 2)]


def test_delimited_boost_query_builder(spark, tiny_index):
    """DelimitedBoostTokenFilter in the query chain (boost/
    DelimitedBoostTokenFilter.java:33 + QueryBuilder TermAndBoost):
    'term|b' boosts that clause; scores = sum of boosted term scores."""
    import pytest as _pt

    from lucene_spark.search import IndexSearcher, TermQuery
    from lucene_spark.search.query import BooleanQuery, BoostQuery, Occur
    from lucene_spark.search.querybuilder import QueryBuilder

    qb = QueryBuilder(delimited_boost="|")
    q = qb.create_boolean_query("model|2 the data|0.5")
    s = IndexSearcher(tiny_index, scoring="plain_f64")
    got = {
        (r.conv_id, r.turn_idx): r.score for r in s.search(q, 30).collect()
    }
    ref = BooleanQuery.of(
        (BoostQuery(TermQuery("model"), 2.0), Occur.SHOULD),
        (TermQuery("the"), Occur.SHOULD),
        (BoostQuery(TermQuery("data"), 0.5), Occur.SHOULD),
    )
    exp = {
        (r.conv_id, r.turn_idx): r.score for r in s.search(ref, 30).collect()
    }
    assert got == exp and got
    # malformed boost raises (Float.parseFloat semantics)
    with _pt.raises(ValueError):
        qb.create_boolean_query("model|x")
    # single boosted token: the boosted clause itself
    one = qb.create_boolean_query("model|3")
    assert isinstance(one, BoostQuery) and one.boost == 3.0


def test_review_fixes_regressions():
    """Round-5 review fixes: grouped custom-token patterns rejected;
    '$'-bearing replacements stay literal."""
    import pytest as _pt

    # capture groups in custom token patterns diverge from the SQL twins
    with _pt.raises(ValueError, match="capture"):
        Analyzer(token_match_pattern="(ab)+")
    with _pt.raises(ValueError, match="capture"):
        Analyzer(token_split_pattern="(,)")
    # literal '$' in a replacement is not a group sigil
    an = Analyzer(pattern_replace=(("usd", "$"), (r"(\d)x", r"\1y")))
    got = an.analyze_text("usd42 3x1")
    assert got == [("$42", 0), ("3y1", 1)]


def test_phrase_snippet_boundaries(spark):
    from lucene_spark.search.highlight import phrase_match_snippets

    rows = [
        (0, "query the database daily"),    # partial word: NOT a match
        (1, "see the data now"),
    ]
    text_df = spark.createDataFrame(rows, "doc_id long, text string")
    hits = spark.createDataFrame([(0,), (1,)], "doc_id long")
    got = {
        r.doc_id: r.snippet
        for r in phrase_match_snippets(hits, text_df, ("the", "data")).collect()
    }
    assert got[0] == ""  # 'the database' must not bold as 'the data'
    assert got[1] == "see <b>the data</b> now"


def test_reverse_ignores_stem_exclusions_on_both_sides():
    """ReverseStringFilter ignores KeywordAttribute: an excluded token is
    reversed at index time, so the query side must reverse it too or a
    query for the word can never match."""
    an = Analyzer(reverse_tokens=True, stem_exclusions=frozenset({"abc"}))
    assert an.analyze_query("abc xyz") == ["cba", "zyx"]
    assert an.analyze_query("abc xyz") == [t for t, _ in an.analyze_text("abc xyz")]
