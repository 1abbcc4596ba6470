"""CommonTermsQuery + suggest module."""

import numpy as np
import pytest

from lucene_spark.search import IndexSearcher
from lucene_spark.search.query import CommonTermsQuery
from lucene_spark.search.suggest import suggest_fuzzy, suggest_terms


@pytest.fixture(scope="module")
def searcher(tiny_index):
    return IndexSearcher(tiny_index)


def _expected_common(oracle, terms, mtf, k):
    """Brute force vs the oracle: docs matching >=1 low-frequency term,
    scored over all matched terms (low + high)."""
    import math

    max_doc = len(oracle.docs)
    # CommonTermsQuery.java:155: fractional cutoff is ceil(mtf * maxDoc)
    cutoff = math.ceil(mtf * max_doc) if 0 < mtf < 1 else mtf
    low = [t for t in terms if oracle.doc_freq(t) <= cutoff]
    per_term = {t: oracle.term_scores(t) for t in terms}
    doc_ids = set()
    for t in low:
        doc_ids |= set(per_term[t])
    scores = {}
    for d in doc_ids:
        acc = 0.0
        for t in terms:
            if d in per_term[t]:
                acc += float(per_term[t][d])
        scores[d] = np.float32(acc)
    return oracle.topk_keys(oracle._topk(scores, k))


def test_common_terms_vs_oracle(searcher, tiny_oracle):
    terms = ("rareterm007", "the", "model")
    q = CommonTermsQuery(terms, max_term_frequency=0.5)
    got = searcher.search(q, 10).collect()
    want = _expected_common(tiny_oracle, terms, 0.5, 10)
    assert [(r.conv_id, r.turn_idx) for r in got] == [(c, t) for c, t, _ in want]
    np.testing.assert_array_equal(
        np.array([r.score for r in got], dtype=np.float32),
        np.array([s for _, _, s in want], dtype=np.float32),
    )


def test_common_terms_ceil_boundary(searcher, tiny_oracle):
    """A term whose docFreq equals ceil(mtf * maxDoc) exactly must classify
    LOW (docFreq > ceil(...) marks high — CommonTermsQuery.java:155); the
    off-by-one would degrade the query to a pure OR (ADVICE r02)."""
    max_doc = len(tiny_oracle.docs)
    df = tiny_oracle.doc_freq("model")
    mtf = (df - 0.5) / max_doc  # ceil(mtf * maxDoc) == df exactly
    q = CommonTermsQuery(("model", "the"), max_term_frequency=mtf)
    got = searcher.search(q, 10).collect()
    want = _expected_common(tiny_oracle, ("model", "the"), mtf, 10)
    assert [(r.conv_id, r.turn_idx) for r in got] == [(c, t) for c, t, _ in want]
    # the boundary term must be driving matching: every hit contains it
    from lucene_spark.search import TermQuery

    with_model = {
        (r.conv_id, r.turn_idx)
        for r in searcher.search(TermQuery("model"), 100000).collect()
    }
    assert all((r.conv_id, r.turn_idx) in with_model for r in got)


def test_common_terms_all_high_degrades_to_or(searcher):
    from lucene_spark.search import BooleanQuery, Occur, TermQuery

    q = CommonTermsQuery(("the", "model"), max_term_frequency=0.0000001)
    got = searcher.search(q, 10).collect()
    want = searcher.search(
        BooleanQuery.of((TermQuery("the"), Occur.SHOULD), (TermQuery("model"), Occur.SHOULD)),
        10,
    ).collect()
    assert [(r.conv_id, r.turn_idx, r.score) for r in got] == [
        (r.conv_id, r.turn_idx, r.score) for r in want
    ]


def test_suggest_prefix_matches_brute(searcher, tiny_index):
    got = suggest_terms(tiny_index, "s", 10).collect()
    stats = {
        r.term: int(r.total_term_freq)
        for r in tiny_index.term_stats.collect()
        if r.term.startswith("s")
    }
    want = sorted(stats.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [(r.term, r.weight) for r in got] == want
    assert [r.rank for r in got] == list(range(1, len(got) + 1))


def test_suggest_fuzzy_recovers_typo(searcher, tiny_index):
    exact = {r.term for r in suggest_terms(tiny_index, "mod", 10).collect()}
    fuzzy = {r.term for r in suggest_fuzzy(tiny_index, "mdd", 10, max_edits=1).collect()}
    assert "model" in exact
    assert "model" in fuzzy  # one substitution away from 'mod'


def test_suggest_custom_weights(spark, tiny_index):
    w = spark.createDataFrame(
        [("model", 5), ("merge", 500)], "term string, weight long"
    )
    got = suggest_terms(tiny_index, "m", 10, weights=w).collect()
    assert [r.term for r in got] == ["merge", "model"]


def test_analyzing_suggester_folds_prefix_and_keeps_surface(spark):
    """AnalyzingSuggester.java:100 analog: the typed prefix runs through
    the analyzer (stopwords dropped, case folded), matching is over the
    analyzed key, and the ORIGINAL surface form is returned weight-desc."""
    from lucene_spark.analysis import ENGLISH_STOP_WORDS, Analyzer
    from lucene_spark.search.suggest import analyzing_lookup, build_analyzing_suggester

    an = Analyzer(stopwords=ENGLISH_STOP_WORDS)
    entries = spark.createDataFrame(
        [
            ("The Spark Query", 7),
            ("spark query plan", 9),
            ("a spark quarrel", 3),
            ("spark quantum", 9),       # tie with plan -> surface asc
            ("the the a", 5),           # analyzes to nothing: dropped
            ("sparkling water", 4),     # 'sparkling' extends the partial token? no: 'spark qu' required
        ],
        "surface string, weight int",
    )
    sugg = build_analyzing_suggester(entries, an)
    got = analyzing_lookup(sugg, an, "the spark qu", 10).collect()
    assert [(r.rank, r.surface, r.weight) for r in got] == [
        (1, "spark quantum", 9),
        (2, "spark query plan", 9),
        (3, "The Spark Query", 7),
        (4, "a spark quarrel", 3),
    ]


def test_analyzing_suggester_dedups_surface_max_weight(spark):
    from lucene_spark.analysis import Analyzer
    from lucene_spark.search.suggest import analyzing_lookup, build_analyzing_suggester

    an = Analyzer()
    entries = spark.createDataFrame(
        [("spark sql", 2), ("spark sql", 8), ("spark shell", 5)],
        "surface string, weight int",
    )
    got = analyzing_lookup(build_analyzing_suggester(entries, an), an, "spark s", 10).collect()
    assert [(r.surface, r.weight) for r in got] == [
        ("spark sql", 8),
        ("spark shell", 5),
    ]


def test_stemming_analyzer_keys_and_grams_carry_the_stem(spark):
    """Suggester keys and FreeText grams run the full chain, dictionary
    stem included, so they meet the stemmed form analyze_query gives the
    typed text: "running shoes" keys as "run shoe", and "dogs running"
    counts toward the gram "dog run"."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.search.suggest import (
        analyzing_lookup,
        build_analyzing_suggester,
        build_freetext_model,
        freetext_lookup,
    )

    an = Analyzer.english()
    entries = spark.createDataFrame(
        [("running shoes", 5), ("running late", 3)],
        "surface string, weight int",
    )
    sugg = build_analyzing_suggester(entries, an)
    got = analyzing_lookup(sugg, an, "running shoes", 10).collect()
    assert [(r.surface, r.weight) for r in got] == [("running shoes", 5)]
    got = analyzing_lookup(sugg, an, "runs", 10).collect()
    assert [r.surface for r in got] == ["running shoes", "running late"]

    texts = spark.createDataFrame(
        [("the dogs running home",), ("dogs run fast",)], "text string"
    )
    m = build_freetext_model(texts, an, grams=2)
    assert {(r.gram, r.ord): r.cnt for r in m.collect()}[("dog run", 2)] == 2
    got = freetext_lookup(m, an, "dogs run", 10, grams=2).collect()
    assert [(r.surface, r.lastfrag) for r in got][0] == ("dog run", "run")


def test_word_breaks_and_combinations(spark, tiny_index):
    """WordBreakSpellChecker subset: splits where both sides are dictionary
    terms (ranked by summed doc freq), combinations where the concatenation
    is a dictionary term — verified against driver-side brute force."""
    from lucene_spark.search.suggest import (
        suggest_word_breaks,
        suggest_word_combinations,
    )

    dfs = {
        r.term: r.doc_freq for r in tiny_index.term_stats.collect()
    }
    two = sorted(t for t in dfs if len(t) >= 2)[:2]
    word = two[0] + two[1]
    got = [
        (r.left_word, r.right_word, r.freq_sum)
        for r in suggest_word_breaks(tiny_index, word, k=10).collect()
    ]
    brute = sorted(
        (
            (word[:i], word[i:], dfs[word[:i]] + dfs[word[i:]])
            for i in range(1, len(word))
            if word[:i] in dfs and word[i:] in dfs
        ),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:10]
    assert got == brute
    assert (two[0], two[1], dfs[two[0]] + dfs[two[1]]) in got

    # combination: splitting the pair back recombines to a dictionary term
    comb_source = next(t for t in sorted(dfs) if len(t) >= 4)
    parts = [comb_source[:2], comb_source[2:]]
    out = suggest_word_combinations(tiny_index, parts, k=5).collect()
    assert out and out[0].combined == comb_source
    assert out[0].freq == dfs[comb_source]

    # no valid split -> empty frame with the contract schema
    assert suggest_word_breaks(tiny_index, "zzqq", k=5).count() == 0


def test_spell_correct(spark, tiny_index):
    """DirectSpellChecker analog: dictionary candidates within max_edits
    sharing the first letter, normalized-similarity ranking with doc-freq
    tie-break — vs driver-side brute force."""
    from lucene_spark.search.suggest import spell_correct

    dfs = {r.term: r.doc_freq for r in tiny_index.term_stats.collect()}
    base = sorted(t for t in dfs if len(t) >= 4)[0]
    word = base[:-1] + ("x" if base[-1] != "x" else "y")  # 1 edit away

    got = [
        (r.term, r.score_i, r.doc_freq)
        for r in spell_correct(tiny_index, word, k=5).collect()
    ]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    brute = []
    for t, f in dfs.items():
        if t == word or not t.startswith(word[0]):
            continue
        if abs(len(t) - len(word)) > 2:
            continue
        d = lev(t, word)
        if d > 2:
            continue
        sim = 1.0 - d / max(len(t), len(word))
        if sim >= 0.5:
            brute.append((t, round(sim * 10000), f))
    brute.sort(key=lambda x: (-x[1], -x[2], x[0]))
    assert got == brute[:5]
    assert got and got[0][0] == base  # the 1-edit source term wins


def test_infix_lookup_semantics(spark):
    """AnalyzingInfixSuggester: earlier tokens exact-anywhere, last token
    is a token PREFIX unless the key has trailing whitespace (then exact);
    allTermsRequired=False degrades the clauses to SHOULD."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.search.suggest import build_analyzing_suggester, infix_lookup

    an = Analyzer()
    entries = spark.createDataFrame(
        [
            ("big data customer", 5),
            ("customer data lake", 9),
            ("data custody chain", 7),
            ("pure custard pie", 3),
            ("data warehouse", 2),
        ],
        "surface string, weight long",
    )
    sug = build_analyzing_suggester(entries, an)

    # "data cust": data exact anywhere, cust as token prefix
    got = [r.surface for r in infix_lookup(sug, an, "data cust", 10).collect()]
    assert got == ["customer data lake", "data custody chain", "big data customer"]

    # trailing space -> last token exact: only full token "custody"... none
    got_sp = [r.surface for r in infix_lookup(sug, an, "data cust ", 10).collect()]
    assert got_sp == []
    got_sp2 = [r.surface for r in infix_lookup(sug, an, "data custody ", 10).collect()]
    assert got_sp2 == ["data custody chain"]

    # SHOULD mode: any clause may match — custard joins via cust*
    got_or = [
        r.surface
        for r in infix_lookup(sug, an, "data cust", 10, all_terms_required=False).collect()
    ]
    assert got_or == [
        "customer data lake",
        "data custody chain",
        "big data customer",
        "pure custard pie",
        "data warehouse",
    ]


def test_freetext_suggester(spark):
    """FreeTextSuggester: stupid-backoff scores, seen-dedup keeps the
    highest-order prediction, trailing space upgrades the last token to
    context and skips the unigram model."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.search.suggest import build_freetext_model, freetext_lookup

    an = Analyzer()
    df = spark.createDataFrame(
        [
            ("foo bar baz",),
            ("foo bar baz",),
            ("foo bar bog",),
            ("red bar bit",),
            ("bar bat",),
        ],
        "text string",
    )
    m = build_freetext_model(df, an, grams=3)

    # "foo bar b": trigram probe "foo bar b" -> baz (2/3 of ctx "foo bar"=3),
    # bog (1/3); bigram probe "bar b" backs off x0.4: bat (1/5 of ctx
    # "bar"=5), bit (1/5) — baz/bog already seen at the higher order
    got = {(r.surface, r.lastfrag): r.score for r in freetext_lookup(m, an, "foo bar b", 10).collect()}
    import pytest as _pt

    assert got[("foo bar baz", "baz")] == _pt.approx(2 / 3)
    assert got[("foo bar bog", "bog")] == _pt.approx(1 / 3)
    assert got[("bar bat", "bat")] == _pt.approx(0.4 * 1 / 5)
    assert got[("bar bit", "bit")] == _pt.approx(0.4 * 1 / 5)
    # the unigram model still predicts "bar" itself (nothing filters the
    # context token; the reference behaves the same): 0.4^2 * 5/14
    assert got[("bar", "bar")] == _pt.approx(0.16 * 5 / 14)
    assert len(got) == 5

    # ranking: score desc, surface asc on ties
    ranked = [r.surface for r in freetext_lookup(m, an, "foo bar b", 10).collect()]
    assert ranked == ["foo bar baz", "foo bar bog", "bar bat", "bar bit", "bar"]

    # trailing space: "bar " predicts continuations of bar as context —
    # trigram skipped (needs 2 ctx tokens... only 1), bigram "bar *",
    # unigram skipped entirely (FreeTextSuggester.java:503-519)
    got_sp = {r.lastfrag: r.score for r in freetext_lookup(m, an, "bar ", 10).collect()}
    assert got_sp == {
        "baz": _pt.approx(2 / 5),
        "bog": _pt.approx(1 / 5),
        "bit": _pt.approx(1 / 5),
        "bat": _pt.approx(1 / 5),
    }

    # unseen context at the top order: backoff still consumed
    # "zzz bar b": trigram ctx "zzz bar" unseen -> 0 preds but shift; bigram
    # at 0.4
    got_z = {r.lastfrag: r.score for r in freetext_lookup(m, an, "zzz bar b", 10).collect()}
    assert got_z["bat"] == _pt.approx(0.4 * 1 / 5)
    assert set(got_z) == {"baz", "bog", "bit", "bat", "bar"}
