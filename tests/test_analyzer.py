"""Analyzer chain v2: stopwords with position holes, Porter / S stemming,
same-position synonyms — engine vs oracle rank+score parity."""

import numpy as np
import pytest

from lucene_spark.analysis import ENGLISH_STOP_WORDS, Analyzer, porter_stem, s_stem
from lucene_spark.oracle import OracleIndex
from lucene_spark.search import BooleanQuery, IndexSearcher, Occur, PhraseQuery, TermQuery


# -- unit: stemmers ---------------------------------------------------------


def test_porter_known_pairs():
    """Spot vectors from the official Porter voc/output set (the full 23k
    set is validated offline against porterTestData.zip)."""
    for w, s in [
        ("caresses", "caress"), ("ponies", "poni"), ("ties", "ti"),
        ("cats", "cat"), ("feed", "feed"), ("agreed", "agre"),
        ("plastered", "plaster"), ("motoring", "motor"), ("sing", "sing"),
        ("conflated", "conflat"), ("hopping", "hop"), ("relational", "relat"),
        ("rational", "ration"), ("happy", "happi"), ("sky", "sky"),
        ("electricity", "electr"), ("roll", "roll"), ("controller", "control"),
        ("generalization", "gener"), ("oscillators", "oscil"),
    ]:
        assert porter_stem(w) == s, (w, porter_stem(w), s)


def test_s_stem_rules():
    assert s_stem("queries") == "query"
    assert s_stem("tables") == "table"
    assert s_stem("joins") == "join"
    assert s_stem("glass") == "glass"
    assert s_stem("corpus") == "corpus"
    assert s_stem("goes") == "goes"
    assert s_stem("model") == "model"


# -- unit: position holes / synonyms ---------------------------------------

EN = Analyzer(stopwords=ENGLISH_STOP_WORDS, stemmer="porter")


def test_stop_holes_keep_original_positions():
    out = EN.analyze_text("the model is training the data")
    # 'the'(0) dropped, model@1, 'is'(2) dropped, training@3, 'the'(4), data@5
    assert out == [("model", 1), ("train", 3), ("data", 5)]


def test_synonyms_same_position_and_length():
    a = Analyzer(synonyms=(("fast", "quick"),))
    out = a.analyze_text("a fast join")
    assert out == [("a", 0), ("fast", 1), ("quick", 1), ("join", 2)]


def test_porter_plus_synonyms_rejected():
    with pytest.raises(ValueError):
        Analyzer(stemmer="porter", synonyms=(("a", "b"),))


# -- unit: stage composition table, serialization, index/query agreement ----

# one sample value per stage field; fixed_shingles and wd_prot_words carry
# the stage they require
STAGE_SAMPLES = {
    "stopwords": dict(stopwords=frozenset({"the", "a"})),
    "stemmer": dict(stemmer="s"),
    "synonyms": dict(synonyms=(("fox", "hound"),)),
    "graph_synonyms": dict(graph_synonyms=(("quick brown", "fast"),)),
    "shingle_size": dict(shingle_size=2),
    "ngram": dict(ngram=(2, 3)),
    "edge_ngram": dict(edge_ngram=(1, 3)),
    "ascii_folding": dict(ascii_folding=True),
    "possessive": dict(possessive=True),
    "elision": dict(elision="fr"),
    "latin1": dict(latin1=True),
    "extra_letters": dict(extra_letters="а-яё"),
    "cjk_bigrams": dict(cjk_bigrams=True),
    "width_fold": dict(width_fold=True),
    "char_fold": dict(char_fold=("éÉ", "ee")),
    "pre_sub": dict(pre_sub=((r"-\s+", ""),)),
    "word_delimiter": dict(word_delimiter=1 | 2 | 32 | 64 | 128),
    "wd_prot_words": dict(wd_prot_words=("Wi-Fi",), word_delimiter=1 | 2),
    "stem_exclusions": dict(stem_exclusions=frozenset({"repeat", "foxes"})),
    "length_range": dict(length_range=(2, 5)),
    "keep_words": dict(keep_words=frozenset({"quick", "fox", "repeat"})),
    "truncate": dict(truncate=4),
    "common_grams": dict(common_grams=frozenset({"the", "of"})),
    "limit_tokens": dict(limit_tokens=6),
    "urls_emails": dict(urls_emails=True),
    "scandinavian": dict(scandinavian="fold"),
    "pattern_replace": dict(pattern_replace=(("x", "ks"),)),
    "reverse_tokens": dict(reverse_tokens=True),
    "fixed_shingles": dict(fixed_shingles=True, shingle_size=2),
    "pattern_capture": dict(pattern_capture=(r"([a-z])\d",)),
    "token_match_pattern": dict(token_match_pattern="[a-z]+"),
    "token_split_pattern": dict(token_split_pattern="[^a-z0-9]+"),
}

# stages whose index-side emissions the query chain deliberately skips
EXPANSION_STAGES = {
    "synonyms", "graph_synonyms", "shingle_size", "ngram", "edge_ngram",
    "common_grams", "pattern_capture", "fixed_shingles",
}

AGREEMENT_TEXTS = [
    "The quick brown foxes jumped over the lazy dog",
    "abc xyz repeat repeat",
    "Spark's data-\n lake of the Wi-Fi PowerShot500 a3",
    "Café Zürich l'avion ÉTÉ blaabær smörgås",
    "http://example.com/x mail me@example.org now",
    "東京都に住む ｳﾞｨｯﾂ ＡＢＣ",
    "привет мир the",
    "",
    None,
]


def _sample_pairs():
    """Every pair of stage samples, merged — except a stage paired with
    the stage its sample already carries (the one it requires)."""
    import itertools

    for a, b in itertools.combinations(STAGE_SAMPLES, 2):
        sa, sb = STAGE_SAMPLES[a], STAGE_SAMPLES[b]
        if set(sa) & set(sb):
            continue
        yield (a, b), {**sa, **sb}


def test_stage_samples_cover_every_field():
    from dataclasses import fields

    assert list(STAGE_SAMPLES) == [f.name for f in fields(Analyzer)]


def test_composition_table_refusals_name_both_stages():
    """Every pair the table refuses raises with a message naming both
    stages; every sample pair the table does not refuse constructs."""
    from lucene_spark.analysis.analyzer import _REFUSES

    refused = {(a, b) for a, others in _REFUSES.items() for b in others}
    seen = set()
    for _, kwargs in _sample_pairs():
        hit = {(a, b) for a, b in refused if a in kwargs and b in kwargs}
        if not hit:
            Analyzer(**kwargs)
            continue
        with pytest.raises(ValueError) as e:
            Analyzer(**kwargs)
        assert set(str(e.value).split("; ")) == {
            f"{a} does not compose with {b}" for a, b in hit
        }
        seen |= hit
    assert seen == refused


def test_composition_table_requirements():
    from lucene_spark.analysis.analyzer import _REQUIRES

    for stage, needs in _REQUIRES.items():
        kwargs = {
            k: v for k, v in STAGE_SAMPLES[stage].items() if k not in needs
        }
        for other in needs:
            with pytest.raises(ValueError, match=f"{stage} requires {other}"):
                Analyzer(**kwargs)
        Analyzer(**STAGE_SAMPLES[stage])


@pytest.mark.parametrize(
    "kwargs,message",
    [
        (
            dict(fixed_shingles=True, shingle_size=2, length_range=(2, 6)),
            "fixed_shingles does not compose with length_range",
        ),
        (
            dict(fixed_shingles=True, shingle_size=2, keep_words=frozenset("a")),
            "fixed_shingles does not compose with keep_words",
        ),
        (
            dict(fixed_shingles=True, shingle_size=2, truncate=3),
            "fixed_shingles does not compose with truncate",
        ),
        (
            dict(fixed_shingles=True, shingle_size=2, edge_ngram=(1, 2)),
            "fixed_shingles does not compose with edge_ngram",
        ),
        (
            dict(fixed_shingles=True, shingle_size=2, stem_exclusions=frozenset("a")),
            "fixed_shingles does not compose with stem_exclusions",
        ),
        (
            dict(word_delimiter=1, latin1=True),
            "word_delimiter does not compose with latin1",
        ),
        (
            dict(word_delimiter=1, extra_letters="а-яё"),
            "word_delimiter does not compose with extra_letters",
        ),
        (dict(wd_prot_words=("Wi-Fi",)), "wd_prot_words requires word_delimiter"),
    ],
    ids=[
        "fixed_shingles+length_range", "fixed_shingles+keep_words",
        "fixed_shingles+truncate", "fixed_shingles+edge_ngram",
        "fixed_shingles+stem_exclusions", "word_delimiter+latin1",
        "word_delimiter+extra_letters", "wd_prot_words_alone",
    ],
)
def test_stages_that_would_be_dropped_raise(kwargs, message):
    """Each of these stages had no effect on the output (fixed shingles
    drop the unigram stream; WDGF brings its own whitespace tokenizer;
    protected words only exist inside WDGF), so the analyzer refuses the
    combination instead of accepting it."""
    with pytest.raises(ValueError) as e:
        Analyzer(**kwargs)
    assert str(e.value) == message


def _presets():
    return [
        name
        for name, v in vars(Analyzer).items()
        if isinstance(v, classmethod) and name != "from_json"
    ]


def test_json_roundtrip_every_preset_and_sample():
    import json

    presets = _presets()
    assert len(presets) == 39
    analyzers = [getattr(Analyzer, p)() for p in presets]
    analyzers += [Analyzer(**kw) for kw in STAGE_SAMPLES.values()]
    for _, kwargs in _sample_pairs():
        try:
            analyzers.append(Analyzer(**kwargs))
        except ValueError:
            pass
    for an in analyzers:
        d = an.to_json()
        assert set(d) == set(STAGE_SAMPLES)
        # through the JSON text, as commit.json stores it
        assert Analyzer.from_json(json.loads(json.dumps(d))) == an, d
    assert Analyzer().to_json() is None and Analyzer.from_json(None) is None


def test_json_old_format_loads():
    """A commit written before most stages existed: missing keys take the
    field defaults."""
    an = Analyzer.from_json({"stopwords": ["the", "a"], "stemmer": "porter"})
    assert an == Analyzer(stopwords=frozenset({"the", "a"}), stemmer="porter")


def test_query_chain_agrees_with_index_chain():
    """Without an expansion stage, query analysis is the index chain:
    same terms at the same positions, for every sample stage alone and
    every accepted sample pair."""
    configs = [((k,), kw) for k, kw in STAGE_SAMPLES.items()]
    configs += list(_sample_pairs())
    checked = 0
    for stages, kwargs in configs:
        if EXPANSION_STAGES & set(kwargs):
            continue
        try:
            an = Analyzer(**kwargs)
        except ValueError:
            continue
        checked += 1
        for t in AGREEMENT_TEXTS:
            assert an.analyze_query_positions(t) == an.analyze_text(t), (
                stages,
                t,
            )
    assert checked > 200


# -- engine vs oracle parity ------------------------------------------------


@pytest.fixture(scope="module")
def en_index(spark, tiny_corpus):
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder

    df = transcripts_df(spark, rows=tiny_corpus)
    return IndexBuilder(num_segments=4, analyzer=EN).build(df)


@pytest.fixture(scope="module")
def en_oracle(tiny_corpus):
    return OracleIndex.build(tiny_corpus, analyzer=EN)


def _check(engine_rows, oracle_hits, oracle):
    okeys = oracle.topk_keys(oracle_hits)
    assert [(r.conv_id, r.turn_idx) for r in engine_rows] == [
        (c, t) for c, t, _ in okeys
    ]
    np.testing.assert_array_equal(
        np.array([r.score for r in engine_rows], dtype=np.float32),
        np.array([s for _, _, s in okeys], dtype=np.float32),
    )


def test_stemmed_term_query_parity(spark, en_index, en_oracle):
    s = IndexSearcher(en_index)
    # query text 'training' -> stem 'train'
    terms = s.parse_terms("training models")
    assert terms == ["train", "model"]
    q = BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in terms])
    _check(s.search(q, 10).collect(), en_oracle.search_or(terms, 10), en_oracle)


def test_stopword_only_query_matches_nothing(spark, en_index):
    s = IndexSearcher(en_index)
    assert s.parse_terms("the and of") == []


def test_phrase_with_hole_parity(spark, en_index, en_oracle):
    """Phrase '<word> the <word>' — the stopword leaves a hole the phrase
    must respect (positions 0,2)."""
    s = IndexSearcher(en_index)
    q = s.parse_phrase("model the training")
    assert isinstance(q, PhraseQuery) and q.positions == (0, 2)
    engine = s.search(q, 10).collect()
    oracle = en_oracle.search_phrase(
        ["model", "train"], 10, positions=[0, 2]
    )
    _check(engine, oracle, en_oracle)


def test_sloppy_phrase_on_analyzed_index_parity(spark, en_index, en_oracle):
    s = IndexSearcher(en_index)
    q = s.parse_phrase("model training", slop=2)
    assert q.positions is None  # dense positions normalize to None
    engine = s.search(q, 10).collect()
    oracle = en_oracle.search_sloppy_phrase(["model", "train"], 2, 10)
    _check(engine, oracle, en_oracle)
    # and with a real hole: "model the training" -> positions (0, 2)
    q2 = s.parse_phrase("model the training", slop=2)
    assert q2.positions == (0, 2)
    engine2 = s.search(q2, 10).collect()
    oracle2 = en_oracle.search_sloppy_phrase(
        ["model", "train"], 2, 10, positions=[0, 2]
    )
    _check(engine2, oracle2, en_oracle)


def test_norms_exclude_stopwords(spark, en_index, en_oracle, tiny_corpus):
    rows = {
        (r.conv_id, r.turn_idx): (r.length, r.norm)
        for r in en_index.docs.collect()
    }
    for d in en_oracle.docs:
        assert rows[(d.conv_id, d.turn_idx)] == (len(d.tokens), d.norm)


def test_synonym_index_parity(spark, tiny_corpus):
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder

    syn = Analyzer(
        stopwords=frozenset({"the"}), stemmer="s",
        synonyms=(("model", "network"),),
    )
    df = transcripts_df(spark, rows=tiny_corpus)
    idx = IndexBuilder(num_segments=4, analyzer=syn).build(df)
    orc = OracleIndex.build(tiny_corpus, analyzer=syn)
    s = IndexSearcher(idx)
    # 'network' now hits every doc containing 'model' (synonym emission)
    _check(
        s.search(TermQuery("network"), 10).collect(),
        orc.search_or(["network"], 10),
        orc,
    )


def test_store_roundtrip_preserves_analyzer(spark, en_index, tmp_path):
    from lucene_spark.index.store import load_index, save_index

    p = str(tmp_path / "enidx")
    save_index(en_index, p)
    idx2 = load_index(spark, p)
    assert idx2.analyzer is not None
    assert idx2.analyzer.stemmer == "porter"
    assert "the" in idx2.analyzer.stopwords
    s = IndexSearcher(idx2)
    assert s.parse_terms("training") == ["train"]
    assert s.search(TermQuery("model"), 5).count() > 0
    # loaded-index search parity with the in-memory index
    a = IndexSearcher(en_index).search(TermQuery("model"), 5).collect()
    b = s.search(TermQuery("model"), 5).collect()
    assert [(r.conv_id, r.turn_idx, r.score) for r in a] == [
        (r.conv_id, r.turn_idx, r.score) for r in b
    ]


# -- shingle / ngram stages (ShingleFilter.java / NGramTokenFilter.java) --

def test_shingle_python_chain():
    from lucene_spark.analysis import Analyzer

    an = Analyzer(shingle_size=2)
    got = an.analyze_text("the quick fox")
    assert got == [
        ("the", 0), ("quick", 1), ("fox", 2),
        ("the quick", 0), ("quick fox", 1),
    ]
    # stopwords drop unigrams but shingles come from the raw stream
    an2 = Analyzer(stopwords=frozenset({"the"}), shingle_size=2)
    got2 = an2.analyze_text("the quick fox")
    assert got2 == [
        ("quick", 1), ("fox", 2), ("the quick", 0), ("quick fox", 1),
    ]
    assert Analyzer(shingle_size=3).analyze_text("a b") == [("a", 0), ("b", 1)]


def test_ngram_python_chain():
    from lucene_spark.analysis import Analyzer

    an = Analyzer(ngram=(2, 3))
    got = an.analyze_text("fox be")
    assert got == [
        ("fo", 0), ("ox", 0), ("fox", 0), ("be", 1),
    ]


def test_shingle_ngram_constraints():
    import pytest as _pt

    from lucene_spark.analysis import Analyzer

    with _pt.raises(ValueError):
        Analyzer(shingle_size=1)
    with _pt.raises(ValueError):
        Analyzer(shingle_size=2, stemmer="s")
    with _pt.raises(ValueError):
        Analyzer(ngram=(0, 2))
    with _pt.raises(ValueError):
        Analyzer(ngram=(2, 3), stemmer="porter")
    # json round-trip
    an = Analyzer(shingle_size=2)
    assert Analyzer.from_json(an.to_json()) == an
    an2 = Analyzer(ngram=(2, 4))
    assert Analyzer.from_json(an2.to_json()) == an2


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(shingle_size=2),
        dict(shingle_size=3, stopwords=frozenset({"the", "a"})),
        dict(ngram=(2, 3)),
        dict(ngram=(1, 2), stopwords=frozenset({"of"})),
        dict(possessive=True),
        dict(possessive=True, stopwords=frozenset({"the"}), stemmer="s"),
        dict(length_range=(2, 5)),
        dict(length_range=(3, 6), stopwords=frozenset({"the"}), stemmer="s"),
        dict(keep_words=frozenset({"quick", "fox", "repeat"})),
        dict(truncate=4),
        dict(truncate=3, stopwords=frozenset({"the"})),
        dict(stemmer="s", stem_exclusions=frozenset({"repeat", "foxes"})),
        dict(
            length_range=(2, 8),
            keep_words=frozenset({"quick", "brown", "of", "repeat"}),
            truncate=5,
        ),
    ],
)
def test_entries_expr_matches_python_chain(spark, an_kwargs):
    """The column form of the chain (analyze_column, run on the executors
    — the path suggest/classify/monitor take) == analyze_text on the
    driver, null and empty text included."""
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    an = Analyzer(**an_kwargs)
    texts = [
        "the quick brown fox",
        "a of the",
        "one",
        "",
        None,
        "repeat repeat repeat",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs)


def test_ascii_fold_table():
    from lucene_spark.analysis.analyzer import _FOLD_FROM, _FOLD_TO, ascii_fold

    assert len(_FOLD_FROM) == len(_FOLD_TO)
    assert all("a" <= c <= "z" for c in _FOLD_TO)
    assert ascii_fold("Café Zürich naïve Ørsted Łódź") == "Cafe Zurich naive orsted lodz"
    # non-decomposing stroke/bar letters fold too
    assert ascii_fold("đħŧðı") == "dhtdi"
    # ligatures are out of the 1:1 subset: left untouched
    assert ascii_fold("æœß") == "æœß"


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(ascii_folding=True),
        dict(ascii_folding=True, stopwords=frozenset({"the"}), stemmer="s"),
        dict(ascii_folding=True, shingle_size=2),
    ],
)
def test_ascii_folding_entries_expr_parity(spark, an_kwargs):
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    an = Analyzer(**an_kwargs)
    assert Analyzer.from_json(an.to_json()) == an
    texts = [
        "Café au lait",
        "the Zürich Ørsted survey",
        "Łódź naïve résumés",
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs)
    # query side folds the same way
    assert Analyzer(ascii_folding=True).analyze_query("Łódź Café") == ["lodz", "cafe"]


def test_english_preset_chain():
    """EnglishAnalyzer.java:37-52: possessive -> stop (holes) -> Porter."""
    from lucene_spark.analysis import ENGLISH_STOP_WORDS, Analyzer

    an = Analyzer.english()
    assert an.stopwords == ENGLISH_STOP_WORDS
    assert an.stemmer == "porter" and an.possessive
    # query-side: "the spark's queries" -> possessive strips 's, "the"
    # leaves a hole, porter stems queries -> queri
    assert an.analyze_query("the spark's queries") == ["spark", "queri"]
    assert an.analyze_query_positions("the spark's queries") == [
        ("spark", 1), ("queri", 2),
    ]
    # round-trips through commit.json
    assert Analyzer.from_json(an.to_json()) == an


def test_english_preset_end_to_end(spark):
    from pyspark.sql import Row

    from lucene_spark.analysis import Analyzer
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, TermQuery

    rows = [
        ("c0", 0, "u", None, None, "the model's tables are joining"),
        ("c0", 1, "u", None, None, "no relevant words here"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string,"
        " ts timestamp, text string",
    )
    idx = IndexBuilder(num_segments=2, analyzer=Analyzer.english()).build(df)
    s = IndexSearcher(idx)
    # "model's" indexes as porter("model") = "model"; "tables" as "tabl"
    for qtext in ("model", "tables"):
        (term,) = s.parse_terms(qtext)
        hits = s.search(TermQuery(term), 5).collect()
        assert [(r.conv_id, r.turn_idx) for r in hits] == [("c0", 0)], qtext
    idx.unpersist_all()


# -- index-time multi-word synonym graphs ------------------------------------
# SynonymGraphFilter.java:78 + FlattenGraphFilter (index-time flattening).

GRAPH_RULES = (
    ("wifi", "wireless fidelity"),       # 1 -> 2 (expanding)
    ("machine learning", "ml"),          # 2 -> 1 (contracting)
    ("machine", "device"),               # shadowed by the longer rule
)


def test_graph_scan_flattened_positions():
    an = Analyzer(graph_synonyms=GRAPH_RULES)
    got = an.analyze_text("the machine learning wifi machine")
    assert got == [
        ("the", 0),
        ("machine", 1), ("learning", 2), ("ml", 1),
        ("wifi", 3), ("wireless", 3), ("fidelity", 4),
        ("machine", 5), ("device", 5),
    ]


def test_graph_longest_match_wins_and_no_overlap():
    an = Analyzer(graph_synonyms=GRAPH_RULES)
    # "machine machine learning": first token takes the 1-word rule, the
    # remaining two take the 2-word rule (no overlapping rematch)
    got = an.analyze_text("machine machine learning")
    assert got == [
        ("machine", 0), ("device", 0),
        ("machine", 1), ("learning", 2), ("ml", 1),
    ]


def test_graph_composes_with_stop_and_stem():
    an = Analyzer(
        graph_synonyms=(("wifi", "the wireless fidelities"),),
        stopwords=frozenset({"the"}),
        stemmer="s",
    )
    # output tokens pass through stop (hole) and stem like any token:
    # 'the'@1 stopped (hole), 'fidelities'@2 s-stemmed ies->y, 'wireless'
    # kept (ss exception)
    assert an.analyze_text("wifi") == [
        ("wifi", 0), ("wireless", 1), ("fidelity", 2),
    ]


def test_graph_rejects_shingle_and_ngram():
    with pytest.raises(ValueError):
        Analyzer(graph_synonyms=GRAPH_RULES, shingle_size=2)
    with pytest.raises(ValueError):
        Analyzer(graph_synonyms=GRAPH_RULES, ngram=(2, 3))
    with pytest.raises(ValueError):
        Analyzer(graph_synonyms=(("", "x"),))


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(graph_synonyms=GRAPH_RULES),
        dict(graph_synonyms=GRAPH_RULES, stopwords=frozenset({"the"}),
             stemmer="s"),
        dict(graph_synonyms=(("repeat", "again and again"),),
             possessive=True),
    ],
)
def test_graph_entries_expr_matches_python_chain(spark, an_kwargs):
    from pyspark.sql import functions as F

    an = Analyzer(**an_kwargs)
    texts = [
        "the machine learning wifi machine",
        "wifi wifi wifi",
        "machine learning machine learning",
        "repeat repeat repeat",
        "no rules fire here",
        "machine",           # 1-word rule at end of stream
        "machine learning",  # 2-word rule consumes the whole stream
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs)


def test_graph_index_phrase_across_multiword_synonym(spark):
    """The headline behavior: a PhraseQuery over the multi-word OUTPUT
    matches documents that contain only the input token, with shifted
    positions for following tokens — engine == oracle (f32)."""
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import PhraseQuery

    from datetime import datetime

    an = Analyzer(graph_synonyms=(("wifi", "wireless fidelity"),))
    t0 = datetime(2026, 1, 1)
    rows = [
        dict(conv_id="c0", turn_idx=0, role="user", tool=None, ts=t0,
             text="wifi router setup"),
        dict(conv_id="c0", turn_idx=1, role="user", tool=None, ts=t0,
             text="wireless fidelity standard"),
        dict(conv_id="c1", turn_idx=0, role="user", tool=None, ts=t0,
             text="router without the keyword"),
        dict(conv_id="c1", turn_idx=1, role="user", tool=None, ts=t0,
             text="wifi wifi"),
    ]
    df = transcripts_df(spark, rows=rows)
    idx = IndexBuilder(num_segments=2, analyzer=an).build(df)
    orc = OracleIndex.build(rows, analyzer=an)
    s = IndexSearcher(idx)
    # "wireless fidelity" must match the wifi-only docs too
    _check(
        s.search(PhraseQuery(("wireless", "fidelity")), 10).collect(),
        orc.search_phrase(["wireless", "fidelity"], 10),
        orc,
    )
    # following-token positions shifted: "fidelity router" is now adjacent
    _check(
        s.search(PhraseQuery(("fidelity", "router")), 10).collect(),
        orc.search_phrase(["fidelity", "router"], 10),
        orc,
    )
    hits = s.search(PhraseQuery(("wireless", "fidelity")), 10).collect()
    assert len(hits) == 3
    idx.unpersist_all()


def test_soundex_three_way_parity(spark):
    """Soundex: Spark column expression == DuckDB SQL twin == python
    reference on classic vectors and corpus-ish tokens."""
    import duckdb
    from pyspark.sql import functions as F

    from lucene_spark.analysis.phonetic import soundex_expr, soundex_py, soundex_sql

    words = [
        "robert", "rupert", "ashcraft", "ashcroft", "tymczak", "pfister",
        "honeyman", "spark", "sparc", "model", "data", "queue", "query",
        "a", "hw", "x123y", "schmidt", "schneider", "lloyd", "pfizer",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r.w: r.s for r in df.select("w", soundex_expr(F.col("w")).alias("s")).collect()}
    con = duckdb.connect()
    for w in words:
        want = soundex_py(w)
        assert got[w] == want, (w, got[w], want)
        duck = con.execute("SELECT " + soundex_sql(f"'{w}'")).fetchone()[0]
        assert duck == want, (w, duck, want)


def test_misc_filter_reference_vectors():
    """Ported vectors for the miscellaneous filter zoo.

    - LengthFilter (TestLengthFilter.java testFilterWithPosIncr):
      posIncr 1,4,2 == absolute positions 0,4,6 (holes preserved).
    - KeepWordFilter (TestKeepWordFilter.java testStopAndGo, ignoreCase
      row — our chain lowercases at tokenize): posIncr 3,2 == pos 2,4.
    - TruncateTokenFilter (TestTruncateTokenFilter.java testTruncating).
    - SetKeywordMarkerFilter (TestKeywordMarkerFilter.java
      testSetFilterIncrementToken shape): excluded surface form skips the
      stem stage.
    """
    from lucene_spark.analysis import Analyzer

    an = Analyzer(length_range=(2, 6))
    assert an.analyze_text(
        "short toolong evenmuchlongertext a ab toolong foo"
    ) == [("short", 0), ("ab", 4), ("foo", 6)]
    # zero-min accepts the empty end of the range (testEmptyTerm analog)
    assert Analyzer(length_range=(0, 5)).analyze_text("ab") == [("ab", 0)]

    an = Analyzer(keep_words=frozenset({"aaa", "bbb"}))
    assert an.analyze_text("xxx yyy aaa zzz BBB ccc ddd EEE") == [
        ("aaa", 2),
        ("bbb", 4),
    ]

    an = Analyzer(truncate=5)
    assert [t for t, _ in an.analyze_text(
        "abcdefg 1234567 ABCDEFG abcde abc 12345 123"
    )] == ["abcde", "12345", "abcde", "abcde", "abc", "12345", "123"]

    # keyword marker: 'queries' protected from both stem stages
    excl = frozenset({"queries"})
    assert Analyzer(stemmer="porter", stem_exclusions=excl).analyze_text(
        "queries tables"
    ) == [("queries", 0), ("tabl", 1)]
    assert Analyzer(stemmer="s", stem_exclusions=excl).analyze_text(
        "queries tables"
    ) == [("queries", 0), ("table", 1)]
    # query side sees the same chain
    assert Analyzer(stemmer="porter", stem_exclusions=excl).analyze_query(
        "queries tables"
    ) == ["queries", "tabl"]

    # illegal arguments (LengthFilter.java:44, TruncateTokenFilter.java:38)
    import pytest as _pt

    with _pt.raises(ValueError):
        Analyzer(length_range=(-4, -1))
    with _pt.raises(ValueError):
        Analyzer(length_range=(5, 2))
    with _pt.raises(ValueError):
        Analyzer(truncate=-48)

    # json round-trips
    for a in (
        Analyzer(length_range=(2, 6)),
        Analyzer(keep_words=frozenset({"aaa"})),
        Analyzer(truncate=5),
        Analyzer(stemmer="porter", stem_exclusions=excl),
    ):
        assert Analyzer.from_json(a.to_json()) == a


def test_stem_exclusion_index_build(spark):
    """The deferred dictionary-stem pass honours stem_exclusions: an index
    built with english(porter)+exclusions keeps the excluded surface form
    in its term dictionary while stemming everything else."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.index import IndexBuilder

    an = Analyzer(
        stemmer="porter", stem_exclusions=frozenset({"queries"})
    )
    rows = [
        ("c0", 0, "user", "queries running daily", None, None),
        ("c0", 1, "assistant", "tables joined nightly", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    idx = IndexBuilder(num_segments=2, analyzer=an).build(df)
    terms = {r.term for r in idx.postings.select("term").distinct().collect()}
    assert "queries" in terms  # protected
    assert "tabl" in terms and "tables" not in terms  # stemmed
    assert "run" in terms and "running" not in terms
    idx.unpersist_all()


def test_scandinavian_reference_vectors():
    """Every checkOneTerm vector from TestScandinavianNormalizationFilter /
    TestScandinavianFoldingFilter (mixed case, overlap and boundary cases
    included) replays exactly through the faithful python scans."""
    from lucene_spark.analysis.analyzer import (
        scandinavian_fold,
        scandinavian_normalize,
    )

    norm = [
        ("aeäaeeea", "æææeea"), ("aeäaeeeae", "æææeeæ"), ("aeaeeeae", "ææeeæ"),
        ("bøen", "bøen"), ("bOEen", "bØen"), ("åene", "åene"),
        ("blåbærsyltetøj", "blåbærsyltetøj"),
        ("blaabaersyltetöj", "blåbærsyltetøj"),
        ("räksmörgås", "ræksmørgås"), ("raeksmörgaos", "ræksmørgås"),
        ("raeksmörgaas", "ræksmørgås"), ("raeksmoergås", "ræksmørgås"),
        ("ab", "ab"), ("ob", "ob"), ("Ab", "Ab"), ("Ob", "Ob"),
        ("å", "å"), ("aa", "å"), ("aA", "å"), ("ao", "å"), ("aO", "å"),
        ("AA", "Å"), ("Aa", "Å"), ("Ao", "Å"), ("AO", "Å"),
        ("æ", "æ"), ("ä", "æ"), ("Æ", "Æ"), ("Ä", "Æ"),
        ("ae", "æ"), ("aE", "æ"), ("Ae", "Æ"), ("AE", "Æ"),
        ("ö", "ø"), ("ø", "ø"), ("Ö", "Ø"), ("Ø", "Ø"),
        ("oo", "ø"), ("oe", "ø"), ("oO", "ø"), ("oE", "ø"),
        ("Oo", "Ø"), ("Oe", "Ø"), ("OO", "Ø"), ("OE", "Ø"), ("", ""),
    ]
    fold = [
        ("aeäaeeea", "aaaeea"), ("aeäaeeeae", "aaaeea"), ("aeaeeeae", "aaeea"),
        ("bøen", "boen"), ("åene", "aene"),
        ("blåbærsyltetøj", "blabarsyltetoj"),
        ("blaabaarsyltetoej", "blabarsyltetoj"),
        ("blåbärsyltetöj", "blabarsyltetoj"),
        ("raksmorgas", "raksmorgas"), ("räksmörgås", "raksmorgas"),
        ("ræksmørgås", "raksmorgas"), ("raeksmoergaas", "raksmorgas"),
        ("ræksmörgaos", "raksmorgas"),
        ("ab", "ab"), ("ob", "ob"), ("Ab", "Ab"), ("Ob", "Ob"),
        ("å", "a"), ("aa", "a"), ("aA", "a"), ("ao", "a"), ("aO", "a"),
        ("AA", "A"), ("Aa", "A"), ("Ao", "A"), ("AO", "A"),
        ("æ", "a"), ("ä", "a"), ("Æ", "A"), ("Ä", "A"),
        ("ae", "a"), ("aE", "a"), ("Ae", "A"), ("AE", "A"),
        ("ö", "o"), ("ø", "o"), ("Ö", "O"), ("Ø", "O"),
        ("oo", "o"), ("oe", "o"), ("oO", "o"), ("oE", "o"),
        ("Oo", "O"), ("Oe", "O"), ("OO", "O"), ("OE", "O"), ("", ""),
    ]
    for i, w in norm:
        assert scandinavian_normalize(i) == w, (i, scandinavian_normalize(i), w)
    for i, w in fold:
        assert scandinavian_fold(i) == w, (i, scandinavian_fold(i), w)


def test_scandinavian_pass_decomposition_randomized():
    """The ordered global-regex lowering (digraph passes then translate) ==
    the reference's single positional scan on lowercase tokens — the
    equivalence the DuckDB twins rely on."""
    import random
    import re

    from lucene_spark.analysis.analyzer import (
        scandinavian_fold,
        scandinavian_normalize,
    )

    def norm_passes(t):
        t = re.sub("a[ao]", "å", t)
        t = re.sub("ae", "æ", t)
        t = re.sub("o[eo]", "ø", t)
        return t.translate(str.maketrans("äö", "æø"))

    def fold_passes(t):
        t = re.sub(
            "(a)[aeo]|(o)[eo]", lambda m: m.group(1) or m.group(2), t
        )
        return t.translate(str.maketrans("åäæöø", "aaaoo"))

    rng = random.Random(20260820)
    alpha = "aeoäöåæøbs"
    for _ in range(20000):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 8)))
        assert norm_passes(s) == scandinavian_normalize(s), s
        assert fold_passes(s) == scandinavian_fold(s), s


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(scandinavian="normalize"),
        dict(scandinavian="fold"),
        dict(scandinavian="fold", stopwords=frozenset({"to"}), stemmer="s"),
        dict(scandinavian="normalize", latin1=True),
    ],
)
def test_scandinavian_entries_expr_parity(spark, an_kwargs):
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    an = Analyzer(**an_kwargs)
    assert Analyzer.from_json(an.to_json()) == an
    texts = [
        "good tools look fine",
        "blaabaersyltetöj smörgås",
        "raeksmoergaas aoaoao",
        "to be or not",
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs, got, want)


def test_edge_ngram_reference_vectors():
    """TestEdgeNGramTokenFilter (preserveOriginal=false subset):
    testFrontUnigram / testOversizedNgrams / testFrontRangeOfNgrams /
    testFilterPositions / testPreserveOriginal(false) posInc vector."""
    from lucene_spark.analysis import Analyzer

    assert Analyzer(edge_ngram=(1, 1)).analyze_text("abcde") == [("a", 0)]
    assert Analyzer(edge_ngram=(6, 6)).analyze_text("abcde") == []
    assert Analyzer(edge_ngram=(1, 3)).analyze_text("abcde") == [
        ("a", 0), ("ab", 0), ("abc", 0),
    ]
    assert Analyzer(edge_ngram=(1, 3)).analyze_text("abcde vwxyz") == [
        ("a", 0), ("ab", 0), ("abc", 0), ("v", 1), ("vw", 1), ("vwx", 1),
    ]
    # "a bcd efghi jk" min2 max3: 'a' drops with a hole (posInc 2,0,1,0,1)
    assert Analyzer(edge_ngram=(2, 3)).analyze_text("a bcd efghi jk") == [
        ("bc", 1), ("bcd", 1), ("ef", 2), ("efg", 2), ("jk", 3),
    ]
    import pytest as _pt

    with _pt.raises(ValueError):
        Analyzer(edge_ngram=(-1, 2))
    with _pt.raises(ValueError):
        Analyzer(edge_ngram=(3, 2))
    with _pt.raises(ValueError):
        Analyzer(edge_ngram=(2, 3), ngram=(2, 3))
    a = Analyzer(edge_ngram=(2, 4))
    assert Analyzer.from_json(a.to_json()) == a


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(edge_ngram=(2, 4)),
        dict(edge_ngram=(1, 3), stopwords=frozenset({"the"})),
        dict(edge_ngram=(3, 3), length_range=(2, 8)),
    ],
)
def test_edge_ngram_entries_expr_parity(spark, an_kwargs):
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    an = Analyzer(**an_kwargs)
    texts = ["the quick brown fox", "a bc def ghij klmno", "", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs, got, want)


def test_limit_tokens_chain():
    """LimitTokenCountFilter (miscellaneous/LimitTokenCountFilter.java:33)
    right after the tokenizer: downstream stages see the capped stream."""
    from lucene_spark.analysis import Analyzer

    an = Analyzer(limit_tokens=3, stopwords=frozenset({"the"}))
    assert an.analyze_text("the quick brown fox jumps") == [
        ("quick", 1), ("brown", 2),
    ]
    assert Analyzer(limit_tokens=2).analyze_query("a b c d") == ["a", "b"]
    import pytest as _pt

    with _pt.raises(ValueError):
        Analyzer(limit_tokens=-1)
    a = Analyzer(limit_tokens=5)
    assert Analyzer.from_json(a.to_json()) == a


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(limit_tokens=3),
        dict(limit_tokens=4, stopwords=frozenset({"the"}), stemmer="s"),
        dict(limit_tokens=2, shingle_size=2),
    ],
)
def test_limit_tokens_entries_expr_parity(spark, an_kwargs):
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    an = Analyzer(**an_kwargs)
    texts = ["the quick brown fox jumps over", "a b", "", None]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs, got, want)


def test_common_grams_chain():
    """CommonGramsFilter (commongrams/CommonGramsFilter.java:40): the
    javadoc's 'man of the year' produces exactly the 3 bigrams man_of,
    of_the, the_year alongside unigrams; with StopFilter after, common
    unigrams drop while grams survive (the phrase-acceleration layout)."""
    from lucene_spark.analysis import Analyzer

    cg = frozenset({"the", "of"})
    an = Analyzer(common_grams=cg)
    assert an.analyze_text("man of the year") == [
        ("man", 0), ("of", 1), ("the", 2), ("year", 3),
        ("man_of", 0), ("of_the", 1), ("the_year", 2),
    ]
    an2 = Analyzer(common_grams=cg, stopwords=cg)
    assert an2.analyze_text("man of the year") == [
        ("man", 0), ("year", 3),
        ("man_of", 0), ("of_the", 1), ("the_year", 2),
    ]
    # no common word adjacency -> no grams
    assert Analyzer(common_grams=cg).analyze_text("big year") == [
        ("big", 0), ("year", 1),
    ]
    import pytest as _pt

    with _pt.raises(ValueError):
        Analyzer(common_grams=cg, stemmer="porter")
    a = Analyzer(common_grams=cg)
    assert Analyzer.from_json(a.to_json()) == a


@pytest.mark.parametrize(
    "an_kwargs",
    [
        dict(common_grams=frozenset({"the", "of", "a"})),
        dict(
            common_grams=frozenset({"the", "of"}),
            stopwords=frozenset({"the", "of"}),
        ),
    ],
)
def test_common_grams_analyze_column_parity(spark, an_kwargs):
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer

    an = Analyzer(**an_kwargs)
    texts = [
        "man of the year",
        "the quick brown fox of doom",
        "solo",
        "the",
        "",
        None,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    for t, r in zip(texts, rows):
        got = sorted((x["term"], x["pos"]) for x in (r.e or []))
        want = sorted(an.analyze_text(t))
        assert got == want, (t, an_kwargs, got, want)


def test_common_grams_phrase_equivalence(spark):
    """The gram term's match set equals the exact-phrase match set on the
    same corpus — the CommonGramsQueryFilter acceleration contract."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, PhraseQuery, TermQuery

    cg = frozenset({"the", "of", "a"})
    df = transcripts_df(spark, n_convs=20, seed=3)
    idx_cg = IndexBuilder(num_segments=2, analyzer=Analyzer(common_grams=cg)).build(df)
    idx_plain = IndexBuilder(num_segments=2).build(df)
    s_cg = IndexSearcher(idx_cg)
    s_plain = IndexSearcher(idx_plain)
    gram_docs = {
        (r.conv_id, r.turn_idx)
        for r in s_cg.search(TermQuery("the_model"), 1000).collect()
    }
    phrase_docs = {
        (r.conv_id, r.turn_idx)
        for r in s_plain.search(PhraseQuery(("the", "model")), 1000).collect()
    }
    assert gram_docs == phrase_docs
    idx_cg.unpersist_all()
    idx_plain.unpersist_all()


def test_keyword_repeat_index_build(spark):
    """KeywordRepeatFilter -> stem -> RemoveDuplicates chain at the
    dictionary stage: both surface and stem terms are indexed (one entry
    when they coincide), norms stay the surface counts."""
    from pyspark.sql import functions as F

    from lucene_spark.analysis import Analyzer
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, TermQuery

    rows = [
        ("c0", 0, "u", "queries running daily", None, None),
        ("c0", 1, "u", "a query ran", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    an = Analyzer(stemmer="porter")
    idx = IndexBuilder(num_segments=1, analyzer=an, keyword_repeat=True).build(df)
    terms = {r.term for r in idx.postings.select("term").distinct().collect()}
    # stems AND changed surface forms
    assert {"queri", "queries", "query", "run", "running", "ran", "daili", "daily"} <= terms
    # unchanged surface forms are NOT doubled (RemoveDuplicates): 'a'
    a_rows = idx.postings.filter(F.col("term") == "a").collect()
    assert len(a_rows) == 1 and a_rows[0].freq == 1
    # norms identical to the non-repeat build (surface counts)
    idx2 = IndexBuilder(num_segments=1, analyzer=an).build(df)
    n1 = {(r.conv_id, r.turn_idx): r.norm for r in idx.docs.collect()}
    n2 = {(r.conv_id, r.turn_idx): r.norm for r in idx2.docs.collect()}
    assert n1 == n2
    # exact-form query hits only the literal doc; stem query hits both
    s = IndexSearcher(idx)
    assert {(r.conv_id, r.turn_idx) for r in s.search(TermQuery("queries"), 10).collect()} == {("c0", 0)}
    assert {(r.conv_id, r.turn_idx) for r in s.search(TermQuery("queri"), 10).collect()} == {("c0", 0), ("c0", 1)}
    import pytest as _pt

    with _pt.raises(ValueError):
        IndexBuilder(keyword_repeat=True)
    idx.unpersist_all()
    idx2.unpersist_all()
