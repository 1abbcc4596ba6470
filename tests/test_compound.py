"""DictionaryCompoundWordTokenFilter — ported TestCompoundWordTokenFilter
vectors + index integration."""

import pytest

from lucene_spark.analysis.compound import decompound_fn

SE_DICT = [
    "Bil", "Dörr", "Motor", "Tak", "Borr", "Slag", "Hammar", "Pelar",
    "Glas", "Ögon", "Fodral", "Bas", "Fiol", "Makare", "Gesäll", "Sko",
    "Vind", "Rute", "Torkare", "Blad",
]


def test_dumb_compound_words_se():
    """testDumbCompoundWordsSE: per-token emission (original + subwords,
    start-position order)."""
    fn = decompound_fn(SE_DICT)
    assert fn("Bildörr") == ["Bildörr", "Bil", "dörr"]
    assert fn("Bilmotor") == ["Bilmotor", "Bil", "motor"]
    assert fn("Biltak") == ["Biltak", "Bil", "tak"]
    assert fn("Slagborr") == ["Slagborr", "Slag", "borr"]
    assert fn("Hammarborr") == ["Hammarborr", "Hammar", "borr"]
    assert fn("Pelarborr") == ["Pelarborr", "Pelar", "borr"]
    assert fn("Glasögonfodral") == ["Glasögonfodral", "Glas", "ögon", "fodral"]
    assert fn("Basfiolsfodral") == ["Basfiolsfodral", "Bas", "fiol", "fodral"]
    assert fn("Basfiolsfodralmakaregesäll") == [
        "Basfiolsfodralmakaregesäll", "Bas", "fiol", "fodral", "makare", "gesäll",
    ]
    assert fn("Skomakare") == ["Skomakare", "Sko", "makare"]
    assert fn("Vindrutetorkare") == ["Vindrutetorkare", "Vind", "rute", "torkare"]
    assert fn("Vindrutetorkarblad") == ["Vindrutetorkarblad", "Vind", "rute", "blad"]
    assert fn("abba") == ["abba"]  # < minWordSize passes through


def test_longest_match():
    """testDumbCompoundWordsSELongestMatch: 'Fiols' beats 'Fiol' at the
    same start position when onlyLongestMatch is set."""
    d = SE_DICT.copy()
    d[d.index("Fiol")] = "Fiols"
    fn = decompound_fn(d, only_longest_match=True)
    assert fn("Basfiolsfodralmakaregesäll") == [
        "Basfiolsfodralmakaregesäll", "Bas", "fiols", "fodral", "makare", "gesäll",
    ]


def test_min_length_components():
    """testTokenEndingWithWordComponentOfMinimumLength +
    testWordComponentWithLessThanMinimumLength."""
    fn = decompound_fn(["ab", "cd", "ef"])
    assert fn("abcdef") == ["abcdef", "ab", "cd", "ef"]
    # subwords shorter than minSubwordSize never emit
    fn2 = decompound_fn(["abc", "d", "efg"], min_subword_size=3)
    assert fn2("abcdefg") == ["abcdefg", "abc", "efg"]
    with pytest.raises(ValueError):
        decompound_fn(["x"], min_subword_size=0)
    with pytest.raises(ValueError):
        decompound_fn(["x"], min_word_size=0)


def test_decompound_index_build(spark):
    """Index integration: compounds indexed under themselves + parts;
    querying a part recalls the compound; norms stay surface counts."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.analysis.compound import register_decompounder
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, TermQuery

    register_decompounder(
        "de_compound_test", ["vind", "rute", "torkare", "blad"]
    )
    rows = [
        ("c0", 0, "u", "vindrutetorkare installed", None, None),
        ("c0", 1, "u", "new blad ordered", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    an = Analyzer(stemmer="de_compound_test")
    idx = IndexBuilder(num_segments=1, analyzer=an).build(df)
    terms = {r.term for r in idx.postings.select("term").distinct().collect()}
    assert {"vindrutetorkare", "vind", "rute", "torkare"} <= terms
    s = IndexSearcher(idx)
    # querying the part recalls the compound document
    hits = {(r.conv_id, r.turn_idx) for r in s.search(TermQuery("rute"), 5).collect()}
    assert hits == {("c0", 0)}
    # norms = surface counts (2 tokens per doc)
    assert {r.length for r in idx.docs.collect()} <= {2, 3}
    idx.unpersist_all()
    # the column form (suggesters, classify, the monitor) runs the
    # session-registered stage on the executors too
    from pyspark.sql import functions as F

    got = df.select(an.analyze_column(F.col("text")).alias("e")).collect()
    assert [[(x.term, x.pos) for x in r.e] for r in got] == [
        an.analyze_text(r[3]) for r in rows
    ]
