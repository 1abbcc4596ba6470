"""DelimitedTermFrequencyTokenFilter index path (analysis/common/.../
miscellaneous/DelimitedTermFrequencyTokenFilter.java:41): "term|N" indexes
term with frequency N, no positions (DOCS_AND_FREQS); field length is the
SUM of term frequencies (core IndexingChain.java:1275)."""

import pytest

from pyspark.sql import functions as F


def _tf_index(spark, rows):
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder

    df = transcripts_df(
        spark,
        rows=[
            {
                "conv_id": c,
                "turn_idx": t,
                "role": "user",
                "text": x,
                "tool": "",
                "ts": None,
            }
            for c, t, x in rows
        ],
    )
    return IndexBuilder(num_segments=2, term_freq_delimiter="|").build(df)


@pytest.fixture(scope="module")
def tf_index(spark):
    return _tf_index(
        spark,
        [
            ("c0", 0, "a|3 b a"),      # dl=5, freq(a)=4, freq(b)=1
            ("c0", 1, "b|10"),          # dl=10, freq(b)=10
            ("c1", 0, "a b|2 c|4"),     # dl=7
        ],
    )


def test_custom_tf_postings(tf_index):
    rows = {
        (r.term, r.conv_id, r.turn_idx): (r.freq, r.positions)
        for r in tf_index.postings.join(
            tf_index.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id"
        ).collect()
    }
    assert rows[("a", "c0", 0)] == (4, None)
    assert rows[("b", "c0", 0)] == (1, None)
    assert rows[("b", "c0", 1)] == (10, None)
    assert rows[("c", "c1", 0)] == (4, None)


def test_custom_tf_lengths_and_stats(tf_index):
    dls = {
        (r.conv_id, r.turn_idx): r.length for r in tf_index.docs.collect()
    }
    assert dls == {("c0", 0): 5, ("c0", 1): 10, ("c1", 0): 7}
    assert tf_index.stats["sum_total_term_freq"] == 22
    assert not tf_index.has_positions
    # check() passes with the positions invariant skipped
    out = tf_index.check()
    assert "positions_sorted_match_freq" not in out


def test_custom_tf_scoring_matches_plain_equivalent(spark):
    """An index of "x|3" must score exactly like a plain index of "x x x"
    (the custom tf is indistinguishable from repeated tokens at the
    postings level)."""
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher, TermQuery

    tfi = _tf_index(
        spark, [("c0", 0, "x|3 y"), ("c0", 1, "x y|2"), ("c1", 0, "y|4")]
    )
    plain = IndexBuilder(num_segments=2).build(
        transcripts_df(
            spark,
            rows=[
                {
                    "conv_id": c,
                    "turn_idx": t,
                    "role": "user",
                    "text": x,
                    "tool": "",
                    "ts": None,
                }
                for c, t, x in [
                    ("c0", 0, "x x x y"),
                    ("c0", 1, "x y y"),
                    ("c1", 0, "y y y y"),
                ]
            ],
        )
    )
    for term in ("x", "y"):
        a = {
            (r.conv_id, r.turn_idx): r.score
            for r in IndexSearcher(tfi).search(TermQuery(term), k=10).collect()
        }
        b = {
            (r.conv_id, r.turn_idx): r.score
            for r in IndexSearcher(plain).search(TermQuery(term), k=10).collect()
        }
        assert a == b


def test_custom_tf_guards(spark):
    from lucene_spark.analysis import Analyzer
    from lucene_spark.index import IndexBuilder

    with pytest.raises(ValueError):
        IndexBuilder(term_freq_delimiter="|", payload_delimiter="|")
    with pytest.raises(ValueError):
        IndexBuilder(term_freq_delimiter="|", analyzer=Analyzer(stemmer="s"))
    # malformed frequency raises (ArrayUtil.parseInt semantics)
    with pytest.raises(Exception):
        _tf_index(spark, [("c0", 0, "a|x")]).postings.collect()


def test_custom_tf_index_save_refuses(spark, tf_index, tmp_path):
    from lucene_spark.index.store import save_index

    with pytest.raises(NotImplementedError, match="positional"):
        save_index(tf_index, str(tmp_path / "tx"))


def test_custom_tf_rejects_nonpositive(spark):
    import pytest as _pt

    with _pt.raises(Exception, match="must be >= 1"):
        _tf_index(spark, [("c0", 0, "a|0")]).postings.collect()
    with _pt.raises(Exception, match="must be >= 1"):
        _tf_index(spark, [("c0", 0, "a|-3")]).postings.collect()


def test_custom_tf_positional_query_refuses(spark, tf_index):
    import pytest as _pt

    from lucene_spark.search import IndexSearcher, PhraseQuery

    s = IndexSearcher(tf_index, scoring="plain_f64")
    with _pt.raises(ValueError, match="DOCS_AND_FREQS"):
        s.search(PhraseQuery(("a", "b")), k=5)
