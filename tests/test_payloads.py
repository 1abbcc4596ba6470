"""Payloads: DelimitedPayloadTokenFilter index path + PayloadScoreQuery /
SpanPayloadCheckQuery (queries/payloads/*).

Hand-computed expectations mirror the reference semantics:
PayloadSpans.collectLeaf (PayloadScoreQuery.java:219-232), the four
PayloadFunction classes, PayloadDecoder.java:29 (null payload -> factor 1),
and TestPayloadSpans/TestPayloadScoreQuery-style corpora.
"""

import math

import numpy as np
import pytest

from lucene_spark.analysis.payloads import (
    delimited_payload_entries,
    encode_payload,
    split_payload_token,
)


# ---------------------------------------------------------------------------
# analysis-side unit semantics (DelimitedPayloadTokenFilter.java:54-67)


def test_split_first_delimiter():
    assert split_payload_token("foo|bar") == ("foo", "bar")
    # the FIRST delimiter splits; later ones belong to the payload
    assert split_payload_token("a|b|c") == ("a", "b|c")
    assert split_payload_token("plain") == ("plain", None)
    assert split_payload_token("|3") == ("", "3")


def test_encoders():
    assert encode_payload("2.5", "float") == 2.5
    assert encode_payload("42", "int") == 42.0
    assert encode_payload(None, "float") is None
    with pytest.raises(ValueError):
        encode_payload("x", "float")
    with pytest.raises(ValueError):
        encode_payload("2.5", "int")


def test_delimited_entries():
    n, inv = delimited_payload_entries("the|1 quick|2.5 the fox|7")
    assert n == 4
    assert inv["the"] == ([0, 2], [1.0, None])
    assert inv["quick"] == ([1], [2.5])
    assert inv["fox"] == ([3], [7.0])


# ---------------------------------------------------------------------------
# index + query integration


@pytest.fixture(scope="module")
def payload_index(spark):
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder

    rows = [
        # (conv, turn, text) — whitespace tokens, | payloads
        ("c0", 0, "red|2 fox|3 red|10"),
        ("c0", 1, "red|5 dog"),
        ("c0", 2, "red fox|1"),          # red without payload (null -> 1)
        ("c1", 0, "quick|4 red|1 fox|6"),
        ("c1", 1, "dog|9 dog|2"),
        ("c1", 2, "red|-3 fox|0.5"),
    ]
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
    return IndexBuilder(num_segments=2, payload_delimiter="|").build(df)


@pytest.fixture(scope="module")
def payload_searcher(payload_index):
    from lucene_spark.search import IndexSearcher

    return IndexSearcher(payload_index, scoring="plain_f64")


def _by_key(searcher, q, k=20):
    rows = searcher.search(q, k=k).collect()
    return {(r.conv_id, r.turn_idx): r.score for r in rows}


def test_payload_index_relation(payload_index):
    row = (
        payload_index.postings.filter("term = 'red'")
        .join(payload_index.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id")
        .filter("conv_id = 'c0' and turn_idx = 0")
        .collect()[0]
    )
    assert row.positions == [0, 2]
    assert row.payloads == [2.0, 10.0]


def test_payload_score_max(payload_searcher):
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanTermQuery

    got = _by_key(
        payload_searcher, PayloadScoreQuery(SpanTermQuery("red"), "max")
    )
    assert got == {
        ("c0", 0): 10.0,
        ("c0", 1): 5.0,
        ("c0", 2): 1.0,  # null payload decodes to 1
        ("c1", 0): 1.0,
        ("c1", 2): -3.0,
    }


def test_payload_score_min_sum_avg(payload_searcher):
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanTermQuery

    mn = _by_key(payload_searcher, PayloadScoreQuery(SpanTermQuery("red"), "min"))
    assert mn[("c0", 0)] == 2.0
    assert mn[("c1", 2)] == -3.0
    sm = _by_key(payload_searcher, PayloadScoreQuery(SpanTermQuery("dog"), "sum"))
    assert sm == {("c0", 1): 1.0, ("c1", 1): 11.0}  # null -> 1; 9+2
    av = _by_key(payload_searcher, PayloadScoreQuery(SpanTermQuery("red"), "avg"))
    assert av[("c0", 0)] == 6.0  # (2+10)/2


def test_payload_score_span_near(payload_searcher):
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanNearQuery, SpanTermQuery

    near = SpanNearQuery(
        (SpanTermQuery("red"), SpanTermQuery("fox")), slop=0, in_order=True
    )
    sm = _by_key(payload_searcher, PayloadScoreQuery(near, "sum"))
    # c0/0: span at 0 -> red|2 fox|3 = 5 (the red|10 at pos 2 has no fox after)
    # c0/2: red(null->1) fox|1 = 2 ; c1/0: red|1 fox|6 = 7 ; c1/2: -3+0.5
    assert sm == {
        ("c0", 0): 5.0,
        ("c0", 2): 2.0,
        ("c1", 0): 7.0,
        ("c1", 2): -2.5,
    }
    av = _by_key(payload_searcher, PayloadScoreQuery(near, "avg"))
    assert av[("c1", 0)] == 3.5


def _f32_fold_avg(xs):
    """AveragePayloadFunction in float32: the sum folds one leaf at a time,
    then divides by the count, every step rounded to float32."""
    acc = np.float32(0.0)
    for x in xs:
        acc = np.float32(acc + np.float32(x))
    return np.float32(acc / np.float32(len(xs)))


def test_payload_avg_folds_in_float32(spark):
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanTermQuery

    payloads = (0.1, 0.2, 0.4)
    f32 = _f32_fold_avg(payloads)
    f64 = np.float32(sum(float(np.float32(x)) for x in payloads) / len(payloads))
    assert f32.view(np.uint32) != f64.view(np.uint32), "folds must differ"
    text = " ".join(f"w|{x}" for x in payloads)
    df = transcripts_df(
        spark,
        rows=[{"conv_id": "c0", "turn_idx": 0, "role": "user", "text": text,
               "tool": "", "ts": None}],
    )
    idx = IndexBuilder(num_segments=1, payload_delimiter="|").build(df)
    got = _by_key(IndexSearcher(idx), PayloadScoreQuery(SpanTermQuery("w"), "avg"))
    assert np.float32(got[("c0", 0)]).view(np.uint32) == f32.view(np.uint32)


def test_payload_include_span_score(payload_searcher):
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanTermQuery

    base = _by_key(
        payload_searcher,
        PayloadScoreQuery(SpanTermQuery("dog"), "sum", include_span_score=False),
    )
    inc = _by_key(
        payload_searcher,
        PayloadScoreQuery(SpanTermQuery("dog"), "sum", include_span_score=True),
    )
    span = _by_key(payload_searcher, SpanTermQuery("dog").rewrite())
    assert set(inc) == set(base)
    for key in inc:
        assert inc[key] == pytest.approx(base[key] * span[key], rel=1e-9)


def test_payload_check_eq(payload_searcher):
    from lucene_spark.search.query import SpanPayloadCheckQuery
    from lucene_spark.search.spans import SpanNearQuery, SpanTermQuery

    near = SpanNearQuery(
        (SpanTermQuery("red"), SpanTermQuery("fox")), slop=0, in_order=True
    )
    got = _by_key(payload_searcher, SpanPayloadCheckQuery(near, (2.0, 3.0)))
    assert got == {("c0", 0): 1.0}
    # single-term check: red payload == 5
    got1 = _by_key(
        payload_searcher, SpanPayloadCheckQuery(SpanTermQuery("red"), (5.0,))
    )
    assert got1 == {("c0", 1): 1.0}
    # a null indexed payload never matches EQ
    got2 = _by_key(
        payload_searcher, SpanPayloadCheckQuery(SpanTermQuery("dog"), (1.0,))
    )
    assert ("c0", 1) not in got2


def test_payload_check_inequalities(payload_searcher):
    from lucene_spark.search.query import SpanPayloadCheckQuery
    from lucene_spark.search.spans import SpanTermQuery

    gt = _by_key(
        payload_searcher,
        SpanPayloadCheckQuery(SpanTermQuery("red"), (4.0,), op="gt"),
    )
    # spans with payload > 4: c0/0 has red|10 (1 span), c0/1 red|5
    assert gt == {("c0", 0): 1.0, ("c0", 1): 1.0}
    lte = _by_key(
        payload_searcher,
        SpanPayloadCheckQuery(SpanTermQuery("red"), (2.0,), op="lte"),
    )
    assert lte == {("c0", 0): 1.0, ("c1", 0): 1.0, ("c1", 2): 1.0}
    # multi-span count scoring: red|2 and red|10 both > 1 in c0/0
    gt1 = _by_key(
        payload_searcher,
        SpanPayloadCheckQuery(SpanTermQuery("red"), (1.0,), op="gt"),
    )
    assert gt1[("c0", 0)] == 2.0


def test_payload_builder_guards(spark):
    from lucene_spark.analysis import Analyzer
    from lucene_spark.index import IndexBuilder

    with pytest.raises(ValueError):
        IndexBuilder(payload_delimiter="|", analyzer=Analyzer(stemmer="porter"))
    with pytest.raises(ValueError):
        IndexBuilder(payload_delimiter="|", payload_encoder="identity")


def test_payload_query_on_plain_index_raises(tiny_index):
    from lucene_spark.search import IndexSearcher
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanTermQuery

    s = IndexSearcher(tiny_index, scoring="plain_f64")
    with pytest.raises(ValueError, match="payload"):
        s.search(PayloadScoreQuery(SpanTermQuery("the"), "max"), k=5)


def test_payload_function_validation():
    from lucene_spark.search.query import PayloadScoreQuery, SpanPayloadCheckQuery
    from lucene_spark.search.spans import SpanTermQuery

    with pytest.raises(ValueError):
        PayloadScoreQuery(SpanTermQuery("x"), "median")
    with pytest.raises(ValueError):
        SpanPayloadCheckQuery(SpanTermQuery("x"), (1.0,), op="ne")


def test_payload_index_save_refuses(spark, payload_index, tmp_path):
    """The packed store codec has no payload lane — save_index must refuse
    loudly rather than silently drop the column."""
    from lucene_spark.index.store import save_index

    with pytest.raises(NotImplementedError, match="payload"):
        save_index(payload_index, str(tmp_path / "px"))
