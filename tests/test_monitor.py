"""Monitor / percolator: registered queries vs document batches, verified
against forward search over the same corpus."""

import pytest

from lucene_spark.search import (
    BooleanQuery,
    IndexSearcher,
    Occur,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from lucene_spark.streaming.monitor import Monitor

QUERIES = {
    "q_term": TermQuery("model"),
    "q_bool": BooleanQuery.of(
        (TermQuery("data"), Occur.MUST), (TermQuery("slow"), Occur.MUST_NOT)
    ),
    "q_phrase": PhraseQuery(("the", "model")),
    "q_sloppy": PhraseQuery(("model", "data"), slop=3),
    "q_prefix": PrefixQuery("mod"),
    "q_nested": BooleanQuery.of(
        (TermQuery("spark"), Occur.SHOULD), (TermQuery("query"), Occur.SHOULD),
        min_should_match=2,
    ),
}


@pytest.fixture(scope="module")
def docs(spark, tiny_corpus):
    from lucene_spark.fixtures import transcripts_df

    return transcripts_df(spark, rows=tiny_corpus)


def test_monitor_matches_forward_search(spark, docs, tiny_index):
    mon = Monitor(QUERIES)
    got = mon.match_batch(docs, id_cols=("conv_id", "turn_idx")).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, set()).add((r.conv_id, r.turn_idx))
    s = IndexSearcher(tiny_index)
    for qid, q in QUERIES.items():
        fwd = {
            (r.conv_id, r.turn_idx)
            for r in s.search(q, 100000).collect()
        }
        assert by_q.get(qid, set()) == fwd, qid


def test_pure_negation_rejected():
    with pytest.raises(ValueError):
        Monitor({"bad": BooleanQuery.of((TermQuery("x"), Occur.MUST_NOT))})


def test_monitor_streaming_attach(spark, docs, tmp_path):
    import os

    src = str(tmp_path / "src")
    docs.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    mon = Monitor({"q_term": TermQuery("model")})
    out = []

    def sink(matches, batch_id):
        out.extend(
            (r.conv_id, r.turn_idx) for r in matches.collect()
        )

    q = mon.attach(
        stream, sink, id_cols=("conv_id", "turn_idx"),
        checkpoint=str(tmp_path / "ckpt"), trigger_once=True,
    )
    q.awaitTermination(300)
    batch = {
        (r.conv_id, r.turn_idx)
        for r in mon.match_batch(docs, id_cols=("conv_id", "turn_idx")).collect()
    }
    assert set(out) == batch and len(batch) > 0


def test_matchall_matches_zero_token_docs(spark):
    """Universal anchors must reach docs that produce no token rows
    (ADVICE r02: explode drops empty docs from the candidate join)."""
    from lucene_spark.search.query import MatchAllDocsQuery

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "some words here")], "doc_id long, text string"
    )
    mon = Monitor({"q_all": MatchAllDocsQuery(), "q_term": TermQuery("words")})
    got = {(r.doc_id, r.query_id) for r in mon.match_batch(docs).collect()}
    assert got == {(1, "q_all"), (2, "q_all"), (3, "q_all"), (3, "q_term")}


def test_monitor_analyzer_chain(spark):
    """Monitor(analyzer=...) tokenizes documents through the index chain,
    so stemmed registered terms match raw document text (ADVICE r02)."""
    from lucene_spark.analysis import Analyzer

    docs = spark.createDataFrame(
        [(1, "the models were training quickly"), (2, "nothing relevant")],
        "doc_id long, text string",
    )
    an = Analyzer(stopwords=frozenset({"the", "were"}), stemmer="porter")
    assert an.analyze_query("training") == ["train"]
    mon = Monitor(
        {"q_stem": TermQuery("train"),
         "q_phrase_hole": PhraseQuery(("model", "train"), positions=(1, 3))},
        analyzer=an,
    )
    got = {(r.doc_id, r.query_id) for r in mon.match_batch(docs).collect()}
    # "the models were training" -> model@1, train@3 (stop holes kept)
    assert got == {(1, "q_stem"), (1, "q_phrase_hole")}

    # a word_delimiter chain: split parts carry the filter's positions
    from lucene_spark.analysis.worddelim import DEFAULT_FLAGS

    wd = Analyzer(word_delimiter=DEFAULT_FLAGS)
    assert wd.analyze_query("Wi-Fi PowerShot500") == [
        "wi", "fi", "power", "shot", "500",
    ]
    wd_docs = spark.createDataFrame(
        [(1, "the Wi-Fi PowerShot500"), (2, "wifi powershot")],
        "doc_id long, text string",
    )
    mon = Monitor(
        {"q_part": TermQuery("shot"),
         "q_phrase": PhraseQuery(("wi", "fi")),
         "q_whole": TermQuery("powershot")},
        analyzer=wd,
    )
    got = {(r.doc_id, r.query_id) for r in mon.match_batch(wd_docs).collect()}
    assert got == {(1, "q_part"), (1, "q_phrase"), (2, "q_whole")}


def test_scored_percolation_equals_forward_single_doc_search(spark):
    """Monitor(scored=True) == the float32 score a forward IndexSearcher
    gives the query over a ONE-document index built from the doc (the
    reference's ScoringMatch semantics)."""
    import numpy as np

    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher

    text = "the model trains the data model on spark data quickly"
    corpus = spark.createDataFrame(
        [("c0", 0, "user", text, None, 0)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts long",
    )
    idx = IndexBuilder(num_segments=1).build(corpus)
    s = IndexSearcher(idx)
    queries = {
        "q_term": TermQuery("model"),
        "q_bool": BooleanQuery.of(
            (TermQuery("data"), Occur.MUST), (TermQuery("model"), Occur.SHOULD)
        ),
        "q_phrase": PhraseQuery(("the", "model")),
        "q_sloppy": PhraseQuery(("model", "data"), slop=4),
        "q_prefix": PrefixQuery("mod"),
    }
    mon = Monitor(queries)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        r.query_id: np.float32(r.score)
        for r in mon.match_batch(docs, scored=True).collect()
    }
    assert set(got) == set(queries)
    for qid, q in queries.items():
        fwd = s.search(q, 1).collect()
        assert len(fwd) == 1, qid
        assert np.float32(fwd[0].score) == got[qid], qid


def test_scored_percolation_nonmatching_absent(spark):
    mon = Monitor({"q": TermQuery("absent")})
    docs = spark.createDataFrame([(1, "present words only")], "doc_id long, text string")
    assert mon.match_batch(docs, scored=True).collect() == []


def test_streaming_percolation(spark, tmp_path_factory):
    """Monitor over a real readStream (foreachBatch = the percolation
    alerting shape): per-micro-batch match_batch output accumulated
    across batches equals one batch-mode pass over the full input."""
    from lucene_spark.search import BooleanQuery, Occur, PhraseQuery, TermQuery
    from lucene_spark.streaming.monitor import Monitor

    root = tmp_path_factory.mktemp("sperc")
    src = str(root / "in")
    rows_a = [(1, "the spark model trains"), (2, "slow legacy table scan")]
    rows_b = [(3, "spark query planner"), (4, "data model registry"),
              (5, "the spark model")]
    schema = "doc_id long, text string"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(src + "/a")
    spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(src + "/b")

    mon = Monitor({
        "q_spark": TermQuery("spark"),
        "q_bool": BooleanQuery.of(
            (TermQuery("model"), Occur.MUST), (TermQuery("legacy"), Occur.MUST_NOT)
        ),
        "q_phrase": PhraseQuery(("spark", "model")),
    })

    got = []

    def per_batch(batch_df, _bid):
        got.extend(
            (r.doc_id, r.query_id) for r in mon.match_batch(batch_df).collect()
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    full = spark.createDataFrame(rows_a + rows_b, schema)
    want = {(r.doc_id, r.query_id) for r in mon.match_batch(full).collect()}
    assert set(got) == want
    assert (1, "q_phrase") in want and (5, "q_phrase") in want
    assert (3, "q_spark") in want and (4, "q_bool") in want
