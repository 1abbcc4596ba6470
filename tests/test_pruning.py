"""Block-max pruning equivalence: pruned plan == unpruned plan.

The reference validates WAND admissibility by running the same query with
and without dynamic pruning and asserting identical hits
(core/src/test/.../search/TestWANDScorer.java, TestBlockMaxConjunction.java
strategy, SURVEY.md §5).  Same here: packed+pruned top-k must be rank- and
score-identical to the logical-postings plan.
"""

import pytest
from pyspark.sql import functions as F

from lucene_spark.search import BooleanQuery, IndexSearcher, Occur, TermQuery


@pytest.fixture(scope="module")
def packed_index(tiny_index):
    # small chunks so head terms span many chunks and pruning has bite
    return tiny_index.with_packed(chunk_bits=5)


@pytest.fixture(scope="module")
def searcher(packed_index):
    return IndexSearcher(packed_index)


def _or(*terms):
    return BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in terms])


def _and(*terms):
    return BooleanQuery.of(*[(TermQuery(t), Occur.MUST) for t in terms])


QUERIES = [
    TermQuery("model"),
    TermQuery("the"),
    TermQuery("zzz-missing"),
    _or("model", "data"),
    _or("the", "spark", "query"),
    _or("the", "and", "of", "model", "rareterm007"),
    _and("the", "data"),
    _and("model", "query", "the"),
    _and("model", "zzz-missing"),
    BooleanQuery.of((TermQuery("spark", boost=2.5), Occur.SHOULD), (TermQuery("data"), Occur.SHOULD)),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
@pytest.mark.parametrize("k", [3, 10])
def test_pruned_equals_unpruned(searcher, qi, k):
    q = QUERIES[qi]
    plain = searcher.search(q, k).collect()
    pruned = searcher.search(q, k, prune=True).collect()
    assert [(r.rank, r.doc_id) for r in pruned] == [(r.rank, r.doc_id) for r in plain]
    assert [r.score for r in pruned] == [r.score for r in plain], "scores must be bit-identical"


def test_full_match_set_unpruned_path_equal(searcher):
    """With prune disabled the packed path must reproduce the FULL scored set."""
    q = _or("the", "model", "data")
    a = searcher.scored(q).orderBy("doc_id").collect()
    b = searcher.scored_packed(q, prune=False).orderBy("doc_id").collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]


def test_and_packed_full_set(searcher):
    q = _and("the", "model")
    a = searcher.scored(q).orderBy("doc_id").collect()
    b = searcher.scored_packed(q, prune=True).orderBy("doc_id").collect()
    assert [(r.doc_id, round(r.score, 5)) for r in a] == [
        (r.doc_id, round(r.score, 5)) for r in b
    ]


def test_pruned_matches_oracle(searcher, tiny_oracle):
    """Packed+pruned path against the pure-Python Lucene-semantics oracle."""
    q = _or("the", "spark", "query")
    got = searcher.search(q, 10, prune=True).collect()
    want = tiny_oracle.topk_keys(tiny_oracle.search_or(["the", "spark", "query"], 10))
    assert [(r.conv_id, r.turn_idx) for r in got] == [(c, t) for c, t, _ in want]
    assert [r.score for r in got] == [float(s) for _, _, s in want]


def test_pruning_actually_prunes(packed_index, searcher):
    """The chunk filter must drop chunks for a skewed OR query (sanity that
    the plan isn't vacuously unpruned)."""
    from lucene_spark.search.packed import PackedScorer

    ps = PackedScorer(searcher)
    tw = {"the": searcher._weight(1.0, searcher.term_doc_freqs(["the"])["the"])}
    dfs = searcher.term_doc_freqs(["the", "rareterm007"])
    weights = {t: searcher._weight(1.0, dfs[t]) for t in dfs}
    tau = ps.seed_threshold(weights, k=3)
    assert tau > 0.0
    total_chunks = (
        packed_index.packed.filter(F.col("term").isin(list(weights)))
        .select("chunk")
        .distinct()
        .count()
    )
    # chunks surviving the bound filter
    pk = packed_index.packed.filter(F.col("term").isin(list(weights))).withColumn(
        "_w", searcher._term_lookup(weights, searcher._score_dt)
    )
    pk = pk.withColumn(
        "_ub", searcher._score_of("_w", "max_freq", "min_norm").cast("double")
    )
    kept = (
        pk.groupBy("chunk")
        .agg(F.sum("_ub").alias("b"))
        .filter(F.col("b") >= tau)
        .count()
    )
    assert kept < total_chunks
