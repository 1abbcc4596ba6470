"""BM25NBClassifier (classification/BM25NBClassifier.java) vs a
brute-force python simulation built from the raw corpus."""

import math
import re

import pytest


def _simulate(rows, test_keys, tokenize, k1=1.2, b=0.75):
    """Independent simulation from raw text: plain BM25 with
    byte4-quantized dl, per-class top-1 semantics; ``tokenize`` maps a
    text to its index terms."""
    from lucene_spark.util.smallfloat import NUM_FREE_VALUES

    def byte4(dl):
        if dl < NUM_FREE_VALUES:
            return dl
        v = dl - NUM_FREE_VALUES
        if v < 8:
            return dl
        nbits = v.bit_length()
        shift = nbits - 4
        enc = ((v >> shift) & 7) | 8
        q = enc << shift
        return NUM_FREE_VALUES + q

    docs = {}
    for r in rows:
        toks = tokenize(r["text"])
        docs[(r["conv_id"], r["turn_idx"])] = (r["role"], toks)
    n = sum(1 for _, t in docs.values() if t)
    sttf = sum(len(t) for _, t in docs.values())
    avgdl = sttf / n
    df = {}
    for _, toks in docs.values():
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    # per (class, term) max bm25
    mx = {}
    for (_, _), (cls, toks) in docs.items():
        dl = byte4(len(toks))
        tf = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        for t, f in tf.items():
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s = idf * f / (f + k1 * ((1 - b) + b * dl / avgdl))
            key = (cls, t)
            if s > mx.get(key, -1):
                mx[key] = s
    cdf = {}
    for cls, _ in docs.values():
        cdf[cls] = cdf.get(cls, 0) + 1
    nc = sum(cdf.values())
    cs = {
        c: math.log(1 + (nc - d + 0.5) / (d + 0.5)) / (1 + k1)
        for c, d in cdf.items()
    }
    out = {}
    for key in test_keys:
        _, toks = docs[key]
        best = None
        for c in sorted(cs):
            score = math.log(cs[c])
            for t in toks:
                score += math.log(cs[c] + mx.get((c, t), 0.0))
            if best is None or score > best[1] + 1e-12:
                best = (c, score)
        out[key] = best
    return out


def _check_against_simulation(spark, rows, index, tokenize):
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.pipeline.classify import bm25_nb_classify

    df = transcripts_df(spark, rows=rows)
    test = df.filter("turn_idx = 0")
    got = {
        (r.conv_id, r.turn_idx): (r.assigned, r.log_score)
        for r in bm25_nb_classify(index, test).collect()
    }
    keys = list(got)
    exp = _simulate(rows, keys, tokenize)
    assert set(got) == set(exp)
    for k in keys:
        assert got[k][0] == exp[k][0], k
        assert got[k][1] == pytest.approx(exp[k][1], rel=1e-9), k


def test_bm25_nb_matches_simulation(spark, tiny_corpus, tiny_index):
    from lucene_spark.analysis.tokenizer import tokenize_text

    _check_against_simulation(spark, tiny_corpus, tiny_index, tokenize_text)


def test_bm25_nb_matches_simulation_porter(spark, tiny_corpus):
    """An English (stopwords + Porter) index: the test text runs the same
    chain, dictionary stem included, so its tokens meet the stemmed
    postings vocabulary."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder

    an = Analyzer.english()
    idx = IndexBuilder(num_segments=4, analyzer=an).build(
        transcripts_df(spark, rows=tiny_corpus)
    )
    try:
        _check_against_simulation(
            spark,
            tiny_corpus,
            idx,
            lambda text: [t for t, _ in an.analyze_text(text)],
        )
    finally:
        idx.unpersist_all()


def test_knn_fuzzy_classify_vote_math(spark, tiny_index):
    from lucene_spark.pipeline.classify import knn_fuzzy_classify
    from lucene_spark.search import IndexSearcher
    from lucene_spark.search.query import FuzzyLikeThisQuery

    s = IndexSearcher(tiny_index, scoring="plain_f64")
    text, k = "modell spark", 7
    got = [
        (r.assigned, r.vote)
        for r in knn_fuzzy_classify(s, text, k=k).collect()
    ]
    # brute force from the same top-k (the vote math is the unit under
    # test; the fuzzy expansion is pinned by its own suite)
    top = s.search(FuzzyLikeThisQuery(((text, 1, 2),)), k).collect()
    roles = {
        r.doc_id: r.role for r in tiny_index.docs.collect()
    }
    mxs = max(r.score for r in top)
    n = len(top)
    denom = k if n >= k else n
    boosts = {}
    for r in top:
        c = roles[r.doc_id]
        boosts[c] = boosts.get(c, 0.0) + r.score / mxs
    exp = sorted(
        ((c, b / denom) for c, b in boosts.items()),
        key=lambda x: (-x[1], x[0]),
    )
    assert [(c, pytest.approx(v, rel=1e-12)) for c, v in exp] == got


def test_knn_fuzzy_classify_skips_null_class_docs(spark):
    """A doc with no class value never takes a top-k slot: the vote runs
    over the k best docs that HAVE a class (the reference searches with a
    class-field clause), not over what is left of the top k."""
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.pipeline.classify import knn_fuzzy_classify
    from lucene_spark.search import IndexSearcher
    from lucene_spark.search.query import FuzzyLikeThisQuery

    docs = [  # (role, text): the null-class doc is the best match
        (None, "spark spark spark"),
        ("a", "spark spark"),
        ("b", "spark cluster"),
        ("a", "spark data data data"),
        ("b", "other words"),
    ]
    rows = [
        {"conv_id": "c", "turn_idx": i, "role": r, "text": t, "tool": "", "ts": None}
        for i, (r, t) in enumerate(docs)
    ]
    idx = IndexBuilder(num_segments=1).build(transcripts_df(spark, rows=rows))
    try:
        s = IndexSearcher(idx, scoring="plain_f64")
        k = 2
        got = [(r.assigned, r.vote) for r in knn_fuzzy_classify(s, "spark", k=k).collect()]
        # brute force over the docs that have a class
        flt = FuzzyLikeThisQuery((("spark", 1, 2),))
        scored = {r.doc_id: r.score for r in s.scored(flt).collect()}
        assert max(scored, key=scored.get) == 0, "the null-class doc must rank first"
        roles = {r.doc_id: r.role for r in idx.docs.collect()}
        top = sorted(
            ((-v, d) for d, v in scored.items() if roles[d] is not None)
        )[:k]
        mx = -top[0][0]
        votes = {}
        for neg, d in top:
            votes[roles[d]] = votes.get(roles[d], 0.0) + (-neg) / mx
        exp = sorted(((c, v / k) for c, v in votes.items()), key=lambda x: (-x[1], x[0]))
        assert len(exp) == 2
        assert got == [(c, pytest.approx(v, rel=1e-12)) for c, v in exp]
    finally:
        idx.unpersist_all()
