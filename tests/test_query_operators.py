"""Per-operator semantics: every remaining Query type vs brute force.

Brute-force truth is computed driver-side from the collected postings/docs
of the fixture index, so each operator's match-set and scoring contract
(SURVEY.md §2.6-2.7) is pinned independently of the DataFrame plan.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from lucene_spark.search import (
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FuzzyQuery,
    IndexSearcher,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    Occur,
    PrefixQuery,
    RegexpQuery,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)
from lucene_spark.search.query import FieldExistsQuery, RangePredicate


@pytest.fixture(scope="module")
def env(tiny_index):
    searcher = IndexSearcher(tiny_index)
    postings = tiny_index.postings.select("term", "doc_id", "freq").collect()
    docs = {r.doc_id: r for r in tiny_index.docs.collect()}
    by_term = {}
    for r in postings:
        by_term.setdefault(r.term, {})[r.doc_id] = r.freq
    return searcher, by_term, docs


def matches(searcher, q):
    return {r.doc_id for r in searcher.scored(q).collect()}


def scores(searcher, q):
    return {r.doc_id: float(r.score) for r in searcher.scored(q).collect()}


def test_term_in_set(env):
    searcher, by_term, _ = env
    q = TermInSetQuery(("model", "data", "zzz-nope"), boost=2.0)
    want = set(by_term.get("model", {})) | set(by_term.get("data", {}))
    got = scores(searcher, q)
    assert set(got) == want
    assert all(v == 2.0 for v in got.values()), "constant-score rewrite"


def test_prefix_wildcard_regexp_range(env):
    searcher, by_term, _ = env
    vocab = set(by_term)
    pre = {t for t in vocab if t.startswith("mo")}
    want = set().union(*(by_term[t] for t in pre)) if pre else set()
    assert matches(searcher, PrefixQuery("mo")) == want

    import re as _re

    wl = {t for t in vocab if _re.fullmatch("m.del", t)}
    want = set().union(*(by_term[t] for t in wl)) if wl else set()
    assert matches(searcher, WildcardQuery("m?del")) == want

    rx = {t for t in vocab if _re.fullmatch("mod.*", t)}
    want = set().union(*(by_term[t] for t in rx)) if rx else set()
    assert matches(searcher, RegexpQuery("mod.*")) == want

    rr = {t for t in vocab if "data" <= t < "model"}
    want = set().union(*(by_term[t] for t in rr)) if rr else set()
    assert (
        matches(searcher, TermRangeQuery("data", "model", include_upper=False)) == want
    )


def test_fuzzy(env):
    searcher, by_term, _ = env
    got = matches(searcher, FuzzyQuery("modl", max_edits=1))
    # 'model' is 1 edit away
    assert set(by_term.get("model", {})) <= got


def test_match_all_none_exists(env):
    searcher, _, docs = env
    assert matches(searcher, MatchAllDocsQuery()) == set(docs)
    assert matches(searcher, MatchNoDocsQuery()) == set()
    want = {d for d, r in docs.items() if r.tool is not None}
    assert matches(searcher, FieldExistsQuery("tool")) == want


def test_range_predicate(env):
    searcher, _, docs = env
    q = RangePredicate("turn_idx", lower=2, upper=5, include_upper=False)
    want = {d for d, r in docs.items() if 2 <= r.turn_idx < 5}
    assert matches(searcher, q) == want


def test_boost_and_constant_score(env):
    searcher, _, _ = env
    base = scores(searcher, TermQuery("model"))
    boosted = scores(searcher, BoostQuery(TermQuery("model"), 3.0))
    assert set(base) == set(boosted)
    for d in base:
        # boost folds into the term weight (w = boost * idf), not a post-multiply;
        # float32 algebra keeps it within 1 ulp of 3x
        assert abs(boosted[d] - 3.0 * base[d]) <= 2e-6 * abs(boosted[d]) + 1e-7
    const = scores(searcher, ConstantScoreQuery(TermQuery("model"), boost=0.5))
    assert set(const) == set(base) and all(v == 0.5 for v in const.values())


def test_disjunction_max(env):
    searcher, _, _ = env
    a = scores(searcher, TermQuery("model"))
    b = scores(searcher, TermQuery("data"))
    got = scores(searcher, DisjunctionMaxQuery((TermQuery("model"), TermQuery("data")), tie_breaker=0.0))
    assert set(got) == set(a) | set(b)
    for d, v in got.items():
        want = max(a.get(d, 0.0), b.get(d, 0.0))
        assert abs(v - want) < 1e-6


def test_synonym_query_blended(env):
    searcher, by_term, _ = env
    q = SynonymQuery(("model", "data"))
    got = scores(searcher, q)
    assert set(got) == set(by_term.get("model", {})) | set(by_term.get("data", {}))
    # blended df = max member df; freq = summed -> one score per doc, all > 0
    assert all(v > 0 for v in got.values())


def test_filter_occur_and_min_should_match(env):
    searcher, by_term, _ = env
    # FILTER: non-scoring required clause — same matches as MUST but the
    # filter clause contributes no score; next to it the SHOULD clause is
    # optional (ReqOptSumScorer), so filter-only docs match with score 0
    q_filter = BooleanQuery.of(
        (TermQuery("model"), Occur.SHOULD), (TermQuery("data"), Occur.FILTER)
    )
    got = scores(searcher, q_filter)
    assert set(got) == set(by_term.get("data", {}))
    assert set(got) - set(by_term.get("model", {})), "no filter-only doc"
    model_alone = scores(searcher, TermQuery("model"))
    for d, v in got.items():
        assert v == model_alone.get(d, 0.0), "FILTER must not contribute score"

    # minimumNumberShouldMatch = 2 of 3
    terms = ["model", "data", "query"]
    q_msm = BooleanQuery.of(
        *[(TermQuery(t), Occur.SHOULD) for t in terms], min_should_match=2
    )
    got = matches(searcher, q_msm)
    want = {
        d
        for d in set().union(*(set(by_term.get(t, {})) for t in terms))
        if sum(d in by_term.get(t, {}) for t in terms) >= 2
    }
    assert got == want


def test_count_matches_total_hits(env):
    searcher, by_term, _ = env
    q = BooleanQuery.of(
        (TermQuery("model"), Occur.SHOULD), (TermQuery("data"), Occur.SHOULD)
    )
    assert searcher.count(q) == len(
        set(by_term.get("model", {})) | set(by_term.get("data", {}))
    )


def test_blended_term_query(spark, tiny_index, tiny_oracle):
    """BlendedTermQuery: every member scored with the MAX docFreq, dismax
    combine with tie 0.01 — verified against a driver-side recomputation
    from oracle postings."""
    import numpy as np
    from lucene_spark.search.query import BlendedTermQuery

    terms = ["model", "rareterm007"]
    s = IndexSearcher(tiny_index)
    got = s.search(BlendedTermQuery(tuple(terms)), 10).collect()

    o = tiny_oracle
    df_blend = max(o.doc_freq(t) for t in terms)
    N = o.doc_count
    import math
    idf = np.float32(math.log(1 + (N - df_blend + 0.5) / (df_blend + 0.5)))
    cache = o.norm_inverse_cache()
    one = np.float32(1.0)
    per = {}
    for t in terms:
        for d, freq in o.postings.get(t, {}).items():
            sc = np.float32(idf - idf / (one + np.float32(freq) * cache[o.docs[d].norm]))
            per.setdefault(d, []).append(sc)
    tie = np.float32(0.01)
    want = {}
    for d, ss in per.items():
        mx = np.float32(max(float(x) for x in ss))
        sm = np.float32(sum(float(x) for x in ss))
        want[d] = np.float32(mx + np.float32(tie * np.float32(sm - mx)))
    ranked = sorted(want.items(), key=lambda kv: (-float(kv[1]), kv[0]))[:10]
    keys = {d.doc_id: (d.conv_id, d.turn_idx) for d in o.docs}
    assert [(r.conv_id, r.turn_idx) for r in got] == [keys[d] for d, _ in ranked]
    np.testing.assert_array_equal(
        np.array([r.score for r in got], dtype=np.float32),
        np.array([x for _, x in ranked], dtype=np.float32),
    )


def test_match_only_lowering_carries_no_scoring(spark, tiny_index):
    """FILTER/MUST_NOT operands lower via _matches without the BM25
    machinery: no score column, no weight broadcast join, no norm-cache
    literal in the analyzed plan — and the match set equals the scored
    path's distinct doc_ids (VERDICT r02 'What's wrong #3')."""
    from lucene_spark.search import BooleanQuery, IndexSearcher, Occur, TermQuery
    from lucene_spark.search.query import PrefixQuery

    s = IndexSearcher(tiny_index)
    for q in (
        TermQuery("model"),
        PrefixQuery("mod"),
        BooleanQuery.of(
            (TermQuery("data"), Occur.MUST), (TermQuery("model"), Occur.SHOULD)
        ),
    ):
        m = s._matches(q)
        assert m.columns == ["doc_id"]
        plan = m._jdf.queryExecution().analyzed().toString()
        assert "score" not in plan, type(q).__name__
        got = {r.doc_id for r in m.collect()}
        want = {r.doc_id for r in s._scored(q).select("doc_id").collect()}
        assert got == want, type(q).__name__


def test_index_or_docvalues_paths(env):
    """IndexOrDocValuesQuery access-path choice (the 8x dv penalty of
    IndexOrDocValuesQuery.java:176-192): a range FILTER next to a selective
    lead takes the broadcast post-filter (dv) path; next to a broad lead it
    takes the filtered-scan semi-join (index) path.  Both must produce the
    reference match set."""
    searcher, by_term, docs = env
    wide = RangePredicate("turn_idx", lower=1)  # matches most docs
    # rare lead: dv path expected (range cost / 8 > lead cost)
    rare = min(by_term, key=lambda t: len(by_term[t]))
    common = max(by_term, key=lambda t: len(by_term[t]))
    assert searcher._range_cost(wide) / 8 > len(by_term[rare])
    for lead in (rare, common):
        q = BooleanQuery.of(
            (TermQuery(lead), Occur.MUST), (wide, Occur.FILTER)
        )
        want = set(by_term[lead]) & {
            d for d, r in docs.items() if r.turn_idx >= 1
        }
        got = {r.doc_id for r in searcher._matches(q).collect()}
        assert got == want, lead
    # dv plan: broadcast of the candidate set, no shuffle of docs
    qdv = BooleanQuery.of(
        (TermQuery(rare), Occur.MUST), (wide, Occur.FILTER)
    )
    plan = searcher._matches(qdv)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_clause_cost_ordering(env):
    """Clause costs: term cost == docFreq; range cost scales with the
    queried fraction of the column span; unknown shapes cost doc_count."""
    searcher, by_term, docs = env
    for t, postings in list(by_term.items())[:5]:
        assert searcher._clause_cost(TermQuery(t)) == len(postings)
    n = float(searcher.doc_count)
    full = searcher._range_cost(RangePredicate("turn_idx"))
    assert full == pytest.approx(n)
    lo, hi = searcher._col_minmax("turn_idx")
    mid = (lo + hi) / 2.0
    half = searcher._range_cost(RangePredicate("turn_idx", lower=mid))
    assert 0.0 < half < full
    assert searcher._clause_cost(PrefixQuery("mod")) == n


def test_function_score_query(env):
    """FunctionScoreQuery: match set == inner query's; score = expression
    over doc columns with _score bound to the inner score; boost
    multiplies the function value (FunctionScoreQuery.java:52)."""
    from lucene_spark.search import FunctionScoreQuery

    searcher, by_term, docs = env
    inner = BooleanQuery.of(
        (TermQuery("model"), Occur.SHOULD), (TermQuery("data"), Occur.SHOULD)
    )
    base = {r.doc_id: r.score for r in searcher._scored(inner).collect()}
    q = FunctionScoreQuery(inner, "_score * (1.0 + length / 100.0)", boost=2.0)
    got = {r.doc_id: r.score for r in searcher._scored(q).collect()}
    assert set(got) == set(base)
    for d, s in got.items():
        want = 2.0 * base[d] * (1.0 + docs[d].length / 100.0)
        assert s == pytest.approx(want, rel=1e-6), d
    # match-only lowering never computes the function
    mset = {r.doc_id for r in searcher._matches(q).collect()}
    assert mset == set(base)


def test_filter_cache_lru(env):
    """LRUQueryCache analog: a repeated FILTER operand's match set is
    persisted after MIN_USES lowerings (InMemoryTableScan in the plan),
    results are identical cached vs uncached, cheap queries are never
    cached, and LRU eviction unpersists."""
    searcher, by_term, docs = env
    q = BooleanQuery.of(
        (TermQuery("model"), Occur.SHOULD), (TermQuery("data"), Occur.SHOULD)
    )
    fresh = {r.doc_id for r in searcher._matches_impl(q).collect()}

    searcher.__dict__.pop("_filter_cache", None)
    searcher.__dict__.pop("_filter_uses", None)
    first = searcher._matches(q)
    assert q not in searcher.__dict__.get("_filter_cache", {})  # 1 use: not yet
    second = searcher._matches(q)
    assert q in searcher._filter_cache  # 2nd use: cached + persisted
    plan = second._jdf.queryExecution().executedPlan().toString()
    third = searcher._matches(q)
    plan3 = third._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan3
    assert {r.doc_id for r in third.collect()} == fresh
    assert {r.doc_id for r in first.collect()} == fresh

    # TermQuery is never cached (cheap-query policy)
    tq = TermQuery("model")
    searcher._matches(tq); searcher._matches(tq); searcher._matches(tq)
    assert tq not in searcher._filter_cache

    # LRU eviction unpersists the oldest entry
    old_max = searcher.FILTER_CACHE_MAX
    try:
        searcher.FILTER_CACHE_MAX = 1
        q2 = BooleanQuery.of(
            (TermQuery("the"), Occur.SHOULD), (TermQuery("spark"), Occur.SHOULD)
        )
        searcher._matches(q2)
        cached_q = searcher._filter_cache[q]
        searcher._matches(q2)  # second use -> caches q2, evicts q
        assert q not in searcher._filter_cache
        assert q2 in searcher._filter_cache
        assert cached_q.storageLevel.useMemory is False  # unpersisted
    finally:
        searcher.FILTER_CACHE_MAX = old_max
        for df in searcher.__dict__.get("_filter_cache", {}).values():
            df.unpersist()
        searcher.__dict__.pop("_filter_cache", None)
        searcher.__dict__.pop("_filter_uses", None)


def test_combined_field_query(env):
    """CombinedFieldQuery (BM25F pseudo-field): brute-force parity on the
    documented statistics — keyword-column hits add their weight to the
    term frequency, df'/dl'/avgdl' are the pseudo-field's own."""
    import math

    from lucene_spark.search import CombinedFieldQuery

    searcher, by_term, docs = env
    idx = searcher.index
    roles = sorted({r.role for r in docs.values()})
    terms = ["model", roles[0]]
    q = CombinedFieldQuery(terms, fields=(("role", 2.0), ("tool", 1.0)))
    got = {r.doc_id: r.score for r in searcher._scored(q).collect()}

    n = float(searcher.doc_count)
    max_doc = float(idx.stats["max_doc"])
    wsum = 3.0
    avgdl = (idx.stats["sum_total_term_freq"] + wsum * max_doc) / n
    k1, b = 1.2, 0.75
    fp = {}
    for t in terms:
        for d, r in docs.items():
            f = float(by_term.get(t, {}).get(d, 0))
            f += 2.0 * (r.role == t) + 1.0 * (r.tool == t)
            if f > 0:
                fp[(t, d)] = f
    dfp = {t: sum(1 for (tt, _) in fp if tt == t) for t in terms}
    want = {}
    for (t, d), f in fp.items():
        idf = math.log(1.0 + (n - dfp[t] + 0.5) / (dfp[t] + 0.5))
        dl = docs[d].length + wsum
        s = idf * f / (f + k1 * ((1 - b) + b * dl / avgdl))
        want[d] = want.get(d, 0.0) + s
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-6), d
    # the keyword-only matches really are reachable (role term w/o text hit)
    kw_only = [d for d in want if (terms[1], d) in fp and terms[1] not in by_term]
    assert kw_only or terms[1] in by_term


def test_all_absent_term_clauses_match_nothing(env):
    """Regression: a BooleanQuery whose EVERY scoring clause is a term
    absent from the dictionary must return empty (the batched term fast
    path used to fall through to the FILTER-only branch and crash when
    there were no FILTER clauses)."""
    searcher, _, _ = env
    absent_and = BooleanQuery.of(
        (TermQuery("zzqx"), Occur.MUST), (TermQuery("zzqy"), Occur.MUST)
    )
    absent_or = BooleanQuery.of(
        (TermQuery("zzqx"), Occur.SHOULD), (TermQuery("zzqy"), Occur.SHOULD)
    )
    assert matches(searcher, absent_and) == set()
    assert matches(searcher, absent_or) == set()
    assert searcher.search(absent_and, 5).count() == 0


def test_covering_query_per_doc_min_match(env):
    """CoveringQuery (sandbox/search/CoveringScorer.java): the required
    clause count is a per-document value; values < 1 clamp to 1 and NULL
    values never match; score = sum of matching clauses' scores."""
    from lucene_spark.search import CoveringQuery

    searcher, by_term, docs = env
    terms = ["model", "data", "spark"]
    subs = tuple(TermQuery(t) for t in terms)
    per_term = {t: scores(searcher, TermQuery(t)) for t in terms}

    q = CoveringQuery(subs, "1 + turn_idx % 2")
    got = scores(searcher, q)
    want = {}
    for d in docs:
        hits = [t for t in terms if d in per_term[t]]
        need = max(1, 1 + docs[d].turn_idx % 2)
        if len(hits) >= need:
            want[d] = sum(per_term[t][d] for t in hits)
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-6), d

    # clamp: a constant 0 behaves as minimumNumberMatch = 1
    got0 = matches(searcher, CoveringQuery(subs, "0"))
    want0 = {d for d in docs if any(d in per_term[t] for t in terms)}
    assert got0 == want0

    # NULL threshold docs never match (CoveringScorer.java:136-141)
    gotn = matches(
        searcher, CoveringQuery(subs, "CASE WHEN turn_idx % 2 = 0 THEN 1 END")
    )
    assert gotn == {d for d in want0 if docs[d].turn_idx % 2 == 0}


def test_function_range_query_bounds_and_score(env):
    """FunctionRangeQuery (queries/function/FunctionRangeQuery.java:44):
    match = value within the bounds (each independently in/exclusive),
    score = the function value (ValueSourceScorer.java:88)."""
    from lucene_spark.search import FunctionRangeQuery

    searcher, _, docs = env
    lens = sorted({docs[d].length for d in docs})
    lo, hi = lens[len(lens) // 4], lens[3 * len(lens) // 4]

    got = scores(searcher, FunctionRangeQuery("length", lower=lo, upper=hi))
    want = {d: float(docs[d].length) for d in docs if lo <= docs[d].length <= hi}
    assert got == want

    got_ex = matches(
        searcher,
        FunctionRangeQuery(
            "length", lower=lo, upper=hi, include_lower=False, include_upper=False
        ),
    )
    assert got_ex == {d for d in docs if lo < docs[d].length < hi}

    # open-ended upper
    got_open = matches(searcher, FunctionRangeQuery("length", lower=hi))
    assert got_open == {d for d in docs if docs[d].length >= hi}


def test_fuzzy_transpositions_osa(spark):
    """FuzzyQuery transpositions=true (the reference default,
    FuzzyQuery.java:82): an adjacent swap is ONE edit — 'spakr' matches
    'spark' at max_edits=1; classic Levenshtein (transpositions=False)
    needs 2."""
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import FuzzyQuery, IndexSearcher

    rows = [
        ("c0", 0, "a", "the spark engine", None, None),
        ("c0", 1, "a", "a spakr typo here", None, None),
        ("c0", 2, "a", "totally unrelated words", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    idx = IndexBuilder(num_segments=1).build(df)
    s = IndexSearcher(idx)
    docs = {r.doc_id: r.turn_idx for r in idx.docs.collect()}

    got_osa = {docs[r.doc_id] for r in s.scored(FuzzyQuery("spark", max_edits=1)).collect()}
    assert got_osa == {0, 1}

    got_lev = {
        docs[r.doc_id]
        for r in s.scored(
            FuzzyQuery("spark", max_edits=1, transpositions=False)
        ).collect()
    }
    assert got_lev == {0}

    # brute OSA parity on random pairs
    import random

    rnd = random.Random(9)

    def brute_osa(a, b):
        import numpy as np

        la, lb = len(a), len(b)
        d = np.zeros((la + 1, lb + 1), dtype=int)
        d[:, 0] = range(la + 1)
        d[0, :] = range(lb + 1)
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                c = 0 if a[i - 1] == b[j - 1] else 1
                d[i, j] = min(d[i - 1, j] + 1, d[i, j - 1] + 1, d[i - 1, j - 1] + c)
                if i > 1 and j > 1 and a[i - 1] == b[j - 2] and a[i - 2] == b[j - 1]:
                    d[i, j] = min(d[i, j], d[i - 2, j - 2] + 1)
        return int(d[la, lb])

    from lucene_spark.search.searcher import _osa_distance_udf  # noqa: F401

    # exercise the inner DP directly through tiny single-term scorings
    for _ in range(8):
        a = "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 6)))
        b = "".join(rnd.choice("abc") for _ in range(rnd.randint(1, 6)))
        # embed b as a term, query with a at generous budget; check match
        # set membership against the brute distance
        df2 = spark.createDataFrame(
            [("cx", 0, "a", b, None, None)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        )
        i2 = IndexBuilder(num_segments=1).build(df2)
        s2 = IndexSearcher(i2)
        for me in (1, 2):
            hit = bool(s2.scored(FuzzyQuery(a, max_edits=me)).collect())
            assert hit == (brute_osa(a, b) <= me), (a, b, me)


def test_filter_with_should_keeps_filter_only_docs(spark):
    """SHOULD is optional next to a required FILTER clause (the
    BooleanQuery docstring; ReqOptSumScorer): a doc matching only the
    filter comes back with score 0, for a term and a non-term filter, and
    search() agrees with count()."""
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import PhraseQuery

    texts = ["alpha beta", "alpha", "beta", "gamma", "alpha gamma beta", "gamma alpha"]
    rows = [
        {"conv_id": "c", "turn_idx": i, "role": "user", "text": t, "tool": "", "ts": None}
        for i, t in enumerate(texts)
    ]
    idx = IndexBuilder(num_segments=1).build(transcripts_df(spark, rows=rows))
    try:
        s = IndexSearcher(idx)
        beta = {r.doc_id: r.score for r in s.scored(TermQuery("beta")).collect()}
        for flt, want in [
            (TermQuery("alpha"), {0, 1, 4, 5}),
            (PhraseQuery(("gamma", "alpha")), {5}),
            (PhraseQuery(("alpha", "beta")), {0}),
        ]:
            q = BooleanQuery.of((flt, Occur.FILTER), (TermQuery("beta"), Occur.SHOULD))
            got = {r.doc_id: r.score for r in s.search(q, 10).collect()}
            assert set(got) == want, flt
            assert len(got) == s.count(q), flt
            assert got == {d: beta.get(d, 0.0) for d in want}, flt
        q = BooleanQuery.of((TermQuery("alpha"), Occur.FILTER), (TermQuery("beta"), Occur.SHOULD))
        assert s.search(q, 10).filter("doc_id = 1").first().score == 0.0
    finally:
        idx.unpersist_all()
