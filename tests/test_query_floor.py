"""Per-query lowering floor: scoring-table and term-weight literals.

Lowering a query must not rebuild the 256-entry scoring tables one
``F.lit`` at a time, nor turn the per-term weights into a Python-made
relation that needs its own Spark job to broadcast.  These tests pin:

* the one-call literal builder and the tables it renders keep every bit;
* inlined weights keep additive semantics for a term repeated across
  clauses (``+a a``, ``a^2 a b``, ...), pruned and unpruned;
* a stored-index term query plans no weight relation;
* per-shape Spark job budgets: the rank is numbered inside the top-k stage,
  a BooleanQuery is one aggregation (no ``Expand``, no semi/anti join for
  term FILTER / MUST_NOT clauses) and an OR that can prune nothing runs no
  chunk pass;
* clause counting stays exact past 63 clauses and when a clause emits
  several rows for one doc;
* lowering stays under a py4j round-trip budget per query shape;
* a searcher over an empty term dictionary launches no job per lookup.
"""

import dataclasses
import math
import uuid
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.search import (
    BooleanQuery,
    IndexSearcher,
    Occur,
    PhraseQuery,
    QueryParser,
    TermQuery,
)
from lucene_spark.util.smallfloat import LENGTH_TABLE
from lucene_spark.util.sqllit import sql_lit


@pytest.fixture(scope="module")
def stored_index(spark, tiny_index, tmp_path_factory):
    from lucene_spark.index.store import load_index, save_index

    path = str(tmp_path_factory.mktemp("floor") / "index")
    save_index(tiny_index, path)
    return load_index(spark, path)


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"floor-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


# ---------------------------------------------------------------------------
# the literal builder


def test_sql_lit_float_bits(spark):
    rng = np.random.default_rng(7)
    f32 = np.concatenate([
        (rng.standard_normal(300) * 10.0 ** rng.integers(-38, 38, 300)).astype(np.float32),
        np.array([np.inf, -np.inf, 0.0, -0.0, 1e-45, 3.4028235e38], np.float32),
    ])
    f64 = np.concatenate([
        rng.standard_normal(300) * 10.0 ** rng.integers(-300, 300, 300),
        [np.inf, -np.inf, 0.0, -0.0, 5e-324, 1.7976931348623157e308, 0.1],
    ])
    row = spark.range(1).select(
        sql_lit(f32, ArrayType(FloatType())).alias("f"),
        sql_lit(f64, ArrayType(DoubleType())).alias("d"),
        sql_lit([math.nan], ArrayType(FloatType())).alias("nan"),
    ).first()
    assert np.array_equal(np.array(row.f, np.float32).view(np.uint32), f32.view(np.uint32))
    assert np.array_equal(np.array(row.d, np.float64).view(np.uint64), f64.view(np.uint64))
    assert math.isnan(row.nan[0])


def test_sql_lit_strings_nested_and_empty(spark):
    entry = StructType([StructField("w", FloatType()), StructField("i", IntegerType())])
    row = spark.range(1).select(
        sql_lit(["", "it's", "a\\b", "ünï", "'); x", None], ArrayType(StringType())).alias("s"),
        sql_lit({"k'": [(1.5, 0), (2.5, None)]}, MapType(StringType(), ArrayType(entry))).alias("m"),
        sql_lit([1, -2, 2**40], ArrayType(LongType())).alias("l"),
        sql_lit([], ArrayType(LongType())).alias("e"),
        sql_lit({}, MapType(StringType(), FloatType())).alias("em"),
    ).first()
    assert row.s == ["", "it's", "a\\b", "ünï", "'); x", None]
    assert [tuple(x) for x in row.m["k'"]] == [(1.5, 0), (2.5, None)]
    assert row.l == [1, -2, 2**40]
    assert row.e == [] and row.em == {}


def test_sql_lit_is_one_call(spark, py4j_calls):
    values = np.arange(256, dtype=np.float32) / np.float32(7.0)
    n0 = py4j_calls.n
    sql_lit(values, ArrayType(FloatType()))
    assert py4j_calls.n - n0 <= 10


# ---------------------------------------------------------------------------
# (a) the scoring tables keep their bits


@pytest.mark.parametrize(
    "doc_count,sum_ttf", [(1, 1), (97, 1234), (1000, 87_654), (3, 10**9)]
)
def test_table_literals_bit_exact(spark, tiny_index, doc_count, sum_ttf):
    idx = dataclasses.replace(
        tiny_index,
        stats={**tiny_index.stats, "doc_count": doc_count, "sum_total_term_freq": sum_ttf},
    )
    s = IndexSearcher(idx)
    row = spark.range(1).select(
        s._cache_lit().alias("cache"),
        s._classic_norm_lit().alias("classic"),
        s._dl_lit().alias("dl"),
    ).first()
    assert np.array_equal(
        np.array(row.cache, np.float32).view(np.uint32),
        s.norm_inverse_cache().view(np.uint32),
    )
    assert np.array_equal(
        np.array(row.classic, np.float32).view(np.uint32),
        IndexSearcher.classic_norm_table().view(np.uint32),
    )
    assert np.array_equal(
        np.array(row.dl, np.float64).view(np.uint64),
        LENGTH_TABLE.astype(np.float64).view(np.uint64),
    )
    # rendered once per searcher
    assert s._cache_lit() is s._cache_lit()


# ---------------------------------------------------------------------------
# (b) a term repeated across clauses scores once per clause

M, S = Occur.MUST, Occur.SHOULD


def _boosted_or(o):
    """``model^2 model data``: per-clause scores summed in double."""
    per = [o.term_scores("model", 2.0), o.term_scores("model"), o.term_scores("data")]
    return o._topk(o._sum_scores(per, set().union(*per)), 10)


DUPLICATE_CASES = {
    "a a": (
        [(TermQuery("model"), S), (TermQuery("model"), S)],
        lambda o: o.search_or(["model", "model"], 10),
    ),
    "+a a": (
        [(TermQuery("model"), M), (TermQuery("model"), S)],
        lambda o: o.search_and(["model", "model"], 10),
    ),
    "a^2 a b": (
        [(TermQuery("model", boost=2.0), S), (TermQuery("model"), S), (TermQuery("data"), S)],
        _boosted_or,
    ),
    "+a +a": (
        [(TermQuery("model"), M), (TermQuery("model"), M)],
        lambda o: o.search_and(["model", "model"], 10),
    ),
}


@pytest.mark.parametrize("stored", [False, True])
@pytest.mark.parametrize("prune", [False, True])
@pytest.mark.parametrize("case", list(DUPLICATE_CASES))
def test_duplicate_clause_terms(tiny_index, stored_index, tiny_oracle, case, prune, stored):
    clauses, expect = DUPLICATE_CASES[case]
    idx = stored_index if stored else tiny_index.with_packed(chunk_bits=5)
    rows = IndexSearcher(idx).search(BooleanQuery.of(*clauses), 10, prune=prune).collect()
    want = tiny_oracle.topk_keys(expect(tiny_oracle))
    assert want, "the expectation must not be vacuous"
    assert [(r.conv_id, r.turn_idx) for r in rows] == [(c, t) for c, t, _ in want]
    got_bits = np.array([r.score for r in rows], np.float32).view(np.uint32)
    want_bits = np.array([s for _, _, s in want], np.float32).view(np.uint32)
    assert np.array_equal(got_bits, want_bits)


# ---------------------------------------------------------------------------
# (c) a stored-index term query plans no weight relation


def test_term_query_plan_has_no_weight_relation(spark, stored_index):
    s = IndexSearcher(stored_index)
    s.term_doc_freqs(["model"])  # the dictionary is loaded once per searcher
    with _jobs(spark) as ids:
        df = s.search(TermQuery("model"), 10)
        rows = df.collect()
    assert rows
    final = _final_plan(df)
    assert "ExistingRDD" not in final and "LocalTableScan" not in final
    # the only broadcast left is the top-k rows joined to their doc keys
    assert final.count("BroadcastExchange") <= 1
    assert len(ids) <= 2, f"term query launched {len(ids)} Spark jobs"


# ---------------------------------------------------------------------------
# (d) jobs per query shape: scan -> one score aggregation -> top-k

FLT, NOT = Occur.FILTER, Occur.MUST_NOT

JOB_BUDGETS = {
    # id: (query, prune, max jobs)
    "term": (TermQuery("model"), False, 2),
    "pruned term": (TermQuery("model"), True, 2),
    "or": (BooleanQuery.of((TermQuery("model"), S), (TermQuery("data"), S)), False, 3),
    "and": (BooleanQuery.of((TermQuery("model"), M), (TermQuery("data"), M)), False, 3),
    "not": (BooleanQuery.of((TermQuery("model"), M), (TermQuery("data"), NOT)), False, 3),
    "filter": (BooleanQuery.of((TermQuery("model"), S), (TermQuery("data"), FLT)), False, 3),
    "phrase": (PhraseQuery(("the", "model")), False, 3),
    "slop-2": (PhraseQuery(("the", "model"), slop=2), False, 3),
}


@pytest.mark.parametrize("shape", list(JOB_BUDGETS))
def test_query_job_budget(spark, stored_index, shape):
    q, prune, budget = JOB_BUDGETS[shape]
    s = IndexSearcher(stored_index)
    s.term_doc_freqs(["model"])  # warm dictionary
    with _jobs(spark) as ids:
        df = s.search(q, 10, prune=prune)
        rows = df.collect()
    assert rows
    assert len(ids) <= budget, f"{shape} launched {len(ids)} Spark jobs"
    final = _final_plan(df)
    # the k ranked rows broadcast to the docs keys; nothing else
    assert final.count("BroadcastExchange") == 1, final
    if isinstance(q, BooleanQuery):
        assert "Expand" not in final, final
        assert "LeftAnti" not in final and "LeftSemi" not in final, final


# ---------------------------------------------------------------------------
# (e) clause counting: past 63 clauses, and several rows per doc

WIDE_TERMS = [f"w{i:02d}" for i in range(70)]
# doc -> the WIDE_TERMS it holds; 63 and 64 straddle the first mask word
WIDE_DOCS = {
    "all": WIDE_TERMS,
    "first65": WIDE_TERMS[:65],
    "first64": WIDE_TERMS[:64],
    "first63": WIDE_TERMS[:63],
    "last65": WIDE_TERMS[5:],
    "few": WIDE_TERMS[:10] + WIDE_TERMS[60:66],
}


@pytest.fixture(scope="module")
def wide(spark):
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.oracle import OracleIndex

    rows = [
        {"conv_id": name, "turn_idx": 0, "role": "user", "tool": "", "ts": None,
         "text": " ".join(terms + terms[: i + 1])}  # varied freqs
        for i, (name, terms) in enumerate(WIDE_DOCS.items())
    ]
    idx = IndexBuilder(num_segments=2).build(transcripts_df(spark, rows=rows))
    yield IndexSearcher(idx), OracleIndex.build(rows)
    idx.unpersist_all()


def _keys_and_bits(rows):
    return [(r.conv_id, r.turn_idx) for r in rows], np.array(
        [r.score for r in rows], np.float32
    ).view(np.uint32)


@pytest.mark.parametrize("msm", [63, 64, 65, 70])
def test_should_mask_past_63_clauses(wide, msm):
    s, oracle = wide
    q = BooleanQuery.of(*[(TermQuery(t), S) for t in WIDE_TERMS], min_should_match=msm)
    per = [oracle.term_scores(t) for t in WIDE_TERMS]
    docs = {d for d in set().union(*per) if sum(d in ts for ts in per) >= msm}
    want = oracle.topk_keys(oracle._topk(oracle._sum_scores(per, docs), 10))
    assert want, "the expectation must not be vacuous"
    rows = s.search(q, 10).collect()
    keys, bits = _keys_and_bits(rows)
    assert keys == [(c, t) for c, t, _ in want]
    assert np.array_equal(bits, np.array([x for _, _, x in want], np.float32).view(np.uint32))
    assert s.count(q) == len(docs) == s.scored(q).count()


def test_must_mask_past_63_clauses(wide):
    s, oracle = wide
    q = BooleanQuery.of(*[(TermQuery(t), M) for t in WIDE_TERMS])
    want = oracle.topk_keys(oracle.search_and(WIDE_TERMS, 10))
    rows = s.search(q, 10).collect()
    keys, bits = _keys_and_bits(rows)
    assert keys == [(c, t) for c, t, _ in want] == [("all", 0)]
    assert np.array_equal(bits, np.array([x for _, _, x in want], np.float32).view(np.uint32))
    assert s.count(q) == 1 == s.scored(q).count()


def test_clause_rows_several_per_doc(stored_index):
    """A non-term clause whose plan emits several rows for one doc still
    counts as ONE matched clause (and its rows' scores add)."""
    phrase = PhraseQuery(("the", "model"))
    plain = IndexSearcher(stored_index)
    doubled = IndexSearcher(stored_index)
    for name in ("_scored", "_matches"):
        orig = getattr(doubled, name)

        def twice(q, _orig=orig):
            df = _orig(q)
            return df.unionByName(df) if isinstance(q, PhraseQuery) else df

        setattr(doubled, name, twice)
    cases = [
        BooleanQuery.of((phrase, S), (TermQuery("data"), S), (TermQuery("spark"), S),
                        min_should_match=2),
        BooleanQuery.of((phrase, FLT), (TermQuery("data"), M)),
        BooleanQuery.of((phrase, M), (TermQuery("data"), FLT)),
    ]
    for q in cases:
        want = {r.doc_id: r.score for r in plain.scored(q).collect()}
        got = {r.doc_id: r.score for r in doubled.scored(q).collect()}
        assert want, f"the expectation must not be vacuous: {q}"
        assert set(got) == set(want), q
    # a MUST phrase's two rows per doc both score
    q = cases[2]
    phrase_scores = {r.doc_id: r.score for r in plain.scored(phrase).collect()}
    got = {r.doc_id: r.score for r in doubled.scored(q).collect()}
    for d, v in got.items():
        assert v == np.float32(2.0 * float(phrase_scores[d]))


# ---------------------------------------------------------------------------
# CI guard: lowering stays under a py4j round-trip budget

LOWERING_PY4J_MAX = 2500


@pytest.mark.parametrize(
    "text",
    [
        "model",
        "the spark query data model and of training",
        "+model +data",
        "model -data",
        '"the model"',
        '"the model"~2',
    ],
)
def test_lowering_py4j_budget(stored_index, py4j_calls, text):
    q = QueryParser().parse(text)
    n0 = py4j_calls.n
    IndexSearcher(stored_index).search(q, 10)  # fresh searcher, no action
    n = py4j_calls.n - n0
    assert n <= LOWERING_PY4J_MAX, f"lowering {text!r} made {n} py4j round trips"


# ---------------------------------------------------------------------------
# term dictionary cache states


def test_empty_dictionary_lookup_launches_no_job(spark):
    from lucene_spark.fixtures.transcripts import transcripts_df
    from lucene_spark.index import IndexBuilder

    df = transcripts_df(
        spark,
        rows=[{"conv_id": "c0", "turn_idx": 0, "role": "user", "text": "", "tool": "", "ts": None}],
    )
    s = IndexSearcher(IndexBuilder(num_segments=1).build(df))
    with _jobs(spark) as first:
        assert s.term_doc_freqs(["x"]) == {}
    assert first, "the first lookup loads the dictionary"
    with _jobs(spark) as later:
        for _ in range(3):
            assert s.term_doc_freqs(["x", "y"]) == {}
    assert later == []


def test_dictionary_over_cap_scans_per_query(spark, tiny_index):
    terms = ["model", "data", "zzz-missing"]
    cached = IndexSearcher(tiny_index).term_doc_freqs(terms)
    s = IndexSearcher(tiny_index, term_cache_max=1)
    assert s.term_doc_freqs(terms) == cached
    with _jobs(spark) as ids:
        assert s.term_doc_freqs(terms) == cached
    assert ids, "over the cap every lookup scans term_stats"
