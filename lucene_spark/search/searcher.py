"""IndexSearcher: lower a Query tree to a DataFrame plan and take top-k.

≙ core/search/IndexSearcher.java:505 lifecycle (SURVEY.md §3.2):

1. ``query.rewrite()`` fixpoint normalization (IndexSearcher.java:737-746).
2. Weight creation = one tiny driver-side lookup of per-term doc_freq from the
   term_stats relation (filter pushed to the scan; never a full collect) +
   GLOBAL collection stats (docCount, avgdl) — IndexSearcher.java:913-928.
3. Match/score = declarative DataFrame plan over the postings relation:
   a BooleanQuery is ONE hash aggregation over clause-tagged rows —
   conjunction / minShouldMatch = all / enough clause bits set (bit_or
   masks), exclusion = no MUST_NOT row, filter = a required bit with no
   score.  Match-only plans (``_matches``) still use semi/anti joins, where
   Catalyst/AQE pick broadcast vs shuffle sides (≙ ConjunctionDISI
   lead-cost ordering).
4. top-k = ``orderBy(score desc, doc_id asc).limit(k)`` → Catalyst
   TakeOrderedAndProject (≙ TopScoreDocCollector k-heap + TopDocs.merge
   tie-break, HitQueue.java:77-84); the rank is numbered on its one sorted
   partition and the k rows are broadcast to their doc keys.

Lowering renders SQL text (``util/sqlrel.Rel``), not Column-DSL trees: the
term, boolean, phrase and packed plans and the top-k tail each parse in one
``spark.sql`` call, so a query costs tens of py4j round trips rather than
hundreds.  The Python UDFs they call are registered once per session and
called by name.

Scoring is Lucene-exact float32: the BM25 algebra runs as FloatType
expressions (JVM, whole-stage codegen — Java float ops ≡ IEEE binary32 ≡
numpy float32), with the 256-entry normInverse cache an array literal
declared once per session as a SQL variable (BM25Similarity.java:196-210,
246-258).
Per-term weights are inlined too, as a ``term -> weight`` map literal looked
up on the postings' ``term`` column, so lowering a term query launches no
Spark job beyond the (cached) dictionary lookup.  Multi-clause score sums
accumulate in double and cast to float at the end, exactly like
DisjunctionSumScorer.java:43-48 / ConjunctionScorer.java:58-64.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
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

from lucene_spark.analysis.tokenizer import tokenize_text
from lucene_spark.index.builder import InvertedIndex
from lucene_spark.search.query import (
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    FieldExistsQuery,
    FuzzyQuery,
    KnnVectorQuery,
    MatchAllDocsQuery,
    MatchNoDocsQuery,
    MultiPhraseQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    Query,
    RangePredicate,
    RegexpQuery,
    Sort,
    SortField,
    SynonymQuery,
    TermInSetQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
)
from lucene_spark.util.smallfloat import LENGTH_TABLE
from lucene_spark.util.sqllit import in_sql, sql_lit, sql_text
from lucene_spark.util.sqlrel import Rel, sql_constant, union_all


def _f32(x) -> float:
    return float(np.float32(x))


class IndexSearcher:
    """Scoring modes (the Similarity plug point, SURVEY.md §2.12):

    * ``lucene_f32`` (default): bit-exact reference BM25 float32 algebra
      with the 256-entry normInverse cache — rank/score-identical.
    * ``plain_f64``: the same BM25 in plain double with the textbook shape
      ``idf * freq / (freq + k1*((1-b) + b*dl/avgdl))`` — ANSI-SQL
      reproducible, used for cross-engine oracle comparison.
    * ``classic_f32``: bit-exact ClassicSimilarity (TFIDF —
      TFIDFSimilarity.java:506-510): (sqrt(freq) * boost*idf) *
      (1/sqrt(length)) with idf = log((N+1)/(df+1)) + 1.
    * ``classic_f64``: the TFIDF shape in double — SQL reproducible.
    """

    SCORING_MODES = (
        "lucene_f32", "plain_f64", "classic_f32", "classic_f64",
        "lm_dirichlet_f32", "lm_dirichlet_f64",
        "lm_jm_f32", "lm_jm_f64", "dfr_f32", "dfr_f64",
        "ib_f32", "ib_f64", "ib_spl_f32", "ib_spl_f64",
        "ax_f32", "ax_f64",
        "ax_f1exp_f32", "ax_f1exp_f64", "ax_f1log_f32", "ax_f1log_f64",
        "ax_f2log_f32", "ax_f2log_f64",
        "ax_f3exp_f32", "ax_f3exp_f64", "ax_f3log_f32", "ax_f3log_f64",
        "dfi_f32", "dfi_f64", "bool_f32", "bool_f64",
        "sweetspot_f32", "sweetspot_f64",
    )
    # mode prefix -> family, LONGEST prefix first ("ib_spl" before "ib",
    # "ax_f1exp" before "ax", "lm_jm" before "lm")
    _FAMILY_PREFIXES = (
        ("lm_dirichlet", "lm"), ("lm_jm", "lm_jm"),
        ("ib_spl", "ib_spl"), ("ib", "ib"),
        ("ax_f1exp", "ax_f1exp"), ("ax_f1log", "ax_f1log"),
        ("ax_f2log", "ax_f2log"),
        ("ax_f3exp", "ax_f3exp"), ("ax_f3log", "ax_f3log"), ("ax", "ax"),
        ("classic", "classic"), ("dfr", "dfr"), ("dfi", "dfi"),
        ("bool", "bool"), ("sweetspot", "ss"),
    )
    # families whose per-term stat is docFreq (LambdaDF / Axiomatic idf);
    # the rest use totalTermFreq (LM collection model, DFR λ_g, DFI expected)
    _DF_FAMILIES = frozenset(
        {"ib", "ib_spl", "ax", "ax_f1exp", "ax_f1log", "ax_f2log",
         "ax_f3exp", "ax_f3log", "bool", "ss"}
    )
    LM_MU = 2000.0  # LMDirichletSimilarity default mu
    LM_LAMBDA = 0.1  # LMJelinekMercerSimilarity λ (title-query optimum)
    DFR_C = 1.0  # NormalizationH2 default hyper-parameter c
    IB_C = 1.0  # IBSimilarity NormalizationH2 hyper-parameter c
    AX_S = 0.25  # Axiomatic.java:91-93 defaults (s, queryLen, k)
    AX_K = 0.35
    AX_QUERY_LEN = 1  # Axiomatic.java:92 default queryLen (F3 gamma term)
    # SweetSpotSimilarity (misc/search/similarity/SweetSpotSimilarity.java):
    # non-degenerate configuration exercising both tf branches and the
    # length plateau (defaults base=0/min=0/plateau [1,1] reduce to Classic)
    SS_TF_BASE = 1.5  # baselineTf base (:149-166)
    SS_TF_MIN = 2.0  # baselineTf min
    SS_LN_MIN = 6  # lengthNorm plateau start (:120-141)
    SS_LN_MAX = 20  # lengthNorm plateau end
    SS_STEEPNESS = 0.5  # slope outside the plateau

    def __init__(self, index: InvertedIndex, scoring: str = "lucene_f32",
                 term_cache_max: int | None = None):
        if scoring not in self.SCORING_MODES:
            raise ValueError(f"unknown scoring mode {scoring}")
        self.index = index
        self.scoring = scoring
        self.family = "bm25"
        for prefix, family in self._FAMILY_PREFIXES:
            if scoring.startswith(prefix):
                self.family = family
                break
        # SimilarityBase-derived families: double math end-to-end, one
        # float cast at the end (BasicSimScorer.score), term-scoped.
        # "bool" (BooleanSimilarity) is float-native in the reference but
        # its score is a constant, so the double socket is exact for it.
        self.simbase = self.family not in ("bm25", "classic")
        self.score_type = "float" if scoring.endswith("f32") else "double"
        self._score_dt = FloatType() if self.score_type == "float" else DoubleType()
        self.k1 = np.float32(index.k1)
        self.b = np.float32(index.b)
        self.term_cache_max = (
            term_cache_max if term_cache_max is not None else self.TERM_CACHE_MAX
        )
        self._vectors = None
        self._vectors_ivf_path = None
        # per-searcher constants (the scoring tables' SQL names), each
        # declared on first use and reused by every query
        self._consts: dict = {}

    # ------------------------------------------------------------------
    # vector search surface (KnnFloatVectorQuery.java:45)
    def with_vectors(self, vectors: "DataFrame", id_col: str = "doc_id",
                     ivf_path: str | None = None) -> "IndexSearcher":
        """Register the per-doc embedding relation (doc_id, embedding) that
        KnnVectorQuery scans.  ``ivf_path`` optionally points at a prebuilt
        ``pipeline.similarity.ivf_build`` index over the SAME ids; when set
        and a KnnVectorQuery has no filter, candidates come from the probed
        cid partitions only (partition-pruned FileScan) instead of the full
        relation — the reference's HNSW graph walk re-expressed as coarse
        quantization + partition pruning (SURVEY.md §9 scope note)."""
        self._vectors = vectors.select(
            F.col(id_col).alias("doc_id"), "embedding"
        )
        self._vectors_ivf_path = ivf_path
        return self

    def _scored_knn(self, q) -> DataFrame:
        """k nearest (pre-filtered) vectors; score = boost * (1 + cos) / 2
        (VectorSimilarityFunction.java COSINE), with cos derived from the
        pipeline's integer-quantized dot product so both engines agree
        bit-for-bit.  The result is a k-row relation — under BooleanQuery
        it joins/unions as a tiny (broadcastable) side."""
        from lucene_spark.pipeline.similarity import (
            QUANT, _dot, _norm2, _probe_list, _quant, _round_away, ivf_open,
        )

        if self._vectors is None and self._vectors_ivf_path is None:
            raise ValueError(
                "KnnVectorQuery requires IndexSearcher.with_vectors(...)"
            )
        qv = [_round_away(float(x) * QUANT) for x in q.query_vec]
        qlit = sql_lit(qv, ArrayType(LongType()))
        qn = float(np.sqrt(float(sum(v * v for v in qv))))
        cand = self._vectors
        if self._vectors_ivf_path is not None and q.filter is None:
            cents, vectors = ivf_open(
                self.index.spark, self._vectors_ivf_path
            )
            probes = _probe_list(cents, list(q.query_vec), nprobe=2)
            cand = (
                vectors.filter(F.col("cid").isin(probes))
                .select(F.col("doc_id"), "embedding")
            )
        elif self._vectors_ivf_path is not None:
            cand = self._knn_filtered_ivf(q)
        elif q.filter is not None:
            # pre-filter semantics: restrict candidates BEFORE top-k, so
            # the result is the k nearest docs that pass the filter
            cand = cand.join(self._matches(q.filter), "doc_id", "left_semi")
        vq = _quant(F.col("embedding"))
        cos_i = (
            F.round(
                F.lit(float(QUANT)) * _dot(vq, qlit).cast("double")
                / F.sqrt(_norm2(vq).cast("double")) / F.lit(qn)
            ).cast("long")
        )
        top = (
            cand.select("doc_id", cos_i.alias("_cos_i"))
            .orderBy(F.desc("_cos_i"), F.asc("doc_id"))
            .limit(q.k)
        )
        st = self.score_type
        boost = _f32(q.boost) if st == "float" else float(q.boost)
        return top.select(
            "doc_id",
            (
                F.lit(boost).cast(st)
                * (
                    (F.lit(1.0) + F.col("_cos_i") / F.lit(float(QUANT)))
                    / F.lit(2.0)
                ).cast(st)
            ).cast(st).alias("score"),
        )

    # initial probe width for filtered ANN; doubles per widening round
    KNN_NPROBE0 = 2
    # filter match sets below this row count broadcast in the semi-join
    KNN_FILTER_BROADCAST_MAX = 10_000_000
    # admissibility target: keep widening until the probed cells hold
    # OVERSAMPLE * k filtered candidates (≙ HNSW beam width efSearch > k —
    # k bare candidates from 2 cells give poor recall; a few-x surplus
    # restores it at the cost of one more doubling round)
    KNN_FILTER_OVERSAMPLE = 4

    def _knn_filtered_ivf(self, q) -> DataFrame:
        """Filtered candidate relation through the IVF index —
        AbstractKnnVectorQuery.java's filter strategy re-expressed for
        coarse quantization:

        * Lucene materializes the filter bitset, then runs the HNSW walk
          WITH the filter, visit-limited to the bitset cardinality; if the
          walk would visit more vectors than the filter matches, exact
          iteration over the filtered docs is cheaper and it falls back.
        * Here the bitset is the filter match relation (one cheap count of
          a doc-id relation); the graph walk is a partition-pruned scan of
          the probed cid cells with the filter semi-joined INSIDE the
          probed partitions; the visit limit is the probe fraction
          nprobe/K of the corpus.  nprobe doubles until ≥ k filtered
          candidates are admissible (widening ≙ HNSW re-entry with a
          larger beam); the exact fallback triggers exactly when the
          filter's match count is the cheap side:
          fcount * K <= nprobe * N.

        At 100 TB the common shape (selective-but-large filter, e.g. a
        keyword or range predicate) stays a pruned FileScan of nprobe/K of
        the embedding store + a broadcast semi-join — never a full-corpus
        scan; full scans happen only for tiny filters, where they are
        O(filter) by row-group pruning on the broadcast join side."""
        from lucene_spark.pipeline.similarity import (
            _probe_list, ivf_count, ivf_open,
        )

        cents, vectors = ivf_open(self.index.spark, self._vectors_ivf_path)
        K = len(cents)
        N = ivf_count(self.index.spark, self._vectors_ivf_path)
        fmatch = self._matches(q.filter)
        fcount = fmatch.count()
        if fcount <= self.KNN_FILTER_BROADCAST_MAX:
            fmatch = F.broadcast(fmatch)
        target = q.k * self.KNN_FILTER_OVERSAMPLE
        nprobe = self.KNN_NPROBE0
        while True:
            if fcount <= q.k or fcount * K <= nprobe * N:
                # exact-over-filter is the cheap side (or the filter
                # admits ≤ k docs, so they are all results): scan the
                # registered relation semi-joined to the match set
                return self._vectors.join(fmatch, "doc_id", "left_semi")
            probes = _probe_list(cents, list(q.query_vec), nprobe)
            cand = (
                vectors.filter(F.col("cid").isin(probes))
                .select("doc_id", "embedding")
                .join(fmatch, "doc_id", "left_semi")
            )
            # admissibility check: the exact count is a Spark job per
            # widening round — skip it when the uniform-spread estimate
            # (fcount * nprobe/K) clears the target with an 8x skew
            # margin, so broad filters pay zero extra jobs
            estimate = fcount * nprobe / K
            if nprobe >= K or estimate >= 8 * target or cand.count() >= target:
                return cand
            nprobe = min(2 * nprobe, K)

    # ------------------------------------------------------------------
    # collection statistics (global — IndexSearcher.java:913-928)
    @property
    def doc_count(self) -> int:
        return self.index.stats["doc_count"]

    @property
    def avgdl(self) -> np.float32:
        s = self.index.stats
        return np.float32(s["sum_total_term_freq"] / s["doc_count"])

    def idf(self, doc_freq: int):
        n, N = doc_freq, self.doc_count
        if self.family == "classic":
            # ClassicSimilarity.idf: log((docCount+1)/(docFreq+1)) + 1
            v = math.log((N + 1) / (n + 1)) + 1.0
        else:
            v = math.log(1 + (N - n + 0.5) / (n + 0.5))
        return np.float32(v) if self.score_type == "float" else v

    def _weight(self, boost: float, doc_freq: int) -> float:
        if self.score_type == "float":
            return _f32(np.float32(boost) * self.idf(doc_freq))
        return float(boost) * self.idf(doc_freq)

    def _phrase_weight(self, terms, dfs, boost: float) -> float:
        """Phrase weight = boost * idf-sum (idfExplain sums per-term float32
        idfs in a double then casts — BM25Similarity.java idfExplain)."""
        if self.simbase:
            raise NotImplementedError(
                f"{self.scoring} scoring is scoped to term-based queries"
            )
        if self.score_type == "float":
            idf_sum = np.float32(sum(float(self.idf(dfs[t])) for t in terms))
            return _f32(np.float32(boost) * idf_sum)
        return float(boost) * sum(self.idf(dfs[t]) for t in terms)

    def norm_inverse_cache(self) -> np.ndarray:
        from lucene_spark.search.packed import norm_inverse_table

        return norm_inverse_table(self.k1, self.b, self.avgdl)

    def _const(self, key, build):
        """``build()``, computed once per searcher and shared by every
        query's plan."""
        value = self._consts.get(key)
        if value is None:
            value = self._consts[key] = build()
        return value

    def _table(self, name: str) -> str:
        """SQL name of a 256-entry scoring table indexed by ``norm + 1``:
        ``norm_inverse`` (BM25 float32), ``classic_norm`` (TFIDF float32)
        or ``length`` (decoded doc lengths, double).  Declared once as a
        session variable, so query text names the table instead of
        carrying its 256 literals."""
        build, dt = {
            "norm_inverse": (self.norm_inverse_cache, FloatType()),
            "classic_norm": (self.classic_norm_table, FloatType()),
            "length": (lambda: LENGTH_TABLE, DoubleType()),
        }[name]
        return self._const(("table", name), lambda: sql_constant(
            self.index.spark, sql_text(build(), ArrayType(dt)), ArrayType(dt)
        ))

    def _sql(self, rel: Rel) -> DataFrame:
        return rel.df(self.index.spark)

    # Term dictionaries up to this many entries are cached whole on the
    # driver (≙ Lucene's always-in-RAM FST term index) — one lookup job
    # total instead of one per query.  Larger dictionaries fall back to a
    # pushed-down scan per query.  Override per searcher via the
    # ``term_cache_max`` constructor arg (0 disables the cache) — at ~40
    # bytes/entry the default caps driver memory near 80 MB.
    TERM_CACHE_MAX = 2_000_000
    # None until the first lookup; then the whole dictionary (possibly
    # empty), or _SCAN_PER_QUERY when it holds more than term_cache_max terms
    _SCAN_PER_QUERY = "scan"
    _term_cache: dict | str | None = None

    def _term_stats_rows(self, cols: str, terms=None, limit=None) -> list:
        """``cols`` of the term_stats rows for ``terms`` (every row when
        None), at most ``limit`` of them."""
        tail = "" if terms is None else "WHERE " + in_sql("term", sorted(set(terms)), StringType())
        tail += "" if limit is None else f" LIMIT {int(limit)}"
        return self._sql(Rel.of(self.index.term_stats).query(cols, tail)).collect()

    def term_doc_freqs(self, terms: Sequence[str]) -> dict[str, int]:
        """doc_freq for the query's terms: driver-cached dictionary when the
        vocabulary is small, pushed-down term_stats scan otherwise."""
        if not terms:
            return {}
        if self._term_cache is None:
            # one bounded action: a dictionary over the cap shows itself by
            # returning term_cache_max + 1 rows
            cap = self.term_cache_max
            rows = self._term_stats_rows("term, doc_freq", limit=cap + 1)
            if len(rows) <= cap:
                self._term_cache = {r.term: int(r.doc_freq) for r in rows}
            else:
                self._term_cache = self._SCAN_PER_QUERY
        if isinstance(self._term_cache, dict):
            return {t: self._term_cache[t] for t in set(terms) if t in self._term_cache}
        rows = self._term_stats_rows("term, doc_freq", terms)
        return {r.term: int(r.doc_freq) for r in rows}

    # ------------------------------------------------------------------
    # scoring primitives
    def _score_sql(self, w: str, freq: str, norm: str) -> str:
        """Per-(term, doc) similarity score as SQL text over the weight,
        freq and norm operands — the Similarity plug point (SURVEY.md
        §2.12): BM25 (default) or ClassicSimilarity, each in bit-exact
        float32 or SQL-reproducible double.

        * BM25 float32: weight - weight / (1f + freq * cache[norm]) with a
          float32 rounding point after EVERY binary op
          (BM25Similarity.java:246-258).  Spark SQL promotes float division
          to double; casting each intermediate back to float restores exact
          IEEE binary32 single-op rounding (double rounding is innocuous for
          a single +,-,*,/ at 53>=2*24+2 bits), so this matches Lucene's
          Java float algebra bit-for-bit — verified against the numpy
          oracle.
        * BM25 double (``plain_f64``): the textbook shape
          w * freq / (freq + k1*((1-b)+b*dl/avgdl)) over the same idf and
          quantized lengths — ANSI-SQL-reproducible.
        * Classic float32: TFIDFScorer.score (TFIDFSimilarity.java:506-510),
          raw = (float)sqrt(freq) * queryWeight; score = raw *
          normTable[norm], float32 rounding after every op.
        * Classic double: idf * sqrt(freq) / sqrt(dl) over the
          byte4-quantized length.

        Every double literal carries its ``D`` suffix (a bare ``1.0`` would
        parse as a decimal)."""
        at = lambda name: f"element_at({self._table(name)}, ({norm} + 1))"  # noqa: E731
        if self.family == "classic":
            if self.score_type == "float":
                tf = f"CAST(sqrt(CAST({freq} AS DOUBLE)) AS FLOAT)"
                raw = f"CAST(({tf} * {w}) AS FLOAT)"
                return f"CAST(({raw} * {at('classic_norm')}) AS FLOAT)"
            return f"CAST((({w} * sqrt(CAST({freq} AS DOUBLE))) / sqrt({at('length')})) AS DOUBLE)"
        if self.scoring == "plain_f64":
            k1, b = float(self.index.k1), float(self.index.b)
            avgdl = self.index.stats["sum_total_term_freq"] / self.doc_count
            d = lambda x: sql_text(x, DoubleType())  # noqa: E731
            fr = f"CAST({freq} AS DOUBLE)"
            denom = f"({fr} + ({d(k1)} * ({d(1.0 - b)} + (({d(b)} * {at('length')}) / {d(avgdl)}))))"
            return f"CAST((({w} * {fr}) / {denom}) AS DOUBLE)"
        one = "CAST(1.0D AS FLOAT)"
        t1 = f"CAST((CAST({freq} AS FLOAT) * {at('norm_inverse')}) AS FLOAT)"
        t2 = f"CAST(({one} + {t1}) AS FLOAT)"
        t3 = f"CAST(({w} / {t2}) AS FLOAT)"
        return f"CAST(({w} - {t3}) AS FLOAT)"

    def _score_of(self, weight: str, freq: str, norm: str) -> Column:
        """:meth:`_score_sql` over the named columns, as a Column."""
        return F.expr(self._score_sql(weight, freq, norm))

    def _weight_scored(self, rel: Rel, weight: float, freq: str = "_freq") -> DataFrame:
        """(doc_id, score) of ``rel``'s (doc_id, ``freq``, norm) rows under
        one query-level weight."""
        w = sql_text(weight, self._score_dt)
        return self._sql(
            rel.query(f"doc_id, {freq}, norm, {w} AS _w")
            .query(f"doc_id, {self._score_sql('_w', freq, 'norm')} AS score")
        )

    @staticmethod
    def classic_norm_table() -> np.ndarray:
        """TFIDFSimilarity.java:477-481 normTable: (float)(1/sqrt(length))
        per byte4-decoded length; slot 0 = 1f / normTable[255]."""
        table = np.zeros(256, dtype=np.float32)
        for i in range(1, 256):
            table[i] = np.float32(1.0 / math.sqrt(float(LENGTH_TABLE[i])))
        table[0] = np.float32(1.0) / table[255]
        return table

    def _term_lookup_sql(self, by_term: dict, value_type) -> str:
        """``by_term[term]`` for each postings row as SQL text: a map literal
        (no Spark job) looked up on the ``term`` column.  The lookup is
        linear in the number of keys, which is bounded by the query's own
        terms."""
        return f"{sql_text(by_term, MapType(StringType(), value_type))}[term]"

    def _term_lookup(self, by_term: dict, value_type) -> Column:
        """:meth:`_term_lookup_sql` as a Column."""
        return F.expr(self._term_lookup_sql(by_term, value_type))

    def _scored_weighted(self, weights: dict[str, float]) -> DataFrame:
        """(doc_id, score) per matching (term, doc) for per-term weights
        already resolved in Python."""
        pf = self.index.postings_rel(list(weights)).query(
            f"doc_id, freq, norm, {self._term_lookup_sql(weights, self._score_dt)} AS _w"
        )
        return self._sql(pf.query(f"doc_id, {self._score_sql('_w', 'freq', 'norm')} AS score"))

    def _scored_terms(self, term_boosts: dict[str, float]) -> DataFrame:
        """(doc_id, score float32) rows per matching (term, doc): the
        TermQuery scorer, vectorized.  One scan of postings filtered by the
        term set (predicate pushdown); each term's weight comes from the
        cached term dictionary and is inlined as a literal, so the plan has
        no weight relation to scan or broadcast."""
        if self.simbase:
            return self._scored_terms_simbase(term_boosts)
        dfs = self.term_doc_freqs(list(term_boosts))
        weights = {
            t: self._weight(b, dfs[t]) for t, b in term_boosts.items() if t in dfs
        }
        if not weights:
            return self._empty_scored()
        return self._scored_weighted(weights)

    def term_total_freqs(self, terms: Sequence[str]) -> dict[str, int]:
        """total_term_freq per term (the LM collection-model statistic)."""
        rows = self._term_stats_rows("term, total_term_freq", terms)
        return {r.term: int(r.total_term_freq) for r in rows}

    def _scored_terms_simbase(self, term_boosts: dict[str, float]) -> DataFrame:
        """SimilarityBase-derived families (double math per
        SimilarityBase.BasicSimScorer.score, one cast at the end):

        * ``lm`` — LMDirichletSimilarity.java:35-41 +
          LMSimilarity.DefaultCollectionModel:
            p(t|C) = (ttf + 1) / (sumTotalTermFreq + 1)
            score  = boost * (ln(1 + freq/(mu*p)) + ln(mu/(dl + mu)))
            clamped at 0.
        * ``lm_jm`` — LMJelinekMercerSimilarity.java:62-69:
            score = boost * ln(1 + ((1-λ) * freq / dl) / (λ * p(t|C)))
          with the same DefaultCollectionModel p(t|C); λ = LM_LAMBDA.
        * ``dfr`` — DFRSimilarity.java:106-110 with BasicModelG +
          AfterEffectL + NormalizationH2 (the combination the reference's
          tests exercise):
            tfn    = freq * log2(1 + c * avgdl / dl)   (NormalizationH2.java:57)
            λg     = (ttf + 1) / (N + ttf + 1)          (BasicModelG.java:38-40)
            A      = log2(λg + 1);  B = log2((1 + λg) / λg)
            score  = boost * (B - (B - A) / (1 + tfn))  (AfterEffectL: ×1.0)
        * ``ib`` — IBSimilarity.java:95-98 with DistributionLL + LambdaDF +
          NormalizationH2 (LL chosen over SPL, whose javadoc warns of
          infinite/negative scores at extreme tf):
            tfn   = freq * log2(1 + c * avgdl / dl)
            λ     = float32((df + 1) / (N + 1))       (LambdaDF.java:32-38,
                    float intermediate mirrored)
            score = boost * -ln(λ / (tfn + λ))        (DistributionLL.java:33-34)
        * ``ax`` — AxiomaticF2EXP (Axiomatic.java:95-106 composition,
          defaults s=0.25, k=0.35; Fang & Zhai 2005 F2-EXP):
            score = max(0, boost * freq / (freq + s + s * dl / avgdl)
                              * ((N + 1) / df)^k)
        """
        if self.family in self._DF_FAMILIES:
            stat = self.term_doc_freqs(list(term_boosts))
        else:
            stat = self.term_total_freqs(list(term_boosts))
        ttfs = stat
        if not ttfs:
            return self._empty_scored()
        sttf = float(self.index.stats["sum_total_term_freq"])
        n_docs = float(self.doc_count)
        dl = F.expr(f"element_at({self._table('length')}, (norm + 1))")
        fr = F.col("freq").cast("double")
        ln2 = math.log(2.0)
        if self.family == "lm":
            mu = float(self.LM_MU)
            rows = [
                (t, float(b), mu * ((ttfs[t] + 1.0) / (sttf + 1.0)))
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_mp")
            raw = F.col("_b") * (
                F.log(F.lit(1.0) + fr / F.col("_mp"))
                + F.log(F.lit(mu) / (dl + F.lit(mu)))
            )
            raw = F.greatest(F.lit(0.0), raw)
        elif self.family == "lm_jm":
            lam = float(self.LM_LAMBDA)
            rows = [
                (t, float(b), lam * ((ttfs[t] + 1.0) / (sttf + 1.0)))
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_lp")
            raw = F.col("_b") * F.log(
                F.lit(1.0) + (F.lit(1.0 - lam) * fr / dl) / F.col("_lp")
            )
        elif self.family == "dfr":  # G + L + H2
            c_avgdl = float(self.DFR_C) * (sttf / n_docs)
            rows = []
            for t, b in term_boosts.items():
                if t not in ttfs:
                    continue
                lam = (ttfs[t] + 1.0) / (n_docs + ttfs[t] + 1.0)
                a2 = math.log(lam + 1.0) / ln2
                b2 = math.log((1.0 + lam) / lam) / ln2
                rows.append((t, float(b), b2, b2 - a2))
            cols = ("_b", "_big", "_bag")
            tfn = fr * F.log(F.lit(1.0) + F.lit(c_avgdl) / dl) / F.lit(ln2)
            raw = F.col("_b") * (F.col("_big") - F.col("_bag") / (F.lit(1.0) + tfn))
        elif self.family == "ib":  # LL + LambdaDF + H2
            c_avgdl = float(self.IB_C) * (sttf / n_docs)
            rows = [
                (t, float(b), float(np.float32((ttfs[t] + 1.0) / (n_docs + 1.0))))
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_lam")
            tfn = fr * F.log(F.lit(1.0) + F.lit(c_avgdl) / dl) / F.lit(ln2)
            raw = F.col("_b") * -F.log(F.col("_lam") / (tfn + F.col("_lam")))
        elif self.family == "ib_spl":  # SPL + LambdaDF + H2
            # DistributionSPL.java:35-59: q = 1 - 1/(tfn+1);
            # score = -ln((λ^q - λ) / (1 - λ)); λ = float32((df+1)/(N+1))
            # per LambdaDF.java:32-38.  The nextUp/nextDown denormal guards
            # (q==1, λ^q==λ) need bit-level nextafter and cannot fire for
            # the finite tfn > 0 this engine produces; omitted by design.
            c_avgdl = float(self.IB_C) * (sttf / n_docs)
            rows = [
                (t, float(b), float(np.float32((ttfs[t] + 1.0) / (n_docs + 1.0))))
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_lam")
            tfn = fr * F.log(F.lit(1.0) + F.lit(c_avgdl) / dl) / F.lit(ln2)
            qq = F.lit(1.0) - F.lit(1.0) / (tfn + F.lit(1.0))
            raw = F.col("_b") * -F.log(
                (F.pow(F.col("_lam"), qq) - F.col("_lam"))
                / (F.lit(1.0) - F.col("_lam"))
            )
        elif self.family == "dfi":  # DFISimilarity + IndependenceStandardized
            # DFISimilarity.java:77-87: expected = (ttf+1)*dl/(sttf+1);
            # 0 when freq <= expected; else boost * log2(m + 1) with
            # m = (freq - expected)/sqrt(expected)
            # (IndependenceStandardized.java:28-30)
            rows = [
                (t, float(b), (ttfs[t] + 1.0) / (sttf + 1.0))
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_ef")
            expected = F.col("_ef") * dl
            measure = (fr - expected) / F.sqrt(expected)
            raw = F.when(
                fr <= expected, F.lit(0.0)
            ).otherwise(
                F.col("_b") * F.log(measure + F.lit(1.0)) / F.lit(ln2)
            )
        elif self.family == "ss":  # SweetSpotSimilarity (misc module)
            # misc/search/similarity/SweetSpotSimilarity.java:
            # tf = baselineTf (:149-166): base when freq <= min, else
            #      sqrt(freq + base^2 - min);
            # lengthNorm (:120-141): 1/sqrt(steepness * (|dl-min| +
            #      |dl-max| - (max-min)) + 1)  — flat 1.0 on the plateau;
            # idf^2 * boost like the Classic parent (TFIDFSimilarity).
            rows = [
                (
                    t,
                    float(b),
                    (math.log((n_docs + 1.0) / (ttfs[t] + 1.0)) + 1.0) ** 2,
                )
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_idf2")
            base, mn = float(self.SS_TF_BASE), float(self.SS_TF_MIN)
            tf_ss = F.when(fr <= F.lit(mn), F.lit(base)).otherwise(
                F.sqrt(fr + F.lit(base * base - mn))
            )
            lmin, lmax = float(self.SS_LN_MIN), float(self.SS_LN_MAX)
            steep = float(self.SS_STEEPNESS)
            lnorm = F.lit(1.0) / F.sqrt(
                F.lit(steep)
                * (
                    F.abs(dl - F.lit(lmin))
                    + F.abs(dl - F.lit(lmax))
                    - F.lit(lmax - lmin)
                )
                + F.lit(1.0)
            )
            raw = F.col("_b") * F.col("_idf2") * tf_ss * lnorm
        elif self.family == "bool":  # BooleanSimilarity.java:56-60
            rows = [
                (t, float(b)) for t, b in term_boosts.items() if t in ttfs
            ]
            cols = ("_b",)
            raw = F.col("_b")
        elif self.family in (
            "ax_f1exp", "ax_f1log", "ax_f2log", "ax_f3exp", "ax_f3log"
        ):
            # Axiomatic.java:96-106: score = max(0, boost *
            # (tf * ln * tfln * idf - gamma)); per-variant components from
            # AxiomaticF{1,2,3}{EXP,LOG}.java.
            s, kk = float(self.AX_S), float(self.AX_K)
            qlen = float(self.AX_QUERY_LEN)
            avgdl = sttf / n_docs
            exp_idf = self.family.endswith("exp")
            rows = [
                (
                    t,
                    float(b),
                    math.pow((n_docs + 1.0) / ttfs[t], kk)
                    if exp_idf
                    else math.log((n_docs + 1.0) / ttfs[t]),
                )
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_idf")
            # tf component (F1/F3): 1 + ln(1 + ln(freq + 1))
            tf_c = F.lit(1.0) + F.log(F.lit(1.0) + F.log(fr + F.lit(1.0)))
            if self.family in ("ax_f1exp", "ax_f1log"):
                # ln component: (avgdl + s) / (avgdl + dl*s)
                ln_c = F.lit(avgdl + s) / (F.lit(avgdl) + dl * F.lit(s))
                core = tf_c * ln_c * F.col("_idf")
            elif self.family == "ax_f2log":
                # tfln component: freq / (freq + s + s*dl/avgdl)
                core = (
                    fr / (fr + F.lit(s) + F.lit(s) * dl / F.lit(avgdl))
                ) * F.col("_idf")
            else:  # ax_f3exp / ax_f3log: tf * idf - gamma
                # left-assoc order mirrors AxiomaticF3EXP.java:97:
                # ((docLen - queryLen) * s * queryLen) / avgdl
                gamma = (dl - F.lit(qlen)) * F.lit(s) * F.lit(qlen) / F.lit(avgdl)
                core = tf_c * F.col("_idf") - gamma
            raw = F.greatest(F.lit(0.0), F.col("_b") * core)
        else:  # ax (AxiomaticF2EXP)
            s, kk = float(self.AX_S), float(self.AX_K)
            avgdl = sttf / n_docs
            rows = [
                (t, float(b), math.pow((n_docs + 1.0) / ttfs[t], kk))
                for t, b in term_boosts.items()
                if t in ttfs
            ]
            cols = ("_b", "_idf")
            raw = F.greatest(
                F.lit(0.0),
                F.col("_b")
                * (fr / (fr + F.lit(s) + F.lit(s) * dl / F.lit(avgdl)))
                * F.col("_idf"),
            )
        if not rows:
            return self._empty_scored()
        entry = StructType([StructField(c, DoubleType()) for c in cols])
        pf = self.index.postings_for_terms([r[0] for r in rows]).select(
            "doc_id", "freq", "norm",
            self._term_lookup({r[0]: r[1:] for r in rows}, entry).alias("_t"),
        )
        score = raw.cast(self.score_type)
        return pf.select("doc_id", "freq", "norm", "_t.*").select(
            "doc_id", score.alias("score")
        )

    def _empty_scored(self) -> DataFrame:
        """A zero-row (doc_id, score) relation the optimizer can fold away:
        a plan over it launches no Spark job."""
        return self.index.spark.sql(
            "SELECT CAST(NULL AS BIGINT) AS doc_id, "
            f"CAST(NULL AS {self.score_type}) AS score WHERE false"
        )

    def _const_scored(self, doc_ids: DataFrame, boost: float) -> DataFrame:
        b = _f32(boost) if self.score_type == "float" else float(boost)
        return doc_ids.select(
            "doc_id", F.lit(b).cast(self.score_type).alias("score")
        )

    # ------------------------------------------------------------------
    # term-dictionary expansion (MultiTermQuery rewrites, SURVEY.md §2.6)
    def _expand_terms(self, predicate) -> DataFrame:
        """terms relation filtered by a dictionary predicate."""
        return self.index.term_stats.filter(predicate).select("term", "doc_freq")

    # expansions above this size skip the driver round-trip and semi-join;
    # capped at the reference's IndexSearcher maxClauseCount (1024) — a
    # larger IN-list bloats the Catalyst predicate for marginal gain over
    # the broadcast semi-join fallback
    MAX_COLLECTED_EXPANSION = 1024

    def _const_score_from_terms(self, terms_df: DataFrame, boost: float) -> DataFrame:
        """CONSTANT_SCORE rewrite (MultiTermQuery.java:39-83): expand against
        the term dictionary, then match postings.  The expansion is collected
        driver-side when small (the common case — it is vocabulary-bounded),
        enabling bucket/term pushdown into the postings scan; huge expansions
        fall back to a broadcast semi-join."""
        return self._const_scored(self._docs_from_terms(terms_df), boost)

    def _docs_from_terms(self, terms_df: DataFrame) -> DataFrame:
        """DataFrame(doc_id) matching ANY term of a dictionary expansion:
        collected driver-side when small (bucket/term pushdown into the
        postings scan), broadcast semi-join otherwise."""
        expanded = [
            r.term
            for r in terms_df.select("term").limit(self.MAX_COLLECTED_EXPANSION + 1).collect()
        ]
        if len(expanded) <= self.MAX_COLLECTED_EXPANSION:
            if not expanded:
                return self.index.docs.select("doc_id").limit(0)
            return self._sql(self.index.postings_rel(expanded).query("DISTINCT doc_id"))
        return (
            self.index.postings.join(
                F.broadcast(terms_df.select("term")), "term", "left_semi"
            )
            .select("doc_id")
            .distinct()
        )

    # ------------------------------------------------------------------
    # filter cache (LRUQueryCache.java:60 + UsageTrackingQueryCachePolicy
    # .java:29 analog): the match set of a repeated FILTER / MUST_NOT
    # operand is persisted (InMemoryRelation ≙ the cached per-segment
    # bitset) once the same query has been lowered MIN_USES times; bounded
    # LRU, eviction unpersists.  TermQuery / MatchAll / MatchNo are never
    # cached (the policy's "cheap queries aren't worth caching" rule).
    FILTER_CACHE_MAX = 32
    FILTER_CACHE_MIN_USES = 2

    def _filter_cache_key(self, q: Query):
        if isinstance(q, (TermQuery, MatchAllDocsQuery, MatchNoDocsQuery)):
            return None
        try:
            hash(q)
        except TypeError:
            return None
        return q

    def _matches(self, q: Query) -> DataFrame:
        key = self._filter_cache_key(q)
        if key is None:
            return self._matches_impl(q)
        cache = self.__dict__.setdefault("_filter_cache", {})
        uses = self.__dict__.setdefault("_filter_uses", {})
        if key in cache:
            df = cache.pop(key)
            cache[key] = df  # LRU touch (dict preserves insertion order)
            return df
        uses[key] = uses.get(key, 0) + 1
        df = self._matches_impl(q)
        if uses[key] >= self.FILTER_CACHE_MIN_USES:
            df = df.persist()
            cache[key] = df
            if len(cache) > self.FILTER_CACHE_MAX:
                oldest = next(iter(cache))
                cache.pop(oldest).unpersist()
        return df

    def clear_filter_cache(self) -> None:
        """Unpersist every cached filter match set (≙ LRUQueryCache.clear).
        Call when discarding a long-lived searcher so persisted blocks
        don't leak in the Spark block manager."""
        cache = self.__dict__.get("_filter_cache") or {}
        for df in cache.values():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped
        cache.clear()
        self.__dict__.pop("_filter_uses", None)

    def close(self) -> None:
        """Release searcher-held cluster resources (≙ IndexReader.close)."""
        self.clear_filter_cache()

    def __del__(self):  # best-effort; close() is the reliable path
        try:
            self.clear_filter_cache()
        except Exception:
            pass

    def _matches_impl(self, q: Query) -> DataFrame:
        """DataFrame(doc_id) of matching docs (non-scoring).

        Term-shaped operands lower to a postings scan → distinct doc_id
        with NO weight join, NO score expression, and NO per-term stats
        lookup — the FILTER / MUST_NOT / ConstantScore side of a plan
        carries none of the scoring machinery (≙ Weight.scorer under
        ScoreMode.COMPLETE_NO_SCORES).  Positional/feature queries fall
        back to the scored plan, whose matching IS the work."""
        if isinstance(q, (TermQuery, SynonymQuery)):
            terms = [q.term] if isinstance(q, TermQuery) else q.terms
            return self._sql(self.index.postings_rel(terms).query("DISTINCT doc_id"))
        if isinstance(q, (BoostQuery, ConstantScoreQuery)):
            return self._matches(q.query)
        from lucene_spark.search.query import FunctionScoreQuery

        if isinstance(q, FunctionScoreQuery):
            # the function only rescores — the match set is the inner one
            return self._matches(q.query)
        if isinstance(q, TermInSetQuery):
            return self._docs_from_terms(
                self._expand_terms(F.col("term").isin(list(q.terms)))
            )
        if isinstance(q, PrefixQuery):
            return self._docs_from_terms(
                self._expand_terms(F.col("term").startswith(q.prefix))
            )
        if isinstance(q, WildcardQuery):
            return self._docs_from_terms(
                self._expand_terms(F.col("term").rlike(_wildcard_to_regex(q.pattern)))
            )
        if isinstance(q, RegexpQuery):
            return self._docs_from_terms(
                self._expand_terms(F.col("term").rlike(f"^(?:{q.pattern})$"))
            )
        if isinstance(q, TermRangeQuery):
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (
                    F.col("term") >= q.lower if q.include_lower else F.col("term") > q.lower
                )
            if q.upper is not None:
                pred = pred & (
                    F.col("term") <= q.upper if q.include_upper else F.col("term") < q.upper
                )
            return self._docs_from_terms(self._expand_terms(pred))
        if isinstance(q, MatchAllDocsQuery):
            return self.index.docs.select("doc_id")
        if isinstance(q, MatchNoDocsQuery):
            return self.index.docs.select("doc_id").limit(0)
        if isinstance(q, FieldExistsQuery):
            return self.index.docs.filter(F.col(q.column).isNotNull()).select("doc_id")
        if isinstance(q, RangePredicate):
            return self.index.docs.filter(_range_pred(q)).select("doc_id")
        from lucene_spark.search.query import DocValuesTermsQuery as _DVT

        if isinstance(q, _DVT):
            # DocValuesTermsQuery.java:61 — IN predicate pushed to the
            # docs scan (PushedFilters: In(col, values))
            return self.index.docs.filter(
                F.col(q.column).isin(list(q.values))
            ).select("doc_id")
        from lucene_spark.search.query import FunctionRangeQuery as _FRQ

        if isinstance(q, _FRQ):
            # pure value-range filter — no score expression in the plan
            v = F.expr(q.source).cast("double")
            pred = v.isNotNull()
            if q.lower is not None:
                pred = pred & (v >= q.lower if q.include_lower else v > q.lower)
            if q.upper is not None:
                pred = pred & (v <= q.upper if q.include_upper else v < q.upper)
            return self.index.docs.filter(pred).select("doc_id")
        if isinstance(q, BooleanQuery):
            return self._matches_boolean(q)
        return self._scored(q).select("doc_id").distinct()

    # ------------------------------------------------------------------
    # access-path cost model (IndexOrDocValuesQuery.java:176-192): doc
    # values pay an 8x penalty vs the points index, so a range clause is
    # evaluated as a per-candidate post-filter (dv) only when the lead
    # clause is more than 8x more selective than the range itself
    _DV_PENALTY_SHIFT = 3

    def _col_minmax(self, column: str):
        """Memoized (min, max) of a docs column as floats (timestamps →
        epoch seconds) — the parquet-footer-stats analog used for the
        uniform-distribution range-selectivity estimate; None when the
        column is absent or non-numeric."""
        cache = getattr(self, "_minmax_cache", None)
        if cache is None:
            cache = self._minmax_cache = {}
        if column not in cache:
            if column not in self.index.docs.columns:
                cache[column] = None
            else:
                row = self.index.docs.agg(
                    F.min(column).alias("lo"), F.max(column).alias("hi")
                ).collect()[0]
                cache[column] = (_as_float(row.lo), _as_float(row.hi))
                if None in cache[column]:
                    cache[column] = None
        return cache[column]

    def _range_cost(self, q: RangePredicate) -> float:
        """Estimated match count of a range clause (ScorerSupplier.cost):
        uniform-overlap fraction of the column's [min, max] span."""
        n = float(self.doc_count)
        mm = self._col_minmax(q.column)
        if mm is None:
            return n
        lo, hi = mm
        qlo = _as_float(q.lower) if q.lower is not None else lo
        qhi = _as_float(q.upper) if q.upper is not None else hi
        if qlo is None or qhi is None or hi <= lo:
            return n
        frac = max(0.0, min(hi, qhi) - max(lo, qlo)) / (hi - lo)
        return n * min(1.0, frac)

    def _clause_cost(self, q: Query) -> float:
        """Upper-bound match-count estimate per clause (the per-scorer
        ``cost()`` Lucene's ConjunctionUtils sorts leads by); unknown
        shapes cost doc_count."""
        n = float(self.doc_count)
        if isinstance(q, TermQuery):
            return float(self.term_doc_freqs([q.term]).get(q.term, 0))
        if isinstance(q, SynonymQuery):
            return float(sum(self.term_doc_freqs(list(q.terms)).values()))
        if isinstance(q, PhraseQuery):
            dfs = self.term_doc_freqs(list(q.terms))
            return float(min(dfs.values())) if len(dfs) == len(set(q.terms)) else 0.0
        if isinstance(q, (BoostQuery, ConstantScoreQuery)):
            return self._clause_cost(q.query)
        if isinstance(q, RangePredicate):
            return self._range_cost(q)
        if isinstance(q, MatchNoDocsQuery):
            return 0.0
        if isinstance(q, KnnVectorQuery):
            return float(q.k)  # rewrites to a k-doc set
        if isinstance(q, BooleanQuery):
            musts = [
                c.query for c in q.clauses
                if c.occur in (Occur.MUST, Occur.FILTER)
            ]
            if musts:
                return min(self._clause_cost(c) for c in musts)
            shoulds = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
            if shoulds:
                return min(n, sum(self._clause_cost(c) for c in shoulds))
        return n

    def _matches_boolean(self, q: BooleanQuery) -> DataFrame:
        """Match-only Boolean: semi-joins for MUST/FILTER, union-distinct
        for SHOULD (count-distinct constraint for minShouldMatch > 1),
        anti-join for MUST_NOT — no scoring anywhere in the subtree.

        Required clauses evaluate cheapest-cost-first (ConjunctionUtils
        lead ordering), and a RangePredicate alongside a more-selective
        lead takes the doc-values path: the candidate set is broadcast
        and the range predicate rides the docs scan as a per-candidate
        post-filter — zero Exchange — instead of a filtered-scan +
        shuffle semi-join (IndexOrDocValuesQuery.java:176-192, with the
        same 8x dv penalty)."""
        musts = [c.query for c in q.clauses if c.occur in (Occur.MUST, Occur.FILTER)]
        shoulds = [c.query for c in q.clauses if c.occur == Occur.SHOULD]
        nots = [c.query for c in q.clauses if c.occur == Occur.MUST_NOT]
        msm = q.min_should_match
        if not musts and not shoulds:
            # pure negation — let the scored path raise its usual error
            return self._scored(q).select("doc_id").distinct()
        if musts:
            ranges = [m for m in musts if isinstance(m, RangePredicate)]
            others = [m for m in musts if not isinstance(m, RangePredicate)]
            if ranges and others:
                costed = sorted(others, key=self._clause_cost)
                lead_cost = self._clause_cost(costed[0])
                base = self._matches(costed[0])
                for sub in costed[1:]:
                    base = base.join(self._matches(sub), "doc_id", "left_semi")
                for rp in ranges:
                    idx_cost = self._range_cost(rp)
                    if (idx_cost / (1 << self._DV_PENALTY_SHIFT)) <= lead_cost:
                        # index path: pruned scan + semi-join
                        base = base.join(self._matches(rp), "doc_id", "left_semi")
                    else:
                        # dv path: broadcast candidates, filter in-scan
                        base = (
                            self.index.docs.join(
                                F.broadcast(base), "doc_id", "left_semi"
                            )
                            .filter(_range_pred(rp))
                            .select("doc_id")
                        )
            else:
                base = self._matches(musts[0])
                for sub in musts[1:]:
                    base = base.join(self._matches(sub), "doc_id", "left_semi")
            if shoulds and msm > 0:
                base = base.join(
                    self._n_should_matched(shoulds, msm), "doc_id", "left_semi"
                )
        else:
            need = max(1, msm)
            if need <= 1:
                base = self._matches(shoulds[0])
                for sub in shoulds[1:]:
                    base = base.unionByName(self._matches(sub))
                base = base.distinct()
            else:
                base = self._n_should_matched(shoulds, need)
        for sub in nots:
            base = base.join(self._matches(sub), "doc_id", "left_anti")
        return base

    def _n_should_matched(self, shoulds, need: int) -> DataFrame:
        """doc_ids matching at least ``need`` distinct SHOULD clauses."""
        u = None
        for i, sub in enumerate(shoulds):
            p = self._matches(sub).selectExpr("doc_id", f"{i} AS _cl")
            u = p if u is None else u.unionByName(p)
        aggs, n = _clause_masks("_cl", len(shoulds))
        return (
            u.groupBy("doc_id")
            .agg(*[F.expr(a) for a in aggs])
            .filter(f"{n} >= {need}")
            .select("doc_id")
        )

    # ------------------------------------------------------------------
    # scored lowering
    def _scored(self, q: Query) -> DataFrame:
        if isinstance(q, TermQuery):
            return self._scored_terms({q.term: q.boost})
        from lucene_spark.search.query import (
            BlendedTermQuery,
            CommonTermsQuery,
            FeatureQuery,
            IntervalQuery,
        )

        if isinstance(q, CommonTermsQuery):
            return self._scored_common_terms(q)
        from lucene_spark.search.termautomaton import TermAutomatonQuery

        if isinstance(q, TermAutomatonQuery):
            return self._scored_term_automaton(q)
        if isinstance(q, IntervalQuery):
            return self._scored_intervals(q)
        if isinstance(q, BlendedTermQuery):
            return self._scored_blended(q)
        if isinstance(q, FeatureQuery):
            return self._scored_feature(q)
        if isinstance(q, SynonymQuery):
            return self._scored_synonym(q)
        if isinstance(q, BooleanQuery):
            return self._scored_boolean(q)
        if isinstance(q, PhraseQuery):
            return self._scored_phrase(q)
        if isinstance(q, MultiPhraseQuery):
            return self._scored_multi_phrase(q)
        if isinstance(q, TermInSetQuery):
            terms_df = self._expand_terms(F.col("term").isin(list(q.terms)))
            return self._const_score_from_terms(terms_df, q.boost)
        if isinstance(q, PrefixQuery):
            terms_df = self._expand_terms(F.col("term").startswith(q.prefix))
            return self._const_score_from_terms(terms_df, q.boost)
        if isinstance(q, WildcardQuery):
            rx = _wildcard_to_regex(q.pattern)
            terms_df = self._expand_terms(F.col("term").rlike(rx))
            return self._const_score_from_terms(terms_df, q.boost)
        if isinstance(q, RegexpQuery):
            terms_df = self._expand_terms(F.col("term").rlike(f"^(?:{q.pattern})$"))
            return self._const_score_from_terms(terms_df, q.boost)
        if isinstance(q, TermRangeQuery):
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (
                    F.col("term") >= q.lower if q.include_lower else F.col("term") > q.lower
                )
            if q.upper is not None:
                pred = pred & (
                    F.col("term") <= q.upper if q.include_upper else F.col("term") < q.upper
                )
            return self._const_score_from_terms(self._expand_terms(pred), q.boost)
        if isinstance(q, FuzzyQuery):
            return self._scored_fuzzy(q)
        if isinstance(q, MatchAllDocsQuery):
            return self._const_scored(self.index.docs.select("doc_id"), q.boost)
        if isinstance(q, MatchNoDocsQuery):
            return self._empty_scored()
        if isinstance(q, FieldExistsQuery):
            docs = self.index.docs.filter(F.col(q.column).isNotNull()).select("doc_id")
            return self._const_scored(docs, q.boost)
        if isinstance(q, RangePredicate):
            c = F.col(q.column)
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
            if q.upper is not None:
                pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
            return self._const_scored(
                self.index.docs.filter(pred).select("doc_id"), 1.0
            )
        if isinstance(q, BoostQuery):
            sub = self._scored(q.query)
            b = _f32(q.boost) if self.score_type == "float" else float(q.boost)
            return sub.select(
                "doc_id",
                (F.col("score") * F.lit(b).cast(self.score_type))
                .cast(self.score_type)
                .alias("score"),
            )
        if isinstance(q, ConstantScoreQuery):
            return self._const_scored(self._matches(q.query), q.boost)
        if isinstance(q, DisjunctionMaxQuery):
            return self._scored_dismax(q)
        if isinstance(q, KnnVectorQuery):
            return self._scored_knn(q)
        from lucene_spark.search.query import (
            CombinedFieldQuery,
            CoveringQuery,
            FunctionRangeQuery,
            FunctionScoreQuery,
        )

        if isinstance(q, FunctionScoreQuery):
            return self._scored_function(q)
        if isinstance(q, CombinedFieldQuery):
            return self._scored_combined(q)
        if isinstance(q, CoveringQuery):
            return self._scored_covering(q)
        if isinstance(q, FunctionRangeQuery):
            return self._scored_function_range(q)
        from lucene_spark.search.query import FuzzyLikeThisQuery, PhraseWildcardQuery

        if isinstance(q, PhraseWildcardQuery):
            return self._scored_phrase_wildcard(q)
        if isinstance(q, FuzzyLikeThisQuery):
            return self._scored_fuzzy_like_this(q)
        from lucene_spark.search.query import (
            PayloadScoreQuery,
            SpanPayloadCheckQuery,
        )

        if isinstance(q, PayloadScoreQuery):
            return self._scored_payload_score(q)
        if isinstance(q, SpanPayloadCheckQuery):
            return self._scored_payload_check(q)
        from lucene_spark.search.query import DocValuesTermsQuery

        if isinstance(q, DocValuesTermsQuery):
            return self._const_scored(self._matches(q), q.boost)
        raise TypeError(f"unsupported query type: {type(q).__name__}")

    # ------------------------------------------------------------------
    # payloads (queries/payloads/* — PayloadScoreQuery.java:43,
    # SpanPayloadCheckQuery.java:45).  Leaf payloads are gathered as pure
    # JVM array algebra over the payload-bearing postings relation — one
    # groupBy shuffle for the multi-term span shape, zero for the term
    # shape, no UDF anywhere.

    def _payload_span_lists(self, span) -> DataFrame:
        """(doc_id, _pls: array<array<float>>) — one inner array per
        matched span, holding that span's leaf payloads in leaf order
        (nulls preserved: a position indexed without a payload).

        Supported span shapes (PayloadScoreQuery's documented subset):
        SpanTermQuery — every position is a 1-leaf span; in-order
        SpanNearQuery of plain terms with slop 0 — the exact-phrase span,
        leaves gathered per matched start via element_at/array_position."""
        from lucene_spark.search.spans import SpanNearQuery, SpanTermQuery

        if isinstance(span, SpanTermQuery):
            rel = self.index.postings_for_terms([span.term], with_positions=True)
            if "payloads" not in rel.columns:
                raise ValueError(
                    "payload query on an index built without "
                    "payload_delimiter (no payloads relation)"
                )
            return rel.select(
                "doc_id",
                F.transform("payloads", lambda p: F.array(p)).alias("_pls"),
            )
        if (
            isinstance(span, SpanNearQuery)
            and span.slop == 0
            and span.in_order
        ):
            terms = [
                c.term if isinstance(c, SpanTermQuery) else c
                for c in span.clauses
            ]
            if not all(isinstance(t, str) for t in terms):
                raise ValueError(
                    "payload near-span supports plain term clauses only"
                )
            uniq = sorted(set(terms))
            rel = self.index.postings_for_terms(uniq, with_positions=True)
            if "payloads" not in rel.columns:
                raise ValueError(
                    "payload query on an index built without "
                    "payload_delimiter (no payloads relation)"
                )
            # one groupBy gathers every term's (positions, payloads) pair
            # per doc (the _gather_positions single-shuffle shape)
            ui = {t: i for i, t in enumerate(uniq)}
            aggs = []
            for i, t in enumerate(uniq):
                w = F.when(F.col("term") == t, F.col("positions"))
                aggs.append(F.max(w).alias(f"_p{i}"))
                aggs.append(
                    F.max(
                        F.when(F.col("term") == t, F.col("payloads"))
                    ).alias(f"_y{i}")
                )
            g = rel.groupBy("doc_id").agg(*aggs)
            g = g.filter(
                _and_all([F.col(f"_p{ui[t]}").isNotNull() for t in set(terms)])
            )
            k = len(terms)

            def leaf(pos, j):
                # leaf j of a span starting at pos: term_j's payload at
                # position pos+j (array_position is 1-based, as element_at)
                yj, pj = f"_y{ui[terms[j]]}", f"_p{ui[terms[j]]}"
                return F.element_at(
                    F.col(yj),
                    F.array_position(F.col(pj), pos + F.lit(j)).cast("int"),
                )

            starts = F.filter(
                F.col(f"_p{ui[terms[0]]}"),
                lambda pos: _and_all(
                    [
                        F.array_contains(
                            F.col(f"_p{ui[terms[j]]}"), pos + F.lit(j)
                        )
                        for j in range(1, k)
                    ]
                ),
            )
            pls = F.transform(
                starts, lambda pos: F.array(*[leaf(pos, j) for j in range(k)])
            )
            return g.select("doc_id", pls.alias("_pls")).filter(
                F.size("_pls") > 0
            )
        raise ValueError(
            "PayloadScoreQuery/SpanPayloadCheckQuery support SpanTermQuery "
            "or an in-order slop-0 SpanNearQuery of plain terms"
        )

    def _scored_payload_score(self, q) -> DataFrame:
        """PayloadScoreQuery.java:43 + PayloadSpans.collectLeaf:219-232 —
        fold the PayloadFunction over every leaf payload factor of every
        matched span; NULL payloads decode to 1 (PayloadDecoder.java:29);
        docScore of an empty fold is 1.  ``include_span_score`` multiplies
        by the wrapped span query's engine score
        (PayloadSpanScorer.scoreCurrentDoc)."""
        base = self._payload_span_lists(q.wrapped)
        flat = F.flatten(F.col("_pls"))
        dec = F.transform(flat, lambda x: F.coalesce(x, F.lit(1.0)))
        n = F.size(flat)
        if q.function in ("sum", "avg"):
            if self.score_type == "float":
                # reference folds in float32, one leaf at a time, and avg
                # divides that float sum by the count in float32
                # (AveragePayloadFunction.docScore)
                raw = F.aggregate(
                    dec,
                    F.lit(0.0).cast("float"),
                    lambda a, x: (a + x.cast("float")).cast("float"),
                )
                if q.function == "avg":
                    raw = (raw / n.cast("float")).cast("float")
            else:
                raw = F.aggregate(dec, F.lit(0.0), lambda a, x: a + x)
                if q.function == "avg":
                    raw = raw / n
        elif q.function == "min":
            raw = F.array_min(dec)
        else:  # max
            raw = F.array_max(dec)
        pscore = F.when(n > 0, raw).otherwise(F.lit(1.0))
        out = base.select(
            "doc_id", pscore.cast(self.score_type).alias("score")
        )
        if q.include_span_score:
            inner = self._scored(q.wrapped.rewrite()).withColumnRenamed(
                "score", "_sp"
            )
            out = out.join(inner, "doc_id").select(
                "doc_id",
                (F.col("score") * F.col("_sp"))
                .cast(self.score_type)
                .alias("score"),
            )
        return out

    def _scored_payload_check(self, q) -> DataFrame:
        """SpanPayloadCheckQuery.java:45 — keep only spans whose collected
        leaf payloads satisfy ``op`` against the reference list position by
        position (count must match exactly; a NULL indexed payload never
        matches).  Doc score = matching-span count (documented deviation,
        see the query node)."""
        base = self._payload_span_lists(q.match)
        ref = sql_lit(q.payloads, ArrayType(FloatType()))
        ops = {
            "eq": lambda a, b: a == b,
            "gt": lambda a, b: a > b,
            "gte": lambda a, b: a >= b,
            "lt": lambda a, b: a < b,
            "lte": lambda a, b: a <= b,
        }
        cmp = ops[q.op]
        span_ok = lambda sp: (F.size(sp) == F.lit(len(q.payloads))) & F.forall(  # noqa: E731
            F.zip_with(sp, ref, lambda a, b: F.coalesce(cmp(a, b), F.lit(False))),
            lambda v: v,
        )
        n_match = F.size(F.filter(F.col("_pls"), span_ok))
        return (
            base.select("doc_id", n_match.alias("_n"))
            .filter(F.col("_n") > 0)
            .select(
                "doc_id", F.col("_n").cast(self.score_type).alias("score")
            )
        )

    def _scored_fuzzy_like_this(self, q) -> DataFrame:
        """FuzzyLikeThisQuery.rewrite (FuzzyLikeThisQuery.java:283-334):
        variant selection runs over the (vocabulary-bounded) term
        dictionary; the selected variants score in ONE postings scan with
        an inlined literal weight map.  With ``ignore_tf`` each variant is a
        constant-score clause; otherwise the doctored-stats TermQuery
        reduces to BM25 with idf evaluated at df=1 over the real norms."""
        import math

        n_docs = self.doc_count
        score_terms: list[tuple[str, float]] = []  # (variant, score)
        for query_string, max_edits, prefix_length in q.field_vals:
            processed: set = set()
            for tok in self.parse_terms(query_string):
                if tok in processed:
                    continue
                processed.add(tok)
                pred = F.abs(F.length("term") - F.lit(len(tok))) <= int(max_edits)
                if prefix_length:
                    pred = pred & F.col("term").startswith(tok[: int(prefix_length)])
                if max_edits:
                    dist = _osa_distance_udf(tok)
                    pred = pred & (dist(F.col("term")) <= int(max_edits))
                else:
                    pred = pred & (F.col("term") == tok)
                rows = self._expand_terms(pred).select("term", "doc_freq").collect()
                if not rows:
                    continue
                variants = []
                for r in rows:
                    ed = _osa(tok, r.term)
                    sim = 1.0 - ed / min(len(tok), len(r.term))
                    variants.append((sim, r.term, int(r.doc_freq)))
                top = sorted(variants, key=lambda v: (-v[0], v[1]))[
                    : q.max_variants_per_term
                ]
                df = next((d for s, t, d in variants if t == tok), 0)
                if df == 0:
                    # avg df of ALL enumerated variants, integer division
                    # (addTerms:245-249)
                    df = sum(d for _, _, d in variants) // len(variants)
                idf = 1.0 + math.log(n_docs / (df + 1.0))  # ClassicSimilarity
                for sim, term, _d in top:
                    score_terms.append((term, (sim * sim) * idf))
        score_terms = sorted(score_terms, key=lambda v: (-v[1], v[0]))[
            : q.max_num_terms
        ]
        if not score_terms:
            return self._empty_scored()
        # merge duplicate variants (same term reached from two source
        # tokens): SHOULD clauses sum, and both the constant-score and the
        # shared-freq BM25 parts are linear in the clause weight
        merged: dict[str, float] = {}
        for t, s in score_terms:
            merged[t] = merged.get(t, 0.0) + s
        if q.ignore_tf:
            pf = self.index.postings_for_terms(list(merged)).select(
                "doc_id", self._term_lookup(merged, self._score_dt).alias("_w")
            )
            return pf.groupBy("doc_id").agg(
                F.sum("_w").cast(self.score_type).alias("score")
            )
        weights = {t: self._weight(s, 1) for t, s in merged.items()}
        return (
            self._scored_weighted(weights)
            .groupBy("doc_id")
            .agg(F.sum("score").cast(self.score_type).alias("score"))
        )

    def _multiterm_pred(self, q):
        """Term-dictionary predicate for a multi-term query node (the
        MultiTermQuery family — same shapes as the scored dispatch)."""
        from lucene_spark.search.query import (
            FuzzyQuery,
            PrefixQuery,
            RegexpQuery,
            TermRangeQuery,
            WildcardQuery,
        )

        if isinstance(q, PrefixQuery):
            return F.col("term").startswith(q.prefix)
        if isinstance(q, WildcardQuery):
            return F.col("term").rlike(_wildcard_to_regex(q.pattern))
        if isinstance(q, RegexpQuery):
            return F.col("term").rlike(f"^(?:{q.pattern})$")
        if isinstance(q, FuzzyQuery):
            pred = (
                F.abs(F.length("term") - F.lit(len(q.term))) <= q.max_edits
            ) & (F.levenshtein(F.col("term"), F.lit(q.term)) <= q.max_edits)
            if q.prefix_length:
                pred = pred & F.col("term").startswith(q.term[: q.prefix_length])
            return pred
        if isinstance(q, TermRangeQuery):
            pred = F.lit(True)
            if q.lower is not None:
                pred = pred & (
                    F.col("term") >= q.lower
                    if q.include_lower
                    else F.col("term") > q.lower
                )
            if q.upper is not None:
                pred = pred & (
                    F.col("term") <= q.upper
                    if q.include_upper
                    else F.col("term") < q.upper
                )
            return pred
        raise TypeError(
            f"not a multi-term query inside a wildcard phrase: "
            f"{type(q).__name__}"
        )

    def _scored_phrase_wildcard(self, q) -> DataFrame:
        """PhraseWildcardQuery lowering (PhraseWildcardQuery.java:63 +
        its PhraseWildcardScorer): each multi-term slot expands against
        the term dictionary under the SHARED maxMultiTermExpansions
        budget (highest docFreq kept — the reference stops expanding when
        the budget is exhausted), a slot with no surviving expansion
        matches nothing, and the expanded slots run as one exact-adjacency
        interval block (ordered, zero gaps) through the single-shuffle
        positional gather."""
        from lucene_spark.search import intervals as iv
        from lucene_spark.search.query import IntervalQuery

        budget = q.max_multi_term_expansions
        sources = []
        for c in q.clauses:
            if isinstance(c, TermQuery):
                sources.append(iv.Term(c.term))
                continue
            if budget <= 0:
                return self._empty_scored()
            rows = (
                self._expand_terms(self._multiterm_pred(c))
                .orderBy(F.desc("doc_freq"), F.asc("term"))
                .limit(budget)
                .collect()
            )
            if not rows:
                return self._empty_scored()
            budget -= len(rows)
            terms = sorted(r.term for r in rows)
            sources.append(
                iv.Term(terms[0])
                if len(terms) == 1
                else iv.Or(tuple(iv.Term(t) for t in terms))
            )
        if not sources:
            return self._empty_scored()
        if len(sources) == 1:
            src = sources[0]
        else:
            src = iv.MaxGaps(iv.Ordered(tuple(sources)), 0)
        return self._scored_intervals(IntervalQuery(src))

    def _scored_covering(self, q) -> DataFrame:
        """CoveringQuery lowering (sandbox/search/CoveringScorer.java):
        per-doc-variable minimumNumberMatch.  Plan shape: the clause
        disjunction is ONE union of the per-clause scored relations with a
        clause ordinal, one hash agg computes sum(score) and the matched
        clause bits (``_clause_masks``) per doc — map-side partial
        aggregation applies — and the per-doc threshold rides the final
        doc_id join against the (column-pruned) docs relation; no per-doc
        Python and no second pass over the postings.  Score = sum of the matching
        clauses' scores (CoveringScorer.java:211-217); NULL threshold
        values never match, values < 1 clamp to 1
        (CoveringScorer.java:135-141)."""
        parts = [
            self._scored(sub).selectExpr("doc_id", "score", f"{i} AS _cl")
            for i, sub in enumerate(q.queries)
        ]
        if not parts:
            return self._empty_scored()
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        aggs, n = _clause_masks("_cl", len(parts))
        agg = u.groupBy("doc_id").agg(
            F.expr("sum(CAST(score AS DOUBLE)) AS _sum"),
            *[F.expr(a) for a in aggs],
        )
        need = F.expr(q.min_match_source).cast("long")
        # NULL must be tested on the RAW source (greatest(NULL, 1) = 1 in
        # Spark, which would wrongly admit docs with no value —
        # CoveringScorer.java:136-141 treats missing values as "never match")
        docs = self.index.docs.filter(need.isNotNull()).select(
            "doc_id", F.greatest(need, F.lit(1)).alias("_need")
        )
        return (
            agg.join(docs, "doc_id")
            .filter(f"{n} >= _need")
            .select("doc_id", F.col("_sum").cast(self.score_type).alias("score"))
        )

    def _scored_function_range(self, q) -> DataFrame:
        """FunctionRangeQuery lowering (queries/function/
        FunctionRangeQuery.java:44): a pure docs-relation scan — the range
        predicate is a Catalyst filter over the value expression (pushed
        to the parquet scan when the source is a bare column), and the
        score IS the function value (ValueSourceScorer.java:88).  Zero
        shuffles, zero joins."""
        v = F.expr(q.source).cast("double")
        pred = v.isNotNull()
        if q.lower is not None:
            pred = pred & (v >= q.lower if q.include_lower else v > q.lower)
        if q.upper is not None:
            pred = pred & (v <= q.upper if q.include_upper else v < q.upper)
        return self.index.docs.filter(pred).select(
            "doc_id", v.cast(self.score_type).alias("score")
        )

    def _scored_combined(self, q) -> DataFrame:
        """BM25F pseudo-field scoring (CombinedFieldQuery docstring defines
        the exact statistics).  Plan shape: text postings for the terms
        UNION the keyword-indicator relation (docs × broadcast term list,
        filtered to hits), one hash agg for freq', one tiny per-term stats
        agg broadcast back, BM25 algebra in codegen — the per-term df'
        never leaves the cluster."""
        idx = self.index
        terms = list(dict.fromkeys(q.terms))
        if not terms:
            return self._empty_scored()
        n_docs = float(self.doc_count)
        max_doc = float(idx.stats["max_doc"])
        wsum = sum(w for _, w in q.fields)
        sttf = float(idx.stats["sum_total_term_freq"]) + wsum * max_doc
        avgdl = sttf / n_docs
        k1, b = float(self.k1), float(self.b)

        tf = idx.postings_for_terms(terms).select(
            "term", "doc_id", F.col("freq").cast("double").alias("_f")
        )
        tlit = F.array(*[F.lit(t) for t in terms])
        kwfreq = None
        for col, w in q.fields:
            piece = F.when(F.col(col) == F.col("term"), F.lit(float(w))).otherwise(
                F.lit(0.0)
            )
            kwfreq = piece if kwfreq is None else kwfreq + piece
        kw = (
            idx.docs.select("doc_id", *[c for c, _ in q.fields])
            .select("doc_id", F.explode(tlit).alias("term"), kwfreq.alias("_f"))
            .filter(F.col("_f") > 0)
            .select("term", "doc_id", "_f")
        )
        fprime = (
            tf.unionByName(kw)
            .groupBy("term", "doc_id")
            .agg(F.sum("_f").alias("_fp"))
        )
        stats = fprime.groupBy("term").agg(F.count("*").cast("double").alias("_dfp"))
        dlp = idx.docs.select(
            "doc_id", (F.col("length") + F.lit(wsum)).cast("double").alias("_dlp")
        )
        joined = fprime.join(F.broadcast(stats), "term").join(dlp, "doc_id")
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.col("_dfp") + F.lit(0.5))
            / (F.col("_dfp") + F.lit(0.5))
        )
        per_term = (
            F.lit(float(q.boost))
            * idf
            * F.col("_fp")
            / (
                F.col("_fp")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("_dlp") / F.lit(avgdl))
            )
        )
        return (
            joined.withColumn("_s", per_term)
            .groupBy("doc_id")
            .agg(F.sum("_s").cast(self.score_type).alias("score"))
        )

    def _scored_function(self, q) -> DataFrame:
        """FunctionScoreQuery.java:128-160 — each inner match is rescored
        by the expression; the value is computed in double (DoubleValues
        semantics) and cast to the session score type at the end, exactly
        the reference's double-value → float-score boundary.  The doc-
        column join is Catalyst-pruned to the columns the expression
        actually references, and at scale it is the same doc_id-range join
        shape as the final top-k doc fetch (docs are range-partitioned by
        doc_id — row-group pruning applies)."""
        sub = self._scored(q.query).withColumnRenamed("score", "_score")
        joined = sub.join(self.index.docs, "doc_id")
        expr = F.expr(q.source).cast("double")
        if q.boost != 1.0:
            expr = expr * F.lit(float(q.boost))
        return joined.select(
            "doc_id", expr.cast(self.score_type).alias("score")
        )

    def _scored_synonym(self, q: SynonymQuery) -> DataFrame:
        """SynonymQuery.java:50 — members scored as ONE pseudo-term:
        freq = sum over members per doc, df = max member df."""
        dfs = self.term_doc_freqs(list(q.terms))
        if not dfs:
            return self._empty_scored()
        weight = self._weight(q.boost, max(dfs.values()))
        summed = self.index.postings_rel(q.terms).query(
            "doc_id, CAST(sum(freq) AS INT) AS freq, first(norm) AS norm", "GROUP BY doc_id"
        )
        return self._weight_scored(summed, weight, "freq")

    def _scored_fuzzy(self, q: FuzzyQuery) -> DataFrame:
        """FuzzyQuery.java:52-54 with TopTermsScoringBooleanQueryRewrite:
        expand to the top max_expansions dictionary terms by doc_freq within
        edit distance, then score each as a TermQuery SHOULD clause.

        transpositions=True (the reference default) accepts by OSA
        distance — the LevenshteinAutomata(..., transpositions=true)
        acceptance set.  Spark has no OSA builtin, so the exact distance
        runs as a vectorized Arrow batch over the (length-prefiltered)
        DICTIONARY relation — vocabulary-stage Python like the KStem
        dictionary pass, never per posting.  Classic Levenshtein stays
        fully JVM (built-in)."""
        pred = F.length("term") >= 0
        if q.prefix_length > 0:
            pred = F.col("term").startswith(q.term[: q.prefix_length])
        # cheap length pre-filter (valid for OSA too: |len diff| <= edits)
        pred = pred & (F.abs(F.length("term") - F.lit(len(q.term))) <= q.max_edits)
        if getattr(q, "transpositions", False):
            dist = _osa_distance_udf(q.term)
            pred = pred & (dist(F.col("term")) <= q.max_edits)
        else:
            pred = pred & (F.levenshtein(F.col("term"), F.lit(q.term)) <= q.max_edits)
        expanded = (
            self._expand_terms(pred)
            .orderBy(F.desc("doc_freq"), F.asc("term"))
            .limit(q.max_expansions)
            .collect()
        )
        if not expanded:
            return self._empty_scored()
        scored = self._scored_terms({r.term: q.boost for r in expanded})
        return (
            scored.groupBy("doc_id")
            .agg(F.sum("score").cast(self.score_type).alias("score"))
        )

    def _scored_dismax(self, q: DisjunctionMaxQuery) -> DataFrame:
        subs = [self._scored(s) for s in q.queries]
        if not subs:
            return self._empty_scored()
        u = subs[0]
        for s in subs[1:]:
            u = u.unionByName(s)
        tie = _f32(q.tie_breaker) if self.score_type == "float" else float(q.tie_breaker)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("_mx"), F.sum("score").alias("_sm")
        )
        st = self.score_type
        return agg.select(
            "doc_id",
            (
                F.col("_mx")
                + F.lit(tie).cast(st) * (F.col("_sm") - F.col("_mx")).cast(st)
            )
            .cast(st)
            .alias("score"),
        )

    def _scored_boolean(self, q: BooleanQuery) -> DataFrame:
        """Occur semantics per Boolean2ScorerSupplier.java:130-155 lowered to
        ONE hash aggregation over tagged rows, the analog of the single leaf
        pass that feeds ReqExclScorer / ReqOptSumScorer.

        Every clause contributes rows tagged with its ordinal: MUST and
        FILTER share the required ordinals (``_must``), SHOULD has its own
        (``_should``) and MUST_NOT rows set ``_not``; FILTER and MUST_NOT
        rows carry a NULL score.  A doc is kept when every required bit is
        set, at least minShouldMatch SHOULD bits are set (at least one when
        nothing is required) and it has no MUST_NOT row.  Its score is the
        sum of its scoring rows in double, 0 when only FILTER clauses
        matched it."""
        if not q.clauses:
            # empty BooleanQuery matches nothing (Lucene rewrites it to
            # MatchNoDocsQuery rather than erroring)
            return self._empty_scored()
        if all(c.occur == Occur.MUST_NOT for c in q.clauses):
            raise ValueError("pure-negation BooleanQuery is illegal (BooleanQuery.java)")
        tags = []  # (_must, _should, _not) per clause
        n_req = n_should = 0
        for c in q.clauses:
            if c.occur in (Occur.MUST, Occur.FILTER):
                tags.append((n_req, None, None))
                n_req += 1
            elif c.occur == Occur.SHOULD:
                tags.append((None, n_should, None))
                n_should += 1
            else:
                tags.append((None, None, 1))

        def tagged(df, score, tag):
            return Rel.of(df).query(", ".join(["doc_id", score, *(
                f"CAST({'NULL' if v is None else v} AS INT) AS {name}"
                for name, v in zip(("_must", "_should", "_not"), tag)
            )]))

        parts = []
        # All TermQuery clauses share ONE postings scan with inlined literal
        # weights (one stats lookup total), ≙ BooleanWeight building every
        # TermScorer over one shared leaf pass.  The SimilarityBase families
        # score terms per clause (they need ttf), so they batch none.
        term_clauses = []  # (term, boost or None when not scoring, tag)
        for c, tag in zip(q.clauses, tags):
            scoring = c.occur in (Occur.MUST, Occur.SHOULD)
            if isinstance(c.query, TermQuery) and not self.simbase:
                term_clauses.append((c.query.term, c.query.boost if scoring else None, tag))
            elif scoring:
                parts.append(tagged(self._scored(c.query), "score", tag))
            else:
                null_score = f"CAST(NULL AS {self.score_type}) AS score"
                parts.append(tagged(self._matches(c.query), null_score, tag))
        if term_clauses:
            dfs = self.term_doc_freqs([t for t, _, _ in term_clauses])
            # term -> one entry per clause: a term repeated across clauses
            # (`+a a`, `a^2 a`) scores once per clause, since clause scores add
            by_term: dict[str, list] = {}
            for t, boost, tag in term_clauses:
                if t in dfs:
                    w = None if boost is None else self._weight(boost, dfs[t])
                    by_term.setdefault(t, []).append((w, *tag))
            if by_term:
                entry = StructType([
                    StructField("_w", self._score_dt),
                    StructField("_must", IntegerType()),
                    StructField("_should", IntegerType()),
                    StructField("_not", IntegerType()),
                ])
                lookup = self._term_lookup_sql(by_term, ArrayType(entry))
                parts.append(
                    self.index.postings_rel(list(by_term))
                    .query(f"doc_id, freq, norm, inline({lookup})")
                    .query(f"doc_id, {self._score_sql('_w', 'freq', 'norm')} AS score, "
                           "_must, _should, _not")
                )
        if not parts:
            # every clause was a term absent from the dictionary
            return self._empty_scored()

        must_aggs, n_must = _clause_masks("_must", n_req)
        should_aggs, n_shoulds = _clause_masks("_should", n_should)
        need = q.min_should_match if n_req else max(1, q.min_should_match)
        aggs = ["sum(score) AS _dsum", *must_aggs]
        conds = [f"{n_must} = {n_req}"] if n_req else []
        if need > 0:
            aggs += should_aggs
            conds.append(f"{n_shoulds} >= {need}")
        if n_req + n_should < len(q.clauses):
            aggs.append("count(_not) AS _nnot")
            conds.append("_nnot = 0")
        return self._sql(
            union_all(parts)
            .query(", ".join(["doc_id", *aggs]), "GROUP BY doc_id")
            .query("*", "WHERE " + " AND ".join(conds))
            .query(f"doc_id, CAST(coalesce(_dsum, 0D) AS {self.score_type}) AS score")
        )

    def _scored_feature(self, q) -> DataFrame:
        """FeatureQuery lowering: a projection over the docs relation — no
        postings, no shuffle; score functions per FeatureField."""
        v = F.col(q.field).cast("double")
        if q.function == "log":
            raw = F.log(F.lit(float(q.scaling)) + v)
        elif q.function == "saturation":
            raw = v / (v + F.lit(float(q.pivot)))
        elif q.function == "sigmoid":
            va = F.pow(v, F.lit(float(q.exp)))
            raw = va / (va + F.pow(F.lit(float(q.pivot)), F.lit(float(q.exp))))
        else:
            raise ValueError(f"unknown feature function {q.function!r}")
        score = (F.lit(float(q.boost)) * raw).cast(self.score_type)
        return (
            self.index.docs.filter(v.isNotNull() & (v > 0))
            .select("doc_id", score.alias("score"))
        )

    def _scored_blended(self, q) -> DataFrame:
        """BlendedTermQuery: per-term scoring with the blended (max) df,
        DisjunctionMax(tie) combine."""
        terms = list(q.terms)
        boosts = list(q.boosts) if q.boosts else [1.0] * len(terms)
        dfs = self.term_doc_freqs(terms)
        if not dfs:
            return self._empty_scored()
        df_blend = max(dfs.values())
        # term -> weights: a repeated term is one more DisjunctionMax member
        by_term: dict[str, list] = {}
        for t, b in zip(terms, boosts):
            if t in dfs:
                by_term.setdefault(t, []).append(self._weight(b * q.boost, df_blend))
        lookup = self._term_lookup_sql(by_term, ArrayType(self._score_dt))
        tie = _f32(q.tie_breaker) if self.score_type == "float" else float(q.tie_breaker)
        st = self.score_type
        return self._sql(
            self.index.postings_rel(list(by_term))
            .query(f"doc_id, freq, norm, explode({lookup}) AS _w")
            .query(f"doc_id, {self._score_sql('_w', 'freq', 'norm')} AS score")
            .query("doc_id, max(score) AS _mx, sum(score) AS _sm", "GROUP BY doc_id")
            .query(f"doc_id, CAST((_mx + (CAST({sql_text(tie, DoubleType())} AS {st}) * "
                   f"CAST((_sm - _mx) AS {st}))) AS {st}) AS score")
        )

    def _scored_intervals(self, q) -> DataFrame:
        """IntervalQuery lowering: single-shuffle gather of the source's
        term positions, Arrow-batched minimal-interval traversal per doc
        (search.intervals), saturation scoring (no length norm)."""
        import pandas as pd

        from lucene_spark.search.intervals import interval_freq

        terms = sorted(set(q.source.terms()))
        if not terms:
            return self._empty_scored()
        base = self._sql(self._gather_positions(
            terms, required=q.source.required_terms()
        ))
        f32 = self.score_type == "float"
        src = q.source
        tlist = list(terms)

        @F.pandas_udf("double")
        def fudf(*cols):
            out = []
            for lists in zip(*cols):
                pos_map = {
                    t: (list(p) if p is not None else [])
                    for t, p in zip(tlist, lists)
                }
                out.append(interval_freq(src, pos_map, f32))
            return pd.Series(out, dtype="float64")

        out = base.withColumn(
            "_freq", fudf(*[F.col(f"_p{i}") for i in range(len(terms))])
        ).filter(F.col("_freq") > 0)
        if f32:
            piv = F.lit(_f32(q.pivot)).cast("float")
            fr = F.col("_freq").cast("float")
            one = F.lit(1.0).cast("float")
            sat = (one - (piv / (piv + fr).cast("float")).cast("float")).cast("float")
            score = (F.lit(_f32(q.boost)).cast("float") * sat).cast("float")
        else:
            score = (
                F.lit(float(q.boost))
                * (F.lit(1.0) - F.lit(float(q.pivot)) / (F.lit(float(q.pivot)) + F.col("_freq")))
            ).cast("double")
        return out.select("doc_id", score.alias("score"))

    def _scored_common_terms(self, q: "CommonTermsQuery") -> DataFrame:
        """CommonTermsQuery.java:283-344 buildQuery: split terms at the
        doc-freq cutoff; low-frequency terms drive matching, high-frequency
        terms join as optional score contributors."""
        from lucene_spark.search.query import CommonTermsQuery  # noqa: F401

        terms = list(q.terms)
        if not terms:
            return self._empty_scored()
        dfs = self.term_doc_freqs(terms)
        max_doc = self.index.stats["max_doc"]
        # CommonTermsQuery.java:155 — fractional maxTermFrequency marks a
        # term high-freq when docFreq > ceil(mtf * maxDoc); without the
        # ceil, docFreq == ceil(mtf * maxDoc) misclassifies as high
        cutoff = (
            math.ceil(q.max_term_frequency * max_doc)
            if 0 < q.max_term_frequency < 1.0
            else q.max_term_frequency
        )
        low_occ = q.low_freq_occur or Occur.SHOULD
        high_occ = q.high_freq_occur or Occur.SHOULD
        low = [t for t in terms if dfs.get(t, 0) <= cutoff]
        high = [t for t in terms if dfs.get(t, 0) > cutoff]
        if not low:
            built = BooleanQuery.of(
                *[(TermQuery(t, boost=q.boost), high_occ) for t in high]
            )
        elif not high:
            built = BooleanQuery.of(
                *[(TermQuery(t, boost=q.boost), low_occ) for t in low],
                min_should_match=q.low_freq_min_should_match,
            )
        else:
            low_sub = BooleanQuery.of(
                *[(TermQuery(t, boost=q.boost), low_occ) for t in low],
                min_should_match=q.low_freq_min_should_match,
            )
            high_sub = BooleanQuery.of(
                *[(TermQuery(t, boost=q.boost), high_occ) for t in high]
            )
            built = BooleanQuery.of((low_sub, Occur.MUST), (high_sub, Occur.SHOULD))
        return self._scored(built.rewrite())

    def _gather_positions(
        self, terms: Sequence[str], required: "set | None" = None
    ) -> Rel:
        """(doc_id, norm, _p0.._p{n-1}) for docs containing ALL terms — the
        per-term position arrays gathered in ONE groupBy (single shuffle)
        instead of an n-way self-join of the positions relation.  Repeated
        terms share one postings row via the conditional aggregation.

        ``required``: subset of terms the doc approximation demands
        (IntervalsSource approximations — difference sources require only
        their minuend, disjunctions nothing).  Default: all terms."""
        required = set(terms) if required is None else set(required)
        aggs = ", ".join(
            f"max(CASE WHEN (term = {sql_text(t, StringType())}) THEN positions END) AS _p{i}"
            for i, t in enumerate(terms)
        )
        g = self.index.postings_rel(terms, with_positions=True).query(
            f"doc_id, min(norm) AS norm, {aggs}", "GROUP BY doc_id"
        )
        req_preds = [f"(_p{i} IS NOT NULL)" for i, t in enumerate(terms) if t in required]
        return g.query("*", "WHERE " + " AND ".join(req_preds)) if req_preds else g

    @staticmethod
    def _phrase_offsets(q: PhraseQuery) -> list[int]:
        """Explicit query positions (PhraseQuery.Builder.add(term, position))
        or consecutive 0..n-1; holes (e.g. removed stopwords) shift them."""
        if getattr(q, "positions", None):
            return list(q.positions)
        return list(range(len(q.terms)))

    def _scored_phrase(self, q: PhraseQuery) -> DataFrame:
        """Exact phrase via positions-array algebra (all JVM higher-order
        functions — ExactPhraseMatcher.java:38 semantics): freq = count of
        start positions p in positions(t0) with p+Δi ∈ positions(ti) ∀i
        (Δi = query-position gap, supporting stopword holes).
        Weight = boost * float32(Σ float32 idf(ti)) (BM25Similarity
        idfExplain over the term array sums in double then casts)."""
        terms = list(q.terms)
        if not terms:
            return self._empty_scored()
        if q.slop != 0:
            return self._scored_sloppy_phrase(q)
        dfs = self.term_doc_freqs(terms)
        if any(t not in dfs for t in terms):
            return self._empty_scored()
        weight = self._phrase_weight(terms, dfs, q.boost)
        offs = self._phrase_offsets(q)

        if len(terms) == 1:
            return self._scored_terms({terms[0]: q.boost})

        out = self._gather_positions(terms).query(f"*, {_exact_freq_sql(offs)} AS _freq")
        return self._weight_scored(out.query("*", "WHERE _freq > 0"), weight)

    def _scored_sloppy_phrase(self, q: PhraseQuery) -> DataFrame:
        """Sloppy phrase (slop > 0) with EXACT reference semantics
        (SloppyPhraseMatcher.java:172-204 + PhraseScorer.java:76-84):
        freq = Σ 1/(1+matchLength) over the greedy matcher's matches.

        Two lowering strategies:
        * 2 distinct terms (the overwhelmingly common case): a pure-JVM fold
          over the merged phrase-position sequence — the matcher's traversal
          reduces to an alternating "frontier chain" (first element whose
          other-list predecessor exists; then the smallest other-list
          element strictly past the last frontier; width = frontier minus
          the other list's largest position ≤ it).  Equivalence to the
          simulation is pinned by 100k randomized trials in
          tests/test_sloppy.py.
        * generic n terms / repeated terms: Arrow-batched UDF running the
          faithful simulation (lucene_spark.search.sloppy) per doc.
        """
        terms = list(q.terms)
        dfs = self.term_doc_freqs(terms)
        if any(t not in dfs for t in terms):
            return self._empty_scored()
        weight = self._phrase_weight(terms, dfs, q.boost)
        offs = self._phrase_offsets(q)
        if len(terms) == 2 and terms[0] != terms[1]:
            return self._sloppy_chain_scored(terms, offs, q.slop, weight)
        return self._sloppy_udf_scored(terms, offs, q.slop, weight)

    @staticmethod
    def _slop_lcm(slop: int) -> int:
        """lcm(1..slop+1): quantizes match weights 1/(1+w), w<=slop, to
        integers so the f64-mode freq is an order-free exact integer sum."""
        l = 1
        for d in range(2, slop + 2):
            l = l * d // math.gcd(l, d)
        return l

    def _sloppy_chain_scored(
        self, terms, offs, slop: int, weight: float, base: DataFrame | None = None
    ) -> DataFrame:
        """JVM chain-fold lowering of the 2-distinct-term sloppy matcher.
        ``base`` overrides the position gather — MultiPhraseQuery passes
        its per-slot UNION position arrays here (2 disjoint slots reduce
        to the same 2-list matcher)."""
        if base is None:
            base = self._gather_positions(terms)
        elif isinstance(base, DataFrame):
            base = Rel.of(base)
        o0, o1 = offs
        f32 = self.score_type == "float"
        lq = self._slop_lcm(slop)
        # The fold is rendered as SQL text and parsed in one JVM call: the
        # same expression built through the Column DSL costs ~1.2k py4j
        # round trips.  Literal types follow the DSL they replace: 1.0D is
        # a double (a bare 1.0 would be a decimal), bare ints are ints.
        a = "_p0"
        b = f"transform(_p1, v -> v - {o1 - o0})"
        merged = (
            f"array_sort(concat("
            f"transform({a}, p -> named_struct('pos', p, 'off', 0)), "
            f"transform({b}, p -> named_struct('pos', p, 'off', 1))))"
        )
        acc0 = "CAST(0.0D AS FLOAT)" if f32 else "CAST(0 AS BIGINT)"
        init = (
            "named_struct('sa', false, 'sb', false, 'exp', -1, 'fp', 0, "
            f"'la', CAST(NULL AS INT), 'lb', CAST(NULL AS INT), 'acc', {acc0})"
        )
        is_a = "(x.off = 0)"
        frontier = (
            f"(CASE WHEN (acc.exp = -1) THEN "
            f"(CASE WHEN {is_a} THEN acc.sb ELSE acc.sa END) "
            f"ELSE ((x.off = acc.exp) AND (x.pos > acc.fp)) END)"
        )
        # width = frontier pos - other list's largest pos <= it (the
        # matcher's <=-absorbing minimization).  The predecessor is
        # CARRIED in the accumulator (la/lb = last traversed pos per
        # list) instead of re-scanning the other list per element —
        # O(f) instead of O(f^2) per doc; the equal-position case
        # (other list's element not yet traversed at a tie) reads the
        # tiny precomputed intersection of equal adjusted positions
        # across the two lists (rare; usually empty) — the one case the
        # running-predecessor bookkeeping can't see, because at ties the
        # A element is traversed first.
        eqs = f"array_intersect({a}, {b})"
        w = (
            f"(CASE WHEN {is_a} THEN "
            f"(CASE WHEN array_contains({eqs}, x.pos) THEN 0 ELSE (x.pos - acc.lb) END) "
            f"ELSE (x.pos - acc.la) END)"
        )
        counted = f"({frontier} AND ({w} <= {slop}))"
        if f32:
            one = "CAST(1.0D AS FLOAT)"
            contrib = f"CAST(({one} / ({one} + CAST({w} AS FLOAT))) AS FLOAT)"
            inc = f"CAST((acc.acc + {contrib}) AS FLOAT)"
        else:
            inc = f"(acc.acc + CAST(({lq} / ({w} + 1)) AS BIGINT))"
        step = (
            "named_struct("
            f"'sa', (acc.sa OR {is_a}), "
            f"'sb', (acc.sb OR (NOT {is_a})), "
            f"'exp', (CASE WHEN {frontier} THEN (1 - x.off) ELSE acc.exp END), "
            f"'fp', (CASE WHEN {frontier} THEN x.pos ELSE acc.fp END), "
            f"'la', (CASE WHEN {is_a} THEN CAST(x.pos AS INT) ELSE acc.la END), "
            f"'lb', (CASE WHEN {is_a} THEN acc.lb ELSE CAST(x.pos AS INT) END), "
            f"'acc', (CASE WHEN {counted} THEN {inc} ELSE acc.acc END))"
        )
        acc = f"aggregate({merged}, {init}, (acc, x) -> {step}).acc"
        if not f32:
            acc = f"(CAST({acc} AS DOUBLE) / {sql_text(float(lq), DoubleType())})"
        out = base.query(f"*, {acc} AS _freq").query("*", "WHERE _freq > 0")
        return self._weight_scored(out, weight)

    def _sloppy_udf_scored(
        self,
        terms,
        offs,
        slop: int,
        weight: float,
        base: DataFrame | None = None,
        terms_per_pp=None,
    ) -> DataFrame:
        """Arrow-batched faithful simulation for n-term / repeated-term
        sloppy phrases (lucene_spark.search.sloppy.sloppy_freq per doc).
        ``base``/``terms_per_pp`` carry MultiPhraseQuery's per-slot union
        position arrays and alternative-term sets (multi-term repeat
        groups, SloppyPhraseMatcher.java:427-460)."""
        import pandas as pd

        from lucene_spark.search.sloppy import sloppy_freq as _sf

        n = len(terms_per_pp) if terms_per_pp is not None else len(terms)
        if base is None:
            base = self._sql(self._gather_positions(terms))
        f32 = self.score_type == "float"
        offsets = list(offs)
        slop_ = int(slop)
        tpp = (
            [tuple(ts) for ts in terms_per_pp] if terms_per_pp is not None else None
        )

        @F.pandas_udf("double")
        def fudf(*cols):
            out = []
            for lists in zip(*cols):
                out.append(
                    _sf([list(x) for x in lists], offsets, slop_, f32,
                        terms_per_pp=tpp)
                )
            return pd.Series(out, dtype="float64")

        # single ArrowEvalPython: without the nondeterministic pin Catalyst
        # splits the UDF into one eval for the freq>0 filter and a RE-RUN
        # of the full simulation for the score projection (2x the Python
        # work per candidate doc); the function is deterministic — the
        # flag only pins evaluation (same shape as _scored_term_automaton)
        fudf = fudf.asNondeterministic()
        freq = fudf(*[F.col(f"_p{i}") for i in range(n)])
        out = base.select("doc_id", "norm", freq.alias("_freq")).filter(
            F.col("_freq") > 0
        )
        return self._weight_scored(Rel.of(out), weight)

    def _scored_term_automaton(self, q) -> DataFrame:
        """TermAutomatonQuery (sandbox/search/TermAutomatonQuery.java:63):
        disjunctive candidate gather (docs with ANY automaton term — the
        scorer's DisjunctionScorer shape), then the countMatches DP per
        candidate in an Arrow-batched UDF (TermAutomatonScorer.java:229),
        scored BM25 with weight = boost * Σ idf over the automaton's
        index-present terms (TermAutomatonWeight:376-397).

        100 TB shape: one groupBy shuffle of the pruned postings for the
        query's terms; the DP is O(positions · states) per doc inside
        Arrow batches; no driver-side iteration."""
        import pandas as pd

        terms = q.terms
        if not terms:
            return self._empty_scored()
        dfs = self.term_doc_freqs(terms)
        present = [t for t in terms if t in dfs]
        if not present:
            return self._empty_scored()
        weight = self._phrase_weight(present, dfs, q.boost)
        base = self._sql(self._gather_positions(terms, required=set()))
        freq_of = q.doc_freq_fn()
        n = len(terms)

        @F.pandas_udf("long")
        def fudf(*cols):
            out = []
            for lists in zip(*cols):
                out.append(
                    freq_of([list(x) if x is not None else [] for x in lists])
                )
            return pd.Series(out, dtype="int64")

        # asNondeterministic stops Catalyst from splitting the UDF into two
        # ArrowEvalPython nodes (one for the freq>0 filter, one re-run for
        # the score projection) — the DP runs ONCE per candidate doc; the
        # function is in fact deterministic, the flag only pins evaluation
        fudf = fudf.asNondeterministic()
        freq = fudf(*[F.col(f"_p{i}") for i in range(n)])
        out = base.select("doc_id", "norm", freq.alias("_freq")).filter(
            F.col("_freq") > 0
        )
        return self._weight_scored(Rel.of(out), weight)

    def _scored_multi_phrase(self, q: MultiPhraseQuery) -> DataFrame:
        """MultiPhraseQuery.java — phrase with term alternatives per slot:
        positions(slot i) = union of the alternatives' position arrays;
        slop=0: freq = count of start positions p with p+Δi in
        positions(slot i); slop>0: the SloppyPhraseMatcher over the union
        lists — 2 disjoint slots lower to the pure-JVM chain fold, the
        generic case (incl. slots sharing alternatives = multi-term repeat
        groups) runs the faithful simulation in an Arrow-batched UDF.
        Weight sums idf over all matching terms (MultiPhraseWeight uses
        the union of term stats)."""
        slots = [tuple(dict.fromkeys(ts)) for ts in q.terms_per_pos]
        if not slots:
            return self._empty_scored()
        all_terms = sorted({t for ts in slots for t in ts})
        dfs = self.term_doc_freqs(all_terms)
        # a slot with no known alternative can never match
        slot_terms = []
        for ts in slots:
            known = [t for t in ts if t in dfs]
            if not known:
                return self._empty_scored()
            slot_terms.append(known)
        flat = [t for ts in slot_terms for t in ts]
        weight = self._phrase_weight(flat, dfs, q.boost)
        offs = (
            list(q.positions)
            if getattr(q, "positions", None)
            else list(range(len(slots)))
        )

        # one groupBy gathers every slot's unioned position set (single
        # shuffle instead of a per-slot agg + n-way join)
        p = self.index.postings_for_terms(all_terms, with_positions=True)
        aggs = [
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.when(F.col("term").isin(list(ts)), F.col("positions"))
                        )
                    )
                )
            ).alias(f"_p{i}")
            for i, ts in enumerate(slot_terms)
        ]
        base = (
            p.groupBy("doc_id")
            .agg(F.min("norm").alias("norm"), *aggs)
            .filter(
                _and_all(
                    [F.size(F.col(f"_p{i}")) > 0 for i in range(len(slot_terms))]
                )
            )
        )
        # a 1-slot phrase has no window to slacken: freq = |positions|
        # either way (Lucene rewrites it to a term/synonym scorer)
        if q.slop > 0 and len(slot_terms) >= 2:
            if len(slot_terms) == 2 and not (set(slot_terms[0]) & set(slot_terms[1])):
                # disjoint alternatives: identical to the 2-distinct-term
                # matcher over the union lists -> pure-JVM chain fold
                return self._sloppy_chain_scored(
                    None, offs, q.slop, weight, base=base
                )
            return self._sloppy_udf_scored(
                None, offs, q.slop, weight, base=base, terms_per_pp=slot_terms
            )
        out = Rel.of(base).query(f"*, {_exact_freq_sql(offs)} AS _freq")
        return self._weight_scored(out.query("*", "WHERE _freq > 0"), weight)

    # ------------------------------------------------------------------
    # packed/pruned path (block-max WAND analog — search/packed.py)
    def _as_term_sum(self, q: Query):
        """If the (rewritten) query is a TermQuery or an OR/AND-of-TermQuery
        BooleanQuery, return ({term: weight_boost}, mode) — the shapes the
        packed block-max plan supports.  Else None."""
        if isinstance(q, TermQuery):
            return {q.term: q.boost}, "or"
        if isinstance(q, BooleanQuery) and q.min_should_match <= 1:
            occurs = {c.occur for c in q.clauses}
            if not all(isinstance(c.query, TermQuery) for c in q.clauses):
                return None
            terms = {c.query.term: c.query.boost for c in q.clauses}
            if len(terms) != len(q.clauses):
                return None  # duplicate terms: keep additive semantics exact
            if occurs == {Occur.SHOULD}:
                return terms, "or"
            if occurs == {Occur.MUST}:
                return terms, "and"
        return None

    def scored_packed(self, query: Query, k: int = 10, prune: bool = True) -> DataFrame:
        """Score via the packed segment table with admissible block-max
        pruning; identical results to :meth:`scored` for supported shapes."""
        from lucene_spark.search.packed import PackedScorer

        q = query.rewrite()
        shape = self._as_term_sum(q)
        if shape is None or self.index.packed is None:
            return self._scored(q)
        term_boosts, mode = shape
        dfs = self.term_doc_freqs(list(term_boosts))
        weights = {t: self._weight(b, dfs[t]) for t, b in term_boosts.items() if t in dfs}
        if not weights:
            return self._empty_scored()
        if mode == "and" and len(weights) < len(term_boosts):
            return self._empty_scored()  # a MUST term missing from the corpus
        return PackedScorer(self).scored(weights, prune=prune, k=k, mode=mode)

    # ------------------------------------------------------------------
    # public API
    def scored(self, query: Query) -> DataFrame:
        """Full match set: DataFrame(doc_id, score:float)."""
        return self._scored(query.rewrite())

    def search(self, query: Query, k: int = 10, search_after=None, prune: bool = False) -> DataFrame:
        """Top-k: DataFrame(rank, doc_id, conv_id, turn_idx, score:float),
        ties broken by ascending doc_id (HitQueue.java:77-84).

        ``search_after=(score, doc_id)`` gives pagination
        (IndexSearcher.java:467).  ``prune=True`` routes eligible queries
        through the packed block-max plan (requires ``index.packed``)."""
        scored = Rel.of(self.scored_packed(query, k=k) if prune else self.scored(query))
        if search_after is not None:
            s, d = search_after
            sv = sql_text(_f32(s) if self.score_type == "float" else float(s), DoubleType())
            scored = scored.query("*", f"WHERE (score < {sv}) OR ((score = {sv}) AND (doc_id > {int(d)}))")
        # the rank is numbered inside the top-k stage: TakeOrderedAndProject
        # already emits one sorted partition, so the window adds no exchange
        # and no sort; the k ranked rows are then broadcast to the docs keys
        # and put back in rank order by a root TakeOrderedAndProject
        order = "score DESC, doc_id ASC"
        top = scored.query("*", f"ORDER BY {order} LIMIT {int(k)}").query(
            f"row_number() OVER (ORDER BY {order}) AS rank, doc_id, score"
        )
        keys = Rel.of(self.index.docs).query("doc_id, conv_id, turn_idx")
        return self._sql(
            top.join(keys, "doc_id")
            .query("rank, doc_id, conv_id, turn_idx, score", f"ORDER BY rank LIMIT {int(k)}")
        )

    def search_diversified(
        self, query: Query, k: int, max_per_key: int, key_col: str = "conv_id"
    ) -> DataFrame:
        """Diversified top-k: at most ``max_per_key`` hits per key value in
        the final top ``k`` (misc/search/DiversifiedTopDocsCollector.java:68
        — its PQ-with-eviction stream reduces to: per-key best
        ``max_per_key`` by (score desc, doc asc), then the global top-k over
        the survivors).  The canonical use over transcripts is
        max_per_key=1: one hit per conversation.

        Plan shape: the per-key window repartitions on the key ONCE; the
        global cut is TakeOrderedAndProject over the (k-bounded per key)
        survivors — no second shuffle of the full match set."""
        from pyspark.sql import Window

        scored = self.scored(query)
        doc_cols = ["doc_id", "conv_id", "turn_idx"]
        if key_col not in doc_cols:
            doc_cols.append(key_col)
        docs = self.index.docs.select(*doc_cols)
        joined = scored.join(docs, "doc_id")
        per_key = Window.partitionBy(key_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        survivors = (
            joined.withColumn("_kr", F.row_number().over(per_key))
            .filter(F.col("_kr") <= max_per_key)
            .drop("_kr")
        )
        top = survivors.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return top.select(
            F.row_number().over(w).alias("rank"),
            "doc_id",
            "conv_id",
            "turn_idx",
            "score",
        ).orderBy("rank")

    # -- sort-by-field surface (SortField.java:60-119 / TopFieldCollector)
    def _sort_specs(self, sort: "Sort"):
        """[(column, descending, name)] for a Sort chain + implicit doc
        tie-break."""
        specs = []
        for f in sort.fields:
            if f.field == "score":
                col, name, desc_natural = F.col("score"), "score", True
            elif f.field == "doc":
                col, name, desc_natural = F.col("doc_id"), "doc_id", False
            else:
                col, name, desc_natural = F.col(f.field), f.field, False
            specs.append((col, desc_natural != f.reverse, name))
        specs.append((F.col("doc_id"), False, "doc_id"))
        return specs

    def search_sorted(
        self, query: Query, k: int, sort: "Sort", search_after=None
    ) -> DataFrame:
        """Top-k by an explicit Sort (≙ IndexSearcher.search(q, n, sort) via
        TopFieldCollector): DataFrame(rank, doc_id, conv_id, turn_idx,
        score, <sort fields...>), ordered by the sort chain with the
        implicit (doc asc) terminal tie-break.  Lowers to
        TakeOrderedAndProject — no global sort materializes.

        ``search_after``: tuple of the last page's sort-field values (in
        sort-chain order, doc_id last) — TopFieldCollector's paging.
        """
        from pyspark.sql import Window

        scored = self.scored(query)
        field_names = [
            f.field for f in sort.fields if f.field not in ("score", "doc")
        ]
        base = self.index.docs.select(
            "doc_id", "conv_id", "turn_idx",
            *[c for c in dict.fromkeys(field_names) if c not in ("conv_id", "turn_idx")],
        )
        df = scored.join(base, "doc_id")
        specs = self._sort_specs(sort)
        if search_after is not None:
            if len(search_after) != len(specs):
                raise ValueError(
                    f"search_after needs {len(specs)} values (sort fields + doc_id)"
                )
            # lexicographic strictly-after predicate honoring per-field
            # direction (TopFieldCollector.searchAfter semantics)
            pred = None
            for i, (col, descending, _) in enumerate(specs):
                cond = None
                for j in range(i):
                    cj = specs[j][0]
                    eq = cj.eqNullSafe(F.lit(search_after[j]))
                    cond = eq if cond is None else cond & eq
                # nulls-last ordering: NULL sorts after every value, so
                # rows with NULL in this field ARE strictly after any
                # non-null cursor value; nothing sorts after a NULL cursor
                if search_after[i] is None:
                    strict = F.lit(False)
                else:
                    av = F.lit(search_after[i])
                    strict = ((col < av) if descending else (col > av)) | col.isNull()
                cond = strict if cond is None else cond & strict
                pred = cond if pred is None else pred | cond
            df = df.filter(pred)
        order = [
            (F.desc_nulls_last(c) if d else F.asc_nulls_last(c))
            for c, d, _ in specs
        ]
        top = df.orderBy(*order).limit(k)
        w = Window.orderBy(*order)
        out_cols = ["doc_id", "conv_id", "turn_idx", "score"] + [
            c for c in dict.fromkeys(field_names)
            if c not in ("conv_id", "turn_idx")
        ]
        return top.select(
            F.row_number().over(w).alias("rank"), *out_cols
        ).orderBy("rank")

    def parse_terms(self, text: str) -> list[str]:
        """Analyze query text with the index analyzer (QueryParserBase:456)."""
        a = self.index.analyzer
        if a is not None and not a.is_noop():
            return a.analyze_query(text)
        return tokenize_text(text)

    def parse_phrase(self, text: str, slop: int = 0) -> Query:
        """Analyze query text into a PhraseQuery that carries the index
        analyzer's position holes (stopword gaps)."""
        a = self.index.analyzer
        if a is not None and not a.is_noop():
            pairs = a.analyze_query_positions(text)
        else:
            pairs = [(t, i) for i, t in enumerate(tokenize_text(text))]
        if not pairs:
            return MatchNoDocsQuery()
        if len(pairs) == 1:
            return TermQuery(pairs[0][0])
        ps = tuple(p for _, p in pairs)
        return PhraseQuery(
            tuple(t for t, _ in pairs),
            slop=slop,
            positions=None if ps == tuple(range(len(ps))) else ps,
        )

    def count(self, query: Query) -> int:
        """TotalHitCountCollector analog — exact count."""
        return self._matches(query.rewrite()).count()

    def explain(self, query: Query, doc_id: int) -> dict:
        """Score explanation for one document (≙ Weight.explain /
        Explanation, verified the way CheckHits.checkExplanations does:
        the explanation's value must equal the scored-plan value).

        Returns {"value": float, "matched": bool, "description": str,
        "details": [per-clause dicts]} — term clauses break down into
        boost/idf/tf components with the stats behind them."""
        q = query.rewrite()
        if isinstance(q, TermQuery):
            dfs = self.term_doc_freqs([q.term])
            if q.term not in dfs:
                return {"value": 0.0, "matched": False,
                        "description": f"no term {q.term!r} in index", "details": []}
            row = (
                self.index.postings_for_terms([q.term])
                .filter(F.col("doc_id") == doc_id)
                .select("freq", "norm")
                .collect()
            )
            if not row:
                return {"value": 0.0, "matched": False,
                        "description": f"term {q.term!r} not in doc {doc_id}", "details": []}
            freq, norm = int(row[0].freq), int(row[0].norm)
            df_ = dfs[q.term]
            idf = self.idf(df_)
            w = self._weight(q.boost, df_)
            if self.score_type == "float":
                inv = self.norm_inverse_cache()[norm]
                score = float(np.float32(w) - np.float32(w) / (np.float32(1.0) + np.float32(freq) * inv))
                dl = float(LENGTH_TABLE[norm])
            else:
                dl = float(LENGTH_TABLE[norm])
                k1, b = float(self.index.k1), float(self.index.b)
                avgdl = self.index.stats["sum_total_term_freq"] / self.doc_count
                score = w * freq / (freq + k1 * ((1 - b) + b * dl / avgdl))
            return {
                "value": score,
                "matched": True,
                "description": f"weight({q.term} in {doc_id}) [BM25 k1={self.index.k1} b={self.index.b}]",
                "details": [
                    {"description": "boost", "value": q.boost},
                    {"description": f"idf, computed from n={df_}, N={self.doc_count}",
                     "value": float(idf)},
                    {"description": f"tf, computed from freq={freq}, dl={dl}, "
                                    f"avgdl={self.index.stats['sum_total_term_freq'] / self.doc_count:.4f}",
                     "value": score / w if w else 0.0},
                ],
            }
        if isinstance(q, BooleanQuery):
            details, total, matched = [], 0.0, True
            any_positive = False
            for c in q.clauses:
                sub = self.explain(c.query, doc_id)
                sub["occur"] = c.occur.value
                details.append(sub)
                if c.occur == Occur.MUST_NOT:
                    if sub["matched"]:
                        return {"value": 0.0, "matched": False,
                                "description": "excluded by MUST_NOT clause",
                                "details": details}
                    continue
                if c.occur == Occur.MUST and not sub["matched"]:
                    matched = False
                if sub["matched"] and c.occur in (Occur.MUST, Occur.SHOULD):
                    total += sub["value"]
                    any_positive = True
                if c.occur == Occur.FILTER and not sub["matched"]:
                    matched = False
            if not any_positive:
                matched = False
            v = float(np.float32(total)) if self.score_type == "float" else total
            return {"value": v if matched else 0.0, "matched": matched,
                    "description": "sum of matching clauses", "details": details}
        # generic fallback: run the scored plan for this doc
        row = self.scored(q).filter(F.col("doc_id") == doc_id).collect()
        if not row:
            return {"value": 0.0, "matched": False,
                    "description": "no match", "details": []}
        return {"value": float(row[0].score), "matched": True,
                "description": f"score({type(q).__name__})", "details": []}


def _range_pred(q: "RangePredicate"):
    """Column predicate for a RangePredicate (shared by the index-path
    scan filter and the dv-path post-filter)."""
    c = F.col(q.column)
    pred = F.lit(True)
    if q.lower is not None:
        pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
    if q.upper is not None:
        pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
    return pred


def _as_float(v):
    """Numeric/temporal value → float for selectivity math; None when the
    value has no natural numeric order (strings, nulls)."""
    import datetime

    if v is None or isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.timestamp()
    if isinstance(v, datetime.date):
        return float(v.toordinal()) * 86400.0
    return None


def _clause_masks(col: str, n: int) -> tuple[list[str], str]:
    """Which of ``n`` clauses a doc matched, as SQL: a row tagged with
    clause ordinal ``col`` (NULL: no clause) sets bit ``col % 63`` of word
    ``col DIV 63``.  Returns one ``bit_or`` aggregate per 63 clauses and
    the matched-clause count over the aggregated row (the words' summed
    popcounts).  OR is idempotent, so the count is exact however many rows
    a clause emits for a doc, and unlike ``count_distinct`` it needs no
    ``Expand`` and no second aggregation."""
    words = [f"{col}{w}" for w in range(-(-n // 63))]
    aggs = [
        f"coalesce(bit_or(IF({col} DIV 63 = {w}, shiftleft(1L, {col} % 63), NULL)), 0L)"
        f" AS {word}"
        for w, word in enumerate(words)
    ]
    return aggs, " + ".join(f"bit_count({word})" for word in words) or "0"


def _exact_freq_sql(offs) -> str:
    """Exact-phrase freq as SQL text over the gathered position arrays
    ``_p0.._p{n-1}``: the count of start positions p in ``_p0`` with
    p + (offs[i] - offs[0]) in ``_p{i}`` for every i (ExactPhraseMatcher)."""
    if len(offs) == 1:
        return "size(_p0)"
    cond = " AND ".join(
        f"array_contains(_p{i}, (pos + {offs[i] - offs[0]}))" for i in range(1, len(offs))
    )
    return f"size(filter(_p0, pos -> {cond}))"


def _and_all(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


def _osa(a: str, b: str) -> int:
    """Optimal-string-alignment distance — the acceptance metric of
    LevenshteinAutomata with transpositions (core/util/automaton/
    LevenshteinAutomata.java; FuzzyQuery.java:82).  Classic DP plus the
    one-row-lookback transposition case."""
    la, lb = len(a), len(b)
    prev2 = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                cur[j] = min(cur[j], prev2[j - 2] + 1)
        prev2, prev = prev, cur
    return prev[lb]


def _osa_distance_udf(query: str):
    """Vectorized ``_osa`` distance to ``query`` over an Arrow batch of
    dictionary terms."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def dist(terms: pd.Series) -> pd.Series:
        return terms.map(lambda t: _osa(t, query))

    return dist
