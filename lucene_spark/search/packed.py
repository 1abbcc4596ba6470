"""Block-max pruned BM25 scoring over the packed segment table.

The one genuinely custom physical strategy (SURVEY.md §4.2): Lucene's
block-max WAND / MaxScore dynamic pruning (Ding & Suel) re-expressed as a
data-parallel two-phase plan — admissible upper-bound filtering instead of
pointer-chasing iterators:

reference components re-expressed here:
* per-block competitive impacts ``(max_freq, min_norm)``
  (CompetitiveImpactAccumulator.java:30,71) -> chunk/skip metadata columns;
* ``MaxScoreCache.getMaxScore`` (MaxScoreCache.java:34,72,113) -> the same
  BM25 algebra evaluated at (max_freq, min_norm) — monotone in freq,
  antitone in norm, hence an admissible per-chunk/per-block bound;
* ``TopScoreDocCollector.updateMinCompetitiveScore`` feedback
  (TopScoreDocCollector.java:64,88) -> a *seed* threshold from fully scoring
  the rarest (cheapest, highest-idf) query term: every per-term partial
  score is a lower bound on that doc's total OR score, so the seed term's
  k-th best score is an admissible threshold tau;
* ``WANDScorer``/``MaxScoreBulkScorer`` block skipping (WANDScorer.java:123,
  MaxScoreBulkScorer.java:35-99) -> (a) chunk-level: drop every (term,chunk)
  row of a chunk whose summed term bounds can't reach tau (chunks are
  doc-range aligned across terms, so the per-chunk bound is one hash agg);
  (b) block-level: inside the decode UDF, skip 128-blocks where
  ``block_ub + rest_of_chunk_bound < tau`` using skip byte offsets.

Pruning is *admissible*: a doc can only be dropped if its best possible
score is strictly below tau, and tau is a true lower bound on the k-th best
score (relaxed by one float32 ulp for rounding headroom), so pruned top-k
== unpruned top-k exactly — verified by equivalence tests (the reference's
TestWANDScorer / TestBlockMaxConjunction strategy, SURVEY.md §5).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType, StructField, StructType

from lucene_spark.index.codec import decode_selected_blocks
from lucene_spark.util.smallfloat import LENGTH_TABLE
from lucene_spark.util.sqllit import sql_text
from lucene_spark.util.sqlrel import Rel, sql_udf


@lru_cache(maxsize=64)
def norm_inverse_table(k1, b, avgdl) -> np.ndarray:
    """BM25's 256-entry float32 normInverse cache
    (BM25Similarity.java:196-210): 1 / (k1 * ((1 - b) + b * dl / avgdl)) per
    byte4-decoded length.  A pure function of its float32 arguments, so a
    worker recomputes the searcher's table bit for bit."""
    k1, b, avgdl = np.float32(k1), np.float32(b), np.float32(avgdl)
    one = np.float32(1.0)
    table = (one / (k1 * ((one - b) + b * LENGTH_TABLE / avgdl))).astype(np.float32)
    table.flags.writeable = False  # shared by every caller of the cache
    return table


def _score_arrays(freqs, norms, w, f32, k1, b, avgdl):
    """Vectorized BM25 over decoded postings (numpy): the bit-exact float32
    algebra, or the textbook double shape."""
    if f32:
        w32 = np.float32(w)
        inv = norm_inverse_table(k1, b, avgdl)[norms]
        return (w32 - w32 / (np.float32(1.0) + freqs.astype(np.float32) * inv)).astype(
            np.float32
        )
    dl = LENGTH_TABLE.astype(np.float64)[norms]
    fr = freqs.astype(np.float64)
    return w * fr / (fr + k1 * ((1.0 - b) + b * dl / avgdl))


def _block_score_udf(f32: bool):
    """Arrow UDF: block-level prune via skip impacts, decode survivors, score
    vectorized.  tau and the BM25 constants arrive as literal arguments."""
    out_type = StructType(
        [
            StructField("doc_ids", ArrayType(LongType())),
            StructField("scores", ArrayType(FloatType() if f32 else DoubleType())),
        ]
    )

    @F.pandas_udf(out_type)
    def score_udf(*cols: pd.Series) -> pd.DataFrame:
        docs_enc, freqs_enc, norms_enc, skip, w, rest, *consts = cols
        tau, k1, b, avgdl = (float(c.iloc[0]) for c in consts)
        out_d, out_s = [], []
        for de, fe, ne, sk, wv, rv in zip(docs_enc, freqs_enc, norms_enc, skip, w, rest):
            blocks = list(sk)
            maxf = np.array([blk["max_freq"] for blk in blocks], dtype=np.int64)
            minn = np.array([blk["min_norm"] for blk in blocks], dtype=np.int64)
            ub = _score_arrays(maxf, minn, wv, f32, k1, b, avgdl).astype(np.float64)
            keep = (ub + rv) >= tau if tau > 0.0 else np.ones(len(blocks), bool)
            if not keep.any():
                out_d.append(np.empty(0, np.int64))
                out_s.append(np.empty(0, np.float32 if f32 else np.float64))
                continue
            d, f, m = decode_selected_blocks(bytes(de), bytes(fe), bytes(ne), blocks, keep)
            out_d.append(d)
            out_s.append(_score_arrays(f, m, wv, f32, k1, b, avgdl))
        return pd.DataFrame({"doc_ids": out_d, "scores": out_s})

    return score_udf


class PackedScorer:
    """Scores term-sum (OR) and term-conjunction (AND) queries over the
    packed table, with optional block-max pruning.  Plans are rendered as SQL
    text and parsed in one call; the decode-and-score UDF is registered once
    per session and called by name (``util/sqlrel.py``)."""

    def __init__(self, searcher):
        self.searcher = searcher
        self.index = searcher.index

    # ------------------------------------------------------------------
    def seed_threshold(self, term_weights: dict[str, float], k: int) -> float:
        """tau = k-th best score of the rarest query term (admissible lower
        bound on the k-th best total score; 0.0 disables pruning)."""
        s = self.searcher
        dfs = s.term_doc_freqs(list(term_weights))
        if not dfs:
            return 0.0
        seed_term = min(dfs, key=lambda t: (dfs[t], t))
        if dfs[seed_term] < k:
            return 0.0
        rows = s._sql(
            self._scored_rel({seed_term: term_weights[seed_term]}, "or", 0.0)
            .query("score", f"ORDER BY score DESC LIMIT {int(k)}")
        ).collect()
        if len(rows) < k:
            return 0.0
        tau = rows[-1].score
        # one-ulp relaxation: float32 rounding headroom in bound comparisons
        return float(np.nextafter(np.float32(tau), np.float32(-np.inf)))

    # ------------------------------------------------------------------
    def scored(
        self,
        term_weights: dict[str, float],
        prune: bool = True,
        k: int = 10,
        mode: str = "or",
        tau: float | None = None,
    ) -> DataFrame:
        """DataFrame(doc_id, score) for sum-of-terms (OR) or all-terms (AND).

        With ``prune=True``: chunk-level + block-level admissible pruning
        against tau (seeded if not given).  The contract is scoped to the
        top-k: the k best (score, doc_id) rows are identical to the unpruned
        logical-postings plan.  Rows BELOW the top-k may carry underestimated
        scores (a term's pruned blocks drop that term's contribution for
        docs whose bound fell under tau) — callers that need the full exact
        match set must pass ``prune=False``.
        """
        s = self.searcher
        if not term_weights:
            return s._empty_scored()
        # seed only for OR: the seed term's k-th partial score lower-bounds
        # the k-th best total ONLY when every seed match is a result match.
        # For AND the conjunction can have fewer matches than the seed term,
        # so an unseeded tau would not be admissible there.
        if prune and tau is None and len(term_weights) > 1 and mode == "or":
            tau = self.seed_threshold(term_weights, k)
        return s._sql(self._scored_rel(term_weights, mode, float(tau or 0.0)))

    def _scored_rel(self, term_weights, mode: str, tau: float) -> Rel:
        s = self.searcher
        n_terms = len(term_weights)
        # per-term weights ride along as a literal term -> weight lookup on
        # the packed rows (no weight relation to scan or broadcast)
        pk = self.index.term_rel(self.index.packed, sorted(term_weights)).query(
            f"*, {s._term_lookup_sql(term_weights, s._score_dt)} AS _w"
        )
        if mode == "and" or tau > 0.0:
            # chunk/term upper bound: the score's own algebra evaluated at
            # (max_freq, min_norm)
            pk = pk.query(f"*, CAST({s._score_sql('_w', 'max_freq', 'min_norm')} AS DOUBLE) AS _ub")
            conds = []
            if mode == "and":
                # a chunk can produce a conjunctive match only if every term
                # has postings in it (doc ranges are aligned) —
                # BlockMaxConjunction's "all iterators must overlap"
                # precondition
                conds.append(f"(_nt = {n_terms})")
            if tau > 0.0:
                conds.append(f"(_bound >= {sql_text(tau, DoubleType())})")
            keep = (
                pk.query("chunk, sum(_ub) AS _bound, count(*) AS _nt", "GROUP BY chunk")
                .query("*", "WHERE " + " AND ".join(conds))
                .query("chunk, _bound")
            )
            # rest = what the *other* terms of this chunk could still contribute
            pk = pk.join(keep, "chunk").query("*, (_bound - _ub) AS _rest")
        else:
            # an OR with tau 0 can prune nothing: no chunk pass
            pk = pk.query("*, 0.0D AS _rest")

        scored, st = self._decode_score(pk, tau), s.score_type
        if mode == "and":
            return (
                scored.query("doc_id, sum(score) AS _sum, count(*) AS _nt", "GROUP BY doc_id")
                .query("*", f"WHERE (_nt = {n_terms})")
                .query(f"doc_id, CAST(_sum AS {st}) AS score")
            )
        if n_terms == 1:
            # each doc appears once: the sum would be the score itself
            return scored.query(f"doc_id, CAST(score AS {st}) AS score")
        return scored.query(f"doc_id, CAST(sum(score) AS {st}) AS score", "GROUP BY doc_id")

    # ------------------------------------------------------------------
    def _decode_score(self, pk: Rel, tau: float) -> Rel:
        """Block-prune, decode and score each packed row in the registered
        Arrow UDF; explode JVM-side."""
        s = self.searcher
        f32 = s.scoring == "lucene_f32"
        if f32:
            k1, b, avgdl = float(s.k1), float(s.b), float(s.avgdl)
        else:
            k1, b = float(self.index.k1), float(self.index.b)
            avgdl = self.index.stats["sum_total_term_freq"] / s.doc_count
        udf = sql_udf(
            self.index.spark,
            "ls_block_score_f32" if f32 else "ls_block_score_f64",
            lambda: _block_score_udf(f32),
        )
        consts = ", ".join(sql_text(v, DoubleType()) for v in (tau, k1, b, avgdl))
        return (
            pk.query(f"*, {udf}(docs_enc, freqs_enc, norms_enc, skip, _w, _rest, {consts}) AS _sc")
            .query("explode(arrays_zip(_sc.doc_ids, _sc.scores)) AS z")
            .query("z.doc_ids AS doc_id, z.scores AS score")
        )
