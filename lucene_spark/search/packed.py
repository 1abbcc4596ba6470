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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from lucene_spark.index.codec import decode_selected_blocks
from lucene_spark.util.smallfloat import LENGTH_TABLE


def _score_arrays(freqs, norms, w, mode, cache, k1, b, avgdl):
    """Vectorized BM25 over decoded postings (numpy; exact per mode)."""
    if mode == "lucene_f32":
        w32 = np.float32(w)
        inv = cache[norms]
        return (w32 - w32 / (np.float32(1.0) + freqs.astype(np.float32) * inv)).astype(
            np.float32
        )
    dl = LENGTH_TABLE.astype(np.float64)[norms]
    fr = freqs.astype(np.float64)
    return w * fr / (fr + k1 * ((1.0 - b) + b * dl / avgdl))


class PackedScorer:
    """Scores term-sum (OR) and term-conjunction (AND) queries over the
    packed table, with optional block-max pruning."""

    def __init__(self, searcher):
        self.searcher = searcher
        self.index = searcher.index

    def _packed_for(self, terms) -> DataFrame:
        terms = list(terms)
        pk = self.index.bucket_filter(self.index.packed, terms)
        return pk.filter(F.col("term").isin(terms))

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
        scored = self.scored(
            {seed_term: term_weights[seed_term]}, prune=False
        )
        rows = scored.orderBy(F.desc("score")).limit(k).collect()
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
        n_terms = len(term_weights)
        # seed only for OR: the seed term's k-th partial score lower-bounds
        # the k-th best total ONLY when every seed match is a result match.
        # For AND the conjunction can have fewer matches than the seed term,
        # so an unseeded tau would not be admissible there.
        if prune and tau is None and n_terms > 1 and mode == "or":
            tau = self.seed_threshold(term_weights, k)
        tau = float(tau or 0.0)

        # per-term weights ride along as a literal term -> weight lookup on
        # the packed rows (no weight relation to scan or broadcast)
        pk = self._packed_for(term_weights).withColumn(
            "_w", s._term_lookup(term_weights, s._score_dt)
        )
        if mode == "and" or tau > 0.0:
            # chunk/term upper bound: the score's own algebra evaluated at
            # (max_freq, min_norm)
            pk = pk.withColumn(
                "_ub", s._score_of("_w", "max_freq", "min_norm").cast("double")
            )
            keep = pk.groupBy("chunk").agg(
                F.sum("_ub").alias("_bound"), F.count("*").alias("_nt")
            )
            if mode == "and":
                # a chunk can produce a conjunctive match only if every term
                # has postings in it (doc ranges are aligned) —
                # BlockMaxConjunction's "all iterators must overlap"
                # precondition
                keep = keep.filter(F.col("_nt") == n_terms)
            if tau > 0.0:
                keep = keep.filter(F.col("_bound") >= tau)
            pk = pk.join(keep.select("chunk", "_bound"), "chunk")
            # rest = what the *other* terms of this chunk could still contribute
            pk = pk.withColumn("_rest", F.col("_bound") - F.col("_ub"))
        else:
            # an OR with tau 0 can prune nothing: no chunk pass
            pk = pk.withColumn("_rest", F.lit(0.0))

        scored = self._decode_score(pk, tau)
        if mode == "and":
            agg = scored.groupBy("doc_id").agg(
                F.sum("score").alias("_sum"), F.count("*").alias("_nt")
            )
            return agg.filter(F.col("_nt") == n_terms).select(
                "doc_id", F.col("_sum").cast(s.score_type).alias("score")
            )
        if n_terms == 1:
            # each doc appears once: the sum would be the score itself
            return scored.select("doc_id", F.col("score").cast(s.score_type))
        return scored.groupBy("doc_id").agg(
            F.sum("score").cast(s.score_type).alias("score")
        )

    # ------------------------------------------------------------------
    def _decode_score(self, pk: DataFrame, tau: float) -> DataFrame:
        """Arrow UDF: block-level prune via skip impacts, decode survivors,
        score vectorized; explode JVM-side."""
        s = self.searcher
        mode = s.scoring
        cache = s.norm_inverse_cache() if mode == "lucene_f32" else None
        k1, b = float(self.index.k1), float(self.index.b)
        avgdl = self.index.stats["sum_total_term_freq"] / s.doc_count
        out_type = StructType(
            [
                StructField("doc_ids", ArrayType(LongType())),
                StructField(
                    "scores",
                    ArrayType(FloatType() if mode == "lucene_f32" else DoubleType()),
                ),
            ]
        )

        @F.pandas_udf(out_type)
        def score_udf(
            docs_enc: pd.Series,
            freqs_enc: pd.Series,
            norms_enc: pd.Series,
            skip: pd.Series,
            w: pd.Series,
            rest: pd.Series,
        ) -> pd.DataFrame:
            out_d, out_s = [], []
            for de, fe, ne, sk, wv, rv in zip(
                docs_enc, freqs_enc, norms_enc, skip, w, rest
            ):
                blocks = list(sk)
                maxf = np.array([blk["max_freq"] for blk in blocks], dtype=np.int64)
                minn = np.array([blk["min_norm"] for blk in blocks], dtype=np.int64)
                ub = _score_arrays(maxf, minn, wv, mode, cache, k1, b, avgdl).astype(
                    np.float64
                )
                keep = (ub + rv) >= tau if tau > 0.0 else np.ones(len(blocks), bool)
                if not keep.any():
                    out_d.append(np.empty(0, np.int64))
                    out_s.append(np.empty(0, np.float32 if mode == "lucene_f32" else np.float64))
                    continue
                d, f, m = decode_selected_blocks(
                    bytes(de), bytes(fe), bytes(ne), blocks, keep
                )
                out_d.append(d)
                out_s.append(_score_arrays(f, m, wv, mode, cache, k1, b, avgdl))
            return pd.DataFrame({"doc_ids": out_d, "scores": out_s})

        dec = pk.withColumn(
            "_sc",
            score_udf("docs_enc", "freqs_enc", "norms_enc", "skip", "_w", "_rest"),
        )
        zipped = dec.select(
            F.explode(F.arrays_zip(F.col("_sc.doc_ids"), F.col("_sc.scores"))).alias(
                "z"
            )
        )
        return zipped.select(
            F.col("z.doc_ids").alias("doc_id"), F.col("z.scores").alias("score")
        )
