"""Monitor / percolator: match a stream of documents against REGISTERED
queries (reverse search).

≙ the reference's monitor module (monitor/.../Monitor.java:44,
QueryIndex/Presearcher): queries are indexed by their terms; an incoming
document is first matched against that query-term index (the presearcher
prefilter — an over-approximation), then surviving (doc, query) candidate
pairs are verified with the real matcher.

Spark-first shape (the SURVEY §2.10 stream-static join):

* registered queries parse once on the driver; their POSITIVE terms form a
  tiny (query_id, term) relation that is broadcast;
* a batch of docs runs through the analysis chain (one Arrow-batched UDF,
  Analyzer.analyze_column) and explodes to (doc, term) rows which
  join the broadcast query-term relation -> candidate pairs.  Candidates
  per doc are bounded by the registered queries containing its terms —
  never |docs| x |queries|;
* verification runs per candidate in one Arrow-batched UDF over the doc's
  token entries, evaluating the parsed query tree exactly (Boolean
  MUST/SHOULD/MUST_NOT/minShouldMatch, phrases with holes + slop via the
  faithful SloppyPhraseMatcher simulation, prefix/wildcard).

``attach`` wires the matcher into Structured Streaming via foreachBatch.

Supported query subset for registration: Term, Boolean (with nesting),
Phrase (exact/sloppy/holes), Prefix, Wildcard, MatchAll.  A registered
query must have at least one positive term or prefix (pure negation is
rejected, like the reference's Monitor).
"""

from __future__ import annotations

import fnmatch

from pyspark.sql import DataFrame, functions as F

from lucene_spark.analysis.analyzer import Analyzer
from lucene_spark.search.query import (
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    MatchAllDocsQuery,
    Occur,
    PhraseQuery,
    PrefixQuery,
    Query,
    TermQuery,
    WildcardQuery,
)
from lucene_spark.search.sloppy import sloppy_freq


def _positive_anchors(q: Query) -> list[tuple[str, bool]]:
    """[(anchor, is_prefix)] — terms/prefixes whose presence is NECESSARY
    for a match (the presearcher index keys).  Returns [] when none exists
    (query rejected)."""
    if isinstance(q, TermQuery):
        return [(q.term, False)]
    if isinstance(q, PhraseQuery):
        return [(q.terms[0], False)] if q.terms else []
    if isinstance(q, PrefixQuery):
        return [(q.prefix, True)]
    if isinstance(q, WildcardQuery):
        # anchor on the literal prefix before the first wildcard
        lit = q.pattern.split("*")[0].split("?")[0]
        return [(lit, True)] if lit else []
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return _positive_anchors(q.query)
    if isinstance(q, BooleanQuery):
        musts = [
            c for c in q.clauses if c.occur in (Occur.MUST, Occur.FILTER)
        ]
        if musts:
            # any single MUST's anchors are necessary
            for c in musts:
                a = _positive_anchors(c.query)
                if a:
                    return a
            return []
        shoulds = [c for c in q.clauses if c.occur == Occur.SHOULD]
        out = []
        for c in shoulds:
            a = _positive_anchors(c.query)
            if not a:
                return []  # one un-anchorable SHOULD -> no safe prefilter
            out.extend(a)
        return out
    return []


def _score_doc(
    q: Query, toks: list[str], positions: dict[str, list[int]], dl: int,
    k1: float = 1.2, b: float = 0.75,
) -> float:
    """Scored percolation (Monitor.java match(..., ScoringMatch.
    matchWithSimilarity)): the score the query would get from a forward
    IndexSearcher over a SINGLE-document index built from this doc —
    docCount=1, df=1 for present terms, avgdl=dl, float32 BM25 algebra.
    Returns 0.0 for non-matching docs."""
    import math

    import numpy as np

    from lucene_spark.util.smallfloat import LENGTH_TABLE, int_to_byte4

    if not _match_doc(q, toks, positions):
        return 0.0
    if dl <= 0:
        # only MatchAll-shaped queries reach here; constant score
        return 1.0
    norm = int_to_byte4(dl)
    avgdl = np.float32(float(dl))  # sumTotalTermFreq / docCount, 1 doc
    one = np.float32(1.0)
    inv = one / (
        np.float32(k1)
        * ((one - np.float32(b)) + np.float32(b) * np.float32(LENGTH_TABLE[norm]) / avgdl)
    )
    idf1 = np.float32(math.log(1 + 0.5 / 1.5))  # df=1, N=1

    def bm25(weight: np.float32, freq: float) -> np.float32:
        w = np.float32(weight)
        return np.float32(w - np.float32(w / np.float32(one + np.float32(freq) * inv)))

    def score(qq: Query) -> float:
        if isinstance(qq, MatchAllDocsQuery):
            return 1.0
        if isinstance(qq, TermQuery):
            if qq.term not in positions:
                return 0.0
            w = np.float32(np.float32(qq.boost) * idf1)
            return float(bm25(w, len(positions[qq.term])))
        if isinstance(qq, (PrefixQuery, WildcardQuery)):
            return 1.0 if _match_doc(qq, toks, positions) else 0.0
        if isinstance(qq, (BoostQuery, ConstantScoreQuery)):
            base = score(qq.query)
            boost = getattr(qq, "boost", 1.0)
            if isinstance(qq, ConstantScoreQuery):
                return float(np.float32(boost)) if base > 0 or _match_doc(qq.query, toks, positions) else 0.0
            return float(np.float32(np.float32(base) * np.float32(boost)))
        if isinstance(qq, PhraseQuery):
            if not _match_doc(qq, toks, positions):
                return 0.0
            terms = list(qq.terms)
            offs = list(qq.positions) if qq.positions else list(range(len(terms)))
            if qq.slop == 0:
                first = positions[terms[0]]
                freq = sum(
                    1
                    for p in first
                    if all(
                        p + (offs[i] - offs[0]) in positions[terms[i]]
                        for i in range(1, len(terms))
                    )
                )
            else:
                freq = sloppy_freq([positions[t] for t in terms], offs, qq.slop)
            if freq <= 0:
                return 0.0
            idf_sum = np.float32(sum(float(idf1) for _ in terms))
            w = np.float32(np.float32(1.0) * idf_sum)
            return float(bm25(w, freq))
        if isinstance(qq, BooleanQuery):
            musts = [c.query for c in qq.clauses if c.occur == Occur.MUST]
            shoulds = [c.query for c in qq.clauses if c.occur == Occur.SHOULD]
            acc = 0.0  # double accumulator, like DisjunctionSumScorer
            for m in musts:
                acc += score(m)
            for s in shoulds:
                if _match_doc(s, toks, positions):
                    acc += score(s)
            return float(np.float32(acc))
        raise TypeError(f"unsupported monitor query {type(qq).__name__}")

    return score(q)


def _match_doc(q: Query, toks: list[str], positions: dict[str, list[int]]) -> bool:
    """Exact per-document matcher for the registered-query subset."""
    if isinstance(q, MatchAllDocsQuery):
        return True
    if isinstance(q, TermQuery):
        return q.term in positions
    if isinstance(q, PrefixQuery):
        return any(t.startswith(q.prefix) for t in positions)
    if isinstance(q, WildcardQuery):
        return any(fnmatch.fnmatchcase(t, q.pattern) for t in positions)
    if isinstance(q, (BoostQuery, ConstantScoreQuery)):
        return _match_doc(q.query, toks, positions)
    if isinstance(q, PhraseQuery):
        terms = list(q.terms)
        if any(t not in positions for t in terms):
            return False
        offs = list(q.positions) if q.positions else list(range(len(terms)))
        if q.slop == 0:
            first = positions[terms[0]]
            return any(
                all(
                    p + (offs[i] - offs[0]) in positions[terms[i]]
                    for i in range(1, len(terms))
                )
                for p in first
            )
        return sloppy_freq([positions[t] for t in terms], offs, q.slop) > 0
    if isinstance(q, BooleanQuery):
        musts = [c for c in q.clauses if c.occur in (Occur.MUST, Occur.FILTER)]
        shoulds = [c for c in q.clauses if c.occur == Occur.SHOULD]
        nots = [c for c in q.clauses if c.occur == Occur.MUST_NOT]
        if any(not _match_doc(c.query, toks, positions) for c in musts):
            return False
        if any(_match_doc(c.query, toks, positions) for c in nots):
            return False
        n_should = sum(1 for c in shoulds if _match_doc(c.query, toks, positions))
        need = q.min_should_match if musts else max(1, q.min_should_match)
        return n_should >= need if shoulds else True
    raise TypeError(f"unsupported monitor query {type(q).__name__}")


class Monitor:
    """Registered queries matched against document batches.

    ``analyzer``: the index Analyzer — incoming documents are tokenized
    through the SAME chain (stop/stem/synonyms) the forward index uses, so
    queries registered against analyzed terms (e.g. stemmed) behave
    identically in reverse search.  Registered query terms are assumed
    already analyzed (as the forward searcher's parse_terms produces)."""

    def __init__(self, queries: dict[str, Query], analyzer=None):
        self.queries: dict[str, Query] = {}
        self.anchors: list[tuple[str, str, bool]] = []  # (query_id, anchor, is_prefix)
        self.analyzer = analyzer if (analyzer is not None and not analyzer.is_noop()) else None
        for qid, q in queries.items():
            self.register(qid, q)

    def register(self, query_id: str, q: Query) -> None:
        q = q.rewrite()
        anchors = _positive_anchors(q)
        if not anchors and not isinstance(q, MatchAllDocsQuery):
            raise ValueError(
                f"query {query_id!r} has no positive term/prefix anchor"
            )
        self.queries[query_id] = q
        for a, pfx in anchors or [("", True)]:  # MatchAll anchors everything
            self.anchors.append((query_id, a, pfx))

    # -- one batch -------------------------------------------------------
    def match_batch(
        self, docs: DataFrame, id_cols: tuple = ("doc_id",), text_col: str = "text",
        scored: bool = False,
    ) -> DataFrame:
        """(id_cols..., query_id[, score]) for every (doc, registered
        query) match.  ``scored=True`` adds the ScoringMatch score: the
        float32 BM25 the query would receive from a forward searcher over
        a single-document index built from the doc (Monitor.java
        match(..., ScoringMatch.matchWithSimilarity))."""
        import pandas as pd

        spark = docs.sparkSession

        # document tokenization through the index chain, Arrow-batched —
        # per incoming doc, the stream's unit of work, never per-corpus-row
        entries = (self.analyzer or Analyzer()).analyze_column(F.col(text_col))
        toks = docs.select(*id_cols, entries.alias("_ent"))

        # universal anchors (MatchAll: prefix '') must reach verification
        # even for zero-token docs, which produce no explode rows — they
        # pair with EVERY doc directly instead of via the token join
        universal = sorted({q for q, a, p in self.anchors if p and a == ""})
        normal = [(q, a, p) for q, a, p in self.anchors if not (p and a == "")]
        parts = []
        if normal:
            anchor_df = F.broadcast(
                spark.createDataFrame(
                    normal, "query_id string, anchor string, is_prefix boolean"
                )
            )
            exploded = toks.select(
                *id_cols, "_ent",
                F.explode(
                    F.array_distinct(F.transform("_ent", lambda e: e["term"]))
                ).alias("_t"),
            )
            parts.append(
                exploded.join(
                    anchor_df,
                    (~F.col("is_prefix") & (F.col("_t") == F.col("anchor")))
                    | (F.col("is_prefix") & F.col("_t").startswith(F.col("anchor"))),
                )
                .select(*id_cols, "_ent", "query_id")
                .distinct()
            )
        if universal:
            uni_df = F.broadcast(
                spark.createDataFrame([(q,) for q in universal], "query_id string")
            )
            parts.append(toks.crossJoin(uni_df).select(*id_cols, "_ent", "query_id"))
        if not parts:
            return docs.select(*id_cols).limit(0).withColumn("query_id", F.lit(""))
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        queries = self.queries

        if scored:

            @F.pandas_udf("double")
            def verify_scored(ent_arrays, qids):
                out = []
                for arr, qid in zip(ent_arrays, qids):
                    toks_l = [e["term"] for e in arr]
                    pos: dict[str, list[int]] = {}
                    for e in arr:
                        pos.setdefault(e["term"], []).append(e["pos"])
                    out.append(
                        _score_doc(queries[qid], toks_l, pos, len(toks_l))
                    )
                return pd.Series(out)

            return (
                cand.withColumn(
                    "score", verify_scored(F.col("_ent"), F.col("query_id"))
                )
                .filter(F.col("score") > 0)
                .select(*id_cols, "query_id", F.col("score").cast("float"))
            )

        @F.pandas_udf("boolean")
        def verify(ent_arrays, qids):
            out = []
            for arr, qid in zip(ent_arrays, qids):
                toks_l = [e["term"] for e in arr]
                pos: dict[str, list[int]] = {}
                for e in arr:
                    pos.setdefault(e["term"], []).append(e["pos"])
                out.append(_match_doc(queries[qid], toks_l, pos))
            return pd.Series(out)

        return (
            cand.withColumn("_ok", verify(F.col("_ent"), F.col("query_id")))
            .filter(F.col("_ok"))
            .select(*id_cols, "query_id")
        )

    # -- stream wiring ---------------------------------------------------
    def attach(self, stream_df: DataFrame, sink, id_cols=("doc_id",),
               text_col: str = "text", checkpoint: str | None = None,
               trigger_once: bool = False):
        """writeStream.foreachBatch: per micro-batch, compute matches and
        hand them to ``sink(matches_df, batch_id)``."""

        def do_batch(batch_df, batch_id):
            sink(self.match_batch(batch_df, id_cols, text_col), batch_id)

        w = stream_df.writeStream.foreachBatch(do_batch)
        if checkpoint:
            w = w.option("checkpointLocation", checkpoint)
        if trigger_once:
            w = w.trigger(availableNow=True)
        return w.start()
