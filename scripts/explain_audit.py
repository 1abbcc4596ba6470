"""Physical-plan audit: dump .explain("formatted") for the key query shapes.

Writes PLANS.md with the plans that matter at 100 TB, annotated with what to
look for (PushedFilters on the stored-index scans, WholeStageCodegen spans
around the scoring algebra, per-term weights inlined as literals (no weight
relation to broadcast), TakeOrderedAndProject for top-k).

Run:  python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _filtered_knn_df(spark, idx, searcher, ivf_dir):
    """Filtered KnnVectorQuery over a doc-keyed IVF index (built here on
    the side) — the plan the VERDICT r4 #2 asked to see pruned."""
    import tempfile

    from pyspark.sql import functions as F

    from lucene_spark.pipeline import similarity as sim
    from lucene_spark.search import IndexSearcher, KnnVectorQuery, TermQuery

    dim = 8
    vecs = idx.docs.select(
        "doc_id",
        F.array(
            *[
                ((F.col("doc_id") * 31 + j * 17) % 101 - 50) / 50.0
                for j in range(dim)
            ]
        ).alias("embedding"),
    )
    d = tempfile.mkdtemp()
    sim.ivf_build(
        vecs.withColumn("vec_id", F.col("doc_id")),
        f"{d}/docivf",
        n_centroids=8,
        id_col="vec_id",
    )
    s = IndexSearcher(idx, scoring="plain_f64").with_vectors(
        vecs, ivf_path=f"{d}/docivf"
    )
    qv = [((10_000 * 31 + j * 17) % 101 - 50) / 50.0 for j in range(dim)]
    return s.search(KnnVectorQuery(qv, 5, filter=TermQuery("the")), 5)


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import tempfile

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.index.store import load_index, save_index
    from lucene_spark.search import BooleanQuery, IndexSearcher, Occur, PhraseQuery, TermQuery

    corpus = transcripts_df(spark, n_convs=60, seed=11)
    idx = IndexBuilder(num_segments=4).build(corpus)
    d = tempfile.mkdtemp()
    save_index(idx, f"{d}/ix", n_buckets=8)
    stored = load_index(spark, f"{d}/ix")
    mem_s = IndexSearcher(idx)
    disk_s = IndexSearcher(stored)

    def orq(*ts):
        return BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in ts])

    sections = [
        (
            "Stored-index term query (packed scan -> decode)",
            "The `term IN` + `bucket IN` predicates must appear as parquet "
            "PushedFilters / PartitionFilters BEFORE the Arrow decode UDF; "
            "the per-term weights are a map literal looked up on `term` "
            "(no weight relation, no weight join).",
            disk_s.scored(orq("spark", "data")),
        ),
        (
            "In-memory OR top-k (scoring algebra in codegen)",
            "One InMemoryTableScan of the slim postings relation; the BM25 "
            "float32 algebra sits inside WholeStageCodegen; ONE hash "
            "aggregation sums the scores and ORs the clause bits (bit_or, "
            "no Expand); top-k lowers to TakeOrderedAndProject, the rank "
            "Window sits directly on it (no Exchange, no Sort), ONE "
            "BroadcastExchange ships the k ranked rows to the docs keys and "
            "a root TakeOrderedAndProject orders by rank.",
            mem_s.search(orq("spark", "query", "data"), 10),
        ),
        (
            "Pruned (block-max) plan",
            "For an AND, or an OR with a seeded tau > 0: the chunk bound "
            "aggregation + join of surviving chunks happens on chunk "
            "metadata columns only, and the binary payload reaches the "
            "score UDF only for surviving chunks.  An OR with tau 0 can "
            "prune nothing and runs no chunk pass: the packed scan feeds "
            "the score UDF directly (and a single term skips the doc "
            "aggregation too).",
            (idx.with_packed(chunk_bits=6), mem_s.scored_packed(orq("spark", "query", "data"), k=10))[1],
        ),
        (
            "Phrase query (single-shuffle gather + positions algebra)",
            "ONE Exchange total for the phrase-specific portion: per-term "
            "position arrays gather in a single groupBy(doc_id) with "
            "conditional aggregation (no n-way self-join); the start-position "
            "intersection runs as JVM higher-order functions (no Python).",
            mem_s.scored(PhraseQuery(("the", "data", "model"))),
        ),
        (
            "Sloppy phrase (JVM chain fold)",
            "Same single-Exchange gather; the SloppyPhraseMatcher frontier "
            "chain runs as one aggregate() fold over the merged position "
            "structs — no Python UDF for the 2-distinct-term case.",
            mem_s.scored(PhraseQuery(("the", "data"), slop=2)),
        ),
        (
            "Stored docs top-k join-back",
            "A single term has no aggregation: packed scan -> score -> "
            "TakeOrderedAndProject -> rank Window (no Exchange); the k "
            "ranked rows are the ONE BroadcastExchange, joined to the "
            "(conv_id, turn_idx) docs scan (doc_id min/max row-group "
            "pruning), and a root TakeOrderedAndProject orders by rank.",
            disk_s.search(TermQuery("spark"), 5),
        ),
    ]

    # pipeline-op plans over a small synthetic documents/embeddings frame
    from pyspark.sql import functions as F

    docs = corpus.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("text"),
        F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.length("text").alias("n_chars"),
    )
    from lucene_spark.pipeline import dedup as dd
    from lucene_spark.pipeline import similarity as sim

    emb = spark.range(256).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.sin((F.col("id") + F.lit(1)) * i).cast("float"),
        ).alias("embedding"),
    )
    qv = [float(x) for x in emb.filter("vec_id = 0").collect()[0].embedding]
    sections += [
        (
            "Exact dedup (shuffle join, no forced broadcast)",
            "The duplicate-group relation joins back on text_hash WITHOUT a "
            "broadcast hint — it is unbounded at scale; AQE may still pick "
            "broadcast at runtime when the group table is actually small.",
            dd.exact_duplicates(docs),
        ),
        (
            "IVF ANN top-k (shuffle-free assignment)",
            "Centroid assignment is a single projection (greatest() over "
            "inlined centroid dots — no join, no explode); the only wide "
            "operator is the final TakeOrderedAndProject.",
            sim.ivf_topk(emb, qv, 10),
        ),
    ]

    # round-3 surfaces
    from lucene_spark.search.query import SynonymQuery
    from lucene_spark.search.spans import SpanNearQuery

    ivf_dir = f"{d}/ivf"
    sim.ivf_build(emb, ivf_dir)
    sections += [
        (
            "Match-only lowering (MUST_NOT / FILTER side)",
            "The negative/filter operand lowers to postings scan -> distinct "
            "doc_id: NO score expression, NO weight broadcast join, NO "
            "norm-cache literal anywhere in this subtree (Weight.scorer "
            "under COMPLETE_NO_SCORES).",
            mem_s._matches(orq("slow", "legacy")),
        ),
        (
            "NOT query (one tagged scan, no anti-join)",
            "The MUST and MUST_NOT terms share ONE postings scan; MUST_NOT "
            "rows carry a NULL score and a `_not` tag, and the one hash "
            "aggregation drops docs with `_nnot > 0` (ReqExclScorer) — no "
            "LeftAnti, no second scan, no Expand.",
            mem_s.search(
                BooleanQuery.of(
                    (TermQuery("spark"), Occur.MUST), (TermQuery("the"), Occur.MUST_NOT)
                ),
                10,
            ),
        ),
        (
            "IVF indexed ANN query (partition-pruned scan)",
            "The prebuilt index scan must show PartitionFilters: [cid IN "
            "(probes)] — only nprobe/K of the corpus directories are read; "
            "assignment cost was paid once at ivf_build time.",
            sim.ivf_topk_indexed(spark, ivf_dir, qv, 10),
        ),
        (
            "Filtered KNN through the IVF index (pruned scan + semi-join)",
            "The filtered vector path must ALSO show PartitionFilters: "
            "[cid IN (probes)] on the embedding-store scan — the filter is "
            "applied INSIDE the probed partitions as a broadcast left-semi "
            "join (AbstractKnnVectorQuery approximate-with-filter); no "
            "full-corpus embedding scan appears unless the filter match "
            "count is the provably cheap side.",
            _filtered_knn_df(spark, idx, mem_s, ivf_dir),
        ),
        (
            "Span near query (rides the interval/position-gather plan)",
            "SpanNearQuery rewrites to IntervalQuery: same single-Exchange "
            "position gather as phrases; the minimal-interval iterators run "
            "per-candidate in one Arrow UDF.",
            mem_s.search(SpanNearQuery(("the", "data"), slop=2), 10),
        ),
        (
            "Synonym query (one pseudo-term)",
            "Members aggregate to summed freq in ONE hash aggregate over a "
            "single postings scan; one weight (max-df idf) scores the sum.",
            mem_s.scored(SynonymQuery(("data", "model"))),
        ),
    ]

    # IndexOrDocValuesQuery access-path choice
    from lucene_spark.search.query import RangePredicate

    rare_term = (
        idx.term_stats.orderBy("doc_freq", "term").limit(1).collect()[0].term
    )
    sections += [
        (
            "Range FILTER beside a selective lead — dv path "
            "(IndexOrDocValuesQuery, 8x dv penalty)",
            "The wide range clause costs > 8x the rare lead term, so it "
            "takes the doc-values path: the candidate doc_ids broadcast "
            "(BroadcastHashJoin LeftSemi) and the range predicate rides the "
            "docs scan as a per-candidate post-filter — NO Exchange for the "
            "range side (vs the filtered-scan + shuffle semi-join index "
            "path).",
            mem_s._matches(
                BooleanQuery.of(
                    (TermQuery(rare_term), Occur.MUST),
                    (RangePredicate("turn_idx", lower=1), Occur.FILTER),
                )
            ),
        ),
    ]

    # late round-3 surfaces: taxonomy rollup, CC round, FVH fold, curation
    from lucene_spark.pipeline.cluster import _large_star, _small_star
    from lucene_spark.pipeline.textstats import remove_boilerplate_lines
    from lucene_spark.search.facets import taxonomy_counts
    from lucene_spark.search.highlight import fvh_snippets, token_offsets_relation

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    text_df = docs.select("doc_id", "text")
    # built ONCE at index time in production — persist so the snippet plan
    # below shows the query-time shape (cache scan, no tokenization)
    offsets = token_offsets_relation(text_df).persist()
    offsets.count()
    hits5 = mem_s.search(TermQuery("data"), 5).join(
        idx.docs.select("doc_id", "conv_id", "turn_idx"), ["conv_id", "turn_idx"]
    )
    sections += [
        (
            "Taxonomy facets (single ROLLUP pass)",
            "ONE Expand + ONE hash aggregate produce every prefix level "
            "(partial aggregation map-side); no per-level scans, no "
            "materialized taxonomy tree.",
            taxonomy_counts(mem_s, TermQuery("data"), ["role", "tool"]),
        ),
        (
            "Connected-components round (large-star -> small-star)",
            "Each half-round is a window-min over the grouping key plus a "
            "distinct — two key-partitioned Exchanges per round, no "
            "broadcast, no driver-side state; lineage is cut per round by "
            "localCheckpoint so this plan's depth is constant across "
            "iterations.",
            _small_star(_large_star(pairs)),
        ),
        (
            "FastVectorHighlighter snippet (JVM splice fold)",
            "After the offsets-relation join, the <b>..</b> splice is an "
            "aggregate() fold over the match structs — no Python evaluator "
            "executes at query time: the only MapInPandas nodes sit INSIDE "
            "the InMemoryRelation cached-build description (the one-time "
            "index-time offsets pass; the executed path is the "
            "InMemoryTableScan above it), so highlighting never re-analyzes "
            "text.",
            fvh_snippets(hits5, offsets, text_df, ["data"]),
        ),
        (
            "Boilerplate-line removal (corpus-level line DF)",
            "explode -> hash agg (count_distinct doc_id per line) -> plain "
            "shuffle join back (boilerplate relation is corpus-sized: NOT "
            "broadcast-hinted) -> one per-doc re-assembly aggregate.",
            remove_boilerplate_lines(docs),
        ),
    ]

    # round-4 surfaces
    from lucene_spark.pipeline.classify import naive_bayes_classify
    from lucene_spark.pipeline.sessionize import session_stats
    from lucene_spark.search.query import FunctionScoreQuery, KnnVectorQuery

    emb_docs = emb.withColumnRenamed("vec_id", "doc_id")
    sections += [
        (
            "FunctionScoreQuery (Catalyst expression over _score + doc columns)",
            "The rescore expression is a plain Project inside WholeStageCodegen "
            "after the docs join — no UDF, and Catalyst prunes the docs scan "
            "to only the columns the expression references.",
            mem_s.scored(
                FunctionScoreQuery(
                    orq("spark", "data"), "_score * (1.0 + length / 100.0)"
                )
            ),
        ),
        (
            "KnnVectorQuery with a pre-filter (k nearest passing the filter)",
            "The filter's match set restricts candidates BEFORE top-k "
            "(KnnFloatVectorQuery semantics); the cosine kernel is a JVM "
            "aggregate over the zipped arrays and the only wide operator is "
            "the final TakeOrderedAndProject.",
            mem_s.with_vectors(emb_docs).scored(
                KnnVectorQuery(qv, 5, filter=RangePredicate("turn_idx", lower=1))
            ),
        ),
        (
            "Sessionization (lag/cumsum window algebra)",
            "Exactly ONE Exchange (hashpartitioning on conv_id) feeds both "
            "window functions and the session aggregate — the lag, the "
            "running sum, and the per-session stats reuse the same "
            "partitioning; everything is codegen'd window/agg, no UDF.",
            session_stats(corpus, gap_seconds=3600),
        ),
        (
            "Naive Bayes classification (broadcast class dim + term join)",
            "Train stats are hash aggregates over the exploded (doc, term) "
            "relation; the class dimension and scalar stats join as "
            "BroadcastHashJoins; the per-(term,class) hits table joins on "
            "term (shuffle — it is corpus-vocabulary-sized, NOT broadcast).",
            naive_bayes_classify(corpus, corpus.limit(50)),
        ),
    ]

    # second round-4 wave
    from lucene_spark.pipeline.pack import pack_sequences, with_token_counts
    from lucene_spark.pipeline.sample import stratified_sample

    sections += [
        (
            "Stratified sampling (scan-side hash filter, zero shuffle)",
            "The md5-keyed keep predicate is a plain Filter directly over "
            "the scan — no Exchange anywhere in the plan; the per-stratum "
            "rate lookup folds to a CASE expression.",
            stratified_sample(
                docs.select("doc_id", F.lit("en").alias("lang"), "text"),
                {"en": 0.25},
                "lang",
                ["doc_id"],
            ),
        ),
        (
            "Greedy packing (one group-key shuffle + Arrow scan)",
            "Exactly ONE Exchange (the conv_id grouping) feeds the "
            "FlatMapGroupsInPandas; the non-associative reset scan is the "
            "legitimate applyInPandas case — everything before it is "
            "codegen'd projection.",
            pack_sequences(
                with_token_counts(corpus).select(
                    "conv_id", "turn_idx", "n_tokens"
                ),
                cap=60,
            ),
        ),
        (
            "Diversified top-k (per-key cap, bounded survivors)",
            "One Exchange on the key for the per-key window rank; the "
            "global cut is TakeOrderedAndProject over at most "
            "max_per_key-per-key survivors — the full match set is never "
            "globally sorted.",
            mem_s.search_diversified(orq("spark", "data"), 10, 1),
        ),
    ]

    # round-5 surfaces: the query-language dialects are PARSE-TIME only —
    # whatever the syntax (surround, complex phrase, XML), the physical
    # plan is the already-audited span/interval shape
    from lucene_spark.search import ComplexPhraseQueryParser

    sections += [
        (
            "Complex-phrase parse (dialects add no physical operators)",
            "'\"(t* -the) data\"~1' parses to SpanNear(SpanNot(SpanOr(...), "
            "the), data) and rides the SAME single-Exchange position-gather "
            "plan as the span-near section above — term-dictionary "
            "expansion happened at parse time (a k-row collect of the "
            "bucket-pruned term_stats scan), so no extra Exchange, no "
            "expansion join, no UDF beyond the bounded per-candidate "
            "interval iterator appears here.",
            mem_s.search(
                ComplexPhraseQueryParser(searcher=mem_s).parse(
                    '"(t* -the) data"~1'
                ),
                10,
            ),
        ),
    ]

    # round-5 wave-4 surfaces
    from lucene_spark.analysis import Analyzer
    from lucene_spark.pipeline.textstats import unigram_lm_scores
    from lucene_spark.search import CoveringQuery, FunctionRangeQuery
    from lucene_spark.search.dvstats import numeric_doc_values_stats
    from lucene_spark.search.facets import group_facet_counts
    from lucene_spark.search.geo import distance_topk, polygon_predicate
    from lucene_spark.search.suggest import build_freetext_model, freetext_lookup

    geo_docs = idx.docs.select(
        "doc_id",
        ((F.col("doc_id") * 7919 % 16000) / 100.0 - 80.0).alias("lat"),
        ((F.col("doc_id") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    ft_model = build_freetext_model(corpus.select("text"), Analyzer(), grams=3)
    sections += [
        (
            "CoveringQuery (per-doc minimumNumberMatch)",
            "ONE union of the scored clause relations -> ONE hash agg "
            "(sum, bit_or clause masks; no Expand) with map-side partial "
            "aggregation; the "
            "per-doc threshold joins the column-pruned docs relation — no "
            "second postings pass, no UDF.",
            mem_s.search(
                CoveringQuery(
                    (TermQuery("spark"), TermQuery("data"), TermQuery("the")),
                    "1 + turn_idx % 2",
                ),
                10,
            ),
        ),
        (
            "FunctionRangeQuery (value-range scan)",
            "A pure docs-relation scan: the range predicate is a Catalyst "
            "Filter over the value expression (pushable for bare columns); "
            "ZERO Exchange before the top-k cut.",
            mem_s.search(FunctionRangeQuery("length", lower=20, upper=50), 10),
        ),
        (
            "Geo distance top-k (box pre-filter + exact haversine)",
            "The bounding-box lat/lon predicates sit in the scan Filter "
            "(parquet min/max prunable); the haversine expression is "
            "codegen'd; TakeOrderedAndProject cuts at k.",
            distance_topk(geo_docs, "lat", "lon", 12.34, 56.78, 2_000_000.0, 10),
        ),
        (
            "Geo polygon containment (ray-casting fold)",
            "The crossing-number aggregate over the literal edge array is "
            "a single codegen'd projection in the scan Filter — no UDF, "
            "no join, no Exchange.",
            geo_docs.filter(
                polygon_predicate(
                    "lat", "lon", [(5.0, -60.0), (55.0, -5.0), (20.0, 70.0), (-30.0, 10.0)]
                )
            ),
        ),
        (
            "FreeText suggest (n-gram model + stupid backoff lookup)",
            "Model build: ONE ArrowEvalPython analysis pass -> every "
            "order's shingles in one array -> ONE Generate -> ONE hash "
            "agg (no Union). Lookup: per-order prefix filters over the model "
            "relation union'd, one window dedup by predicted token, "
            "TakeOrderedAndProject at k. The model scan carries the "
            "ord/gram predicates (write the relation sorted by (ord, gram) "
            "and they become row-group prunes).",
            freetext_lookup(ft_model, Analyzer(), "the data s", 10),
        ),
        (
            "Group facets (count distinct groups per facet value)",
            "Spark expands count_distinct into the two-level agg — exactly "
            "the reference's (group ord, facet ord) pair dedup, "
            "distributed; map-side partial agg before the Exchange.",
            group_facet_counts(mem_s, orq("spark", "data"), "conv_id", "role"),
        ),
        (
            "DocValuesStats (one-pass field statistics)",
            "Match semi-join then ONE hash aggregate computing count/"
            "missing/min/max/sum/mean/var_pop together; K=1 row crosses "
            "the Exchange.",
            numeric_doc_values_stats(mem_s, TermQuery("spark"), "length"),
        ),
        (
            "Unigram-LM quality (corpus cross-entropy)",
            "tokens explode once; the unigram model is a hash agg of the "
            "same relation; scoring joins on term (the postings key) and "
            "re-aggregates per doc — no UDF, nothing corpus-sized "
            "broadcast.",
            unigram_lm_scores(
                corpus.select(F.monotonically_increasing_id().alias("doc_id"), "text")
            ),
        ),
    ]

    from lucene_spark.analysis.path import path_hierarchy_expr
    from lucene_spark.search import TermAutomatonQuery

    taq = TermAutomatonQuery()
    t0 = taq.create_state()
    t1 = taq.create_state()
    taq.add_transition(t0, t1, "the")
    t2 = taq.create_state()
    taq.add_any_transition(t1, t2)
    t3 = taq.create_state()
    taq.set_accept(t3, True)
    taq.add_transition(t2, t3, "customer")
    taq.finish()

    cg_idx = IndexBuilder(
        num_segments=4,
        analyzer=Analyzer(
            common_grams=frozenset({"the", "of", "a"}),
            stopwords=frozenset({"the", "of", "a"}),
        ),
    ).build(corpus)
    cg_s = IndexSearcher(cg_idx)

    sections += [
        (
            "TermAutomatonQuery (the ANY customer)",
            "ONE groupBy gather of the two terms' postings (single "
            "Exchange — the disjunctive candidate set), the countMatches "
            "DP as ONE ArrowEvalPython over the gathered position arrays, "
            "then the BM25 expression and TakeOrderedAndProject. No "
            "per-term self-joins, no driver iteration.",
            mem_s.search(taq, 10),
        ),
        (
            "CommonGrams phrase acceleration (gram term lookup)",
            "The phrase 'the customer' collapses to ONE term lookup "
            "(term = 'the_customer') — the ordinary single-term scoring "
            "plan (scan + inlined weight + TakeOrderedAndProject), no "
            "positions relation touched. This is CommonGramsQueryFilter's "
            "whole point: a phrase query without position arithmetic.",
            cg_s.search(TermQuery("the_customer"), 10),
        ),
        (
            "Path hierarchy facets (prefix drill-down)",
            "Explode of the codegen'd prefix expansion -> ONE hash agg "
            "with map-side partial aggregation -> TakeOrderedAndProject. "
            "No UDF anywhere.",
            corpus.select(
                F.explode(
                    path_hierarchy_expr(
                        F.concat(F.lit("/"), F.col("role"), F.lit("/"), F.col("conv_id"))
                    )
                ).alias("p")
            )
            .groupBy("p")
            .count()
            .orderBy(F.desc("count"), F.asc("p"))
            .limit(10),
        ),
    ]

    # wave-6 operators (SURVEY §12f)
    from lucene_spark.index import IndexBuilder as _IB
    from lucene_spark.pipeline.classify import bm25_nb_classify
    from lucene_spark.search.query import PayloadScoreQuery
    from lucene_spark.search.spans import SpanNearQuery, SpanTermQuery

    pay_corpus = corpus.withColumn(
        "text",
        F.array_join(
            F.expr(
                "transform(regexp_extract_all(lower(text), '[a-z0-9]+', 0),"
                " (t, i) -> concat(t, '|', i))"
            ),
            " ",
        ),
    )
    pay_idx = _IB(num_segments=4, payload_delimiter="|").build(pay_corpus)
    pay_s = IndexSearcher(pay_idx, scoring="plain_f64")
    near = SpanNearQuery(
        (SpanTermQuery("the"), SpanTermQuery("data")), slop=0, in_order=True
    )
    sections += [
        (
            "PayloadScoreQuery over a span-near (leaf payload gather)",
            "ONE groupBy(doc_id) gathers both terms' (positions, payloads) "
            "pairs (single Exchange); the span-start intersection, the "
            "element_at/array_position leaf gather and the payload fold all "
            "run as JVM higher-order functions — no Python anywhere; top-k "
            "is TakeOrderedAndProject.",
            pay_s.search(PayloadScoreQuery(near, "avg"), 10),
        ),
        (
            "BM25NBClassifier (per-class max + exploded-token classify)",
            "The per-(class, term) max is ONE hash agg over the scored "
            "postings relation (map-side partial max); the class dim is a "
            "BroadcastNestedLoopJoin-free broadcast cross of a few rows; "
            "the vocabulary-sized max relation joins the exploded test "
            "tokens WITHOUT broadcast (AQE picks sides); the test text is "
            "analyzed by ONE ArrowEvalPython (the index chain); the argmax "
            "is one per-doc window.",
            bm25_nb_classify(idx, corpus.filter(F.col("turn_idx") == 0)),
        ),
    ]

    out = ["# PLANS — physical-plan audit (generated by scripts/explain_audit.py)\n"]
    for title, expect, df in sections:
        out.append(f"\n## {title}\n\n_What to verify:_ {expect}\n\n```\n")
        out.append(explain_str(df))
        out.append("```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
