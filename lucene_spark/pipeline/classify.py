"""Text classification over an indexed corpus — the reference's
``lucene/classification`` module re-expressed as relational algebra.

:func:`naive_bayes_classify` is SimpleNaiveBayesClassifier
(classification/SimpleNaiveBayesClassifier.java:140-258) with the same
statistics, computed for EVERY test document in one distributed pass
instead of per-document index probes:

* ``hits(w,c)``   = # train docs of class c containing w
  (``getWordFreqForClass`` — a *document* count, not a term-freq sum)
* ``den(c)``      = avgUniqueTermsPerDoc * docFreq(class=c) + docsWithClass
  (``getTextTermFreqForClass`` + add-|V| smoothing denominator)
* ``log P(d|c)``  = Σ_tokens ln((hits+1) / den(c))   (add-one smoothing,
  token REPEATS counted — ``calculateLogLikelihood``)
* ``log P(c)``    = ln(docFreq(c)) − ln(docsWithClass) (``calculateLogPrior``)
* assigned class  = argmax over classes (ties broken by class value asc)

The reference's ``normClassificationResults`` is a monotone per-doc
rescaling for display; it never changes the assigned class, so the raw
log score is returned instead (cross-engine comparable without exp()).

Scale shape: train-side stats are two hash aggregations over the exploded
(doc, term) relation; the per-class term table joins the test tokens on
``term`` after a small cross join with the class dimension (classes are a
broadcast-sized dim).  Everything is JVM column expressions — no UDF.

:func:`knn_classify` is KNearestNeighborClassifier.java:40 — more-like-
this retrieval + score-weighted vote — left to the MLT surface
(search/mlt.py) composed with a groupBy vote; see tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

TOKEN_PATTERN = "[a-z0-9]+"


def _tokens(text_col: str):
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)")


def naive_bayes_classify(
    train_df: DataFrame,
    test_df: DataFrame,
    class_col: str = "role",
    text_col: str = "text",
    id_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Assign each test doc the argmax-likelihood class learned from
    ``train_df``.  Returns (id_cols..., assigned, log_score)."""
    ids = list(id_cols)

    train_terms = (
        train_df.filter(F.col(class_col).isNotNull())
        .select(*ids, F.col(class_col).alias("_cls"), _tokens(text_col).alias("_t"))
        .select(*ids, "_cls", F.explode("_t").alias("term"))
        .distinct()  # document counts: each (doc, term) once
    )
    # per (term, class): # docs of the class containing the term
    wc = train_terms.groupBy("term", "_cls").agg(F.count("*").alias("hits"))
    # class dimension: docFreq(class=c); scalars: docsWithClass, avg unique
    cls = train_terms.select(*ids, "_cls").distinct().groupBy("_cls").agg(
        F.count("*").alias("cdf")
    )
    scalars = train_terms.agg(
        F.count("*").alias("sum_doc_freq"),  # distinct (doc, term) pairs
        F.countDistinct(*ids).alias("doc_count"),
    ).crossJoin(
        train_df.filter(F.col(class_col).isNotNull())
        .select(*ids)
        .distinct()
        .agg(F.count("*").alias("docs_with_class"))
    )

    # zero-token docs still classify: their likelihood sum is 0, so the
    # score is the prior alone (assignClass iterates an empty token array)
    # — explode_outer keeps them as a NULL-term row contributing 0.
    test_tokens = test_df.select(
        *ids, F.explode_outer(_tokens(text_col)).alias("term")
    )
    # token occurrences x class dim (broadcast), hits looked up per class
    per_tok = (
        test_tokens.crossJoin(F.broadcast(cls))
        .join(F.broadcast(scalars))
        .join(wc, ["term", "_cls"], "left")
        .withColumn("hits", F.coalesce(F.col("hits"), F.lit(0)))
        .withColumn(
            "_den",
            (F.col("sum_doc_freq") / F.col("doc_count")) * F.col("cdf")
            + F.col("docs_with_class"),
        )
        .withColumn(
            "_ll",
            F.when(F.col("term").isNull(), F.lit(0.0)).otherwise(
                F.log((F.col("hits") + 1.0) / F.col("_den"))
            ),
        )
    )
    scored = per_tok.groupBy(*ids, "_cls").agg(
        (
            F.sum("_ll")
            + F.log(F.first("cdf"))
            - F.log(F.first("docs_with_class"))
        ).alias("log_score")
    )
    w = Window.partitionBy(*ids).orderBy(F.desc("log_score"), F.asc("_cls"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(*ids, F.col("_cls").alias("assigned"), "log_score")
    )


def knn_classify(
    searcher,
    doc_id: int,
    class_col: str = "role",
    k: int = 10,
    min_term_freq: int = 1,
    min_doc_freq: int = 1,
) -> DataFrame:
    """KNearestNeighborClassifier.java:40 — retrieve the k most-like-this
    docs for the source doc and take the score-weighted class vote
    (``classifyFromTopDocs``: sum of hit scores per class, max wins).
    The source doc itself is excluded from the vote.  Returns
    (assigned, vote) rows ordered by vote desc, class asc."""
    from lucene_spark.search.mlt import MoreLikeThis

    q = MoreLikeThis(
        searcher, min_term_freq=min_term_freq, min_doc_freq=min_doc_freq
    ).like(doc_id)
    top = searcher.search(q, k + 1).filter(F.col("doc_id") != doc_id).limit(k)
    docs = searcher.index.docs.select("doc_id", class_col)
    return (
        top.join(docs, "doc_id")
        .groupBy(class_col)
        .agg(F.sum("score").alias("vote"))
        .select(F.col(class_col).alias("assigned"), "vote")
        .orderBy(F.desc("vote"), F.asc("assigned"))
    )


def boolean_perceptron(
    docs_df: DataFrame,
    train_keys: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_cols: tuple = ("conv_id", "turn_idx"),
    bias: float | None = None,
    batch_size: int = 1,
    max_train_docs: int = 10_000,
) -> DataFrame:
    """BooleanPerceptronClassifier
    (classification/BooleanPerceptronClassifier.java:59-240): weights start
    as per-term totalTermFreq over the corpus, then one sequential pass over
    the training docs updates them perceptron-style; classification of the
    full corpus is the weighted token sum against ``bias``.

    Exact reference semantics:

    * initial weight(term) = totalTermFreq(term) over the corpus (the
      constructor seeds from the index's textTerms);
    * default bias = sumTotalTermFreq / docCount of the text field;
    * training visits docs in doc order (the MatchAll ScoreDoc order ≙
      ascending ``id_cols``); per doc: output = Σ_token tf·fst(term)
      (``assignClass``), assigned = output >= bias; when assigned !=
      label, modifier = signum(label - assigned) and every distinct doc
      term w is set to max(0, fst(w) + modifier·tf) — reads come from the
      FST SNAPSHOT, which is rebuilt only when batchCount % batch_size ==
      0 (``updateWeights``/``updateFST``; weights are long-truncated at
      snapshot time, PositiveIntOutputs);
    * classification: output = Σ_token tf·w(term), assigned = output >=
      bias, score = 1 − exp(−|bias − output| / bias).

    Scale shape: the sequential pass is inherently order-dependent (the
    reference trains one doc at a time), so TRAINING state lives on the
    driver — but only for terms occurring in the training docs (bounded
    by ``max_train_docs``, raises beyond it); every untouched term keeps
    weight == totalTermFreq, which stays a distributed relation.  The
    final weights are (corpus ttf) LEFT JOIN (broadcast overrides), and
    CLASSIFICATION is one exploded-token join + hash agg over the corpus
    — fully distributed, no UDF.

    ``train_keys``: relation of id_cols + a BOOLEAN ``label_col`` — the
    training subset (the reference's ``query`` filter + the class field
    parsed by Boolean.valueOf).  Returns (id_cols..., out_w:long,
    assigned:boolean, score:double) for every corpus doc.
    """
    ids = list(id_cols)
    toks = docs_df.select(*ids, F.explode(_tokens(text_col)).alias("term"))
    tf_rel = toks.groupBy(*ids, "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    ttf_rel = tf_rel.groupBy("term").agg(F.sum("tf").alias("ttf"))

    if bias is None or bias == 0.0:
        row = (
            docs_df.select(F.size(_tokens(text_col)).alias("_dl"))
            .agg(
                F.sum("_dl").alias("sttf"),
                F.sum(F.when(F.col("_dl") > 0, 1).otherwise(0)).alias("dc"),
            )
            .collect()[0]
        )
        if not row.dc:
            raise ValueError("empty corpus: bias cannot be derived")
        bias = float(row.sttf) / float(row.dc)
    bias = float(bias)

    # ---- sequential training pass (driver-side, bounded) ----------------
    train = (
        tf_rel.join(train_keys.select(*ids, label_col), ids)
        .groupBy(*ids)
        .agg(
            F.first(label_col).alias("_label"),
            F.map_from_arrays(
                F.collect_list("term"), F.collect_list("tf")
            ).alias("_tfs"),
        )
        .orderBy(*ids)
    )
    rows = train.limit(max_train_docs + 1).collect()
    if len(rows) > max_train_docs:
        raise ValueError(
            f"training set exceeds max_train_docs={max_train_docs}; "
            "the perceptron pass is sequential by definition — cap the "
            "training subset or raise the limit explicitly"
        )
    vocab = sorted({t for r in rows for t in r._tfs})
    seed = {
        r.term: int(r.ttf)
        for r in ttf_rel.filter(F.col("term").isin(vocab)).collect()
    }
    weights = dict(seed)   # live map (reference's ConcurrentSkipListMap)
    fst = dict(seed)       # long-truncated snapshot (the FST)
    batch_count = 0
    for r in rows:
        if r._label is None:
            continue
        tfs = r._tfs
        output = sum(tfs[t] * fst.get(t, 0) for t in tfs)
        assigned = output >= bias
        correct = bool(r._label)
        modifier = (1 if correct else 0) - (1 if assigned else 0)
        if modifier != 0:
            for t, tf in tfs.items():
                prev = fst.get(t)
                weights[t] = (
                    0 if prev is None else max(0, prev + modifier * int(tf))
                )
            if batch_count % batch_size == 0:
                fst = {k: int(v) for k, v in weights.items()}
        batch_count += 1

    overrides = {t: int(fst.get(t, 0)) for t in vocab}
    spark = docs_df.sparkSession
    ov_df = spark.createDataFrame(
        sorted(overrides.items()), "term string, _ow long"
    )

    # ---- distributed classification --------------------------------------
    w_rel = ttf_rel.join(F.broadcast(ov_df), "term", "left").select(
        "term", F.coalesce("_ow", "ttf").alias("_w")
    )
    out = (
        tf_rel.join(w_rel, "term")
        .groupBy(*ids)
        .agg(F.sum(F.col("tf") * F.col("_w")).alias("out_w"))
    )
    keys = docs_df.select(*ids)
    out = keys.join(out, ids, "left").select(
        *ids, F.coalesce("out_w", F.lit(0)).cast("long").alias("out_w")
    )
    b = F.lit(bias)
    return out.select(
        *ids,
        "out_w",
        (F.col("out_w") >= b).alias("assigned"),
        (F.lit(1.0) - F.exp(-F.abs(b - F.col("out_w")) / b)).alias("score"),
    )


def bm25_nb_classify(
    index,
    test_df: DataFrame,
    class_col: str = "role",
    text_col: str = "text",
    id_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """BM25NBClassifier (classification/BM25NBClassifier.java:94-231):
    naive bayes approximated by BM25 top-1 scores.

    Reference semantics, reduced to closed form:

    * the class field is single-token per doc (tf=1, dl=1, avgdl=1), so
      its BM25 score is the per-class constant
      ``cls_score(c) = idf_c / (1 + k1)``;
    * ``calculateLogPrior`` = ln(top-1 score of TermQuery(class=c)) =
      ln(cls_score(c));
    * ``getTermProbForClass(c, w)`` = top-1 score of (MUST class=c,
      SHOULD text=w) = cls_score(c) + max over class-c docs of the text
      BM25 of w (0 when no class-c doc contains w — the top hit is then
      a class-only match);
    * per test doc: score(c) = prior + Σ_tokens ln(termProb) (token
      REPEATS counted); assigned = argmax, ties by class value asc (the
      classesEnum order).  The reference's softmax normalization is a
      monotone per-doc display rescale — the raw log score is returned
      (same convention as :func:`naive_bayes_classify`).

    Scale shape: per-(class, term) max is ONE hash agg over the scored
    postings relation; the class dim is broadcast; classification is the
    exploded-token left join + per-doc hash agg over the test text
    analyzed by the index chain (one Arrow-batched UDF).  No driver
    state."""
    ids = list(id_cols)
    k1, b = index.k1, index.b
    stats = index.stats
    n = float(stats["doc_count"])
    avgdl = float(stats["sum_total_term_freq"]) / n

    from pyspark.sql.types import ArrayType, IntegerType

    from lucene_spark.util.smallfloat import LENGTH_TABLE
    from lucene_spark.util.sqllit import sql_lit

    dl_lit = sql_lit(LENGTH_TABLE, ArrayType(IntegerType()))
    # per-(term, doc) plain-BM25 double (the engine's plain_f64 shape:
    # byte4-quantized dl decoded from the stored norm)
    rel = index.postings_slim.join(index.term_stats, "term")
    dlq = F.element_at(dl_lit, F.col("norm") + 1).cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(n) - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
    )
    score = idf * F.col("freq") / (
        F.col("freq") + F.lit(k1) * (F.lit(1 - b) + F.lit(b) * dlq / F.lit(avgdl))
    )
    scored = rel.select("term", "doc_id", score.alias("_s"))
    classes = index.docs.select("doc_id", F.col(class_col).alias("_cls"))
    mx = (
        scored.join(classes, "doc_id")
        .filter(F.col("_cls").isNotNull())
        .groupBy("_cls", "term")
        .agg(F.max("_s").alias("_mx"))
    )
    # class dimension: single-token class field -> idf_c / (1 + k1)
    cdim = (
        index.docs.filter(F.col(class_col).isNotNull())
        .groupBy(F.col(class_col).alias("_cls"))
        .agg(F.count("*").alias("_cdf"))
    )
    nc = index.docs.filter(F.col(class_col).isNotNull()).count()
    cls_score = (
        F.log(
            F.lit(1.0)
            + (F.lit(float(nc)) - F.col("_cdf") + F.lit(0.5))
            / (F.col("_cdf") + F.lit(0.5))
        )
        / F.lit(1.0 + k1)
    )
    cdim = cdim.select("_cls", cls_score.alias("_cs"))

    # the reference analyzes unseen text with the INDEX's analyzer: the
    # same chain the build ran (the engine StandardTokenizer for a plain
    # index, NOT the SQL-regex helper — they differ on NUM tokens like
    # "1,000" and on maxTokenLength splits), so test tokens live in the
    # postings vocabulary
    from lucene_spark.analysis.analyzer import Analyzer

    an = index.analyzer or Analyzer()
    toks_col = F.transform(
        an.analyze_column(F.col(text_col)), lambda e: e["term"]
    )
    toks = test_df.select(*ids, F.explode(toks_col).alias("term"))
    per_tok = (
        toks.crossJoin(F.broadcast(cdim))
        # mx is |classes| x |vocab| — corpus-dictionary sized, NEVER
        # broadcast; AQE picks the join side
        .join(mx, ["_cls", "term"], "left")
        .select(
            *ids,
            "_cls",
            "_cs",
            F.log(F.col("_cs") + F.coalesce(F.col("_mx"), F.lit(0.0))).alias(
                "_ll"
            ),
        )
    )
    scored_cls = per_tok.groupBy(*ids, "_cls").agg(
        (F.sum("_ll") + F.log(F.first("_cs"))).alias("log_score")
    )
    # docs whose test text has zero tokens still classify: prior only
    empty = (
        test_df.select(*ids)
        .join(scored_cls.select(*ids).distinct(), ids, "left_anti")
        .crossJoin(F.broadcast(cdim))
        .select(*ids, "_cls", F.log(F.col("_cs")).alias("log_score"))
    )
    scored_cls = scored_cls.select(*ids, "_cls", "log_score").unionByName(empty)
    w = Window.partitionBy(*ids).orderBy(F.desc("log_score"), F.asc("_cls"))
    return (
        scored_cls.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(*ids, F.col("_cls").alias("assigned"), "log_score")
    )


def knn_fuzzy_classify(
    searcher,
    text: str,
    class_col: str = "role",
    k: int = 10,
    max_edits: int = 1,
    prefix_length: int = 2,
) -> DataFrame:
    """KNearestFuzzyClassifier (classification/KNearestFuzzyClassifier.
    java:135-202): the k nearest docs under NearestFuzzyQuery — the
    FuzzyLikeThisQuery expansion with the classifier's fixed params
    (maxEdits = (int) MIN_SIMILARITY = 1, PREFIX_LENGTH = 2,
    utils/NearestFuzzyQuery.java:54-55) — then the rank-normalized class
    vote of ``buildListFromTopDocs``: per class, boost = Σ hit_score /
    max_score; final vote = boost / k, rescaled by k/sumdoc when fewer
    than k docs matched (the ``sumdoc < k`` correction) — net
    boost / min(k, n_hits).  Only docs with a class value are searched
    (the reference's class-field clause, here a non-scoring FILTER), so
    a null-class doc never takes a top-k slot.  Returns (assigned, vote)
    ordered by vote desc, class asc."""
    from lucene_spark.search.query import (
        BooleanQuery,
        FieldExistsQuery,
        FuzzyLikeThisQuery,
        Occur,
    )

    q = BooleanQuery.of(
        (FuzzyLikeThisQuery(((text, max_edits, prefix_length),)), Occur.MUST),
        (FieldExistsQuery(class_col), Occur.FILTER),
    )
    top = searcher.search(q, k)
    docs = searcher.index.docs.select("doc_id", class_col)
    hits = top.join(docs, "doc_id")
    n = hits.count()
    if n == 0:
        return hits.select(
            F.col(class_col).alias("assigned"), F.lit(0.0).alias("vote")
        ).limit(0)
    denom = float(k if n >= k else n)
    mx = hits.agg(F.max("score").alias("_mx"))
    return (
        hits.crossJoin(F.broadcast(mx))
        .groupBy(F.col(class_col).alias("assigned"))
        .agg(
            (F.sum(F.col("score") / F.col("_mx")) / F.lit(denom)).alias(
                "vote"
            )
        )
        .orderBy(F.desc("vote"), F.asc("assigned"))
    )
