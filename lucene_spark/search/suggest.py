"""Suggest / autocomplete over the term dictionary.

≙ the reference's suggest module (suggest/.../analyzing/
AnalyzingSuggester.java, FuzzySuggester.java), re-expressed corpus-side:
completions are ANALYZED index terms ranked by a weight — here
``total_term_freq`` from the term dictionary (the popularity weight a
corpus-derived suggester uses; AnalyzingSuggester stores an explicit
per-entry weight, which callers can supply via ``weights``).

Spark-first shape: a pushed-down scan of the (tiny relative to postings)
term_stats relation; within each crc32 bucket the stored dictionary is
term-sorted, so parquet row-group min/max stats prune the prefix range.
No FST is materialized — the dictionary relation IS the suggester state
(SURVEY.md §1.2: "do NOT rebuild the FST").

``suggest_fuzzy`` is the FuzzySuggester analog: terms whose prefix is
within ``max_edits`` Levenshtein of the typed prefix (JVM levenshtein —
simplified vs the reference's Levenshtein automaton, same acceptance for
the prefix-window it checks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex


def _ranked(cands: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    top = cands.orderBy(F.desc("weight"), F.asc("term")).limit(k)
    w = Window.orderBy(F.desc("weight"), F.asc("term"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "term", "weight"
    ).orderBy("rank")


def _weighted_terms(index: InvertedIndex, weights: DataFrame | None) -> DataFrame:
    if weights is not None:
        return weights.select("term", F.col("weight").cast("long").alias("weight"))
    return index.term_stats.select(
        "term", F.col("total_term_freq").cast("long").alias("weight")
    )


def suggest_terms(
    index: InvertedIndex, prefix: str, k: int = 10, weights: DataFrame | None = None
) -> DataFrame:
    """(rank, term, weight): top-k completions of ``prefix`` by weight
    (AnalyzingSuggester.lookup analog; ties broken by term asc)."""
    cands = _weighted_terms(index, weights).filter(
        F.col("term").startswith(prefix)
    )
    return _ranked(cands, k)


def build_analyzing_suggester(
    entries: DataFrame, analyzer, context_col: str | None = None
) -> DataFrame:
    """(surface, weight) -> (key, surface, weight) — the relation analog of
    ``AnalyzingSuggester.build`` (suggest/.../analyzing/AnalyzingSuggester.java:100):
    each surface form is analyzed and its token stream re-joined into a
    single ``key`` string, the FST's analyzed-form arc; lookups prefix-match
    the key and return the ORIGINAL surface.  Duplicate surfaces collapse to
    their max weight (the reference keeps the most-weighted entry per
    surface form).  Surfaces that analyze to nothing (all stopwords) are
    dropped, like entries whose token stream is empty.

    Scale shape: build once, write sorted by ``key`` — parquet row-group
    min/max stats then prune every prefix lookup to the matching key range;
    no FST is materialized and no driver state is held.

    ``context_col`` names an optional label column on ``entries``
    (suggest/document/ContextQuery.java analog): entries collapse per
    (surface, context) and lookups can filter to an allowed context set.
    """
    gb = ["surface"] + ([context_col] if context_col else [])
    keyed = entries.groupBy(*gb).agg(
        F.max(F.col("weight").cast("long")).alias("weight")
    )
    key = F.concat_ws(
        " ",
        F.transform(analyzer.analyze_column(F.col("surface")), lambda e: e["term"]),
    )
    cols = [key.alias("key"), "surface", "weight"] + (
        [F.col(context_col).alias("context")] if context_col else []
    )
    return keyed.select(*cols).filter(F.length("key") > 0)


def analyzing_lookup(
    suggester: DataFrame,
    analyzer,
    prefix: str,
    k: int = 10,
    contexts: set | None = None,
) -> DataFrame:
    """(rank, surface, weight): analyzed completion lookup
    (AnalyzingSuggester.lookup) — the typed prefix runs through the SAME
    analyzer (so ``The Customer jo`` folds to ``customer jo``), candidates
    are entries whose analyzed key extends it, ranked weight desc / surface
    asc.  Like the reference, the FINAL token of the prefix is matched as a
    partial token (string-prefix over the space-joined key), and the whole
    prefix is analyzed — so a stemming analyzer would also stem the partial
    token, the reference's documented quirk; pair this with non-stemming
    chains.  ``contexts`` restricts to entries whose context label is in
    the set (ContextQuery semantics); entries that matched under several
    contexts collapse back to one surface at its max weight."""
    from pyspark.sql import Window

    qkey = " ".join(analyzer.analyze_query(prefix))
    cands = suggester.filter(F.col("key").startswith(qkey))
    if contexts is not None:
        cands = (
            cands.filter(F.col("context").isin(*sorted(contexts)))
            .groupBy("key", "surface")
            .agg(F.max("weight").alias("weight"))
        )
    top = cands.orderBy(F.desc("weight"), F.asc("surface")).limit(k)
    w = Window.orderBy(F.desc("weight"), F.asc("surface"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "surface", "weight"
    ).orderBy("rank")


def suggest_fuzzy(
    index: InvertedIndex,
    prefix: str,
    k: int = 10,
    max_edits: int = 1,
    weights: DataFrame | None = None,
) -> DataFrame:
    """(rank, term, weight): completions whose prefix is within
    ``max_edits`` of the typed prefix (FuzzySuggester analog).  The term's
    leading window of length |prefix|-max_edits .. |prefix|+max_edits is
    compared by JVM levenshtein."""
    n = len(prefix)
    wt = _weighted_terms(index, weights)
    cond = None
    for ln in range(max(1, n - max_edits), n + max_edits + 1):
        c = F.levenshtein(F.substring(F.col("term"), 1, ln), F.lit(prefix)) <= max_edits
        cond = c if cond is None else (cond | c)
    return _ranked(wt.filter(cond), k)


def suggest_word_breaks(
    index: InvertedIndex,
    word: str,
    k: int = 5,
    min_suggestion_freq: int = 1,
    min_break_len: int = 1,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordBreaks
    (suggest/.../spell/WordBreakSpellChecker.java:238-300), single-change
    subset (maxChanges=1, the reference default): every split
    (word[:i], word[i:]) with i in [min_break_len, len-min_break_len]
    where BOTH sides reach ``min_suggestion_freq`` doc frequency in the
    term dictionary.  Ranked by summed doc freq desc (one change each, so
    NUM_CHANGES_THEN_SUMMED_FREQUENCY reduces to the sum), ties by
    (left, right) asc.  The split candidates are a broadcast-sized dim
    joined twice against the term dictionary — no driver-side df probes."""
    n = len(word)
    splits = [
        (i, word[:i], word[i:])
        for i in range(max(1, min_break_len), n - max(1, min_break_len) + 1)
    ]
    from pyspark.sql import Window

    empty = index.term_stats.select(
        F.lit(0).cast("int").alias("rank"),
        F.lit("").alias("left_word"),
        F.lit("").alias("right_word"),
        F.lit(0).cast("long").alias("freq_sum"),
    ).limit(0)
    if not splits:
        return empty
    sdf = index.spark.createDataFrame(
        splits, "i int, left_word string, right_word string"
    )
    ts = index.term_stats.select("term", F.col("doc_freq").cast("long"))
    cands = (
        ts.withColumnRenamed("term", "left_word")
        .withColumnRenamed("doc_freq", "lf")
        .join(F.broadcast(sdf), "left_word")
        .join(
            ts.withColumnRenamed("term", "right_word").withColumnRenamed(
                "doc_freq", "rf"
            ),
            "right_word",
        )
        .filter(
            (F.col("lf") >= min_suggestion_freq)
            & (F.col("rf") >= min_suggestion_freq)
        )
        .withColumn("freq_sum", (F.col("lf") + F.col("rf")).cast("long"))
    )
    w = Window.orderBy(F.desc("freq_sum"), F.asc("left_word"), F.asc("right_word"))
    return (
        cands.orderBy(F.desc("freq_sum"), F.asc("left_word"), F.asc("right_word"))
        .limit(k)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "left_word",
            "right_word",
            "freq_sum",
        )
        .orderBy("rank")
    )


def suggest_word_combinations(
    index: InvertedIndex,
    words: list,
    k: int = 5,
    min_suggestion_freq: int = 1,
) -> DataFrame:
    """WordBreakSpellChecker.suggestWordCombinations (:160-236) adjacent-
    pair subset: for each adjacent input pair, suggest the concatenation
    when it reaches ``min_suggestion_freq`` doc frequency; ranked by the
    combined term's doc freq desc, then position asc."""
    pairs = [
        (i, words[i], words[i + 1], words[i] + words[i + 1])
        for i in range(len(words) - 1)
    ]
    from pyspark.sql import Window

    empty = index.term_stats.select(
        F.lit(0).cast("int").alias("rank"),
        F.lit(0).cast("int").alias("pos"),
        F.lit("").alias("combined"),
        F.lit(0).cast("long").alias("freq"),
    ).limit(0)
    if not pairs:
        return empty
    pdf = index.spark.createDataFrame(
        pairs, "pos int, w1 string, w2 string, combined string"
    )
    ts = index.term_stats.select(
        F.col("term").alias("combined"), F.col("doc_freq").cast("long").alias("freq")
    )
    cands = (
        ts.join(F.broadcast(pdf), "combined")
        .filter(F.col("freq") >= min_suggestion_freq)
    )
    w = Window.orderBy(F.desc("freq"), F.asc("pos"))
    return (
        cands.orderBy(F.desc("freq"), F.asc("pos"))
        .limit(k)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "pos",
            "combined",
            "freq",
        )
        .orderBy("rank")
    )


def spell_correct(
    index: InvertedIndex,
    word: str,
    k: int = 5,
    max_edits: int = 2,
    accuracy: float = 0.5,
    min_freq: int = 1,
    prefix_len: int = 1,
) -> DataFrame:
    """DirectSpellChecker.suggestSimilar analog (suggest/.../spell/
    DirectSpellChecker.java:435-475): candidate corrections drawn straight
    from the term dictionary within ``max_edits``, sharing the first
    ``prefix_len`` characters (the reference's minPrefix=1 default),
    scored similarity = 1 - d / max(|candidate|, |query|)
    (LevenshteinDistance normalization; plain Levenshtein via the JVM
    builtin vs the reference's internal Damerau variant — a declared
    subset), kept when similarity >= ``accuracy`` and doc_freq >=
    ``min_freq``, ranked (similarity desc, doc_freq desc, term asc).
    Returns (rank, term, score_i=round(sim*10000), doc_freq)."""
    from pyspark.sql import Window

    n = len(word)
    ts = index.term_stats.select("term", F.col("doc_freq").cast("long"))
    pred = (F.col("term") != word) & (F.col("doc_freq") >= min_freq)
    if prefix_len > 0:
        pred = pred & (F.col("term").startswith(word[:prefix_len]))
    # cheap length window then exact levenshtein (both JVM-side)
    pred = pred & (F.abs(F.length("term") - F.lit(n)) <= max_edits)
    cands = (
        ts.filter(pred)
        .withColumn("_d", F.levenshtein(F.col("term"), F.lit(word)))
        .filter(F.col("_d") <= max_edits)
        .withColumn(
            "_sim",
            1.0 - F.col("_d") / F.greatest(F.length("term"), F.lit(n)).cast("double"),
        )
        .filter(F.col("_sim") >= accuracy)
        .withColumn("score_i", F.round(F.col("_sim") * 10000).cast("long"))
    )
    order = [F.desc("score_i"), F.desc("doc_freq"), F.asc("term")]
    w = Window.orderBy(*order)
    return (
        cands.orderBy(*order)
        .limit(k)
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "term",
            "score_i",
            "doc_freq",
        )
        .orderBy("rank")
    )


def _infix_parse(analyzer, key: str, all_terms_required: bool):
    """Shared AnalyzingInfixSuggester key analysis + candidate predicate
    (AnalyzingInfixSuggester.java:627-694): earlier tokens (and the last,
    when the key ends in discarded chars — the maxEndOffset rule) match
    exactly anywhere; otherwise the last token matches as a token prefix.
    Returns (exact_tokens, prefix_token|None, predicate) or None for an
    empty analysis — used by both the plain and the blended lookups so
    the matching rule can never drift between them."""
    toks = analyzer.analyze_query(key)
    if not toks:
        return None
    last_ended = key != key.rstrip()
    exact = list(toks) if last_ended else list(toks[:-1])
    prefix = None if last_ended else toks[-1]
    tarr = F.split(F.col("key"), " ")
    conds = [F.array_contains(tarr, t) for t in exact]
    if prefix is not None:
        conds.append(F.exists(tarr, lambda x: x.startswith(prefix)))
    pred = conds[0]
    for c in conds[1:]:
        pred = (pred & c) if all_terms_required else (pred | c)
    return exact, prefix, pred


def infix_lookup(
    suggester: DataFrame,
    analyzer,
    key: str,
    k: int = 10,
    all_terms_required: bool = True,
) -> DataFrame:
    """(rank, surface, weight): infix completion lookup
    (suggest/.../analyzing/AnalyzingInfixSuggester.java:627-694) — the
    typed key is analyzed; every token but the last must match a token
    ANYWHERE in the suggestion's analyzed text (TermQuery clauses), and
    the last token matches as a TOKEN PREFIX (PrefixQuery) unless the key
    ends with discarded chars (trailing space -> exact TermQuery, the
    reference's maxEndOffset check).  ``all_terms_required`` maps the
    clauses to MUST vs SHOULD (AnalyzingInfixSuggester.java:639-644);
    with SHOULD at least one clause must match.  Ranked weight desc (the
    reference's SORT = SortField("weight", LONG, reverse)) with surface
    asc as the deterministic tie-break.

    Runs against the ``build_analyzing_suggester`` relation: the infix
    variant needs token-anywhere matching, so there is no key-prefix
    pruning — at scale this is the reference's design too (it searches a
    dedicated mini Lucene index, not the FST)."""
    from pyspark.sql import Window

    parsed = _infix_parse(analyzer, key, all_terms_required)
    if parsed is None:
        return suggester.select(
            F.lit(1).alias("rank"), "surface", "weight"
        ).limit(0)
    _exact, _prefix, pred = parsed
    cands = suggester.filter(pred)
    top = cands.orderBy(F.desc("weight"), F.asc("surface")).limit(k)
    w = Window.orderBy(F.desc("weight"), F.asc("surface"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "surface", "weight"
    ).orderBy("rank")


BLENDED_LINEAR_COEF = 0.10  # BlendedInfixSuggester.java:66
BLENDED_NUM_FACTOR = 10  # BlendedInfixSuggester.java:63 DEFAULT_NUM_FACTOR


def blended_infix_lookup(
    suggester: DataFrame,
    analyzer,
    key: str,
    k: int = 10,
    blender: str = "linear",
    exponent: float = 2.0,
    num_factor: int = BLENDED_NUM_FACTOR,
    all_terms_required: bool = True,
) -> DataFrame:
    """(rank, surface, score): BlendedInfixSuggester
    (suggest/.../analyzing/BlendedInfixSuggester.java:56-305) — the infix
    lookup re-weighted by WHERE the match sits in the suggestion:

    * the inner infix search retrieves ``k * num_factor`` candidates by
      weight (BlendedInfixSuggester.lookup's ``num * numFactor``);
    * coefficient = 1 when the raw surface startsWith the raw key, else
      computed from the FIRST position p of any matched token (exact
      tokens, or the prefix token as a token prefix —
      ``createCoefficient``): ``linear`` 1 − 0.10·p, ``reciprocal``
      1/(p+1), ``exponential_reciprocal`` 1/(p+1)^exponent
      (``calculateCoefficient``);
    * weight 0 becomes 1; |weight| < 1/LINEAR_COEF is scaled by
      1/LINEAR_COEF so the linear blend can discriminate small weights
      (lookup:266-270); score = (long)(weight · coefficient) — Java's
      toward-zero truncation ≡ Spark's double→long cast;
    * final top-k by score desc, surface asc (deterministic tie-break).

    Pure JVM expressions over the suggester relation — the position scan
    is an array transform over the analyzed key tokens."""
    from pyspark.sql import Window

    if blender not in ("linear", "reciprocal", "exponential_reciprocal"):
        raise ValueError(f"unknown blender type {blender!r}")
    parsed = _infix_parse(analyzer, key, all_terms_required)
    if parsed is None:
        return suggester.select(
            F.lit(1).alias("rank"), "surface", F.col("weight").alias("score")
        ).limit(0)
    exact, prefix, pred = parsed
    tarr = F.split(F.col("key"), " ")
    cands = (
        suggester.filter(pred)
        .orderBy(F.desc("weight"), F.asc("surface"))
        .limit(k * num_factor)
    )

    def _tok_match(x):
        m = F.lit(False)
        if exact:
            m = x.isin(exact)
        if prefix is not None:
            m = m | x.startswith(prefix)
        return m

    # first (minimum) position of any matched token; array_min skips the
    # null entries the non-matching positions map to
    minpos = F.array_min(
        F.transform(tarr, lambda x, i: F.when(_tok_match(x), i))
    ).cast("double")
    if blender == "linear":
        coef = F.lit(1.0) - F.lit(BLENDED_LINEAR_COEF) * minpos
    elif blender == "reciprocal":
        coef = F.lit(1.0) / (minpos + F.lit(1.0))
    else:
        coef = F.lit(1.0) / F.pow(minpos + F.lit(1.0), F.lit(float(exponent)))
    coef = F.when(F.col("surface").startswith(key), F.lit(1.0)).otherwise(coef)
    wadj = F.when(F.col("weight") == 0, F.lit(1).cast("long")).otherwise(
        F.col("weight")
    )
    lim = int(1 / BLENDED_LINEAR_COEF)
    wadj = F.when((wadj < lim) & (wadj > -lim), wadj * lim).otherwise(wadj)
    scored = cands.select(
        "surface", (wadj.cast("double") * coef).cast("long").alias("score")
    )
    top = scored.orderBy(F.desc("score"), F.asc("surface")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("surface"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "surface", "score"
    ).orderBy("rank")


FREETEXT_ALPHA = 0.4  # FreeTextSuggester.java:126 stupid-backoff constant


def build_freetext_model(
    texts: DataFrame, analyzer, grams: int = 3, text_col: str = "text"
) -> DataFrame:
    """(gram, ord, cnt): the n-gram language model of
    suggest/.../analyzing/FreeTextSuggester.java:215-341 — every 1..grams
    token shingle of the analyzed corpus with its occurrence count (the
    reference stores the same shingles in an FST keyed by the separator-
    joined gram with encodeWeight(totalTermFreq)).  Space is the token
    separator.  One pass: analyze (Arrow-batched, once per row) -> every
    1..grams shingle with its order in one array -> one explode -> one
    hash agg; at scale write it sorted by (ord, gram) so parquet min/max
    stats prune every prefix lookup."""
    toks = texts.select(
        F.transform(
            analyzer.analyze_column(F.col(text_col)), lambda e: e["term"]
        ).alias("_t")
    )
    arr = F.col("_t")

    def _shingle(n):
        # NOTE: a two-parameter lambda would make F.transform pass
        # (element, index) — bind n via closure, not a default arg
        return lambda i: F.struct(
            F.concat_ws(" ", F.slice(arr, i, n)).alias("gram"),
            F.lit(n).alias("ord"),
        )

    # guard: Spark's sequence(1, 0) would DESCEND ([1, 0]); docs with
    # fewer than n tokens contribute no n-grams
    shingles = F.concat(
        *[
            F.when(
                F.size(arr) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(arr) - (n - 1)), _shingle(n)
                ),
            ).otherwise(F.array().cast("array<struct<gram:string,ord:int>>"))
            for n in range(1, grams + 1)
        ]
    )
    return (
        toks.select(F.inline(shingles))
        .groupBy("gram", "ord")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def freetext_lookup(
    model: DataFrame, analyzer, key: str, k: int = 10, grams: int = 3
) -> DataFrame:
    """(rank, surface, lastfrag, score): stupid-backoff next-token
    prediction (FreeTextSuggester.java:435-725, "Large language models in
    machine translation" Brants et al. 2007).

    Faithful to the reference's lookup: the analyzed key's last 1..grams
    tokens form one probe per model order, highest order first; the final
    token matches as a PREFIX unless the key ends with discarded chars
    (then it upgrades to a context token and the unigram probe is
    skipped, FreeTextSuggester.java:503-519); each descent level damps
    the score by ALPHA=0.4 (both the no-such-prefix path and the after-
    emitting path multiply once per level, FreeTextSuggester.java:568,
    702); score = backoff * count(gram) / count(context) (totTokens for
    the unigram model); a last token predicted by a higher-order model is
    skipped in lower ones (the ``seen`` set = keep the highest-order row
    per predicted token here); final order score desc / surface asc
    (FreeTextSuggester.java:705-719).

    Unlike the reference's per-model TopNSearcher (queue depth num+|seen|)
    this keeps EVERY candidate per level and cuts once at the end — the
    final top-k is identical (within one model score is proportional to
    count with a shared denominator, so any candidate the reference's
    queue dropped is dominated by >= k same-model survivors) and the
    relation form avoids a driver-side iterative search."""
    from pyspark.sql import Window

    toks = analyzer.analyze_query(key)
    if not toks:
        raise ValueError("no tokens produced by analyzer")
    last_ended = key != key.rstrip()
    tot = model.filter(F.col("ord") == 1).agg(F.sum("cnt")).collect()[0][0] or 0

    levels = []
    shift = 0
    for o in range(grams, 0, -1):
        if last_ended:
            # "upgrade": the whole last token becomes context; order-o probe
            # needs o-1 context tokens, the unigram probe is skipped
            if o == 1 or len(toks) < o - 1:
                continue
            ctx_toks = toks[-(o - 1):]
            probe = " ".join(ctx_toks) + " "
        else:
            if len(toks) < o:
                continue
            ctx_toks = toks[-o:-1]
            probe = " ".join(toks[-o:])
        backoff = FREETEXT_ALPHA ** shift
        shift += 1
        lvl = model.filter(
            (F.col("ord") == o) & F.col("gram").startswith(probe)
        )
        if ctx_toks:
            ctx_gram = " ".join(ctx_toks)
            ctx_rows = model.filter(
                (F.col("ord") == o - 1) & (F.col("gram") == ctx_gram)
            ).collect()
            if not ctx_rows:
                continue  # context unseen -> this model has no predictions
            denom = float(ctx_rows[0]["cnt"])
        else:
            denom = float(tot)
        if denom <= 0:
            continue
        levels.append(
            lvl.select(
                F.col("gram").alias("surface"),
                F.element_at(F.split(F.col("gram"), " "), -1).alias("lastfrag"),
                (F.lit(backoff) * F.col("cnt") / F.lit(denom)).alias("score"),
                F.col("ord"),
            )
        )
    if not levels:
        return model.select(
            F.lit(1).alias("rank"),
            F.lit("").alias("surface"),
            F.lit("").alias("lastfrag"),
            F.lit(0.0).alias("score"),
        ).limit(0)
    u = levels[0]
    for p in levels[1:]:
        u = u.unionByName(p)
    dedup = Window.partitionBy("lastfrag").orderBy(F.desc("ord"))
    cand = (
        u.withColumn("_rn", F.row_number().over(dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "ord")
    )
    top = cand.orderBy(F.desc("score"), F.asc("surface")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("surface"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "surface",
        "lastfrag",
        "score",
    ).orderBy("rank")
