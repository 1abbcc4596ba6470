"""Text analysis for training-data curation: language id, quality scoring,
token counting, document fingerprinting.

All operators are pure JVM column expressions (whole-stage codegen, no
Python in the hot path) over a documents DataFrame ``(doc_id, text, ...)``,
and each has an exact ANSI-SQL equivalent used by the driver's oracle —
ratios are computed from integer counts with a fixed expression shape, so
IEEE-double results are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_RX = "[a-z0-9]+"
# BPE-ish segmentation (GPT-2 spirit, RE2-compatible: no lookarounds):
# word pieces, number pieces, punctuation runs — each optionally preceded
# by one space.
BPE_RX = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

# small function-word inventories for the n-gram-free language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "zu"],
    "fr": ["le", "la", "les", "et", "est", "des", "une", "dans", "que", "pour"],
    "es": ["el", "los", "las", "es", "una", "del", "por", "con", "para", "como"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break priority

EN_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "as", "at", "be", "by", "on", "or"]


def tokens(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RX), 0)


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_bpe_tokens, n_chars) — whitespace/word tokens
    plus a BPE-ish regex segmentation count (pretraining cost estimates)."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.size(tokens(t)).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower(t), F.lit(BPE_RX), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


def token_counts_sql(doc_rel: str) -> str:
    return f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{TOKEN_RX}')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(lower(text), '{BPE_RX}')) AS BIGINT) AS n_bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM {doc_rel}"""


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, quality_i) in [0, 1000] from length / punctuation /
    stopword-ratio / mean-word-length signals (heuristic quality filter).

    quality = 1000 * (0.35*len_score + 0.25*(1-punct_ratio)
                      + 0.25*stop_score + 0.15*wordlen_score)
    computed from integer counts; round at the end only."""
    t = F.lower(F.col(text_col))
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_punct = F.size(F.regexp_extract_all(t, F.lit("[^a-z0-9 ]"), 0))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    sum_wlen = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    len_score = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double")).otherwise(0.0)
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double")).otherwise(0.0)
    stop_score = F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
    mean_wlen = F.when(n_tok > 0, sum_wlen.cast("double") / n_tok.cast("double")).otherwise(0.0)
    wordlen_score = F.when(
        (mean_wlen >= 3.0) & (mean_wlen <= 8.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    q = (
        F.lit(0.35) * len_score
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * stop_score
        + F.lit(0.15) * wordlen_score
    )
    return docs.select(
        "doc_id", F.round(q * F.lit(1000.0)).cast("long").alias("quality_i")
    )


def quality_scores_sql(doc_rel: str) -> str:
    stop = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
WITH c AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '{TOKEN_RX}') AS toks,
         length(text) AS n_chars,
         len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS n_punct
  FROM {doc_rel}
), m AS (
  SELECT doc_id, n_chars, n_punct,
         len(toks) AS n_tok,
         len(list_filter(toks, x -> x IN ({stop}))) AS n_stop,
         list_sum(list_transform(toks, x -> length(x))) AS sum_wlen
  FROM c
)
SELECT doc_id,
  CAST(round(1000.0 * (
    0.35 * least(CAST(n_tok AS DOUBLE) / 100.0, 1.0)
  + 0.25 * (1.0 - CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END)
  + 0.25 * least(CASE WHEN n_tok > 0 THEN CAST(n_stop AS DOUBLE) / n_tok ELSE 0.0 END * 4.0, 1.0)
  + 0.15 * CASE WHEN n_tok > 0 AND CAST(sum_wlen AS DOUBLE) / n_tok BETWEEN 3.0 AND 8.0
           THEN 1.0 ELSE 0.0 END)) AS BIGINT) AS quality_i
FROM m"""


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang) — function-word-count heuristic + CJK detection.

    zh wins if any CJK codepoint appears; otherwise the language with the
    most function-word hits (ties broken by LANG_ORDER); 'und' if no hits.
    """
    toks = tokens(F.col(text_col))

    def _in_set(arr):
        # single-arg lambda factory: a default-arg lambda would be seen by
        # PySpark as the two-arg (element, index) higher-order signature
        return lambda x: F.array_contains(arr, x)

    counts = {}
    for lang, ws in LANG_MARKERS.items():
        counts[lang] = F.size(
            F.filter(toks, _in_set(F.array(*[F.lit(w) for w in ws])))
        )
    has_cjk = F.length(F.regexp_extract(F.col(text_col), "[\\u4e00-\\u9fff]", 0)) > 0
    best = F.greatest(*[counts[lg] for lg in LANG_ORDER])
    pred = F.lit("und")
    for lg in reversed(LANG_ORDER):  # earlier languages override on ties
        pred = F.when(counts[lg] == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    pred = F.when(has_cjk, F.lit("zh")).otherwise(pred)
    return docs.select("doc_id", pred.alias("pred_lang"))


def lang_id_sql(doc_rel: str) -> str:
    cnt = {
        lg: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lg, ws in LANG_MARKERS.items()
    }
    best = f"greatest({', '.join(cnt[lg] for lg in LANG_ORDER)})"
    pred = "'und'"
    for lg in reversed(LANG_ORDER):
        pred = f"CASE WHEN {cnt[lg]} = best THEN '{lg}' ELSE {pred} END"
    return f"""
WITH c AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '{TOKEN_RX}') AS toks
  FROM {doc_rel}
), m AS (
  SELECT doc_id, text, toks, {best} AS best FROM c
)
SELECT doc_id,
  CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
       WHEN best = 0 THEN 'und'
       ELSE {pred} END AS pred_lang
FROM m"""


FP_K = 5  # token k-gram size for fingerprint shingles
FP_W = 4  # winnowing window (in consecutive k-gram positions)


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp) — winnowing fingerprints (Schleimer et al.): hash every
    token 5-gram, keep the minimum hash of each sliding window of 4
    consecutive k-grams, emit distinct survivors.  Standard near-dup /
    provenance fingerprints; ~|tokens|/w values per doc."""
    from pyspark.sql import Window
    from lucene_spark.pipeline.hashes import h60

    toks = tokens(F.col(text_col))
    # guard: Spark's sequence(1, 0) yields a DESCENDING [1,0], not empty
    grams = F.when(
        F.size(toks) >= FP_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(FP_K - 1)),
            lambda i: F.array_join(F.slice(toks, i, FP_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    g = g.select("doc_id", "pos", h60(F.col("gram")).alias("h"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(FP_W - 1), Window.currentRow)
    )
    return g.select("doc_id", F.min("h").over(w).alias("fp")).distinct()


def fingerprints_sql(doc_rel: str) -> str:
    from lucene_spark.pipeline.hashes import h60_sql

    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RX}') AS toks
  FROM {doc_rel}
), g AS (
  SELECT doc_id, i AS pos,
         {h60_sql(f"array_to_string(list_slice(toks, i, i + {FP_K - 1}), ' ')")} AS h
  FROM t, LATERAL unnest(range(1, greatest(len(toks) - {FP_K - 2}, 1))) AS u(i)
), wmin AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {FP_W - 1} PRECEDING AND CURRENT ROW) AS fp
  FROM g
)
SELECT DISTINCT doc_id, fp FROM wmin"""


def token_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp) — FingerprintFilter's single summary token
    (miscellaneous/FingerprintFilter.java:96-150: gather all tokens,
    de-duplicate, sort, concatenate with ' ') — the Solr-style clustering
    / dedup key.  Declared subset: no maxOutputTokenSize cap (the
    reference default is 1024 chars and the cap's keep-set depends on
    input order — out of the deterministic contract); an empty token
    stream yields NULL (the reference emits no token).  Pure JVM:
    array_distinct + array_sort + array_join."""
    toks = tokens(F.col(text_col))
    joined = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return docs.select(
        "doc_id",
        F.when(F.size(toks) > 0, joined).alias("fp"),
    )


def token_fingerprint_sql(doc_rel: str) -> str:
    """DuckDB twin — array_to_string over an empty list is already NULL
    in DuckDB, matching the empty-stream contract."""
    return f"""
SELECT doc_id,
       CASE WHEN len(regexp_extract_all(lower(text), '{TOKEN_RX}')) > 0
            THEN array_to_string(list_sort(list_distinct(
                   regexp_extract_all(lower(text), '{TOKEN_RX}'))), ' ')
       END AS fp
FROM {doc_rel}"""


# ---------------------------------------------------------------------------
# corpus-level boilerplate line removal (C4-style line dedup)


def _line_rows(docs: DataFrame, text_col: str):
    return docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line")
    ).withColumn("norm", F.trim(F.lower(F.col("line"))))


def remove_boilerplate_lines(
    docs: DataFrame, text_col: str = "text", min_doc_freq: int = 3
) -> DataFrame:
    """(doc_id, clean_text, n_removed): drop every line whose normalized
    form (trimmed, lowercased) appears in >= ``min_doc_freq`` DISTINCT
    documents — the C4/web-pipeline boilerplate-line filter (nav bars,
    cookie banners, footers repeat across pages; real content doesn't).

    Scale shape: one explode -> one hash agg for the line document
    frequencies -> one shuffle join back -> one per-doc re-assembly agg.
    The line-frequency relation is NOT broadcast (it is corpus-sized); AQE
    may still choose broadcast when it turns out small.  Blank lines are
    always kept (they carry formatting, not boilerplate).
    """
    lines = _line_rows(docs, text_col)
    boiler = (
        lines.filter(F.length("norm") > 0)
        .groupBy("norm")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= min_doc_freq)
        .select("norm", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, "norm", "left")
    kept = F.when(
        F.col("is_boiler").isNull(),
        F.struct(F.col("line_no"), F.col("line")),
    )  # collect_list skips NULLs -> boilerplate lines drop out
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["line"]
                ),
            ).alias("clean_text"),
            F.sum(F.when(F.col("is_boiler").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
        )
    )


def remove_boilerplate_lines_sql(doc_rel: str, min_doc_freq: int = 3) -> str:
    return f"""
WITH l AS (
  SELECT doc_id, generate_subscripts(ls, 1) AS line_no, unnest(ls) AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM {doc_rel})
), ln AS (
  SELECT doc_id, line_no, line, trim(lower(line)) AS norm FROM l
), boiler AS (
  SELECT norm FROM ln WHERE length(norm) > 0
  GROUP BY norm HAVING count(DISTINCT doc_id) >= {min_doc_freq}
)
SELECT ln.doc_id,
       coalesce(string_agg(CASE WHEN b.norm IS NULL THEN ln.line END,
                           chr(10) ORDER BY ln.line_no), '') AS clean_text,
       CAST(count(b.norm) AS BIGINT) AS n_removed
FROM ln LEFT JOIN boiler b ON ln.norm = b.norm
GROUP BY ln.doc_id"""


# ---------------------------------------------------------------------------
# Gopher-style repetition signals


def _word_ngrams(text_col: str, n: int):
    toks = tokens(F.col(text_col))
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, dup_line_frac_i, top_2gram_frac_i, top_3gram_frac_i):
    within-document repetition signals from the Gopher data-quality rules
    (Rae et al. 2021 "Scaling Language Models", Table A1): fraction of
    duplicate lines, and the frequency share of the single most repeated
    word 2-gram / 3-gram.  Fractions are emitted as round(10000*x) integers
    so two engines compare bit-identically.

    Scale shape: three independent explode+hash-agg branches joined on
    doc_id — each branch is map-side combinable; nothing is collected.
    """

    def _top_frac(n: int, out: str):
        g = docs.select(
            "doc_id", F.explode(_word_ngrams(text_col, n)).alias("g")
        )
        per = g.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
        return per.groupBy("doc_id").agg(
            F.round(F.lit(10000.0) * F.max("c") / F.sum("c"))
            .cast("long")
            .alias(out)
        )

    lines = _line_rows(docs, text_col).filter(F.length("norm") > 0)
    dup_lines = (
        lines.groupBy("doc_id", "norm")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.lit(10000.0) * (F.sum("c") - F.count("*")) / F.sum("c")
            )
            .cast("long")
            .alias("dup_line_frac_i")
        )
    )
    out = (
        docs.select("doc_id")
        .join(dup_lines, "doc_id", "left")
        .join(_top_frac(2, "top_2gram_frac_i"), "doc_id", "left")
        .join(_top_frac(3, "top_3gram_frac_i"), "doc_id", "left")
    )
    return out.select(
        "doc_id",
        F.coalesce("dup_line_frac_i", F.lit(0)).alias("dup_line_frac_i"),
        F.coalesce("top_2gram_frac_i", F.lit(0)).alias("top_2gram_frac_i"),
        F.coalesce("top_3gram_frac_i", F.lit(0)).alias("top_3gram_frac_i"),
    )


def repetition_scores_sql(doc_rel: str) -> str:
    def top_frac(n: int, out: str) -> str:
        return f"""
  SELECT doc_id, CAST(round(10000.0 * max(c) / sum(c)) AS BIGINT) AS {out}
  FROM (
    SELECT doc_id, g, count(*) AS c FROM (
      SELECT doc_id,
             array_to_string(list_slice(toks, i, i + {n - 1}), ' ') AS g
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RX}') AS toks
            FROM {doc_rel}),
           LATERAL unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS u(i)
      WHERE len(toks) >= {n}
    ) GROUP BY 1, 2
  ) GROUP BY doc_id"""

    return f"""
WITH lines AS (
  SELECT doc_id, trim(lower(unnest(string_split(text, chr(10))))) AS norm
  FROM {doc_rel}
), dl AS (
  SELECT doc_id,
         CAST(round(10000.0 * (sum(c) - count(*)) / sum(c)) AS BIGINT)
           AS dup_line_frac_i
  FROM (SELECT doc_id, norm, count(*) AS c FROM lines
        WHERE length(norm) > 0 GROUP BY 1, 2)
  GROUP BY doc_id
), g2 AS ({top_frac(2, "top_2gram_frac_i")}
), g3 AS ({top_frac(3, "top_3gram_frac_i")}
)
SELECT d.doc_id,
       coalesce(dl.dup_line_frac_i, 0) AS dup_line_frac_i,
       coalesce(g2.top_2gram_frac_i, 0) AS top_2gram_frac_i,
       coalesce(g3.top_3gram_frac_i, 0) AS top_3gram_frac_i
FROM (SELECT doc_id FROM {doc_rel}) d
LEFT JOIN dl ON d.doc_id = dl.doc_id
LEFT JOIN g2 ON d.doc_id = g2.doc_id
LEFT JOIN g3 ON d.doc_id = g3.doc_id"""


# ---------------------------------------------------------------------------
# PII redaction (training-data curation): emails, credit-card-shaped
# numbers, IPv4 addresses, phone numbers -> typed placeholders.  The
# patterns are deliberately conservative (no lookarounds, so one literal
# pattern set runs identically in Java regex, RE2, and Python) and are
# applied IN ORDER on the progressively redacted text — a credit card is
# never double-counted as a phone number because the <CC> placeholder has
# already replaced it.  All JVM expressions; no UDF.

PII_PATTERNS = (
    # (name, pattern, placeholder) — applied in this order
    ("email", r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("cc", r"\b\d{4}[ \-]\d{4}[ \-]\d{4}[ \-]\d{4}\b", "<CC>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (
        "phone",
        r"\+\d{1,3}[ \-]\d{6,12}\b|\b\d{3}[ \-]\d{3}[ \-]\d{4}\b|\(\d{3}\) ?\d{3}-\d{4}",
        "<PHONE>",
    ),
)


def redact_pii(
    docs: DataFrame, text_col: str = "text", with_text: bool = False
) -> DataFrame:
    """(doc_id, n_email, n_cc, n_ip, n_phone, redacted_md5) — per-category
    match counts plus an md5 of the fully redacted text (the md5 makes the
    redaction output itself cross-engine checkable without hauling text
    through the compare).  ``with_text=True`` appends the redacted text
    itself (the pipeline-consumption shape)."""
    t = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long").alias(f"n_{name}")
        )
        t = F.regexp_replace(t, pat, repl)
    cols = ["doc_id", *counts, F.md5(t).alias("redacted_md5")]
    if with_text:
        cols.append(t.alias("redacted_text"))
    return docs.select(*cols)


def redact_pii_sql(doc_rel: str) -> str:
    # one CTE per step so each count sees the previous step's redaction
    ctes, cur_rel, cur_text = [], doc_rel, "text"
    for (name, pat, repl) in PII_PATTERNS:
        p = pat.replace("'", "''")
        ctes.append(
            f"s_{name} AS (SELECT *, len(regexp_extract_all({cur_text}, '{p}')) AS n_{name},"
            f" regexp_replace({cur_text}, '{p}', '{repl}', 'g') AS t_{name}"
            f" FROM {cur_rel})"
        )
        cur_rel, cur_text = f"s_{name}", f"t_{name}"
    names = ", ".join(f"n_{n}" for n, _, _ in PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {names}, md5({cur_text}) AS redacted_md5 FROM {cur_rel}"
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (training-data curation): flag training docs
# that share any word n-gram with an evaluation/benchmark corpus — the
# standard n-gram-overlap decontamination used for LLM training sets
# (GPT-3 appendix C / Llama eval-decontamination style, 8-gram default).

DECONTAM_N = 8


def _ngram_hashes(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(doc_id, h) — distinct h60 hashes of the doc's word n-grams."""
    from lucene_spark.pipeline.hashes import h60

    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.explode(grams).alias("gram"))
        .select("doc_id", h60(F.col("gram")).alias("h"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DECONTAM_N,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits, contaminated) over ``docs``: n_hits = how many of
    the doc's distinct word n-grams appear anywhere in ``benchmark``
    (doc_id/text relation), contaminated = 1 if any.

    100 TB shape: both sides reduce to (doc_id, h) n-gram-hash relations;
    the benchmark side is DISTINCT hashes only (eval corpora are tiny next
    to training corpora — broadcast when small, plain shuffle join
    otherwise, AQE picks), and the training side never materializes the
    gram strings past the hash projection."""
    d = _ngram_hashes(docs, n, text_col)
    b = _ngram_hashes(benchmark, n, text_col).select("h").distinct()
    hits = (
        d.join(b, "h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.when(F.col("n_hits") > 0, 1).otherwise(0).cast("int").alias("contaminated"),
        )
    )


def decontaminate_sql(doc_rel: str, bench_rel: str, n: int = DECONTAM_N) -> str:
    from lucene_spark.pipeline.hashes import h60_sql

    def grams(rel: str) -> str:
        return f"""
  SELECT DISTINCT doc_id,
         {h60_sql(f"array_to_string(list_slice(toks, i, i + {n - 1}), ' ')")} AS h
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RX}') AS toks
        FROM {rel}),
       LATERAL unnest(range(1, greatest(len(toks) - {n - 2}, 1))) AS u(i)
  WHERE len(toks) >= {n}"""

    return f"""
WITH d AS ({grams(doc_rel)}),
b AS (SELECT DISTINCT h FROM ({grams(bench_rel)})),
hits AS (
  SELECT d.doc_id, count(*) AS n_hits FROM d JOIN b USING (h) GROUP BY 1
)
SELECT t.doc_id,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(CASE WHEN coalesce(hits.n_hits, 0) > 0 THEN 1 ELSE 0 END AS INT)
         AS contaminated
FROM (SELECT doc_id FROM {doc_rel}) t
LEFT JOIN hits ON t.doc_id = hits.doc_id"""


def unigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tok, lm_i): per-document cross-entropy under the CORPUS
    unigram language model — the CCNet-style perplexity quality signal
    (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
    from Web Crawl Data", LREC 2020 — their filter uses a wiki-trained
    KenLM; with no external model the corpus's own unigram LM is the
    deterministic stand-in).  lm_i = round(10000 * mean over tokens of
    -ln(count(t)/total_tokens)); LOW values = typical text, HIGH =
    surprising/garbled.  Zero-token docs are dropped (no distribution to
    score under).

    Scale shape: tokens explode into (doc_id, term) once; the unigram
    model is a hash agg of that same relation; scoring joins term -> count
    (shuffle on term, the postings key) and re-aggregates per doc.  No
    UDF, no broadcast of anything corpus-sized."""
    toks = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("term"))
    model = toks.groupBy("term").agg(F.count("*").cast("double").alias("_cnt"))
    tot = toks.count()
    scored = (
        toks.join(model, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum(-F.log(F.col("_cnt") / F.lit(float(tot)))).alias("_nll"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tok",
        F.round(F.col("_nll") / F.col("n_tok") * 10000).cast("long").alias("lm_i"),
    )


def unigram_lm_sql(doc_rel: str) -> str:
    """DuckDB twin of unigram_lm_scores — identical expression shape."""
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RX}')) AS term
  FROM {doc_rel}
),
model AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS cnt FROM toks GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
scored AS (
  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         sum(-ln(m.cnt / tot.n)) AS nll
  FROM toks t JOIN model m USING (term) CROSS JOIN tot
  GROUP BY 1
)
SELECT doc_id, n_tok, CAST(round(nll / n_tok * 10000) AS BIGINT) AS lm_i
FROM scored"""


def _gram_starts(docs: DataFrame, k: int, text_col: str) -> DataFrame:
    """(doc_id, p, h) — EVERY k-gram occurrence with its 0-based start
    position (not distinct: exact-substring stats count occurrences)."""
    from lucene_spark.pipeline.hashes import h60

    toks = tokens(F.col(text_col))
    entries = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
            lambda i: F.struct(
                (i - 1).cast("int").alias("p"),
                F.array_join(F.slice(toks, i, k), " ").alias("gram"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<p:int,gram:string>>"))
    return docs.select("doc_id", F.explode(entries).alias("_e")).select(
        "doc_id", F.col("_e.p").alias("p"), h60(F.col("_e.gram")).alias("h")
    )


def duplicated_ngram_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    skip_canonical: bool = False,
) -> DataFrame:
    """Exact-substring duplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    detector at k-token granularity): per doc, the merged token spans
    [start, end) every k-window of which occurs >= 2 times in the corpus
    (intra- or cross-document).

    Returns (doc_id, spans array<struct<start,end>>, n_dup_tokens,
    n_tokens).  ``skip_canonical=True`` exempts, per k-gram, its canonical
    occurrence: the first one, smallest doc_id then smallest start position,
    the same key :func:`remove_duplicated_ngrams` keeps.  A gram repeated
    inside its canonical doc is exempt only at its first position there.

    100 TB shape: gram occurrences reduce to (doc_id, p, h60) — gram
    strings never shuffle; stats are ONE hash agg per gram hash; the
    span merge is a per-doc sorted fold (JVM aggregate over the starts
    array, no UDF)."""
    g = _gram_starts(docs, k, text_col)
    st = g.groupBy("h").agg(
        F.count("*").alias("_cnt"), F.min(F.struct("doc_id", "p")).alias("_mk")
    )
    dup = g.join(st, "h").filter(F.col("_cnt") >= 2)
    if skip_canonical:
        dup = dup.filter(
            (F.col("_mk.doc_id") != F.col("doc_id")) | (F.col("_mk.p") != F.col("p"))
        )
    starts = dup.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("p")).alias("_ps")
    )
    span_t = "array<struct<start:int,end:int>>"
    init = F.struct(
        F.array().cast(span_t).alias("acc"),
        F.lit(-1).cast("int").alias("cs"),
        F.lit(-1).cast("int").alias("ce"),
    )

    def step(a, p):
        close = F.concat(
            a["acc"],
            F.array(F.struct(a["cs"].alias("start"), a["ce"].alias("end"))),
        )
        return (
            F.when(
                a["cs"] < 0,
                F.struct(
                    a["acc"].alias("acc"),
                    p.cast("int").alias("cs"),
                    (p + k).cast("int").alias("ce"),
                ),
            )
            .when(
                p <= a["ce"],
                F.struct(
                    a["acc"].alias("acc"),
                    a["cs"].alias("cs"),
                    (p + k).cast("int").alias("ce"),
                ),
            )
            .otherwise(
                F.struct(
                    close.alias("acc"),
                    p.cast("int").alias("cs"),
                    (p + k).cast("int").alias("ce"),
                )
            )
        )

    def fin(a):
        return F.when(
            a["cs"] >= 0,
            F.concat(
                a["acc"],
                F.array(
                    F.struct(a["cs"].alias("start"), a["ce"].alias("end"))
                ),
            ),
        ).otherwise(a["acc"])

    spans = F.aggregate(F.col("_ps"), init, step, fin)
    merged = starts.select("doc_id", spans.alias("spans"))
    base = docs.select(
        "doc_id", F.size(tokens(F.col(text_col))).alias("n_tokens")
    )
    out = base.join(merged, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("spans"), F.array().cast(span_t)).alias("spans"),
        F.coalesce(
            F.aggregate(
                "spans", F.lit(0), lambda a, s: a + (s["end"] - s["start"])
            ),
            F.lit(0),
        ).cast("int").alias("n_dup_tokens"),
        F.greatest(F.col("n_tokens"), F.lit(0)).cast("int").alias("n_tokens"),
    )
    return out


def remove_duplicated_ngrams(
    docs: DataFrame, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Keep-one-copy exact-substring removal: a token is dropped when it
    is covered by a duplicated k-window that is not the gram's canonical
    occurrence (the first one: smallest doc_id, then smallest start
    position) — UNLESS some covering duplicated window is canonical, which
    protects that copy (without the protection rule, overlapping gram
    clusters with different canonical docs could destroy every copy of a
    substring).  A gram repeated inside its canonical doc keeps only its
    first copy there.  Docs with nothing to remove keep their ORIGINAL text
    verbatim; rewritten docs are rebuilt from the surviving normalized
    tokens (space-joined — token-level surgery cannot preserve the raw
    punctuation around removed spans)."""
    g = _gram_starts(docs, k, text_col)
    st = g.groupBy("h").agg(
        F.count("*").alias("_cnt"), F.min(F.struct("doc_id", "p")).alias("_mk")
    )
    dup = g.join(st, "h").filter(F.col("_cnt") >= 2)
    canonical = (F.col("_mk.doc_id") == F.col("doc_id")) & (
        F.col("_mk.p") == F.col("p")
    )
    per_doc = dup.groupBy("doc_id").agg(
        F.array_sort(F.collect_set(F.when(~canonical, F.col("p")))).alias(
            "_drop_ps"
        ),
        F.array_sort(F.collect_set(F.when(canonical, F.col("p")))).alias(
            "_keep_ps"
        ),
    )
    toks = tokens(F.col(text_col))
    joined = docs.select(
        "doc_id", F.col(text_col).alias("_orig"), toks.alias("_t")
    ).join(per_doc, "doc_id", "left")

    def windows(ps):
        return F.transform(
            F.coalesce(ps, F.array().cast("array<int>")),
            lambda p: F.struct(
                p.alias("start"), (p + k).cast("int").alias("end")
            ),
        )

    drop_w = windows(F.col("_drop_ps"))
    keep_w = windows(F.col("_keep_ps"))

    def covered(ws, i):
        return F.exists(ws, lambda s: (i >= s["start"]) & (i < s["end"]))

    kept = F.filter(
        F.col("_t"),
        lambda t, i: ~covered(drop_w, i) | covered(keep_w, i),
    )
    rebuilt = F.array_join(kept, " ")
    return joined.select(
        "doc_id",
        F.when(F.size(kept) == F.size("_t"), F.col("_orig"))
        .otherwise(rebuilt)
        .alias("text"),
    )
