"""Packed segment format: postings -> delta/varint blocks + skip metadata.

≙ the reference's flush/merge pipeline (SURVEY.md §3.1):
``FreqProxTermsWriter`` iterating terms in sorted order into
``Lucene99PostingsWriter`` 128-blocks (Lucene99PostingsWriter.java:214),
re-expressed as ONE sort-merge shuffle keyed by ``(term, chunk)`` + a
vectorized Arrow/pandas encode (no per-posting Python).

**Chunking = explicit skew handling (the north rule's head-term salting).**
A term's posting list is split into doc-id-range chunks
(``chunk = doc_id >> chunk_bits``), so:

* no single task ever holds a head term's ("the") whole posting list — the
  list lands in bounded-size groups spread across the shuffle (the salt),
  recombined at query time by reading chunks in doc-id order (chunk ranges
  are disjoint and ordered);
* chunks are **aligned across terms** (same doc-id ranges), which makes
  block-max pruning compositional: for an OR-of-terms query, the best
  possible score of any doc in chunk ``c`` is the sum over query terms of
  that term's chunk-``c`` max impact score — the WAND/MaxScore upper bound
  (reference: MaxScoreCache.java:34,72; WANDScorer.java:123) computed with
  one hash aggregation instead of pointer-chasing skip lists.

Within a chunk, postings are encoded in 128-entry blocks with per-block
``(last_doc, max_freq, min_norm)`` impacts (codec.py) — fine-grained skip
data (≙ Lucene99SkipWriter.java:48,153); chunk-level ``max_freq/min_norm``
columns give a JVM-side prunable upper bound without touching the binary
payload (and land in parquet min/max stats for scan-level pruning).
"""

from __future__ import annotations

from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.index.codec import decode_posting_list, encode_posting_lists_batch
from lucene_spark.util.sqlrel import Rel, sql_udf

DEFAULT_CHUNK_BITS = 14  # 16384-doc ranges; a head-term chunk <= 16384 postings

SKIP_TYPE = ArrayType(
    StructType(
        [
            StructField("last_doc", LongType()),
            StructField("max_freq", IntegerType()),
            StructField("min_norm", IntegerType()),
            StructField("off_docs", IntegerType()),
            StructField("off_freqs", IntegerType()),
            StructField("off_pos", IntegerType()),
            StructField("n", IntegerType()),
        ]
    )
)

_ENC_TYPE = StructType(
    [
        StructField("docs_enc", BinaryType()),
        StructField("freqs_enc", BinaryType()),
        StructField("norms_enc", BinaryType()),
        StructField("pos_enc", BinaryType()),
        StructField("skip", SKIP_TYPE),
    ]
)


def pack_postings(
    postings: DataFrame,
    chunk_bits: int = DEFAULT_CHUNK_BITS,
    with_positions: bool = True,
) -> DataFrame:
    """Logical postings (term, doc_id, freq, positions, norm) -> packed blocks.

    One shuffle keyed by (term, chunk) — the segment-merge sort-merge shuffle
    (≙ SegmentMerger.merge, core/index/SegmentMerger.java:109: postings from
    all per-partition segments of the same term meet here, in doc order).
    The encode itself is a *projection* (scalar Arrow UDF over the gathered
    arrays), so Catalyst keeps it in the same stage as the aggregation.
    """
    gathered = (
        postings.withColumn("chunk", F.shiftright(F.col("doc_id"), chunk_bits))
        .groupBy("term", "chunk")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("freq").alias("freq"),
                        F.col("norm").alias("norm"),
                        *(
                            [F.col("positions").alias("positions")]
                            if with_positions
                            else []
                        ),
                    )
                )
            ).alias("plist")
        )
        .select(
            "term",
            "chunk",
            F.col("plist.doc_id").alias("doc_ids"),
            F.col("plist.freq").alias("freqs"),
            F.col("plist.norm").alias("norms"),
            *([F.col("plist.positions").alias("poss")] if with_positions else []),
        )
    )

    if with_positions:

        @F.pandas_udf(_ENC_TYPE)
        def enc_udf(
            doc_ids: pd.Series, freqs: pd.Series, norms: pd.Series, poss: pd.Series
        ) -> pd.DataFrame:
            rows = encode_posting_lists_batch(
                [np.asarray(d, dtype=np.int64) for d in doc_ids],
                [np.asarray(f, dtype=np.int64) for f in freqs],
                [np.asarray(m, dtype=np.int64) for m in norms],
                [[np.asarray(p, dtype=np.int64) for p in row] for row in poss],
            )
            return pd.DataFrame(rows)

        enc = enc_udf("doc_ids", "freqs", "norms", "poss")
    else:

        @F.pandas_udf(_ENC_TYPE)
        def enc_udf(
            doc_ids: pd.Series, freqs: pd.Series, norms: pd.Series
        ) -> pd.DataFrame:
            rows = encode_posting_lists_batch(
                [np.asarray(d, dtype=np.int64) for d in doc_ids],
                [np.asarray(f, dtype=np.int64) for f in freqs],
                [np.asarray(m, dtype=np.int64) for m in norms],
            )
            for r in rows:
                r["pos_enc"] = None
            return pd.DataFrame(rows)

        enc = enc_udf("doc_ids", "freqs", "norms")

    return gathered.select(
        "term",
        "chunk",
        F.size("doc_ids").alias("doc_freq_chunk"),
        F.element_at("doc_ids", 1).alias("first_doc"),
        F.element_at("doc_ids", -1).alias("last_doc"),
        F.array_max("freqs").alias("max_freq"),
        F.array_min("norms").alias("min_norm"),
        enc.alias("_e"),
    ).select(
        "term",
        "chunk",
        "doc_freq_chunk",
        "first_doc",
        "last_doc",
        "max_freq",
        "min_norm",
        F.col("_e.docs_enc").alias("docs_enc"),
        F.col("_e.freqs_enc").alias("freqs_enc"),
        F.col("_e.norms_enc").alias("norms_enc"),
        F.col("_e.pos_enc").alias("pos_enc"),
        F.col("_e.skip").alias("skip"),
    )


_DEC_TYPE = StructType(
    [
        StructField("doc_ids", ArrayType(LongType())),
        StructField("freqs", ArrayType(IntegerType())),
        StructField("norms", ArrayType(IntegerType())),
    ]
)

_DEC_POS_TYPE = StructType(
    _DEC_TYPE.fields + [StructField("poss", ArrayType(ArrayType(IntegerType())))]
)


def _decode_batch(docs_enc, freqs_enc, norms_enc, pos_enc=None) -> pd.DataFrame:
    with_positions = pos_enc is not None
    out = {"doc_ids": [], "freqs": [], "norms": []} | ({"poss": []} if with_positions else {})
    for d, f, m, p in zip(docs_enc, freqs_enc, norms_enc, pos_enc if with_positions else repeat(None)):
        doc_ids, freqs, norms, *pos = decode_posting_list(
            bytes(d), bytes(f), bytes(m), pos_enc=bytes(p) if with_positions else None
        )
        out["doc_ids"].append(doc_ids)
        out["freqs"].append(freqs.astype(np.int32))
        out["norms"].append(norms.astype(np.int32))
        if with_positions:
            out["poss"].append([pp.astype(np.int32) for pp in pos[0]])
    return pd.DataFrame(out)


def _unpack_udf(with_positions: bool):
    @F.pandas_udf(_DEC_POS_TYPE if with_positions else _DEC_TYPE)
    def dec_udf(*encoded: pd.Series) -> pd.DataFrame:
        return _decode_batch(*encoded)

    return dec_udf


def unpack_rel(packed: Rel, spark, with_positions: bool = False) -> Rel:
    """:func:`unpack_postings` over a relation in SQL text."""
    udf = sql_udf(
        spark,
        "ls_unpack_positions" if with_positions else "ls_unpack_postings",
        lambda: _unpack_udf(with_positions),
    )
    fields = ["doc_ids", "freqs", "norms"] + (["poss"] if with_positions else [])
    names = ["doc_id", "freq", "norm"] + (["positions"] if with_positions else [])
    args = "docs_enc, freqs_enc, norms_enc" + (", pos_enc" if with_positions else "")
    zipped = ", ".join(f"_dec.{c}" for c in fields)
    return (
        packed.query(f"term, {udf}({args}) AS _dec")
        .query(f"term, explode(arrays_zip({zipped})) AS z")
        .query("term, " + ", ".join(f"z.{c} AS {n}" for c, n in zip(fields, names)))
    )


def unpack_postings(packed: DataFrame, with_positions: bool = False) -> DataFrame:
    """Packed blocks -> logical postings (term, doc_id, freq, norm[, positions]).

    The decode runs as an Arrow-batched pandas UDF producing whole arrays per
    chunk; the explode back to rows stays JVM-side (arrays_zip + explode).
    The plan is rendered as SQL text and parsed in one call, and the UDF is
    registered once per session and called by name (``util/sqlrel.py``).
    """
    spark = packed.sparkSession
    return unpack_rel(Rel.of(packed), spark, with_positions).df(spark)
