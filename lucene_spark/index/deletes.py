"""Deletes / updates: tombstones applied at read and expunged at merge.

≙ the reference's delete pipeline (core/index/IndexWriter.java:1786
``deleteDocuments(Term...)`` / :1834 ``updateDocument``, live-docs bitsets
``core/codecs/lucene90/Lucene90LiveDocsFormat.java``):

* a DELETE is a **tombstone row** keyed by the document key
  (conv_id, turn_idx) — the analog of delete-by-term on the primary key;
* readers apply tombstones as a filter (``liveDocs``): matching docs stop
  appearing in results, but **collection statistics (docCount, avgdl,
  doc_freq) stay stale until merge** — exactly the reference's behavior
  (``TermsEnum.docFreq`` counts deleted docs; ``IndexSearcher``'s
  collectionStatistics too).  Scores of surviving docs are therefore
  IDENTICAL to pre-delete scores, only the deleted docs vanish;
* ``expunge()`` physically drops tombstoned rows and recomputes stats —
  the merge-time reclaim (``forceMergeDeletes``);
* an UPDATE is delete + add: tombstone the key, append the new turn via
  the streaming/incremental path, compact.

Plan shape at scale: tombstones join the docs relation once to resolve
doc_ids (shuffle or broadcast — AQE decides by actual size; deletes are
usually a small fraction), then every postings access left_anti-joins the
resolved id set.  No collect, no driver-side bitsets.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.index.builder import (
    DOC_KEY,
    InvertedIndex,
    collection_stats,
    term_stats_of,
)


def tombstones_df(spark: SparkSession, keys) -> DataFrame:
    """Build a tombstone relation from [(conv_id, turn_idx), ...]."""
    return spark.createDataFrame(
        [(c, int(t)) for c, t in keys], "conv_id string, turn_idx int"
    )


def with_deletes(idx: InvertedIndex, tombstones: DataFrame) -> InvertedIndex:
    """Read-time view with tombstoned docs filtered out (liveDocs analog).

    Stats and term_stats are intentionally NOT recomputed (reference
    staleness semantics — see module docstring); call :func:`expunge` to
    reclaim.  The packed/pruned access path is detached on the view (its
    block tables still contain deleted docs); packed search resumes after
    ``expunge().with_packed()``.
    """
    dead_ids = idx.docs.join(tombstones, list(DOC_KEY), "left_semi").select(
        "doc_id"
    )
    docs = idx.docs.join(tombstones, list(DOC_KEY), "left_anti")
    postings = idx.postings.join(dead_ids, "doc_id", "left_anti")
    slim = (
        idx.postings_slim.join(dead_ids, "doc_id", "left_anti")
        if idx.postings_slim is not None
        else None
    )
    out = replace(
        idx,
        docs=docs,
        postings=postings,
        postings_slim=slim,
        packed=None,
        cached=(),
    )
    out.prefer_packed = False
    return out


def expunge(idx: InvertedIndex, tombstones: DataFrame) -> InvertedIndex:
    """Physically drop tombstoned docs and recompute stats/term_stats —
    the merge-time reclaim (forceMergeDeletes).  Returns a fully
    consistent index (doc_ids keep their values; density is not required
    by any reader invariant — gaps behave like a filtered segment)."""
    live = with_deletes(idx, tombstones)
    return replace(
        live,
        term_stats=term_stats_of(live.postings),
        stats=collection_stats(live.docs),
    )


def update_doc_values(idx: InvertedIndex, updates: DataFrame, col: str) -> InvertedIndex:
    """In-place doc-values update without reindexing — the analog of
    ``IndexWriter.updateNumericDocValue`` / ``updateBinaryDocValue``
    (core/index/IndexWriter.java:1901-1969): override ``col`` for the
    docs named by ``updates`` (keyed on (conv_id, turn_idx), one extra
    column carrying the new value).  The inverted index, norms, and
    scores are untouched — exactly the reference's contract (dv updates
    never re-tokenize; only the column value readers see changes).

    Plan shape at scale: one left join of docs against the (small)
    updates relation — AQE broadcasts it when it fits; facets, sorts,
    range filters, and FunctionScoreQuery all read through the updated
    view.  Persist via ``store.commit_snapshot`` to make it durable
    (the reference's dv-update ``.dvm/.dvd`` generation files ≙ a new
    docs-family generation)."""
    value_cols = [c for c in updates.columns if c not in DOC_KEY]
    if len(value_cols) != 1:
        raise ValueError(
            f"updates must carry exactly one value column besides "
            f"{DOC_KEY}; got {updates.columns}"
        )
    upd = updates.select(*DOC_KEY, F.col(value_cols[0]).alias("_new"))
    docs = (
        idx.docs.join(upd, list(DOC_KEY), "left")
        .withColumn(col, F.coalesce(F.col("_new"), F.col(col)))
        .drop("_new")
    )
    return replace(idx, docs=docs)
