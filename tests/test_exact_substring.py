"""Exact-substring dedup (Lee et al. 2021 ExactSubstr at k-token
granularity): span detection, canonical exemption, removal."""

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "z z a b c d e f g h q"),
        (2, "totally unique words only here now"),
        (3, "p q r s t u v w x p q r s t u v w x"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_duplicated_spans(spark, docs):
    from lucene_spark.pipeline.textstats import duplicated_ngram_spans

    out = {
        r.doc_id: (
            [(s.start, s.end) for s in r.spans],
            r.n_dup_tokens,
            r.n_tokens,
        )
        for r in duplicated_ngram_spans(docs, k=8).collect()
    }
    assert out[0] == ([(0, 8)], 8, 10)
    assert out[1] == ([(2, 10)], 8, 11)
    assert out[2] == ([], 0, 6)
    # intra-doc repeat: overlapping dup windows merge into one full span
    assert out[3] == ([(0, 18)], 18, 18)


def test_skip_canonical(spark, docs):
    from lucene_spark.pipeline.textstats import duplicated_ngram_spans

    out = {
        r.doc_id: [(s.start, s.end) for s in r.spans]
        for r in duplicated_ngram_spans(
            docs, k=8, skip_canonical=True
        ).collect()
    }
    # doc 0 holds the shared gram's canonical copy; doc 3's first copy of
    # its repeat is canonical, the second (the one removal drops) is not
    assert out[0] == []
    assert out[1] == [(2, 10)]
    assert out[3] == [(9, 18)]


def test_skip_canonical_spans_are_the_removed_tokens(spark, docs):
    """The detector with ``skip_canonical=True`` reports exactly the tokens
    the removal operator drops."""
    from lucene_spark.pipeline.textstats import (
        duplicated_ngram_spans,
        remove_duplicated_ngrams,
    )

    spans = {
        r.doc_id: [(s.start, s.end) for s in r.spans]
        for r in duplicated_ngram_spans(docs, k=8, skip_canonical=True).collect()
    }
    removed = {r.doc_id: r.text for r in remove_duplicated_ngrams(docs, k=8).collect()}
    assert any(spans.values()), "the comparison must not be vacuous"
    for r in docs.collect():
        kept = [
            t for i, t in enumerate(r.text.split())
            if not any(a <= i < b for a, b in spans[r.doc_id])
        ]
        assert removed[r.doc_id] == " ".join(kept), r.doc_id


def test_remove_duplicated(spark, docs):
    from lucene_spark.pipeline.textstats import remove_duplicated_ngrams

    out = {
        r.doc_id: r.text
        for r in remove_duplicated_ngrams(docs, k=8).collect()
    }
    assert out[0] == "a b c d e f g h i j"   # canonical copy survives
    assert out[1] == "z z q"                  # duplicated span removed
    assert out[2] == "totally unique words only here now"
    # intra-doc repeat: the first copy is canonical, the second is dropped
    assert out[3] == "p q r s t u v w x"


def test_short_docs_no_grams(spark):
    from lucene_spark.pipeline.textstats import duplicated_ngram_spans

    d = spark.createDataFrame(
        [(0, "one two"), (1, "one two")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_dup_tokens for r in duplicated_ngram_spans(d, k=8).collect()}
    assert out == {0: 0, 1: 0}


def test_remove_keeps_one_copy_across_overlapping_clusters(spark):
    """Review-fix regression: overlapping gram clusters with DIFFERENT
    canonical docs must not destroy every copy of a substring — a
    canonical-here window protects its tokens."""
    from lucene_spark.pipeline.textstats import remove_duplicated_ngrams

    b = " ".join(f"b{i}" for i in range(1, 9))          # b1..b8
    a = "a1 " + " ".join(f"b{i}" for i in range(1, 8))  # a1 b1..b7
    rows = [(0, b), (1, "a1 " + b), (2, a + " x9")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text for r in remove_duplicated_ngrams(docs, k=8).collect()
    }
    assert out[0] == b              # canonical of gram B: untouched
    assert out[1] == a              # B's copy dropped, A's copy PROTECTED
    assert out[2] == "x9"           # A's non-canonical copy dropped
    # the substring a1 b1..b7 survives (in doc 1) — the guarantee


def test_remove_preserves_original_text_when_untouched(spark):
    from lucene_spark.pipeline.textstats import remove_duplicated_ngrams

    rows = [(0, "Hello, World! unique@text.example HERE")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = remove_duplicated_ngrams(docs, k=8).collect()[0].text
    assert out == "Hello, World! unique@text.example HERE"


def test_remove_keeps_only_first_copy_in_canonical_doc(spark):
    """A k-gram twice in doc 0 and once in doc 1 survives exactly once: in
    doc 0, at its first position."""
    from lucene_spark.pipeline.textstats import remove_duplicated_ngrams

    rows = [(0, "a b c x a b c y"), (1, "q a b c r")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text for r in remove_duplicated_ngrams(docs, k=3).collect()
    }
    assert out == {0: "a b c x y", 1: "q r"}
