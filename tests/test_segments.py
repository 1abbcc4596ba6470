"""Packed-segment roundtrip: pack -> unpack == logical postings.

≙ the reference's codec conformance suites applied through the full Spark
path (BasePostingsFormatTestCase semantics over the chunked table format).
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def packed(tiny_index):
    from lucene_spark.index.segments import pack_postings

    # tiny chunk_bits so the fixture corpus actually exercises multi-chunk terms
    return pack_postings(tiny_index.postings, chunk_bits=5).cache()


def test_pack_unpack_roundtrip(tiny_index, packed):
    from lucene_spark.index.segments import unpack_postings

    logical = tiny_index.postings.select("term", "doc_id", "freq", "norm")
    unpacked = unpack_postings(packed).select("term", "doc_id", "freq", "norm")
    only_l = logical.exceptAll(unpacked).count()
    only_u = unpacked.exceptAll(logical).count()
    assert only_l == 0 and only_u == 0


def test_pack_unpack_positions_roundtrip(tiny_index, packed):
    from lucene_spark.index.segments import unpack_postings

    logical = tiny_index.postings.select("term", "doc_id", "positions")
    unpacked = unpack_postings(packed, with_positions=True).select(
        "term", "doc_id", "positions"
    )
    joined = logical.alias("l").join(
        unpacked.alias("u"), ["term", "doc_id"], "full"
    )
    bad = joined.filter(
        F.col("l.positions").isNull()
        | F.col("u.positions").isNull()
        | (F.col("l.positions") != F.col("u.positions"))
    ).count()
    assert bad == 0


def test_chunk_alignment_and_metadata(tiny_index, packed):
    rows = packed.collect()
    assert rows, "packed table is empty"
    for r in rows:
        assert r.first_doc >> 5 == r.chunk, "first_doc outside chunk range"
        assert r.last_doc >> 5 == r.chunk, "last_doc outside chunk range"
        assert r.first_doc <= r.last_doc
        # chunk metadata agrees with skip blocks
        assert r.max_freq == max(b.max_freq for b in r.skip)
        assert r.min_norm == min(b.min_norm for b in r.skip)
        assert r.last_doc == r.skip[-1].last_doc
        assert sum(b.n for b in r.skip) == r.doc_freq_chunk


def test_chunk_doc_freqs_sum_to_term_stats(tiny_index, packed):
    per_term = packed.groupBy("term").agg(
        F.sum("doc_freq_chunk").alias("df2"), F.max("max_freq").alias("mf2")
    )
    joined = tiny_index.term_stats.join(per_term, "term", "full")
    bad = joined.filter(
        (F.col("doc_freq") != F.col("df2")) | (F.col("max_freq") != F.col("mf2"))
    ).count()
    assert bad == 0


@pytest.mark.parametrize(
    "analyzer",
    [None, "stop_porter"],
    ids=["plain", "stop_porter"],
)
def test_arrow_build_matches_oracle(spark, tiny_corpus, analyzer):
    """The Arrow tokenize+invert build == the python oracle index, row for
    row: (term, doc_id, freq, positions, norm) and the global stats — with
    dense positions (no analyzer) and under stop holes + the deferred
    Porter dictionary stem."""
    from lucene_spark.analysis import Analyzer
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.oracle import OracleIndex

    an = (
        Analyzer(stopwords=frozenset({"the", "a", "to"}), stemmer="porter")
        if analyzer
        else None
    )
    idx = IndexBuilder(num_segments=4, analyzer=an).build(
        transcripts_df(spark, rows=tiny_corpus)
    )
    orc = OracleIndex.build(tiny_corpus, analyzer=an)
    got = sorted(
        (r.term, r.doc_id, r.freq, list(r.positions), r.norm)
        for r in idx.postings.select(
            "term", "doc_id", "freq", "positions", "norm"
        ).collect()
    )
    want = sorted(
        (t, d, f, orc.positions[t][d], orc.docs[d].norm)
        for t, per_doc in orc.postings.items()
        for d, f in per_doc.items()
    )
    assert got == want
    assert idx.stats == {
        "max_doc": len(orc.docs),
        "doc_count": orc.doc_count,
        "sum_total_term_freq": orc.sum_total_term_freq,
    }
    idx.unpersist_all()
