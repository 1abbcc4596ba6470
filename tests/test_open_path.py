"""The reader open path: a stored or NRT index opens from its commit
metadata, with no Spark job; the first dictionary load is one bounded
action; an NRT reader persists nothing.

≙ Lucene opening a reader from ``segments_N`` + FieldInfos and
``SearcherManager.maybeRefresh`` showing a new segment without re-reading
the old ones (SURVEY.md §1.2, §2.10)."""

import json
import os

import pytest
from lucene_spark.search import (
    BooleanQuery,
    IndexSearcher,
    Occur,
    PhraseQuery,
    TermQuery,
)
from lucene_spark.streaming import IncrementalIndexer


def _or(*terms):
    return BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in terms])


def _topk(searcher, q, k=10):
    return [(r.conv_id, r.turn_idx, r.score) for r in searcher.search(q, k).collect()]


def _batches(spark, tiny_corpus, n):
    """``n`` micro-batches of contiguous conv ranges, in order: the same doc
    ids as a one-shot build of the corpus."""
    from lucene_spark.fixtures import transcripts_df

    convs = sorted({r["conv_id"] for r in tiny_corpus})
    cut = [len(convs) * b // n for b in range(n + 1)]
    return [
        transcripts_df(
            spark,
            rows=[r for r in tiny_corpus if r["conv_id"] in convs[cut[b]:cut[b + 1]]],
        )
        for b in range(n)
    ]


def _nrt(spark, tiny_corpus, root, n):
    ix = IncrementalIndexer(str(root))
    for b, part in enumerate(_batches(spark, tiny_corpus, n)):
        ix.process_batch(part, batch_id=b)
    return ix


@pytest.fixture(scope="module")
def nrt(spark, tiny_corpus, tmp_path_factory):
    return _nrt(spark, tiny_corpus, tmp_path_factory.mktemp("nrt") / "idx", 3)


@pytest.fixture(scope="module")
def stored(tiny_index, tmp_path_factory):
    from lucene_spark.index.store import save_index

    path = str(tmp_path_factory.mktemp("stored") / "idx")
    save_index(tiny_index, path, n_buckets=4, term_vectors=True)
    return path


def test_load_and_open_launch_no_job(spark, spark_jobs, stored, nrt):
    from lucene_spark.index.store import load_index

    with spark_jobs() as ids:
        li = load_index(spark, stored)
    assert ids == [], f"load_index launched {len(ids)} Spark jobs"
    assert li.term_vectors is not None
    with spark_jobs() as ids:
        nrt.open_index(spark)
    assert ids == [], f"open_index launched {len(ids)} Spark jobs"


def test_open_after_merge_launches_no_job(spark, spark_jobs, tiny_corpus, tmp_path):
    """A merged segment records the same schemas as a flushed one, so a
    reader over both still reads every family with its recorded schema."""
    ix = _nrt(spark, tiny_corpus, tmp_path / "idx", 3)
    ix._merge_segments(spark, ix._manifests()[:2])
    assert len(ix._manifests()) == 2
    with spark_jobs() as ids:
        ix.open_index(spark)
    assert ids == [], f"open_index launched {len(ids)} Spark jobs"


@pytest.mark.parametrize("kind", ["stored", "nrt"])
def test_first_dictionary_load_at_most_two_jobs(spark, spark_jobs, stored, nrt, kind):
    from lucene_spark.index.store import load_index

    idx = load_index(spark, stored) if kind == "stored" else nrt.open_index(spark)
    s = IndexSearcher(idx)
    with spark_jobs() as ids:
        got = s.term_doc_freqs(["model", "data", "zzz-missing"])
    assert len(ids) <= 2, f"the first dictionary load launched {len(ids)} Spark jobs"
    assert set(got) == {"model", "data"}
    with spark_jobs() as ids:
        assert s.term_doc_freqs(["model", "data"]) == {
            t: got[t] for t in ("model", "data")
        }
    assert ids == []


def _open_and_query(spark, ix, q):
    """What making a refresh searchable costs: reopen + a new searcher + the
    first query's rows."""
    s = IndexSearcher(ix.open_index(spark))
    return s.search(q, 10).collect()


def test_fresh_nrt_reader_first_term_query_at_most_four_jobs(spark, spark_jobs, nrt):
    with spark_jobs() as ids:
        rows = _open_and_query(spark, nrt, TermQuery("model"))
    assert rows
    assert len(ids) <= 4, f"reopen + first term query launched {len(ids)} Spark jobs"


def test_open_jobs_flat_in_live_segments(spark, spark_jobs, tiny_corpus, tmp_path):
    counts = {}
    for n in (1, 3):
        ix = _nrt(spark, tiny_corpus, tmp_path / f"idx{n}", n)
        assert len(ix._manifests()) == n
        with spark_jobs() as ids:
            _open_and_query(spark, ix, TermQuery("model"))
        counts[n] = len(ids)
    assert counts[1] == counts[3], counts


def test_nrt_readers_persist_nothing(spark, tiny_corpus, tmp_path):
    """Two successive readers, one refresh apart (a fresh directory, so no
    cache entry of another test can absorb a persist)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    ix = IncrementalIndexer(str(tmp_path / "idx"))
    for b, part in enumerate(_batches(spark, tiny_corpus, 3)):
        ix.process_batch(part, batch_id=b)
        if b == 0:
            continue
        s = IndexSearcher(ix.open_index(spark))
        for q in [TermQuery("model"), _or("the", "spark", "query"),
                  PhraseQuery(("the", "model"))]:
            s.search(q, 10).collect()
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after == before, f"NRT readers persisted {sorted(after - before)}"


def test_recorded_schema_equals_inferred(spark, stored, nrt):
    with open(os.path.join(stored, "commit.json")) as f:
        schemas = json.load(f)["schemas"]
    assert sorted(schemas) == ["docs", "postings", "term_stats", "tvecs"]
    assert "bucket" in schemas["postings"]
    fams = [(os.path.join(stored, name), ddl) for name, ddl in schemas.items()]
    for m in nrt._manifests():
        seg = os.path.join(nrt.dir, "segments", f"seg-{m['seq']:06d}")
        assert sorted(m["schemas"]) == ["docs", "postings"]
        fams += [(os.path.join(seg, name), ddl) for name, ddl in m["schemas"].items()]
    for path, ddl in fams:
        assert spark.read.schema(ddl).parquet(path).schema == (
            spark.read.parquet(path).schema
        ), path


def _strip_schemas(path):
    with open(path) as f:
        meta = json.load(f)
    assert meta.pop("schemas")
    with open(path, "w") as f:
        json.dump(meta, f)


def test_commit_without_recorded_schema_still_opens(
    spark, stored, tiny_corpus, tiny_index, tmp_path
):
    import shutil

    from lucene_spark.index.store import load_index

    q = _or("the", "model", "data")
    want = _topk(IndexSearcher(tiny_index), q)

    old = str(tmp_path / "stored")
    shutil.copytree(stored, old)
    _strip_schemas(os.path.join(old, "commit.json"))
    li = load_index(spark, old)
    assert li.term_vectors is not None
    assert _topk(IndexSearcher(li), q) == want

    ix = _nrt(spark, tiny_corpus, tmp_path / "nrt", 2)
    seg_root = os.path.join(ix.dir, "segments")
    # one segment as committed before schemas were recorded: the reader
    # infers that family rather than trust a schema only some segments have
    _strip_schemas(os.path.join(seg_root, "seg-000000.manifest.json"))
    assert _topk(IndexSearcher(ix.open_index(spark)), q) == want
