"""Persistence + checkpoint-resume: stored index == in-memory index.

≙ the reference's commit/reopen semantics (IndexWriter.commit ->
DirectoryReader.open roundtrip) and the north rule's checkpoint-resumable
build with per-partition lineage.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from lucene_spark.index.checkpoint import CheckpointedIndexBuilder
from lucene_spark.index.store import load_index, save_index, term_bucket
from lucene_spark.search import BooleanQuery, IndexSearcher, Occur, PhraseQuery, TermQuery


def _or(*terms):
    return BooleanQuery.of(*[(TermQuery(t), Occur.SHOULD) for t in terms])


def _topk(searcher, q, k=10, **kw):
    return [
        (r.conv_id, r.turn_idx, r.score)
        for r in searcher.search(q, k, **kw).collect()
    ]


@pytest.fixture(scope="module")
def stored(spark, tiny_index, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("idx") / "store")
    save_index(tiny_index, path, n_buckets=8, chunk_bits=5)
    return load_index(spark, path)


def test_store_roundtrip_topk(tiny_index, stored):
    mem = IndexSearcher(tiny_index)
    disk = IndexSearcher(stored)
    for q in [TermQuery("model"), _or("the", "spark", "query"), PhraseQuery(("the", "model"))]:
        assert _topk(mem, q) == _topk(disk, q)


def test_store_pruned_topk(tiny_index, stored):
    mem = IndexSearcher(tiny_index)
    disk = IndexSearcher(stored)
    q = _or("the", "model", "data")
    assert _topk(mem, q) == _topk(disk, q, prune=True)


def test_store_stats_and_bucket(tiny_index, stored):
    assert stored.stats == tiny_index.stats
    assert stored.prefer_packed
    # bucket column matches the driver-side bucket function
    rows = stored.packed.select("term", "bucket").limit(50).collect()
    for r in rows:
        assert r.bucket == term_bucket(r.term, 8)


def test_checkpoint_build_equals_direct(spark, tiny_corpus, tiny_index, tmp_path_factory):
    from lucene_spark.fixtures import transcripts_df

    ckpt = str(tmp_path_factory.mktemp("ckpt") / "build")
    df = transcripts_df(spark, rows=tiny_corpus)
    b = CheckpointedIndexBuilder(ckpt, num_shards=3, chunk_bits=5, n_buckets=8)

    # phase 1: partial build (simulates a killed job after 2 shards)
    plan = b.plan(df)
    b.build_shard(df, plan, 0)
    b.build_shard(df, plan, 1)
    assert b.completed_shards() == [0, 1]
    m0 = json.load(open(b._manifest_path(0)))
    assert m0["n_docs"] > 0 and m0["docs_per_sec"] > 0 and m0["n_postings"] > 0

    # phase 2: resume completes only what's missing (shard 0/1 untouched)
    mtime_before = os.path.getmtime(b._manifest_path(0))
    idx = b.build(df)
    assert os.path.getmtime(b._manifest_path(0)) == mtime_before

    # lineage rolled into the commit
    commit = json.load(open(os.path.join(ckpt, "index", "commit.json")))
    assert len(commit["shards"]) == 3
    assert commit["stats"] == tiny_index.stats

    # identical search results vs the single-job in-memory build
    mem = IndexSearcher(tiny_index)
    disk = IndexSearcher(idx)
    for q in [TermQuery("model"), _or("the", "spark", "query")]:
        assert _topk(mem, q) == _topk(disk, q)
        assert _topk(mem, q) == _topk(disk, q, prune=True)

    # doc ids remain dense and deterministic (global rank over conv/turn)
    n = idx.docs.count()
    agg = idx.docs.agg(
        F.countDistinct("doc_id").alias("d"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    assert agg.d == n and agg.lo == 0 and agg.hi == n - 1
    # same doc_id assignment as the direct builder
    joined = idx.docs.select("conv_id", "turn_idx", "doc_id").join(
        tiny_index.docs.select("conv_id", "turn_idx", F.col("doc_id").alias("doc_id2")),
        ["conv_id", "turn_idx"],
    )
    assert joined.filter(F.col("doc_id") != F.col("doc_id2")).count() == 0


def test_checkpoint_build_is_idempotent(spark, tiny_corpus, tmp_path_factory):
    from lucene_spark.fixtures import transcripts_df

    ckpt = str(tmp_path_factory.mktemp("ckpt2") / "build")
    df = transcripts_df(spark, rows=tiny_corpus)
    b = CheckpointedIndexBuilder(ckpt, num_shards=2, chunk_bits=5, n_buckets=4)
    idx1 = b.build(df)
    n1 = idx1.docs.count()
    commit1 = json.load(open(os.path.join(ckpt, "index", "commit.json")))
    idx2 = b.build(df)  # everything cached: no shard rebuilds, same commit
    commit2 = json.load(open(os.path.join(ckpt, "index", "commit.json")))
    assert commit1 == commit2
    assert idx2.docs.count() == n1


def test_checkpoint_plan_shards_balanced_when_sampled(spark, tmp_path, monkeypatch):
    """The plan's bounds come from a sample spread over the whole conv_id
    range, not from the smallest conv_ids: with a sample a quarter of the
    corpus, every shard still holds within 2x the mean conv count."""
    from lucene_spark.fixtures import generate_transcripts, transcripts_df
    from lucene_spark.index import builder

    monkeypatch.setattr(builder, "BOUNDS_SAMPLE_SIZE", 150)
    df = transcripts_df(spark, rows=generate_transcripts(n_convs=600, seed=3))
    b = CheckpointedIndexBuilder(str(tmp_path / "plan"), num_shards=3)
    plan = b.plan(df)
    assert plan["num_shards"] == 3 and len(plan["bounds"]) == 2
    sizes = [
        b._shard_filter(df, plan, s).select("conv_id").distinct().count()
        for s in range(3)
    ]
    assert sum(sizes) == 600
    assert max(sizes) <= 2 * 600 / 3 and min(sizes) >= 600 / 3 / 2, sizes


def test_term_vectors_roundtrip(spark, tiny_index, tmp_path):
    """save_index(term_vectors=True): the doc-major tvecs relation loads
    back, per-doc fetch equals the postings filter, and the scan pushes a
    doc_id filter (row-group pruning path)."""
    from pyspark.sql import functions as F

    from lucene_spark.index.store import load_index, save_index

    p = str(tmp_path / "ix_tv")
    save_index(tiny_index, p, n_buckets=4, term_vectors=True)
    loaded = load_index(spark, p)
    assert loaded.term_vectors is not None
    some_doc = tiny_index.postings.select("doc_id").first().doc_id
    got = sorted(
        (r.term, r.freq, list(r.positions))
        for r in loaded.term_vector(some_doc).collect()
    )
    want = sorted(
        (r.term, r.freq, list(r.positions))
        for r in tiny_index.postings.filter(F.col("doc_id") == some_doc)
        .select("term", "freq", "positions")
        .collect()
    )
    assert got == want and len(got) > 0
    plan = (
        loaded.term_vectors.filter(F.col("doc_id") == some_doc)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "doc_id" in plan


def test_mlt_uses_term_vectors_same_query(spark, tiny_index, tmp_path):
    """MLT through the term-vectors path builds the identical query."""
    from lucene_spark.index.store import load_index, save_index
    from lucene_spark.search import IndexSearcher
    from lucene_spark.search.mlt import MoreLikeThis

    p = str(tmp_path / "ix_tv2")
    save_index(tiny_index, p, n_buckets=4, term_vectors=True)
    loaded = load_index(spark, p)
    doc = tiny_index.postings.select("doc_id").first().doc_id
    q_mem = MoreLikeThis(IndexSearcher(tiny_index), min_term_freq=1, min_doc_freq=1).like(doc)
    q_tv = MoreLikeThis(IndexSearcher(loaded), min_term_freq=1, min_doc_freq=1).like(doc)
    assert q_mem == q_tv


def test_with_term_vectors_in_memory(spark, tiny_index):
    from pyspark.sql import functions as F

    tiny_index.with_term_vectors()
    assert tiny_index.term_vectors is not None
    doc = tiny_index.postings.select("doc_id").first().doc_id
    got = {r.term for r in tiny_index.term_vector(doc).collect()}
    want = {
        r.term
        for r in tiny_index.postings.filter(F.col("doc_id") == doc).collect()
    }
    assert got == want


def test_snapshot_time_travel(spark, tiny_index, tmp_path_factory):
    """commit_snapshot generations: an old snapshot id reads the exact
    pre-delete state (DirectoryReader.open(IndexCommit) / Iceberg
    read-at-snapshot-id), the pointer reads the latest."""
    from lucene_spark.index.deletes import expunge, tombstones_df
    from lucene_spark.index.store import (
        commit_snapshot,
        expire_snapshots,
        list_snapshots,
    )

    path = str(tmp_path_factory.mktemp("idx") / "snap")
    q = _or("the", "model", "query")
    sid1 = commit_snapshot(tiny_index, path, n_buckets=8, chunk_bits=5)

    # delete the current top hit so the two snapshots genuinely differ
    before = _topk(IndexSearcher(tiny_index), q)
    dead = [(before[0][0], before[0][1])]
    idx2 = expunge(tiny_index, tombstones_df(spark, dead))
    sid2 = commit_snapshot(idx2, path, n_buckets=8, chunk_bits=5)
    assert (sid1, sid2) == (1, 2)

    old = IndexSearcher(load_index(spark, path, snapshot_id=sid1))
    latest = IndexSearcher(load_index(spark, path))
    assert _topk(old, q) == before
    assert _topk(latest, q) == _topk(IndexSearcher(idx2), q)
    assert _topk(latest, q) != before

    snaps = list_snapshots(path)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent"] == 1

    assert expire_snapshots(path, keep=1) == [1]
    with pytest.raises(FileNotFoundError):
        load_index(spark, path, snapshot_id=sid1)
    assert _topk(IndexSearcher(load_index(spark, path)), q) == _topk(latest, q)


def test_snapshot_tags(spark, tiny_index, tmp_path_factory):
    """Iceberg-style refs: create_tag names a snapshot, load_index(tag=)
    resolves it, expire_snapshots never collects a tagged snapshot, and
    dropping the tag releases it to retention."""
    from lucene_spark.index.deletes import expunge, tombstones_df
    from lucene_spark.index.store import (
        commit_snapshot,
        create_tag,
        drop_tag,
        expire_snapshots,
        list_refs,
        load_index,
    )

    path = str(tmp_path_factory.mktemp("idx") / "tagged")
    q = _or("the", "model", "query")
    sid1 = commit_snapshot(tiny_index, path, n_buckets=8, chunk_bits=5)
    before = _topk(IndexSearcher(tiny_index), q)
    assert create_tag(path, "v1") == sid1  # defaults to latest

    dead = [(before[0][0], before[0][1])]
    idx2 = expunge(tiny_index, tombstones_df(spark, dead))
    sid2 = commit_snapshot(idx2, path, n_buckets=8, chunk_bits=5)
    assert list_refs(path) == {"v1": sid1}  # refs survive new commits

    # tag read path == snapshot read path
    assert _topk(IndexSearcher(load_index(spark, path, tag="v1")), q) == before

    # a tagged snapshot survives retention; an untagged one would not
    assert expire_snapshots(path, keep=1) == []
    assert _topk(IndexSearcher(load_index(spark, path, tag="v1")), q) == before

    # duplicate / unknown handling
    with pytest.raises(ValueError):
        create_tag(path, "v1")
    with pytest.raises(FileNotFoundError):
        create_tag(path, "vX", snapshot_id=99)
    with pytest.raises(KeyError):
        load_index(spark, path, tag="nope")
    with pytest.raises(ValueError):
        load_index(spark, path, snapshot_id=sid1, tag="v1")

    # dropping the tag releases the snapshot to the next expiry pass
    drop_tag(path, "v1")
    assert list_refs(path) == {}
    assert expire_snapshots(path, keep=1) == [sid1]
    with pytest.raises(FileNotFoundError):
        load_index(spark, path, snapshot_id=sid1)
    latest = IndexSearcher(load_index(spark, path))
    assert _topk(latest, q) == _topk(IndexSearcher(idx2), q)
    assert sid2 == 2


def test_snapshot_write_lock(spark, tiny_index, tmp_path_factory):
    """Single-writer commit guard: a held write.lock fails fast with
    LockObtainFailedError; the lock is released after a successful commit
    (and after a failed attempt never leaks)."""
    import os

    from lucene_spark.index.store import LockObtainFailedError, commit_snapshot

    path = str(tmp_path_factory.mktemp("idx") / "locked")
    sid = commit_snapshot(tiny_index, path, n_buckets=4, chunk_bits=5)
    assert sid == 1
    assert not os.path.exists(os.path.join(path, "write.lock"))

    # simulate another writer holding the lock
    open(os.path.join(path, "write.lock"), "w").close()
    with pytest.raises(LockObtainFailedError):
        commit_snapshot(tiny_index, path, n_buckets=4, chunk_bits=5)
    os.remove(os.path.join(path, "write.lock"))

    assert commit_snapshot(tiny_index, path, n_buckets=4, chunk_bits=5) == 2
    assert not os.path.exists(os.path.join(path, "write.lock"))


def test_catalog_seam_routes_all_metadata_ops(spark, tiny_index, tmp_path_factory):
    """The Catalog interface (index/catalog.py) is the only path to table
    metadata: a recording subclass sees every pointer/manifest/lock/expire
    operation of the full snapshot lifecycle, and the store behaves
    identically through it (the Iceberg-drop-in seam, VERDICT r4 #7)."""
    from lucene_spark.index.catalog import FileCatalog
    from lucene_spark.index.store import (
        commit_snapshot,
        expire_snapshots,
        list_snapshots,
        load_index,
        save_index,
    )

    calls = []

    class RecordingCatalog(FileCatalog):
        def read_pointer(self, table):
            calls.append("read_pointer")
            return super().read_pointer(table)

        def swap_pointer(self, table, meta):
            calls.append("swap_pointer")
            return super().swap_pointer(table, meta)

        def read_manifest(self, table, sid):
            calls.append(f"read_manifest:{sid}")
            return super().read_manifest(table, sid)

        def write_manifest(self, table, sid, payload):
            calls.append(f"write_manifest:{sid}")
            return super().write_manifest(table, sid, payload)

        def drop_manifest(self, table, sid):
            calls.append(f"drop_manifest:{sid}")
            return super().drop_manifest(table, sid)

        def write_lock(self, table):
            calls.append("write_lock")
            return super().write_lock(table)

    cat = RecordingCatalog()
    path = str(tmp_path_factory.mktemp("idx") / "cat")

    sid1 = commit_snapshot(tiny_index, path, n_buckets=4, chunk_bits=5, catalog=cat)
    sid2 = commit_snapshot(tiny_index, path, n_buckets=4, chunk_bits=5, catalog=cat)
    assert (sid1, sid2) == (1, 2)
    assert calls.count("write_lock") == 2
    assert calls.count("swap_pointer") == 2
    assert "write_manifest:1" in calls and "write_manifest:2" in calls

    # reads route through the catalog too (pointer + snapshot manifest)
    idx1 = load_index(spark, path, snapshot_id=1, catalog=cat)
    assert "read_manifest:1" in calls
    assert idx1.stats == tiny_index.stats
    assert [s["snapshot_id"] for s in list_snapshots(path, catalog=cat)] == [1, 2]

    # expire: lock + pointer swap BEFORE drop, manifest dropped via catalog
    calls.clear()
    assert expire_snapshots(path, keep=1, catalog=cat) == [1]
    assert calls.index("swap_pointer") < calls.index("drop_manifest:1")
    assert [s["snapshot_id"] for s in list_snapshots(path, catalog=cat)] == [2]

    # v1 single-commit tables publish through the same atomic pointer swap
    calls.clear()
    p1 = str(tmp_path_factory.mktemp("idx") / "v1")
    save_index(tiny_index, p1, n_buckets=4, chunk_bits=5, catalog=cat)
    assert calls == ["swap_pointer"]
    assert load_index(spark, p1, catalog=cat).stats == tiny_index.stats


def test_add_indexes_merges_stores(spark, tiny_corpus, tiny_index, tmp_path_factory):
    """addIndexes / IndexMergeTool: two independently built+saved halves
    merged into one store score identically to the one-shot build (global
    statistics recomputed, doc ids remapped by offset)."""
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.index.store import add_indexes

    root = tmp_path_factory.mktemp("addidx")
    df = transcripts_df(spark, rows=tiny_corpus)
    convs = sorted({r["conv_id"] for r in tiny_corpus})
    cut = convs[len(convs) // 2]
    a = IndexBuilder(num_segments=2).build(df.filter(F.col("conv_id") < cut))
    b = IndexBuilder(num_segments=2).build(df.filter(F.col("conv_id") >= cut))
    pa, pb, out = str(root / "a"), str(root / "b"), str(root / "merged")
    save_index(a, pa, n_buckets=4, chunk_bits=5)
    save_index(b, pb, n_buckets=4, chunk_bits=5)

    add_indexes(spark, [pa, pb], out, n_buckets=4, chunk_bits=5)
    merged = load_index(spark, out)
    assert merged.stats == tiny_index.stats

    got = IndexSearcher(merged)
    want = IndexSearcher(tiny_index)
    for q in [TermQuery("model"), _or("the", "spark", "query"), PhraseQuery(("the", "model"))]:
        assert _topk(got, q) == _topk(want, q)


def test_check_index(spark, tiny_index, tmp_path_factory):
    """CheckIndex analog: a healthy store passes every invariant; injected
    corruption (a term_stats row tampered) is detected."""
    import json as _json

    from lucene_spark.index.check import check_index

    root = tmp_path_factory.mktemp("chk")
    path = str(root / "store")
    save_index(tiny_index, path, n_buckets=4, chunk_bits=5)
    rep = check_index(spark, path)
    assert rep["clean"], rep

    # corrupt: rewrite one term_stats parquet partition with doubled df
    ts = spark.read.parquet(f"{path}/term_stats")
    bad = ts.withColumn(
        "doc_freq",
        F.when(F.col("term") == "model", F.col("doc_freq") * 2).otherwise(
            F.col("doc_freq")
        ),
    )
    bad.write.mode("overwrite").parquet(f"{path}/term_stats_bad")
    import shutil

    shutil.rmtree(f"{path}/term_stats")
    shutil.move(f"{path}/term_stats_bad", f"{path}/term_stats")
    rep2 = check_index(spark, path)
    assert not rep2["clean"]
    assert not rep2["checks"]["term_stats_match_postings"]["ok"]
    assert all(
        rep2["checks"][k]["ok"]
        for k in rep2["checks"]
        if k != "term_stats_match_postings"
    )
    _json.dumps(rep2)  # report is JSON-serializable


def test_split_index_roundtrip(spark, tmp_path):
    """MultiPassIndexSplitter/PKIndexSplitter analogs: parts partition the
    doc set, each part is a self-consistent store, and addIndexes over the
    parts reproduces the original's top-k (conv/turn/score identical) —
    stats recomputed globally on merge."""
    from lucene_spark.fixtures import transcripts_df
    from lucene_spark.index import IndexBuilder
    from lucene_spark.index.store import add_indexes, load_index, save_index, split_index
    from lucene_spark.search import IndexSearcher, TermQuery

    df = transcripts_df(spark, n_convs=30, seed=11)
    idx = IndexBuilder(num_segments=4).build(df)
    src = str(tmp_path / "src")
    save_index(idx, src)

    # round-robin 3-way
    parts = [str(tmp_path / f"rr{i}") for i in range(3)]
    split_index(spark, src, parts, mode="roundrobin")
    all_ids = {r.doc_id for r in idx.docs.select("doc_id").collect()}
    seen = []
    for i, p in enumerate(parts):
        part = load_index(spark, p)
        ids = {r.doc_id for r in part.docs.select("doc_id").collect()}
        assert ids == {d for d in all_ids if d % 3 == i}
        # postings follow their docs
        pid = {r.doc_id for r in part.postings.select("doc_id").distinct().collect()}
        assert pid <= ids
        # part searches standalone
        assert IndexSearcher(part).search(TermQuery("model"), 5).count() >= 0
        seen.extend(ids)
    assert sorted(seen) == sorted(all_ids)

    # merge back: scores identical to the one-shot index
    merged_path = str(tmp_path / "merged")
    add_indexes(spark, parts, merged_path)
    merged = load_index(spark, merged_path)
    # doc ids are remapped by the split+merge (as Lucene merges do), so
    # equal-score ties may reorder; compare the full match SETS instead
    sa = IndexSearcher(idx, scoring="plain_f64")
    sb = IndexSearcher(merged, scoring="plain_f64")
    a = sa.scored(TermQuery("model")).join(
        idx.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id"
    ).collect()
    b = sb.scored(TermQuery("model")).join(
        merged.docs.select("doc_id", "conv_id", "turn_idx"), "doc_id"
    ).collect()
    assert sorted((r.conv_id, r.turn_idx, round(r.score, 9)) for r in a) == sorted(
        (r.conv_id, r.turn_idx, round(r.score, 9)) for r in b
    )

    # PK-style predicate split
    pk = [str(tmp_path / "pk0"), str(tmp_path / "pk1")]
    split_index(spark, src, pk, predicate="turn_idx < 2")
    p0 = load_index(spark, pk[0])
    p1 = load_index(spark, pk[1])
    assert all(r.turn_idx < 2 for r in p0.docs.select("turn_idx").collect())
    assert all(r.turn_idx >= 2 for r in p1.docs.select("turn_idx").collect())
    assert p0.docs.count() + p1.docs.count() == len(all_ids)
    import pytest as _pt

    with _pt.raises(ValueError):
        split_index(spark, src, [str(tmp_path / "x")], predicate="turn_idx < 2")
    with _pt.raises(ValueError):
        split_index(spark, src, pk, mode="bogus")
    idx.unpersist_all()
