"""Incremental (near-real-time) indexing via Structured Streaming.

≙ the reference's NRT lifecycle (SURVEY.md §2.10): buffered docs are flushed
into immutable segments and a reopened reader sees the union of segments
(core/search/SearcherManager.java:52, flush §2.3).  Here:

* one micro-batch = one segment flush (``writeStream.foreachBatch``);
* docIDs are insertion-ordered — a segment's docs get dense local ids and a
  running global offset, exactly Lucene's docID semantics (late turns land
  in later segments with later docIDs, SURVEY.md §2.10 "Late data");
* each segment commit is manifest-last and keyed by the micro-batch id, so
  Structured Streaming's batch replay on recovery is exactly-once
  (a replayed batch sees its manifest and skips — ≙ IndexWriter's
  idempotent sequence numbers);
* ``open_index()`` = reader reopen: segments store ABSOLUTE doc_ids, so a
  reopen is ONE multi-path parquet read per family — the plan node count is
  flat in the number of segments (a FileScan over N root paths, not an
  N-way union).  Each segment manifest records its families' schemas
  (≙ FieldInfos in the segment metadata), so the reopen reads with them
  and launches no Spark job: no parquet footer is read for inference;
* ``maybe_merge()`` = TieredMergePolicy (core/index/TieredMergePolicy.java:
  78 segsPerTier=10, :318 findMerges size-tiering, :394-401 allowed-segment
  budget): when the live segment count exceeds the tier budget, the
  smallest ``max_merge_at_once`` segments merge into one (smallest-first is
  the classic approximation of Lucene's best-scoring consecutive window —
  documented simplification).  A merge commit is manifest-last and carries
  ``replaces`` + the member ``batch_ids`` so crash recovery and streaming
  replay stay exactly-once;
* ``compact()`` = forceMerge(1) (IndexWriter.java:2098): merges all
  segments into one packed stored index via the (term, chunk) merge shuffle.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.index.builder import IndexBuilder, InvertedIndex, term_stats_of
from lucene_spark.index.store import (
    DEFAULT_BUCKETS,
    load_index,
    read_family,
    save_index,
    write_family,
)

FAMILIES = ("docs", "postings")


class TieredMergePolicy:
    """Size-tiered merge selection (TieredMergePolicy.java:78,318,394-401).

    ``allowed_seg_count``: each tier admits ``segs_per_tier`` segments; a
    tier's nominal segment size grows by ``max_merge_at_once`` per level
    starting from ``floor_docs`` (the floorSegmentBytes analog, in docs).
    When the live count exceeds the budget, merge the smallest
    ``max_merge_at_once`` segments."""

    def __init__(
        self,
        segs_per_tier: int = 10,
        max_merge_at_once: int = 10,
        floor_docs: int = 1000,
        max_merged_docs: int = 500_000_000,
    ):
        self.segs_per_tier = segs_per_tier
        self.max_merge_at_once = max_merge_at_once
        self.floor_docs = floor_docs
        self.max_merged_docs = max_merged_docs

    def allowed_seg_count(self, sizes: list[int]) -> int:
        if not sizes:
            return 1
        total = sum(sizes)
        level = max(self.floor_docs, min(sizes))
        allowed, remaining = 0, total
        while True:
            seg_count_level = remaining / level
            if seg_count_level < self.segs_per_tier:
                allowed += math.ceil(seg_count_level)
                break
            allowed += self.segs_per_tier
            remaining -= self.segs_per_tier * level
            level *= self.max_merge_at_once
            if remaining <= 0:
                break
        return max(allowed, 1)

    def select_merge(self, manifests: list[dict]) -> list[dict] | None:
        """Members of the next merge, or None when within budget."""
        if len(manifests) < 2:
            return None
        sizes = [m["n_docs"] for m in manifests]
        if len(manifests) <= self.allowed_seg_count(sizes):
            return None
        by_size = sorted(manifests, key=lambda m: (m["n_docs"], m["seq"]))
        members, acc = [], 0
        for m in by_size:
            if len(members) >= self.max_merge_at_once:
                break
            if members and acc + m["n_docs"] > self.max_merged_docs:
                break
            members.append(m)
            acc += m["n_docs"]
        return members if len(members) >= 2 else None


class IncrementalIndexer:
    """Maintains a segmented index directory fed by micro-batches."""

    def __init__(
        self,
        index_dir: str,
        k1: float = 1.2,
        b: float = 0.75,
        segments_per_batch: int | None = None,
        merge_policy: TieredMergePolicy | None = None,
    ):
        self.dir = index_dir
        self.k1, self.b = k1, b
        self.segments_per_batch = segments_per_batch
        self.merge_policy = merge_policy or TieredMergePolicy()
        os.makedirs(os.path.join(self.dir, "segments"), exist_ok=True)

    # -- segment bookkeeping -------------------------------------------
    def _manifests(self) -> list[dict]:
        raw = []
        seg_root = os.path.join(self.dir, "segments")
        for name in sorted(os.listdir(seg_root)):
            if name.endswith(".manifest.json"):
                with open(os.path.join(seg_root, name)) as f:
                    raw.append(json.load(f))
        # a crash between "write merged manifest" and "delete members" can
        # leave both; the merged manifest's `replaces` set wins
        replaced = set()
        for m in raw:
            replaced.update(m.get("replaces", ()))
        out = [m for m in raw if m["seq"] not in replaced]
        out.sort(key=lambda m: m["seq"])
        return out

    def _family(self, spark: SparkSession, manifests: list[dict], fam: str) -> DataFrame:
        """One parquet relation over ``fam`` of every segment in
        ``manifests``, read with the schema they all record (inferred when a
        segment committed before schemas were recorded, or when the
        segments disagree)."""
        seg_root = os.path.join(self.dir, "segments")
        paths = [os.path.join(seg_root, f"seg-{m['seq']:06d}", fam) for m in manifests]
        ddls = {m.get("schemas", {}).get(fam) for m in manifests}
        return read_family(spark, paths, ddls.pop() if len(ddls) == 1 else None)

    def _batch_ids(self, m: dict) -> set:
        if m.get("batch_ids") is not None:
            return set(m["batch_ids"])
        return {m["batch_id"]} if m.get("batch_id") is not None else set()

    def _batch_done(self, batch_id: int) -> bool:
        return any(batch_id in self._batch_ids(m) for m in self._manifests())

    # -- one flush ------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch sink: build + commit one segment (idempotent).

        Segments are written with ABSOLUTE doc_ids (local id + running
        offset applied at flush), so readers never rewrite ids — a reopen
        is a plain multi-path parquet read."""
        if self._batch_done(batch_id):
            return
        manifests = self._manifests()
        seq = (manifests[-1]["seq"] + 1) if manifests else 0
        offset = sum(m["n_docs"] for m in manifests)
        t0 = time.time()
        idx = IndexBuilder(
            k1=self.k1, b=self.b, num_segments=self.segments_per_batch
        ).build(batch_df)
        off = F.lit(offset).cast("long")
        seg = os.path.join(self.dir, "segments", f"seg-{seq:06d}")
        schemas = {
            fam: write_family(
                getattr(idx, fam).withColumn("doc_id", F.col("doc_id") + off),
                os.path.join(seg, fam),
            )
            for fam in FAMILIES
        }
        n_postings = idx.postings.count()
        dt = time.time() - t0
        idx.unpersist_all()
        manifest = {
            "seq": seq,
            "batch_id": batch_id,
            "batch_ids": [batch_id],
            "offset": offset,
            "n_docs": idx.stats["max_doc"],
            "doc_count": idx.stats["doc_count"],
            "sum_total_term_freq": idx.stats["sum_total_term_freq"],
            "n_postings": n_postings,
            "build_sec": round(dt, 3),
            "schemas": schemas,
        }
        with open(
            os.path.join(self.dir, "segments", f"seg-{seq:06d}.manifest.json"), "w"
        ) as f:
            json.dump(manifest, f, indent=2)

    # -- tiered merging --------------------------------------------------
    def maybe_merge(self, spark: SparkSession) -> int:
        """Run TieredMergePolicy to a fixpoint; returns merges performed."""
        n = 0
        while True:
            members = self.merge_policy.select_merge(self._manifests())
            if not members:
                return n
            self._merge_segments(spark, members)
            n += 1

    def _merge_segments(self, spark: SparkSession, members: list[dict]) -> None:
        """Merge member segments into one (absolute ids make this a pure
        concatenating rewrite — one read + one write per family, no id
        remap, no shuffle).  Commit order: data, merged manifest (with
        `replaces` + member batch_ids), then delete members."""
        manifests = self._manifests()
        seq = manifests[-1]["seq"] + 1
        seg_root = os.path.join(self.dir, "segments")
        out_seg = os.path.join(seg_root, f"seg-{seq:06d}")
        t0 = time.time()
        schemas = {
            fam: write_family(
                self._family(spark, members, fam), os.path.join(out_seg, fam)
            )
            for fam in FAMILIES
        }
        batch_ids = sorted(set().union(*[self._batch_ids(m) for m in members]))
        manifest = {
            "seq": seq,
            "batch_id": None,
            "batch_ids": batch_ids,
            "offset": min(m["offset"] for m in members),
            "n_docs": sum(m["n_docs"] for m in members),
            "doc_count": sum(m["doc_count"] for m in members),
            "sum_total_term_freq": sum(m["sum_total_term_freq"] for m in members),
            "n_postings": sum(m["n_postings"] for m in members),
            "build_sec": round(time.time() - t0, 3),
            "replaces": sorted(m["seq"] for m in members),
            "schemas": schemas,
        }
        with open(os.path.join(seg_root, f"seg-{seq:06d}.manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        for m in members:
            mp = os.path.join(seg_root, f"seg-{m['seq']:06d}.manifest.json")
            if os.path.exists(mp):
                os.remove(mp)
            shutil.rmtree(os.path.join(seg_root, f"seg-{m['seq']:06d}"), ignore_errors=True)

    # -- attach to a stream --------------------------------------------
    def attach(self, stream_df: DataFrame, trigger_once: bool = False, **trigger_kw):
        """writeStream wiring: micro-batch -> segment flush."""
        w = stream_df.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", os.path.join(self.dir, "_stream_checkpoint")
        )
        if trigger_once:
            w = w.trigger(availableNow=True)
        elif trigger_kw:
            w = w.trigger(**trigger_kw)
        return w.start()

    # -- reader reopen --------------------------------------------------
    def open_index(self, spark: SparkSession) -> InvertedIndex:
        """Point-in-time view over all committed segments (≙
        SearcherManager.maybeRefresh returning a new DirectoryReader).

        Segments carry absolute doc_ids, so the reopen is ONE multi-path
        parquet relation per family: the physical plan has a single
        FileScan node regardless of segment count.  The relations are read
        with the schemas the manifests record, so the reopen launches no
        Spark job, and the postings are scanned from their files by every
        query (the reader persists nothing).  Collection stats are the sums
        of the manifests'; the term dictionary is an aggregate over the
        postings, computed when a searcher first needs it."""
        manifests = self._manifests()
        if not manifests:
            raise ValueError("no committed segments yet")
        docs = self._family(spark, manifests, "docs")
        postings = self._family(spark, manifests, "postings")
        term_stats = term_stats_of(postings)
        stats = {
            "max_doc": sum(m["n_docs"] for m in manifests),
            "doc_count": sum(m["doc_count"] for m in manifests),
            "sum_total_term_freq": sum(m["sum_total_term_freq"] for m in manifests),
        }
        idx = InvertedIndex(
            spark=spark,
            docs=docs,
            postings=postings,
            term_stats=term_stats,
            stats=stats,
            k1=self.k1,
            b=self.b,
        )
        idx.postings_materialized = True
        return idx

    # -- forceMerge ------------------------------------------------------
    def compact(
        self, spark: SparkSession, n_buckets: int = DEFAULT_BUCKETS, chunk_bits=None
    ) -> InvertedIndex:
        """Merge all segments into one packed stored index (forceMerge(1))."""
        idx = self.open_index(spark)
        out = os.path.join(self.dir, "index")
        save_index(idx, out, n_buckets=n_buckets, chunk_bits=chunk_bits)
        return load_index(spark, out)

    # -- commit generation (NRT + time travel) ---------------------------
    def commit_generation(
        self,
        spark: SparkSession,
        path: str | None = None,
        n_buckets: int = DEFAULT_BUCKETS,
        chunk_bits=None,
    ) -> int:
        """Snapshot the CURRENT merged view of the incremental index as an
        immutable commit generation (store.commit_snapshot) and return its
        snapshot id — ``IndexWriter.commit()`` with a SnapshotDeletionPolicy
        on the NRT writer: readers opened on earlier generations keep the
        exact corpus state as of that commit while ingestion continues."""
        from lucene_spark.index.store import commit_snapshot

        out = path or os.path.join(self.dir, "table")
        idx = self.open_index(spark)
        return commit_snapshot(idx, out, n_buckets=n_buckets, chunk_bits=chunk_bits)
