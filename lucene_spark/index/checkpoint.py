"""Checkpoint-resumable index build with per-shard lineage + metrics.

≙ the reference's segment lifecycle (SURVEY.md §2.3, §2.5): each shard is a
DWPT-style segment flush (per-shard-local dense docIDs), the finalize step
is the segment merge — docIDs remapped by shard offsets exactly like
``DocIDMerger`` (core/index/DocIDMerger.java:73-83), postings merged by the
(term, chunk) sort-merge shuffle, and the final ``commit.json`` plays
``segments_N`` (core/index/SegmentInfos.java:55-106): an index directory is
valid iff its commit file exists, and every artifact write happens *before*
its manifest marker, so a killed build resumes by re-running only the shards
whose manifests are missing (idempotent overwrite per shard).

Lineage per shard (the north rule's "per-partition lineage + metrics"):
conv_id range, row/doc/posting counts, build wall time, docs/sec and
postings/sec — recorded in ``shards/shard-N.manifest.json`` and rolled up
into the final commit.

At 10^12-turn scale each shard is an independent Spark job over a bounded
conv_id range; shards can run serially (resumable between any two) or as
concurrent jobs — the merge only needs their manifests.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.index.builder import (
    IndexBuilder,
    InvertedIndex,
    conv_bounds,
    term_stats_of,
)
from lucene_spark.index.store import DEFAULT_BUCKETS, load_index, save_index


class CheckpointedIndexBuilder:
    """Builds a persistent index under ``checkpoint_dir`` in resumable steps:

    plan -> build_shard* -> finalize

    ``build(transcripts)`` runs whatever is missing and returns the opened
    final index.  Kill it at any point; the next call continues.
    """

    def __init__(
        self,
        checkpoint_dir: str,
        num_shards: int = 8,
        k1: float = 1.2,
        b: float = 0.75,
        chunk_bits: int | None = None,
        n_buckets: int = DEFAULT_BUCKETS,
        segments_per_shard: int | None = None,
    ):
        self.dir = checkpoint_dir
        self.num_shards = num_shards
        self.k1, self.b = k1, b
        self.chunk_bits = chunk_bits
        self.n_buckets = n_buckets
        self.segments_per_shard = segments_per_shard
        os.makedirs(os.path.join(self.dir, "shards"), exist_ok=True)

    # -- paths ----------------------------------------------------------
    def _plan_path(self):
        return os.path.join(self.dir, "plan.json")

    def _manifest_path(self, s: int):
        return os.path.join(self.dir, "shards", f"shard-{s:05d}.manifest.json")

    def _shard_data(self, s: int, what: str):
        return os.path.join(self.dir, "shards", what, f"shard={s}")

    def _index_path(self):
        return os.path.join(self.dir, "index")

    # -- step 1: plan ---------------------------------------------------
    def plan(self, transcripts: DataFrame) -> dict:
        """Deterministic shard boundaries over conv_id (range sharding keeps
        (conv_id, turn_idx) order concatenative across shards, so global
        doc_id = shard_offset + local doc_id).  The bounds come from the
        same sampler as the in-memory build's doc-id ranges
        (``builder.conv_bounds``); they are sampled once and FROZEN in
        plan.json — resume never re-samples."""
        if os.path.exists(self._plan_path()):
            with open(self._plan_path()) as f:
                return json.load(f)
        bounds = conv_bounds(transcripts, self.num_shards)
        # an empty corpus gets one unbounded shard (no bounds)
        plan = {"num_shards": len(bounds) + 1, "bounds": bounds, "version": 1}
        with open(self._plan_path(), "w") as f:
            json.dump(plan, f, indent=2)
        return plan

    def _shard_filter(self, df: DataFrame, plan: dict, s: int) -> DataFrame:
        # the rows assign_doc_ids puts in range s (bounds[s-1] <= conv_id <
        # bounds[s]), written as plain comparisons: those reach the parquet
        # scan as pushed filters (a conv_id-clustered input skips other
        # shards' row groups); the builder's array-lambda range id is
        # neither pushed down nor code-generated
        b = plan["bounds"]
        cond = F.lit(True)
        if s > 0:
            cond = cond & (F.col("conv_id") >= b[s - 1])
        if s < plan["num_shards"] - 1:
            cond = cond & (F.col("conv_id") < b[s])
        return df.filter(cond)

    # -- step 2: per-shard segment build --------------------------------
    def build_shard(self, transcripts: DataFrame, plan: dict, s: int) -> dict:
        """Build one shard's segment (skipped if its manifest exists)."""
        if os.path.exists(self._manifest_path(s)):
            with open(self._manifest_path(s)) as f:
                return json.load(f)
        t0 = time.time()
        shard_df = self._shard_filter(transcripts, plan, s)
        builder = IndexBuilder(
            k1=self.k1, b=self.b, num_segments=self.segments_per_shard
        )
        idx = builder.build(shard_df)
        idx.docs.write.mode("overwrite").parquet(self._shard_data(s, "docs"))
        idx.postings.write.mode("overwrite").parquet(self._shard_data(s, "postings"))
        n_docs = idx.stats["max_doc"]
        n_postings = idx.postings.count()
        dt = time.time() - t0
        manifest = {
            "shard": s,
            "conv_lo": plan["bounds"][s - 1] if s > 0 else None,
            "conv_hi": plan["bounds"][s] if s < plan["num_shards"] - 1 else None,
            "n_docs": n_docs,
            "doc_count": idx.stats["doc_count"],
            "sum_total_term_freq": idx.stats["sum_total_term_freq"],
            "n_postings": n_postings,
            "build_sec": round(dt, 3),
            "docs_per_sec": round(n_docs / dt, 1) if dt > 0 else None,
            "postings_per_sec": round(n_postings / dt, 1) if dt > 0 else None,
        }
        idx.unpersist_all()
        # manifest written LAST = the shard's commit marker
        with open(self._manifest_path(s), "w") as f:
            json.dump(manifest, f, indent=2)
        return manifest

    # -- step 3: merge + commit -----------------------------------------
    def finalize(self, spark: SparkSession) -> None:
        """Merge all shard segments into the final packed index (the
        sort-merge-shuffle merge stage) and commit."""
        if os.path.exists(os.path.join(self._index_path(), "commit.json")):
            return
        with open(self._plan_path()) as f:
            n_shards = json.load(f)["num_shards"]
        manifests = []
        for s in range(n_shards):
            with open(self._manifest_path(s)) as f:
                manifests.append(json.load(f))
        offsets, acc = {}, 0
        for m in manifests:
            offsets[m["shard"]] = acc
            acc += m["n_docs"]
        off_df = F.broadcast(
            spark.createDataFrame(
                [(s, o) for s, o in offsets.items()], "shard int, _off long"
            )
        )
        docs = (
            spark.read.option("basePath", os.path.join(self.dir, "shards", "docs"))
            .parquet(os.path.join(self.dir, "shards", "docs"))
            .join(off_df, "shard")
            .withColumn("doc_id", F.col("doc_id") + F.col("_off"))
            .drop("_off")
        )
        postings = (
            spark.read.option("basePath", os.path.join(self.dir, "shards", "postings"))
            .parquet(os.path.join(self.dir, "shards", "postings"))
            .join(off_df, "shard")
            .withColumn("doc_id", F.col("doc_id") + F.col("_off"))
            .drop("_off", "shard")
        )
        term_stats = term_stats_of(postings)
        stats = {
            "max_doc": acc,
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
        save_index(
            idx,
            self._index_path(),
            n_buckets=self.n_buckets,
            chunk_bits=self.chunk_bits,
        )
        # roll shard lineage into the commit
        with open(os.path.join(self._index_path(), "commit.json")) as f:
            commit = json.load(f)
        commit["shards"] = manifests
        commit["total_build_sec"] = round(sum(m["build_sec"] for m in manifests), 3)
        with open(os.path.join(self._index_path(), "commit.json"), "w") as f:
            json.dump(commit, f, indent=2)

    # -- the whole thing ------------------------------------------------
    def build(self, transcripts: DataFrame) -> InvertedIndex:
        spark = transcripts.sparkSession
        plan = self.plan(transcripts)
        for s in range(plan["num_shards"]):
            self.build_shard(transcripts, plan, s)
        self.finalize(spark)
        return load_index(spark, self._index_path())

    def completed_shards(self) -> list[int]:
        n = self.num_shards
        if os.path.exists(self._plan_path()):
            with open(self._plan_path()) as f:
                n = json.load(f)["num_shards"]
        return [s for s in range(n) if os.path.exists(self._manifest_path(s))]
