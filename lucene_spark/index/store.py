"""Persistent index layout: Iceberg-shaped parquet tables + commit manifest.

≙ the reference's on-disk index (SURVEY.md §1.2): per-family files + the
``segments_N`` commit point (core/index/SegmentInfos.java:55-106).  Here the
families are parquet tables and the commit point is a JSON snapshot file —
the same roles an Iceberg catalog would play (TableMetadata + snapshot);
plain parquet keeps the sandbox dependency-free while preserving the layout
properties that matter at 100 TB:

* ``postings/`` is **partitioned by bucket = crc32(term) % n_buckets** — a
  query for a term set touches only its buckets (partition pruning ≙ the
  FST term-index seek, Lucene90BlockTreeTermsWriter.java:223), and buckets
  spread uniformly across writers (no head-term write skew, the chunking
  inside each bucket bounds group sizes).
* within a bucket, rows are sorted by (term, chunk) so parquet row-group
  min/max column stats prune to the exact term even inside the bucket.
* ``docs/`` is range-partitioned+sorted by doc_id — the top-k join back to
  doc keys prunes row groups by doc_id min/max.
* all doc-side values (role, tool, ts, length, norm) are plain columns —
  Lucene's DocValues are free in a columnar format (SURVEY.md §1.1).

The bucket function is crc32 (not hash()) so driver-side Python can compute
a query term's bucket identically (zlib.crc32) for pushdown literals.

Every table-METADATA operation (pointer read/swap, snapshot manifests,
write lock, data-path resolution) routes through a ``Catalog``
(lucene_spark/index/catalog.py; default FileCatalog = the commit.json
backend).  A real Iceberg catalog is a drop-in replacement where the
Iceberg Spark runtime jar exists — the data files here are already plain
parquet, i.e. Iceberg's data layer.
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType

from lucene_spark.index.builder import InvertedIndex, collection_stats, term_stats_of
from lucene_spark.index.catalog import (
    DEFAULT_CATALOG,
    Catalog,
    FileCatalog,
    LockObtainFailedError,
)

DEFAULT_BUCKETS = 32


def _cat(catalog: Catalog | None) -> Catalog:
    return DEFAULT_CATALOG if catalog is None else catalog


def term_bucket(term: str, n_buckets: int) -> int:
    """Python-side bucket of a term — must match ``_bucket_col``."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def _bucket_col(col, n_buckets: int):
    return F.pmod(F.crc32(F.encode(col, "utf-8")), F.lit(n_buckets)).cast("int")


def write_family(df: DataFrame, path: str, partition_by: str | None = None) -> str:
    """Write ``df`` as a parquet family at ``path`` and return its schema as
    a DDL string, for the commit that names the family (see
    :func:`read_family`)."""
    w = df.write.mode("overwrite")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(path)
    # as a reader sees it: parquet reads every column back as nullable
    return StructType([StructField(f.name, f.dataType) for f in df.schema]).toDDL()


def read_family(spark: SparkSession, paths: list, ddl: str | None) -> DataFrame:
    """The parquet family at ``paths``, read with the schema its commit
    recorded: no Spark job, where inferring the schema from the parquet
    footers runs one (≙ FieldInfos read from the segment's metadata, not
    from its postings).  ``ddl`` is None for a family committed before
    schemas were recorded; that one is still read through inference."""
    reader = spark.read if ddl is None else spark.read.schema(ddl)
    return reader.parquet(*paths)


def _write_families(
    idx: InvertedIndex,
    data_path: str,
    n_buckets: int,
    chunk_bits: int | None,
    term_vectors: bool,
) -> dict:
    """Write the parquet families under ``data_path`` and return the commit
    payload describing them, each family's schema included (shared by the
    single-commit and the snapshot write paths)."""
    from lucene_spark.index.segments import DEFAULT_CHUNK_BITS

    if "payloads" in idx.postings.columns:
        # the packed block codec carries (term, doc, freq, positions) only;
        # silently dropping the payload column would turn every stored
        # PayloadScoreQuery into a wrong answer — refuse loudly.  Payload
        # indexes are in-memory/NRT this round (documented limitation).
        raise NotImplementedError(
            "the stored-index format does not persist payload postings; "
            "payload indexes are in-memory only"
        )
    if not idx.has_positions:
        # DOCS_AND_FREQS postings have typed-null positions the block
        # codec cannot encode
        raise NotImplementedError(
            "the stored-index format requires positional postings; "
            "term_freq_delimiter indexes are in-memory only"
        )
    chunk_bits = chunk_bits or DEFAULT_CHUNK_BITS
    idx.with_packed(chunk_bits=chunk_bits, cache=False)

    schemas = {
        "postings": write_family(
            idx.packed.withColumn("bucket", _bucket_col(F.col("term"), n_buckets))
            .repartition("bucket")
            .sortWithinPartitions("term", "chunk"),
            os.path.join(data_path, "postings"),
            partition_by="bucket",
        ),
        "docs": write_family(
            idx.docs.repartitionByRange(
                max(idx.docs.rdd.getNumPartitions(), 1), "doc_id"
            ).sortWithinPartitions("doc_id"),
            os.path.join(data_path, "docs"),
        ),
        "term_stats": write_family(
            idx.term_stats.withColumn("bucket", _bucket_col(F.col("term"), n_buckets))
            .repartition("bucket")
            .sortWithinPartitions("term"),
            os.path.join(data_path, "term_stats"),
            partition_by="bucket",
        ),
    }
    if term_vectors:
        # doc-major copy of the postings (term/freq/positions), range-
        # partitioned + sorted by doc_id -> a per-doc fetch prunes to one
        # row group (≙ .tvx/.tvd — Lucene90TermVectorsFormat)
        n = max(idx.postings.rdd.getNumPartitions(), 1)
        schemas["tvecs"] = write_family(
            idx.postings.select("term", "doc_id", "freq", "positions")
            .repartitionByRange(n, "doc_id")
            .sortWithinPartitions("doc_id", "term"),
            os.path.join(data_path, "tvecs"),
        )
    return {
        "stats": idx.stats,
        "k1": idx.k1,
        "b": idx.b,
        "n_buckets": n_buckets,
        "chunk_bits": chunk_bits,
        "analyzer": idx.analyzer.to_json() if idx.analyzer else None,
        "term_vectors": term_vectors,
        "schemas": schemas,
    }


def save_index(
    idx: InvertedIndex,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    chunk_bits: int | None = None,
    term_vectors: bool = False,
    catalog: Catalog | None = None,
) -> None:
    """Write the index as a self-contained directory (idempotent overwrite)."""
    catalog = _cat(catalog)
    commit = {"format_version": 1}
    commit.update(
        _write_families(
            idx, catalog.data_location(path, ""), n_buckets, chunk_bits, term_vectors
        )
    )
    catalog.swap_pointer(path, commit)


def commit_snapshot(
    idx: InvertedIndex,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    chunk_bits: int | None = None,
    term_vectors: bool = False,
    catalog: Catalog | None = None,
) -> int:
    """Append a new immutable commit generation and return its snapshot id.

    ≙ ``IndexWriter.commit()`` writing ``segments_N`` while a
    SnapshotDeletionPolicy retains earlier commit points
    (core/index/SnapshotDeletionPolicy.java:48, SegmentInfos.java:55-106),
    and ≙ an Iceberg append snapshot: each generation's data lives under
    ``gen-N/`` (immutable once written), ``commit-N.json`` is the snapshot
    manifest, and ``commit.json`` is the table-metadata pointer naming the
    latest snapshot plus the retained history.  Readers opened on an older
    snapshot id (``load_index(..., snapshot_id=k)``) see that commit's
    exact point-in-time state — time travel — because no generation ever
    rewrites another's files.
    """
    catalog = _cat(catalog)
    os.makedirs(path, exist_ok=True)
    with catalog.write_lock(path):
        return _commit_snapshot_locked(
            idx, path, n_buckets, chunk_bits, term_vectors, catalog
        )


def _commit_snapshot_locked(
    idx: InvertedIndex,
    path: str,
    n_buckets: int,
    chunk_bits: int | None,
    term_vectors: bool,
    catalog: Catalog,
) -> int:
    meta = catalog.table_meta(path)
    snapshot_id = int(meta.get("latest", 0)) + 1
    data_dir = f"gen-{snapshot_id}"
    payload = {
        "format_version": 2,
        "snapshot_id": snapshot_id,
        "parent": meta.get("latest"),
        "data": data_dir,
    }
    payload.update(
        _write_families(
            idx,
            catalog.data_location(path, data_dir),
            n_buckets,
            chunk_bits,
            term_vectors,
        )
    )
    catalog.write_manifest(path, snapshot_id, payload)
    meta = {
        "format_version": 2,
        "latest": snapshot_id,
        "snapshots": sorted(set(meta.get("snapshots", [])) | {snapshot_id}),
        # named refs (tags) survive commits untouched — Iceberg refs map
        "refs": meta.get("refs", {}),
    }
    # pointer swap is the commit point: written last, after all data +
    # manifest files are durable (same ordering as segments_N / Iceberg
    # metadata.json — a crash before this line leaves the old table intact)
    catalog.swap_pointer(path, meta)
    return snapshot_id


def list_snapshots(path: str, catalog: Catalog | None = None) -> list[dict]:
    """Retained commit points, oldest first (DirectoryReader.listCommits /
    Iceberg ``table.snapshots()`` analog)."""
    catalog = _cat(catalog)
    out = []
    for sid in catalog.table_meta(path).get("snapshots", []):
        c = catalog.read_manifest(path, sid)
        out.append(
            {
                "snapshot_id": c["snapshot_id"],
                "parent": c.get("parent"),
                "stats": c["stats"],
            }
        )
    return out


def create_tag(
    path: str, name: str, snapshot_id: int | None = None,
    catalog: Catalog | None = None,
) -> int:
    """Name a retained snapshot (Iceberg ``manageSnapshots().createTag``;
    ≙ a SnapshotDeletionPolicy snapshot handle the application keeps).
    Tags are immutable pointers: a tagged snapshot survives
    ``expire_snapshots`` until the tag is dropped.  Defaults to the latest
    snapshot; raises if the tag exists or the snapshot is not retained."""
    catalog = _cat(catalog)
    with catalog.write_lock(path):
        meta = catalog.table_meta(path)
        if not meta:
            raise ValueError("tags require a snapshot-mode table (v2)")
        refs = dict(meta.get("refs", {}))
        if name in refs:
            raise ValueError(f"tag {name!r} already exists (drop it first)")
        sid = int(meta["latest"] if snapshot_id is None else snapshot_id)
        if sid not in meta.get("snapshots", []):
            raise FileNotFoundError(f"snapshot {sid} not retained in {path}")
        refs[name] = sid
        meta["refs"] = refs
        catalog.swap_pointer(path, meta)
        return sid


def drop_tag(path: str, name: str, catalog: Catalog | None = None) -> None:
    """Remove a tag (Iceberg ``removeTag``).  The snapshot itself stays
    retained until ``expire_snapshots`` collects it."""
    catalog = _cat(catalog)
    with catalog.write_lock(path):
        meta = catalog.table_meta(path)
        refs = dict(meta.get("refs", {}))
        if name not in refs:
            raise KeyError(f"no tag {name!r} in {path}")
        del refs[name]
        meta["refs"] = refs
        catalog.swap_pointer(path, meta)


def list_refs(path: str, catalog: Catalog | None = None) -> dict:
    """{tag: snapshot_id} (Iceberg ``table.refs()``)."""
    return dict(_cat(catalog).table_meta(path).get("refs", {}))


def expire_snapshots(
    path: str, keep: int = 1, catalog: Catalog | None = None
) -> list[int]:
    """Drop all but the ``keep`` newest snapshots, deleting their data
    directories (Iceberg ``expire_snapshots`` / KeepOnlyLastCommitDeletionPolicy
    analog).  Tag-referenced snapshots are NEVER expired (Iceberg keeps
    every ref-reachable snapshot regardless of retention age).  Returns
    the expired ids."""
    catalog = _cat(catalog)
    with catalog.write_lock(path):
        meta = catalog.table_meta(path)
        snaps = meta.get("snapshots", [])
        tagged = set(meta.get("refs", {}).values())
        candidates = snaps[: max(0, len(snaps) - keep)]
        expired = [s for s in candidates if s not in tagged]
        meta["snapshots"] = [s for s in snaps if s not in expired]
        # swap the pointer BEFORE deleting data: a crash mid-delete leaves
        # orphan gen-N dirs (harmless, re-expirable), never a pointer
        # naming deleted data
        catalog.swap_pointer(path, meta)
        for sid in expired:
            catalog.drop_manifest(path, sid)
        return expired


def load_index(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    tag: str | None = None,
    catalog: Catalog | None = None,
) -> InvertedIndex:
    """Point-in-time open (≙ DirectoryReader.open over a commit point).

    With ``snapshot_id`` on a snapshot-mode table, opens that retained
    commit generation instead of the latest — time travel
    (``DirectoryReader.open(IndexCommit)``, Iceberg read-at-snapshot-id).
    ``tag`` resolves a named ref instead (Iceberg ``VERSION AS OF 'tag'``).

    Each family is read with the schema the commit recorded, so the open
    launches no Spark job (a commit written before schemas were recorded
    still opens, inferring them from the parquet footers).

    The logical ``postings`` view is reconstructed lazily by decoding the
    packed table; term-filtered queries hit the packed table directly with
    bucket pushdown (see LoadedIndex.packed_for_terms)."""
    catalog = _cat(catalog)
    if tag is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or tag, not both")
        refs = catalog.table_meta(path).get("refs", {})
        if tag not in refs:
            raise KeyError(f"no tag {tag!r} in {path}")
        snapshot_id = refs[tag]
    commit = catalog.read_pointer(path)
    data = catalog.data_location(path, "")
    if commit.get("format_version", 1) >= 2:
        sid = commit["latest"] if snapshot_id is None else int(snapshot_id)
        if sid not in commit.get("snapshots", []):
            raise FileNotFoundError(
                f"snapshot {sid} not retained in {path} "
                f"(have {commit.get('snapshots')})"
            )
        commit = catalog.read_manifest(path, sid)
        data = catalog.data_location(path, commit["data"])
    elif snapshot_id is not None:
        raise ValueError("snapshot_id requires a snapshot-mode table (v2)")
    schemas = commit.get("schemas", {})

    def family(name: str) -> DataFrame:
        return read_family(spark, [os.path.join(data, name)], schemas.get(name))

    packed = family("postings")
    docs = family("docs")
    term_stats = family("term_stats")

    from lucene_spark.index.segments import unpack_postings

    idx = InvertedIndex(
        spark=spark,
        docs=docs,
        postings=unpack_postings(packed, with_positions=True),
        term_stats=term_stats,
        stats=commit["stats"],
        packed=packed,
        k1=commit["k1"],
        b=commit["b"],
    )
    idx.n_buckets = commit["n_buckets"]
    idx.chunk_bits = commit["chunk_bits"]
    idx.packed_chunk_bits = commit["chunk_bits"]
    from lucene_spark.analysis.analyzer import Analyzer

    idx.analyzer = Analyzer.from_json(commit.get("analyzer"))
    if commit.get("term_vectors"):
        idx.term_vectors = family("tvecs")
    idx.prefer_packed = True
    return idx


def split_index(
    spark: SparkSession,
    src_path: str,
    out_paths: list,
    mode: str = "roundrobin",
    predicate: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    chunk_bits: int | None = None,
    catalog: Catalog | None = None,
) -> list:
    """Split a stored index into parts — the misc index splitters:

    * ``mode='roundrobin'`` / ``'sequential'`` ≙ MultiPassIndexSplitter
      (misc/index/MultiPassIndexSplitter.java:43: N parts, docs assigned
      round-robin ``doc_id %% n`` or as contiguous ranges); doc ids are
      PRESERVED (the reference marks the complement deleted rather than
      renumbering).
    * ``predicate='<sql over docs columns>'`` ≙ PKIndexSplitter
      (misc/index/PKIndexSplitter.java:38: docs passing the filter go to
      part 1, the rest to part 2 — exactly two out_paths).

    Each part is a self-contained store: term_stats and collection stats
    are recomputed over the part (the reference splitters keep per-segment
    stats consistent the same way, via deletes+merge).  add_indexes over
    the parts reproduces the original's scores exactly (roundtrip test).

    Plan shape per part: a scan-side filter on docs; postings filter by
    ``doc_id %% n`` (no join) for the modulo modes, a broadcast semi-join
    of the part's doc ids for the predicate mode; then the same stats
    rebuild the one-shot builder runs."""
    src = load_index(spark, src_path, catalog=catalog)
    n = len(out_paths)
    if predicate is not None:
        if n != 2:
            raise ValueError("predicate split produces exactly 2 parts")
        doc_preds = [F.expr(predicate), ~F.expr(predicate)]
        post_filters = [None, None]  # semi-join below
    elif mode == "roundrobin":
        doc_preds = [F.col("doc_id") % n == i for i in range(n)]
        post_filters = doc_preds
    elif mode == "sequential":
        max_doc = int(src.docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
        per = -(-max_doc // n)  # ceil
        doc_preds = [
            (F.col("doc_id") >= i * per) & (F.col("doc_id") < (i + 1) * per)
            for i in range(n)
        ]
        post_filters = doc_preds
    else:
        raise ValueError(f"unknown split mode {mode!r}")

    for i, out in enumerate(out_paths):
        docs = src.docs.filter(doc_preds[i])
        if post_filters[i] is not None:
            postings = src.postings.filter(post_filters[i])
        else:
            postings = src.postings.join(
                F.broadcast(docs.select("doc_id")), "doc_id", "left_semi"
            )
        part = InvertedIndex(
            spark=spark,
            docs=docs,
            postings=postings,
            term_stats=term_stats_of(postings),
            stats=collection_stats(docs),
            k1=src.k1,
            b=src.b,
        )
        part.analyzer = src.analyzer
        save_index(
            part, out, n_buckets=n_buckets, chunk_bits=chunk_bits, catalog=catalog
        )
    return list(out_paths)


def add_indexes(
    spark: SparkSession,
    paths: list,
    out_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    chunk_bits: int | None = None,
    catalog: Catalog | None = None,
) -> None:
    """Merge independently built stored indexes into one —
    ``IndexWriter.addIndexes(Directory...)`` (core/index/IndexWriter.java:3108)
    / the misc IndexMergeTool (misc/index/IndexMergeTool.java:28).

    Doc ids from each source are shifted by the running offset (DocIDMerger
    remap, core/index/DocIDMerger.java), postings follow their docs,
    term_stats and collection stats are recomputed over the union — so the
    merged index scores with GLOBAL statistics, exactly as if the corpora
    had been indexed together.  Plan shape: per-source projections + one
    union; the only aggregates are the term_stats/doc-stats rebuilds the
    one-shot builder runs anyway."""
    srcs = [load_index(spark, p, catalog=catalog) for p in paths]
    if not srcs:
        raise ValueError("add_indexes: no source indexes given")
    # ≙ IndexWriter.addIndexes' config checks: merging indexes built with
    # different analyzers or similarity params would silently mis-score
    base = srcs[0]
    base_an = base.analyzer.to_json() if base.analyzer else None
    for p, idx in zip(paths[1:], srcs[1:]):
        an = idx.analyzer.to_json() if idx.analyzer else None
        if an != base_an or idx.k1 != base.k1 or idx.b != base.b:
            raise ValueError(
                f"add_indexes: source {p} was built with a different "
                f"analyzer/k1/b config than {paths[0]} — refusing to merge "
                "inconsistent indexes"
            )
    offset = 0
    docs_parts, post_parts = [], []
    for idx in srcs:
        hi = idx.docs.agg(F.max("doc_id")).collect()[0][0]
        if hi is None:
            hi = -1  # empty source: contributes no rows, no offset shift
        docs_parts.append(
            idx.docs.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
        post_parts.append(
            idx.postings.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        )
        offset += int(hi) + 1

    docs = docs_parts[0]
    postings = post_parts[0]
    for d, p in zip(docs_parts[1:], post_parts[1:]):
        docs = docs.unionByName(d)
        postings = postings.unionByName(p)

    merged = InvertedIndex(
        spark=spark,
        docs=docs,
        postings=postings,
        term_stats=term_stats_of(postings),
        stats=collection_stats(docs),
        k1=srcs[0].k1,
        b=srcs[0].b,
    )
    merged.analyzer = srcs[0].analyzer
    save_index(
        merged, out_path, n_buckets=n_buckets, chunk_bits=chunk_bits, catalog=catalog
    )
