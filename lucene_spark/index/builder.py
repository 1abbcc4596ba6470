"""Index build: transcripts DataFrame -> inverted index tables.

Re-expresses the reference's IndexWriter lifecycle (SURVEY.md §3.1) as
DataFrame stages:

    read transcripts
      -> repartitionByRange(conv_id, turn_idx) + sortWithinPartitions
         (one input partition ≙ one DocumentsWriterPerThread / segment)
      -> deterministic dense doc_id (global rank over (conv_id, turn_idx) —
         two-pass offsets, no global window; ≙ DocIDMerger's stable remap,
         core/index/DocIDMerger.java:32)
      -> analyze + per-doc invert in one Arrow-batched mapInPandas pass
         (Analyzer.analyze_text / tokenize_text; see IndexBuilder._arrow_base)
         (term, doc_id) -> freq, positions       (≙ TermsHashPerField.add)
      -> norms: intToByte4(token_count) as integer-exact JVM expression
         (≙ IndexingChain.java:1158-1164 + SmallFloat.java:103-156)
      -> explode the per-doc entries to postings rows; dictionary stemmers
         re-aggregate on the distinct term dictionary (apply_dict_stemmer)
      -> (term) -> doc_freq, ttf, ...            (≙ term dictionary stats)
      -> stats: global docCount / sumTotalTermFreq
         (≙ IndexSearcher.collectionStatistics, IndexSearcher.java:913-928)

No shuffle touches per-token rows.  The block codec (compressed segment
format) is layered on top in ``lucene_spark.index.segments``.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace as dc_replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from lucene_spark.analysis.analyzer import DICT_STEMMERS, Analyzer
from lucene_spark.util.smallfloat import NUM_FREE_VALUES

DOC_KEY = ("conv_id", "turn_idx")


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the block storage behind a ``localCheckpoint``-ed DataFrame.

    ``Dataset.unpersist()`` only releases cacheManager entries (``persist``);
    a local checkpoint pins its RDD at the block-manager level and is
    otherwise reclaimed only by the periodic ContextCleaner GC (default every
    30 min) — repeated builds in one long-lived JVM would accumulate
    corpus-sized checkpoint blocks in the meantime (the round-3 leak shape).
    Walk the analyzed plan's leaves and unpersist any LogicalRDD directly.
    Callers must only do this once nothing will re-evaluate the relation:
    the lineage is truncated, so a post-release evaluation fails loudly.
    """
    try:
        it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:
        pass  # best-effort: storage reclaim must never fail a release path


def _byte4_encode(colname: str):
    """intToByte4(col) as a SQL expression string (integer-exact)."""
    n = NUM_FREE_VALUES
    v = f"(CAST({colname} AS BIGINT) - {n})"
    nbits = f"length(bin({v}))"
    shift = f"({nbits} - 4)"
    enc = f"((shiftright({v}, {shift}) & 7) | (({shift} + 1) << 3))"
    return F.expr(
        f"CASE WHEN {colname} < {n} THEN {colname} "
        f"WHEN {v} < 8 THEN {n} + {v} "
        f"ELSE {n} + {enc} END"
    ).cast("int")


@dataclass
class InvertedIndex:
    """Logical inverted index: a set of DataFrames + tiny global stats.

    docs:       doc_id, conv_id, turn_idx, role, tool, ts, length, norm, segment
    postings:   term, doc_id, freq, positions(array<int>), norm, segment
    term_stats: term, doc_freq, total_term_freq, max_freq, min_norm
    stats:      {'doc_count', 'sum_total_term_freq', 'max_doc'}  (global, like
                collectionStatistics — docCount counts docs with >=1 token)
    """

    spark: SparkSession
    docs: DataFrame
    postings: DataFrame
    term_stats: DataFrame
    stats: dict
    segments: Optional[DataFrame] = None  # block-codec segment table (optional)
    packed: Optional[DataFrame] = None  # packed block-codec postings (segments.py)
    # slim scoring relation (term, doc_id, freq, norm) — cached separately so
    # term-query scans never deserialize the positions arrays
    postings_slim: Optional[DataFrame] = None
    k1: float = 1.2
    b: float = 0.75
    # the analysis chain this index was built with (None = plain standard
    # tokenize); searchers MUST analyze query text with the same chain
    analyzer: Optional[Analyzer] = None

    # set by store.load_index: route term lookups through the packed table
    # (filter BEFORE the decode UDF -> parquet predicate/partition pushdown)
    prefer_packed: bool = False
    n_buckets: Optional[int] = None
    # term vectors: the postings laid out BY DOCUMENT (doc_id-range sorted)
    # ≙ Lucene90TermVectorsFormat (Lucene99Codec.java:51) — per-doc
    # term/freq/positions fetch without scanning the term-bucketed layout.
    # None until with_term_vectors() / load_index(tvecs present).
    term_vectors: Optional[DataFrame] = None
    # False for DOCS_AND_FREQS indexes (term_freq_delimiter): positions are
    # typed nulls, positional queries unsupported, check() skips the
    # positions invariant (IndexOptions.DOCS_AND_FREQS semantics)
    has_positions: bool = True
    # every DataFrame this index persisted (released by unpersist_all)
    cached: tuple = ()

    def unpersist_all(self) -> None:
        for df in self.cached:
            df.unpersist()
            _release_local_checkpoint(df)
        if self.packed is not None:
            self.packed.unpersist()

    def with_packed(self, chunk_bits: int = None, cache: bool = True) -> "InvertedIndex":
        """Attach the packed (delta/varint block) postings table, building it
        from the logical postings if needed (SURVEY.md §2.4).  Requesting a
        ``chunk_bits`` different from an already-attached table's rebuilds
        the table at the new granularity (never silently ignored)."""
        from lucene_spark.index.segments import DEFAULT_CHUNK_BITS, pack_postings

        want = chunk_bits or DEFAULT_CHUNK_BITS
        if self.packed is not None and want != getattr(
            self, "packed_chunk_bits", DEFAULT_CHUNK_BITS
        ):
            self.packed.unpersist()
            self.packed = None
        if self.packed is None:
            p = pack_postings(self.postings, chunk_bits=want)
            self.packed = p.persist() if cache else p
            self.packed_chunk_bits = want
        return self

    def with_term_vectors(self, cache: bool = True) -> "InvertedIndex":
        """Attach the doc-major term-vectors relation (postings re-sorted by
        doc_id).  One extra shuffle at build time; after it, a per-doc
        term/freq/positions fetch is a doc_id-pruned scan instead of a scan
        across every term bucket (the reference stores the same data in the
        .tvd/.tvx files — Lucene90TermVectorsFormat)."""
        if self.term_vectors is None:
            n = max(self.postings.rdd.getNumPartitions(), 1)
            tv = (
                self.postings.select("term", "doc_id", "freq", "positions")
                .repartitionByRange(n, "doc_id")
                .sortWithinPartitions("doc_id", "term")
            )
            self.term_vectors = tv.persist() if cache else tv
            if cache:
                self.cached = self.cached + (self.term_vectors,)
        return self

    def term_vector(self, doc_id: int) -> DataFrame:
        """(term, freq, positions) for one document — TermVectors.get(doc).
        Uses the doc-major relation when attached (row-group pruned by the
        doc_id filter), else filters the logical postings."""
        src = self.term_vectors if self.term_vectors is not None else self.postings
        return src.filter(F.col("doc_id") == doc_id).select(
            "term", "freq", "positions"
        )

    def bucket_filter(self, df: DataFrame, terms) -> DataFrame:
        """Partition pruning for term lookups on a bucketed stored table
        (≙ the term-dictionary seek; store.py layout)."""
        if self.n_buckets and "bucket" in df.columns:
            from lucene_spark.index.store import term_bucket

            buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
            return df.filter(F.col("bucket").isin(buckets))
        return df

    def postings_for_terms(self, terms, with_positions: bool = False) -> DataFrame:
        """Postings rows for an explicit term set, via the cheapest access
        path: the in-memory logical relation when this index was just built,
        or packed-scan -> decode (with bucket + term pushdown *before* the
        decode UDF) when opened from storage.  ≙ TermQuery's
        postings-seek (TermsEnum.seekExact -> postings())."""
        terms = sorted(set(terms))
        if with_positions and not self.has_positions:
            # DOCS_AND_FREQS index (term_freq_delimiter): positions are
            # typed nulls — a positional plan would silently match nothing
            raise ValueError(
                "positional query on a DOCS_AND_FREQS index "
                "(term_freq_delimiter): no positions were indexed"
            )
        if self.packed is not None and self.prefer_packed:
            from lucene_spark.index.segments import unpack_postings

            pk = self.bucket_filter(self.packed, terms).filter(
                F.col("term").isin(terms)
            )
            return unpack_postings(pk, with_positions=with_positions)
        if not with_positions and self.postings_slim is not None:
            return self.postings_slim.filter(F.col("term").isin(terms))
        # positions path on an in-memory index: cache the positions relation
        # on first use — phrase plans self-join it per term, and an uncached
        # derivation would re-run the whole tokenize+invert per join side
        if not getattr(self, "_positions_cached", False):
            self.postings = self.postings.persist()
            self.cached = self.cached + (self.postings,)
            self._positions_cached = True
        return self.postings.filter(F.col("term").isin(terms))

    def check(self) -> dict:
        """CheckIndex-style invariants (FIXTURES.md §6, CheckIndex.java:526).

        Returns a dict of invariant-name -> bool; raises on failure.
        """
        out = {}
        ts = (
            self.postings.groupBy("term")
            .agg(
                F.count("*").alias("df2"),
                F.sum("freq").alias("ttf2"),
                F.max("freq").alias("mf2"),
                F.min("norm").alias("mn2"),
            )
        )
        joined = self.term_stats.join(ts, "term", "full")
        bad = joined.filter(
            (F.col("doc_freq") != F.col("df2"))
            | (F.col("total_term_freq") != F.col("ttf2"))
            | (F.col("max_freq") != F.col("mf2"))
            | (F.col("min_norm") != F.col("mn2"))
        ).count()
        out["term_stats_match_recount"] = bad == 0
        dup = (
            self.docs.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
        )
        out["doc_key_unique"] = dup == 0
        did = self.docs.agg(
            F.count("*").alias("n"),
            F.countDistinct("doc_id").alias("nd"),
            F.min("doc_id").alias("mn"),
            F.max("doc_id").alias("mx"),
        ).collect()[0]
        out["doc_ids_dense"] = did.nd == did.n and did.mn == 0 and did.mx == did.n - 1
        if self.has_positions:
            posbad = self.postings.filter(
                (F.size("positions") != F.col("freq"))
                | (~F.expr(
                    "positions = array_sort(array_distinct(positions))"
                ))
            ).count()
            out["positions_sorted_match_freq"] = posbad == 0
        sttf = self.postings.agg(F.sum("freq")).collect()[0][0] or 0
        out["stats_sum_total_term_freq"] = sttf == self.stats["sum_total_term_freq"]
        if not all(out.values()):
            raise AssertionError(f"index invariants failed: {out}")
        return out


class IndexBuilder:
    """Builds an :class:`InvertedIndex` from a transcripts DataFrame."""

    def __init__(
        self,
        k1: float = 1.2,
        b: float = 0.75,
        num_segments: Optional[int] = None,
        text_col: str = "text",
        analyzer: Optional[Analyzer] = None,
        keyword_repeat: bool = False,
        payload_delimiter: Optional[str] = None,
        payload_encoder: str = "float",
        term_freq_delimiter: Optional[str] = None,
    ):
        if term_freq_delimiter is not None:
            # DelimitedTermFrequencyTokenFilter (analysis/common/.../
            # miscellaneous/DelimitedTermFrequencyTokenFilter.java:41):
            # "term|N" sets the token's term frequency to N; the field is
            # indexed DOCS_AND_FREQS — no positions.  Same tokenizer caveat
            # as payloads: whitespace tokenization.
            if payload_delimiter is not None:
                raise ValueError(
                    "term_freq_delimiter and payload_delimiter are exclusive"
                )
            if analyzer is not None:
                raise ValueError(
                    "term_freq_delimiter uses whitespace tokenization; "
                    "an analyzer chain is not supported"
                )
        if payload_delimiter is not None:
            # DelimitedPayloadTokenFilter (analysis/payloads.py): whitespace
            # tokenization only (the reference's "tokenizer must not split on
            # the delimiter" caveat), no analyzer chain
            from lucene_spark.analysis.payloads import PAYLOAD_ENCODERS

            if analyzer is not None:
                raise ValueError(
                    "payload_delimiter uses whitespace tokenization; "
                    "an analyzer chain is not supported"
                )
            if payload_encoder not in PAYLOAD_ENCODERS:
                raise ValueError(
                    f"payload_encoder must be one of {sorted(PAYLOAD_ENCODERS)}"
                )
        if keyword_repeat and (
            analyzer is None or analyzer.stemmer not in DICT_STEMMERS
        ):
            # KeywordRepeatFilter only makes sense ahead of a stemmer
            # (miscellaneous/KeywordRepeatFilter.java:30) — here, the
            # deferred dictionary-stage one
            raise ValueError(
                "keyword_repeat requires a dictionary-stage stemmer analyzer"
            )
        self.k1 = k1
        self.b = b
        self.num_segments = num_segments
        self.text_col = text_col
        self.analyzer = analyzer
        self.keyword_repeat = keyword_repeat
        self.payload_delimiter = payload_delimiter
        self.payload_encoder = payload_encoder
        self.term_freq_delimiter = term_freq_delimiter

    # -- deterministic dense doc ids ------------------------------------
    def assign_doc_ids(self, df: DataFrame) -> DataFrame:
        """Dense doc_id = global rank over (conv_id, turn_idx).

        Derived as a pure function of the DATA, never of a physical layout:
        ``doc_id = conv_start(conv_id) + rank(turn_idx within conv)``.  The
        only pinned artifact is the per-conversation start-offset relation
        (one row per conv — corpus-small), computed with a scalable two-pass
        cumulative sum at the CONV level (range-partition convs, per-partition
        totals to the driver, window cumsum within partitions).  Everything
        turn-level is deterministic lineage: a recompute of any postings/docs
        block after cache eviction or executor loss re-derives byte-identical
        doc_ids — there is no monotonically_increasing_id and no corpus-sized
        staging cache to keep alive (round-3 ADVICE).  ≙ Lucene's
        deterministic docID remap on merge (core/index/DocIDMerger.java:73-83).

        ``segment`` becomes ``floor(doc_id * n / total)``: contiguous,
        balanced doc ranges — the same shape the old range-partition pid
        produced, but reproducible.
        """
        from pyspark.sql.window import Window

        spark = df.sparkSession
        n = self.num_segments or spark.sparkContext.defaultParallelism
        # pass 1: per-conv turn counts (map-side combine; one row per conv)
        conv_sorted = (
            df.groupBy("conv_id")
            .agg(F.count("*").alias("_cn"))
            .repartitionByRange(n, "conv_id")
            .withColumn("_pid", F.spark_partition_id())
            .persist()
        )
        ptot = (
            conv_sorted.groupBy("_pid")
            .agg(F.sum("_cn").alias("_docs"), F.count("*").alias("_convs"))
            .collect()
        )
        offsets, acc, n_convs = {}, 0, 0
        for row in sorted(ptot, key=lambda r: r._pid):
            offsets[int(row._pid)] = acc
            acc += int(row._docs)
            n_convs += int(row._convs)
        total = acc
        off_df = F.broadcast(
            spark.createDataFrame(
                sorted((p, o) for p, o in offsets.items()), "_pid int, _doff long"
            )
        )
        cum = (
            Window.partitionBy("_pid")
            .orderBy("conv_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        # eager checkpoint pins the tiny conv->offset map (its own derivation
        # used spark_partition_id, so IT must be frozen); after this, nothing
        # in the build depends on a physical layout
        conv_offsets = (
            conv_sorted.join(off_df, "_pid")
            .withColumn(
                "_start", F.col("_doff") + F.coalesce(F.sum("_cn").over(cum), F.lit(0))
            )
            .select("conv_id", "_start")
            .localCheckpoint(eager=True)
        )
        conv_sorted.unpersist()
        # hand the checkpoint to build() for lifecycle release: its blocks
        # stay pinned until nothing derives from them un-materialized
        self._conv_offsets = conv_offsets
        # pass 2: join offsets back, rank turns within each conv.  The
        # repartitionByRange(conv_id) both feeds the window (range
        # partitioning clusters equal conv_ids) and leaves the output in
        # global doc_id order — contiguous sorted segments, like a Lucene
        # flush (index sorting, SURVEY §2.5).
        rank_w = Window.partitionBy("conv_id").orderBy("turn_idx")
        # the offsets relation is one slim row per conv: broadcast it below
        # ~8M convs (a few hundred MB) so the corpus shuffles exactly once
        # (the range exchange); above that, fall back to a shuffle join —
        # the AQE-safe shape for billions of convs at 100 TB.  The explicit
        # hint matters because the localCheckpoint leaf has no stats for AQE.
        if n_convs <= 8_000_000:
            conv_offsets = F.broadcast(conv_offsets)
        out = (
            df.join(conv_offsets, "conv_id")
            .repartitionByRange(n, "conv_id")
            .withColumn(
                "doc_id",
                (F.col("_start") + F.row_number().over(rank_w) - F.lit(1)).cast(
                    "long"
                ),
            )
            .withColumn(
                "segment",
                F.least(
                    F.lit(n - 1),
                    (F.col("doc_id") * n / F.lit(max(total, 1))).cast("int"),
                ).cast("int"),
            )
            .drop("_start")
        )
        return out

    # -- dictionary-stage stemmers (porter + per-language light stems) ---
    @staticmethod
    def apply_dict_stemmer(
        postings: DataFrame,
        stemmer: str,
        exclusions: frozenset = frozenset(),
        keyword_repeat: bool = False,
    ) -> DataFrame:
        """Stem the postings' terms with a dictionary-stage stemmer
        (analyzer.DICT_STEMMERS: full Porter or a per-language light
        stemmer from analysis/lang.py).  ``exclusions`` are surface forms
        the stem pass leaves untouched (SetKeywordMarkerFilter.java:28 —
        the KeywordAttribute contract); since stemming is deferred to the
        term dictionary, checking the dictionary surface form here is
        exactly the reference's marker-before-stemmer chain.

        ``keyword_repeat`` ≙ the KeywordRepeatFilter -> stemmer ->
        RemoveDuplicatesTokenFilter chain (miscellaneous/
        KeywordRepeatFilter.java:30, RemoveDuplicatesTokenFilter.java:29):
        each token is indexed under BOTH its surface form and its stem
        (one entry when they coincide — the duplicate removal), giving
        exact-form matching alongside stemmed recall.  The repeated token
        carries posInc=0 in the reference, so FieldInvertState.numOverlap
        discounts it from the norm (discountOverlaps=true): dl/norms stay
        the SURFACE counts — exactly what this deferred-dictionary shape
        produces for free, since norms were computed at invert time.

        Spark-first shape: the stemmer runs ONCE PER DISTINCT TERM
        (Arrow-batched UDF over the vocabulary — O(|V|) Python, never per
        token), the tiny (term, stem) map broadcast-joins back, and a
        (stem, doc) re-agg merges postings of terms that collapse to the
        same stem (summed freq, union-sorted positions) — exactly what the
        reference's per-token stem filters yield at the index level.
        Cost: one extra (term, doc_id) shuffle at build time."""
        import pandas as pd

        # resolve on the DRIVER and close over the function: dynamically
        # registered stemmers (hunspell.register_stemmer) exist only in
        # the driver's DICT_STEMMERS — cloudpickle ships the closure
        # (module-level builtin stemmers still pickle by reference)
        from lucene_spark.analysis.analyzer import DICT_STEMMERS

        fn = DICT_STEMMERS[stemmer]

        multi = getattr(fn, "emits_multiple", False)

        def stem_part(batches):
            for pdf in batches:
                terms, stems = [], []
                for t in pdf["term"]:
                    if multi:
                        # multi-output stemmers (hunspell all_stems mode):
                        # one dictionary row per distinct stem
                        outs = [t] if t in exclusions else list(
                            dict.fromkeys(fn(t))
                        )
                        for s in outs:
                            terms.append(t)
                            stems.append(s)
                        if keyword_repeat and t not in outs:
                            terms.append(t)
                            stems.append(t)
                        continue
                    s = t if t in exclusions else fn(t)
                    terms.append(t)
                    stems.append(s)
                    if keyword_repeat and s != t:
                        # the kept KeywordRepeat original (the duplicate
                        # case s == t is removed, RemoveDuplicates)
                        terms.append(t)
                        stems.append(t)
                yield pd.DataFrame({"term": terms, "stem": stems})

        vocab = postings.select("term").distinct()
        stem_map = vocab.mapInPandas(stem_part, "term string, stem string")
        return (
            postings.join(F.broadcast(stem_map), "term")
            .groupBy(F.col("stem").alias("term"), F.col("doc_id"))
            .agg(
                F.sum("freq").cast("int").alias("freq"),
                F.array_sort(F.flatten(F.collect_list("positions"))).alias(
                    "positions"
                ),
                F.min("norm").alias("norm"),
                F.min("segment").alias("segment"),
            )
        )

    # -- vectorized Arrow tokenize + invert -------------------------------
    def _arrow_base(self, with_ids: DataFrame) -> DataFrame:
        """Tokenize + per-doc invert in ONE Arrow-batched ``mapInPandas``
        pass — the north-star shape ("tokenize/normalize transcript turns
        with vectorized Arrow UDFs").  The analysis chain is the one
        implementation (``Analyzer.analyze_text`` / ``tokenize_text``) the
        Python oracle also runs; the DuckDB twins check it independently.
        Per-doc Python here is a C-speed regex + dict append — Lucene's
        doc-at-a-time ``IndexingChain``/``TermsHashPerField`` hash
        (IndexingChain.java:561, TermsHashPerField.java:190) as a per-doc
        dict; batches move as Arrow columns, never per-row Python UDF
        calls.
        """
        import pandas as pd

        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        an = self.analyzer
        if an is not None and an.is_noop():
            an = None
        if an is not None and an.stemmer in DICT_STEMMERS:
            # dictionary stemmers are deferred to the term dictionary
            # (apply_dict_stemmer); the index chain runs everything BUT the
            # stem (dict-stemmer+synonyms is rejected at Analyzer init, so
            # dropping the stem here changes nothing else).
            an = dc_replace(an, stemmer=None)
        text_col = self.text_col
        pay_delim = self.payload_delimiter
        pay_enc = self.payload_encoder
        tf_delim = self.term_freq_delimiter
        if tf_delim is not None:
            # DOCS_AND_FREQS layout: (term, freq), no positions
            entry_fields = [
                StructField("term", StringType()),
                StructField("freq", IntegerType()),
            ]
        else:
            entry_fields = [
                StructField("term", StringType()),
                StructField("positions", ArrayType(IntegerType())),
            ]
        if pay_delim is not None:
            from pyspark.sql.types import FloatType

            entry_fields.append(
                StructField("payloads", ArrayType(FloatType(), True))
            )
        entry_t = ArrayType(StructType(entry_fields))
        # The raw text column is consumed here and deliberately NOT
        # re-emitted: nothing downstream of the invert reads it, and the
        # inverted base gets persisted — carrying ~KB of text per turn
        # through the Arrow return channel and into the cache roughly
        # doubles the fresh-memory footprint of the build for zero use.
        out_schema = StructType(
            [f for f in with_ids.schema.fields if f.name != text_col]
            + [
                StructField("length", IntegerType()),
                StructField("_entries", entry_t),
            ]
        )

        def invert_batches(batches):
            from lucene_spark.analysis.tokenizer import tokenize_text

            for pdf in batches:
                lengths = []
                entries_out = []
                if tf_delim is not None:
                    # DelimitedTermFrequencyTokenFilter.java:58-72: split at
                    # the first delimiter, parse the tail as the int term
                    # frequency (malformed -> raise, ArrayUtil.parseInt); a
                    # token without the delimiter keeps frequency 1.  The
                    # field length is the SUM of term frequencies
                    # (IndexingChain.java:1275: invertState.length +=
                    # termFreqAttribute.getTermFrequency()).
                    for t in pdf[text_col]:
                        toks = t.split() if t else []
                        inv: dict = {}
                        dl = 0
                        for raw in toks:
                            i = raw.find(tf_delim)
                            if i < 0:
                                term, tf = raw, 1
                            else:
                                term = raw[:i]
                                tf = int(raw[i + len(tf_delim):])
                                if tf < 1:
                                    # TermFrequencyAttributeImpl.
                                    # setTermFrequency rejects < 1
                                    raise ValueError(
                                        f"term frequency must be >= 1, "
                                        f"got {tf} in {raw!r}"
                                    )
                            dl += tf
                            inv[term] = inv.get(term, 0) + tf
                        lengths.append(dl)
                        entries_out.append(
                            [{"term": k, "freq": v} for k, v in inv.items()]
                        )
                elif pay_delim is not None:
                    # DelimitedPayloadTokenFilter path: whitespace tokenize,
                    # split term|payload at the first delimiter, decode the
                    # payload with the configured encoder (analysis/payloads)
                    from lucene_spark.analysis.payloads import (
                        delimited_payload_entries,
                    )

                    for t in pdf[text_col]:
                        n_toks, inv = delimited_payload_entries(
                            t, pay_delim, pay_enc
                        )
                        lengths.append(n_toks)
                        entries_out.append(
                            [
                                {"term": k, "positions": v[0], "payloads": v[1]}
                                for k, v in inv.items()
                            ]
                        )
                elif an is None:
                    for t in pdf[text_col]:
                        toks = tokenize_text(t)
                        inv: dict = {}
                        for pos, term in enumerate(toks):
                            ps = inv.get(term)
                            if ps is None:
                                inv[term] = [pos]
                            else:
                                ps.append(pos)
                        lengths.append(len(toks))
                        entries_out.append(
                            [{"term": k, "positions": v} for k, v in inv.items()]
                        )
                else:
                    for t in pdf[text_col]:
                        pairs = an.analyze_text(t)
                        inv = {}
                        for term, pos in pairs:
                            ps = inv.get(term)
                            if ps is None:
                                inv[term] = [pos]
                            else:
                                ps.append(pos)
                        lengths.append(len(pairs))
                        entries_out.append(
                            [{"term": k, "positions": v} for k, v in inv.items()]
                        )
                out = pdf.drop(columns=[text_col])
                out["length"] = pd.Series(
                    lengths, index=pdf.index, dtype="int32"
                )
                out["_entries"] = pd.Series(
                    entries_out, index=pdf.index, dtype=object
                )
                yield out

        return with_ids.mapInPandas(invert_batches, out_schema).withColumn(
            "norm", _byte4_encode("length")
        )

    # -- full build ------------------------------------------------------
    def build(self, transcripts: DataFrame) -> InvertedIndex:
        """Assign doc ids, then analyze + invert each document in one
        Arrow-batched pass (:meth:`_arrow_base`) and fan the inverted base
        out to docs, postings and term stats."""
        spark = transcripts.sparkSession
        with_ids = self.assign_doc_ids(transcripts)

        # base is localCheckpoint'ed (eager) purely as a MATERIALIZATION
        # point: docs/postings/term_stats all fan out from it, and without
        # a cut here each would re-tokenize the corpus.  doc_id itself is
        # deterministic lineage (assign_doc_ids: rank over the data), so a
        # lost checkpoint block is only a recompute cost, never an id
        # desync.  On a real cluster the durable path is
        # CheckpointedIndexBuilder, which writes the base to parquet.
        # ≙ Lucene's docIDs being fixed at flush time
        # (index/DocumentsWriterPerThread.java).
        base = self._arrow_base(with_ids).localCheckpoint(eager=True)
        # base's checkpoint truncated lineage, so the conv-offsets
        # checkpoint behind doc_id is no longer referenced — free it now
        co = getattr(self, "_conv_offsets", None)
        if co is not None:
            self._conv_offsets = None
            _release_local_checkpoint(co)
        docs = base.select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
            "length", "norm", "segment",
        )
        if self.term_freq_delimiter is not None:
            # DOCS_AND_FREQS: explicit freq, typed-null positions
            post_cols = [
                F.col("_e.term").alias("term"),
                F.col("doc_id"),
                F.col("_e.freq").alias("freq"),
                F.lit(None).cast("array<int>").alias("positions"),
                F.col("norm"),
                F.col("segment"),
            ]
        else:
            post_cols = [
                F.col("_e.term").alias("term"),
                F.col("doc_id"),
                F.size("_e.positions").cast("int").alias("freq"),
                F.col("_e.positions").alias("positions"),
                F.col("norm"),
                F.col("segment"),
            ]
        if self.payload_delimiter is not None:
            # payloads ride the postings rows, aligned with positions
            # (≙ the .pay file of Lucene90PostingsFormat)
            post_cols.insert(4, F.col("_e.payloads").alias("payloads"))
        postings = base.select(
            "doc_id", "segment", "norm", F.explode("_entries").alias("_e")
        ).select(*post_cols)
        cached = (base,)
        if self.analyzer is not None and self.analyzer.stemmer in DICT_STEMMERS:
            postings = self.apply_dict_stemmer(
                postings,
                self.analyzer.stemmer,
                self.analyzer.stem_exclusions,
                keyword_repeat=self.keyword_repeat,
            ).persist()
            cached = cached + (postings,)
        # positions stay cached (re-derived on demand for phrases);
        # scoring scans hit only the slim primitive columns
        postings_slim = postings.select(
            "term", "doc_id", "freq", "norm"
        ).persist()
        docs = docs.persist()
        cached = cached + (docs, postings_slim)

        term_stats = (
            postings_slim.groupBy("term")
            .agg(
                F.count("*").alias("doc_freq"),
                F.sum("freq").alias("total_term_freq"),
                F.max("freq").alias("max_freq"),
                F.min("norm").alias("min_norm"),
            )
            .persist()
        )
        cached = cached + (term_stats,)

        srow = docs.agg(
            F.count("*").alias("max_doc"),
            F.sum(F.when(F.col("length") > 0, 1).otherwise(0)).alias("doc_count"),
            F.sum("length").alias("sttf"),
        ).collect()[0]
        stats = {
            "max_doc": int(srow.max_doc),
            "doc_count": int(srow.doc_count or 0),
            "sum_total_term_freq": int(srow.sttf or 0),
        }
        return InvertedIndex(
            spark=spark,
            docs=docs,
            postings=postings,
            term_stats=term_stats,
            stats=stats,
            postings_slim=postings_slim,
            k1=self.k1,
            b=self.b,
            analyzer=self.analyzer,
            has_positions=self.term_freq_delimiter is None,
            cached=cached,
        )
