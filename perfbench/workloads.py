"""The benchmark's two workloads, driven only through the engine's public API.

Both are closed loops with one client thread.  Each workload reports every
end-to-end metric (see METRICS.md for how each is measured per workload) and,
when traced, every per-layer metric.  Results are checked against
``lucene_spark.oracle.OracleIndex`` after the timed window, so oracle time is
in no metric.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import replace

import numpy as np

import gen
from probes import Tracer, Usage, catalyst_phases, dir_size, usage

K = 10
SEARCH_TURNS = 1200
NRT_BATCH_TURNS = 200
NRT_MAX_BATCHES = 12
NRT_FOLLOWUPS = 1
STORE_AT_BATCH = 2
COUNTED_QUERIES = 5
COUNTED_CYCLES = 2
# 1 segment per tier, 2-way merges: with equal batches the first merge fires
# at the third batch (the second timed cycle) and then at every second batch,
# so readers see 2-3 live segments
NRT_MERGE = dict(segs_per_tier=1, max_merge_at_once=2, floor_docs=NRT_BATCH_TURNS)

LAYERS = ("index.builder", "index.store", "search.searcher", "search.packed",
          "streaming.incremental")
# wall and CPU times of the operations: printed in every run's stamp line but
# not gated, because on a shared 4-vCPU VM their spread over ten runs reached
# 0.3, above the largest bound the benchmark may set
UNGATED_UNITS = {"setup_wall_s": "s", "query_p50_s": "s", "open_s": "s",
                 "visible_p50_s": "s", "ingest_turns_per_s": "turns/s", "query_cpu_s": "s",
                 "open_cpu_s": "s", "visible_cpu_s": "s", "ingest_turns_per_cpu_s": "turns/s"}
# measured again with tracing on; the difference to an untraced run of the
# same seed is the tracing overhead
TRACED_E2E = ("setup_s", *UNGATED_UNITS)
SHAPES = ("term_head", "term_mid", "term_rare", "or", "and", "not", "phrase", "sloppy")


def median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


class Run:
    """State shared by both workloads: Spark, tracer, timings, failures."""

    def __init__(self, spark, tracer: Tracer, workdir: str, seconds: float, cores: int,
                 t_process: float, t_spark_ready: float):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seconds = seconds
        self.cores = cores
        self.t_process = t_process
        self.t_spark_ready = t_spark_ready
        self.attempted = 0
        self.failures: list[str] = []

    def snap(self) -> Usage:
        return usage(self.spark, self.tracer.py4j, count_jobs=not self.tracer.enabled)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)


def _corpus_df(spark, rows):
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts long"
    return spark.createDataFrame(pdf, schema).withColumn("ts", F.col("ts").cast("timestamp"))


def _hits(rows):
    return [(r.conv_id, int(r.turn_idx), int(np.float32(r.score).view(np.uint32))) for r in rows]


def oracle_hits(oi, spec: gen.QuerySpec, conv_key=lambda c: c):
    terms = list(spec.terms)
    if spec.kind == "or":
        hits = oi.search_or(terms, K)
    elif spec.kind == "and":
        hits = oi.search_and(terms, K)
    elif spec.kind == "not":
        hits = oi.search_not(terms, list(spec.neg), K)
    elif spec.kind == "phrase":
        hits = oi.search_phrase(terms, K)
    else:
        hits = oi.search_sloppy_phrase(terms, spec.slop, K)
    return [(conv_key(c), int(t), int(np.float32(s).view(np.uint32)))
            for c, t, s in oi.topk_keys(hits)]


class Query:
    """One timed query: parse -> search -> collected top-K rows."""

    def __init__(self, run: Run, searcher, spec: gen.QuerySpec, rid: str):
        from lucene_spark.search import QueryParser

        tr = run.tracer
        self.spec = spec
        self.rows = None
        self.error = None
        self.span = None
        self.use = Usage(0.0, 0, 0)
        u0 = run.snap()
        t0 = time.perf_counter()
        try:
            with tr.request(rid), tr.span("query", "search.searcher", shape=spec.shape) as qs:
                self.span = qs
                with tr.span("parser.parse", "search.searcher"):
                    q = QueryParser().parse(spec.text)
                with tr.span("searcher.search", "search.searcher"):
                    df = searcher.search(q, K, prune=spec.prune)
                with tr.span("searcher.collect", "search.searcher"):
                    self.rows = _hits(df.collect())
            self.latency = time.perf_counter() - t0
            self.use = run.snap() - u0
        except Exception as e:  # a failed query is counted, never fatal
            self.latency = time.perf_counter() - t0
            self.error = f"{spec.shape} {spec.text!r}: {type(e).__name__}: {e}"
            return
        self._probe = (searcher, q, df, rid)

    def trace_probes(self, run: Run) -> None:
        """Traced run only, after the timed window: Catalyst phase times of
        the executed plan, and for a pruned query the rows of the pruned
        candidate set against the full match set of the same query."""
        if self.error is not None:
            return
        tr = run.tracer
        searcher, q, df, rid = self._probe
        with tr.py4j.pause():
            self.span.attrs.update(catalyst_phases(df))
        if self.spec.kind in ("or", "and") and self.spec.prune:
            with tr.request(rid):
                with tr.span("searcher.scored_packed", "search.packed") as ps:
                    ps.attrs["rows"] = searcher.scored_packed(q, K, prune=True).count()
                with tr.span("searcher.scored", "search.searcher") as fs:
                    fs.attrs["rows"] = searcher.scored(q).count()
            ps.attrs["base_rows"] = fs.attrs["rows"]


# ---------------------------------------------------------------------------
# search: set-up builds, saves and opens one stored index; the timed part
# streams top-10 queries at it.


def search(run: Run, seed: int) -> dict:
    from lucene_spark.index import IndexBuilder
    from lucene_spark.index.store import load_index, save_index
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.search import IndexSearcher

    spark, tr = run.spark, run.tracer
    corpus = gen.conversations(seed, SEARCH_TURNS)
    specs = gen.search_queries(seed, corpus, 1000)
    src = os.path.join(run.workdir, "corpus")
    _corpus_df(spark, corpus.rows).write.mode("overwrite").parquet(src)
    transcripts = spark.read.parquet(src)
    t_gen = time.perf_counter() - run.t_spark_ready

    # set-up: build + materialize + save the index the timed part searches
    path = os.path.join(run.workdir, "index")
    u0 = run.snap()
    t0 = time.perf_counter()
    with tr.request("setup"):
        idx = IndexBuilder(num_segments=run.cores).build(transcripts)
        with tr.span("builder.materialize", "index.builder") as ms:
            n_post = idx.postings_slim.count()
            n_terms = idx.term_stats.count()
        if ms is not None:
            ms.attrs.update(postings=n_post, terms=n_terms)
        with tr.span("store.save_index", "index.store"):
            save_index(idx, path)
    t_ingest = time.perf_counter() - t0
    use_ingest = run.snap() - u0
    idx.unpersist_all()
    run.check("build postings/terms", (n_post, n_terms) == (
        corpus.shape["postings"], corpus.shape["distinct_terms"]))
    store_bytes, store_files = dir_size(path)

    # set-up ends by opening the stored index: load_index + a new searcher +
    # the first query's rows, what each scripts/query.py invocation pays
    u_start = run.snap()
    t_start = time.perf_counter()
    with tr.request("open"):
        with tr.span("store.load_index", "index.store"):
            li = load_index(spark, path)
        searcher = IndexSearcher(li)
    first = Query(run, searcher, specs[0], "open-q")
    open_s = time.perf_counter() - t_start
    u_setup = run.snap()
    use_open = u_setup - u_start
    setup_wall_s = time.perf_counter() - run.t_process

    # timed: the query stream.  The per-query counts are taken over the first
    # COUNTED_QUERIES queries, a fixed mix of shapes whatever the run length;
    # if the window ended before them, they run after it, untimed.
    deadline = time.perf_counter() + run.seconds
    done = []
    while time.perf_counter() < deadline:
        i = len(done) + 1
        done.append(Query(run, searcher, specs[i], f"q{i}"))
    n_timed = len(done)
    while len(done) < COUNTED_QUERIES:
        i = len(done) + 1
        done.append(Query(run, searcher, specs[i], f"q{i}"))

    # pruned results must equal the unpruned twin's; a pruned query whose
    # twin did not run in time gets its twin run here, untimed
    from lucene_spark.search import QueryParser

    for j, qr in enumerate(done):
        if not qr.spec.prune or qr.error is not None:
            continue
        nxt = done[j + 1] if j + 1 < len(done) else None
        if nxt is not None and nxt.spec == replace(qr.spec, prune=False):
            twin = nxt.rows if nxt.error is None else nxt.error
        else:
            try:
                twin = _hits(searcher.search(QueryParser().parse(qr.spec.text), K).collect())
            except Exception as e:
                twin = f"{type(e).__name__}: {e}"
        run.check(f"pruned==unpruned {qr.spec.text!r}", twin == qr.rows)

    extra = []
    if tr.enabled:
        # one query of every shape the window did not reach, so the traced
        # run reports all per-shape layer times
        seen = {qr.spec.shape for qr in done}
        for spec in specs[len(done) + 1:]:
            if spec.shape not in seen:
                seen.add(spec.shape)
                extra.append(Query(run, searcher, spec, f"extra-{spec.shape}"))
        for qr in [first] + done + extra:
            qr.trace_probes(run)

    oi = OracleIndex.build(corpus.rows)
    for qr in [first] + done + extra:
        _check_query(run, qr, oracle_hits(oi, qr.spec))

    timed_ok = [q for q in done[:n_timed] if q.error is None]
    counted = [q for q in done[:COUNTED_QUERIES] if q.error is None]
    e2e = {
        # CPU seconds of the process tree from process start: the wall-clock
        # set-up's median moved 26% between two sets of runs on a shared host
        "setup_s": u_setup.cpu_s,
        "setup_wall_s": setup_wall_s,
        "query_p50_s": median([q.latency for q in timed_ok]),
        "open_s": open_s,
        "ingest_turns_per_s": SEARCH_TURNS / t_ingest,
        "store_bytes_per_text_byte": store_bytes / corpus.shape["text_bytes"],
        # turns handed to build() until a query on a reader that sees them returns
        "visible_p50_s": t_ingest + open_s,
        "query_cpu_s": median([q.use.cpu_s for q in timed_ok]),
        "open_cpu_s": use_open.cpu_s,
        "visible_cpu_s": (use_ingest + use_open).cpu_s,
        "ingest_turns_per_cpu_s": SEARCH_TURNS / use_ingest.cpu_s,
        "query_py4j_calls": median([q.use.py4j for q in counted]),
        "query_spark_jobs": median([q.use.jobs for q in counted]),
        "open_py4j_calls": use_open.py4j,
        "open_spark_jobs": use_open.jobs,
        "visible_spark_jobs": (use_ingest + use_open).jobs,
    }
    info = {"corpus": corpus.shape, "queries_timed": n_timed,
            "setup": _setup_info(run, t_gen, t_ingest),
            "store_bytes": store_bytes, "store_files": store_files,
            "build_postings": corpus.shape["postings"],
            "build_terms": corpus.shape["distinct_terms"]}
    return {"e2e": e2e, "info": info, "queries": done + extra}


def _setup_info(run: Run, t_gen: float, t_prepare: float) -> dict:
    return {"spark_s": run.t_spark_ready - run.t_process, "inputs_s": t_gen,
            "prepare_s": t_prepare}


def _check_query(run: Run, qr: Query, expected) -> None:
    if qr.error is not None:
        run.check(qr.error, False)
    else:
        run.check(f"oracle {qr.spec.shape} {qr.spec.text!r}", qr.rows == expected)


# ---------------------------------------------------------------------------
# nrt: micro-batches -> process_batch -> maybe_merge -> open_index -> fresh
# searcher -> queries, repeated.


def nrt(run: Run, seed: int) -> dict:
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.search import IndexSearcher
    from lucene_spark.streaming.incremental import IncrementalIndexer, TieredMergePolicy

    spark, tr = run.spark, run.tracer
    batches, batch_queries, shape = gen.nrt_batches(seed, NRT_MAX_BATCHES, NRT_BATCH_TURNS)
    t_gen = time.perf_counter() - run.t_spark_ready

    def cycle(ix, b, rid):
        rows, _toks = batches[b]
        df = _corpus_df(spark, rows)  # the client's batch, ready before timing
        out = {"b": b}
        with tr.request(rid):
            u0 = run.snap()
            t0 = time.perf_counter()
            with tr.span("incremental.process_batch", "streaming.incremental"):
                ix.process_batch(df, b)
            t1 = time.perf_counter()
            out["commit_use"] = run.snap() - u0

            segs_before = set(os.listdir(os.path.join(ix.dir, "segments")))
            with tr.span("incremental.maybe_merge", "streaming.incremental") as ms:
                out["merges"] = ix.maybe_merge(spark)
            u2 = run.snap()
            t2 = time.perf_counter()
            with tr.span("incremental.open_index", "streaming.incremental"):
                idx = ix.open_index(spark)
            searcher = IndexSearcher(idx)
        first = Query(run, searcher, batch_queries[b][0], f"{rid}-q0")
        t3 = time.perf_counter()
        u3 = run.snap()
        out["visible_use"], out["open_use"] = u3 - u0, u3 - u2
        seg_root = os.path.join(ix.dir, "segments")
        new = [d for d in os.listdir(seg_root)
               if d not in segs_before and not d.endswith(".json")]
        out["bytes_rewritten"] = sum(dir_size(os.path.join(seg_root, d))[0] for d in new)
        out["segments_live"] = sum(1 for d in os.listdir(seg_root) if d.endswith(".json"))
        if ms is not None:
            ms.attrs.update(merges=out["merges"], bytes_rewritten=out["bytes_rewritten"],
                            segments_live=out["segments_live"])
        out.update(commit=t1 - t0, merge=t2 - t1, visible=t3 - t0, open=t3 - t2,
                   first=first)
        out["followups"] = [
            Query(run, searcher, batch_queries[b][j], f"{rid}-q{j}")
            for j in range(1, 1 + NRT_FOLLOWUPS)
        ]
        out["store_bytes"], out["store_files"] = dir_size(os.path.join(ix.dir, "segments"))
        return out

    # set-up: the first batch's cycle warms the JVM and the workers and
    # leaves one committed segment; the timed cycles start at batch 1
    ix = IncrementalIndexer(os.path.join(run.workdir, "nrt"),
                            merge_policy=TieredMergePolicy(**NRT_MERGE))
    t0 = time.perf_counter()
    cycles = [cycle(ix, 0, "setup")]
    t_warm = time.perf_counter() - t0
    setup_wall_s = time.perf_counter() - run.t_process
    u_setup = run.snap()

    deadline = time.perf_counter() + run.seconds
    b, stopped = 1, False
    while time.perf_counter() < deadline and b < len(batches):
        try:
            cycles.append(cycle(ix, b, f"b{b}"))
        except Exception as e:  # a failed commit is counted, then the run stops
            run.check(f"batch {b}: {type(e).__name__}: {e}", False)
            stopped = True
            break
        b += 1
    if b == len(batches):
        run.fail("ran out of batches before the deadline; raise NRT_MAX_BATCHES")
    n_timed = len(cycles)
    # the counts are taken over the first COUNTED_CYCLES timed cycles (the
    # second one merges); if the window ended before them, they run untimed
    while len(cycles) < 1 + COUNTED_CYCLES and not stopped:
        cycles.append(cycle(ix, b, f"b{b}"))
        b += 1

    if tr.enabled:
        for c in cycles:
            for qr in [c["first"]] + c["followups"]:
                qr.trace_probes(run)

    # oracle over the rows ingested so far, in the engine's doc-id order:
    # batch-major, then (conv_id, turn_idx) within a batch
    ingested = []
    for c in cycles:
        ingested.extend({**r, "conv_id": f"{c['b']:05d}/{r['conv_id']}"}
                        for r in batches[c["b"]][0])
        oi = OracleIndex.build(ingested)
        for qr in [c["first"]] + c["followups"]:
            _check_query(run, qr, oracle_hits(oi, qr.spec, lambda k: k.split("/", 1)[1]))
    run.check("n_postings per segment", _manifests_ok(ix, batches, cycles))
    # the store ratio is read after a fixed number of batches, so it does not
    # depend on how many cycles fit in the run
    at = cycles[:STORE_AT_BATCH]
    text_bytes = sum(len(r["text"].encode("utf-8"))
                     for c in at for r in batches[c["b"]][0])
    timed = cycles[1:n_timed]
    queries = [q for c in timed for q in c["followups"] if q.error is None]
    counted = cycles[1:1 + COUNTED_CYCLES]
    counted_queries = [q for c in counted for q in c["followups"] if q.error is None]
    e2e = {
        # CPU seconds of the process tree from process start: the wall-clock
        # set-up's median moved 26% between two sets of runs on a shared host
        "setup_s": u_setup.cpu_s,
        "setup_wall_s": setup_wall_s,
        "query_p50_s": median([q.latency for q in queries]),
        "open_s": median([c["open"] for c in timed]),
        "visible_p50_s": median([c["visible"] for c in timed]),
        "ingest_turns_per_s": NRT_BATCH_TURNS / median([c["commit"] for c in timed], 1e9),
        "query_cpu_s": median([q.use.cpu_s for q in queries]),
        "open_cpu_s": median([c["open_use"].cpu_s for c in timed]),
        "visible_cpu_s": median([c["visible_use"].cpu_s for c in timed]),
        "ingest_turns_per_cpu_s": NRT_BATCH_TURNS / median(
            [c["commit_use"].cpu_s for c in timed], 1e9),
        "query_py4j_calls": median([q.use.py4j for q in counted_queries]),
        "query_spark_jobs": median([q.use.jobs for q in counted_queries]),
        "open_py4j_calls": median([c["open_use"].py4j for c in counted]),
        "open_spark_jobs": median([c["open_use"].jobs for c in counted]),
        "visible_spark_jobs": median([c["visible_use"].jobs for c in counted]),
        "store_bytes_per_text_byte": at[-1]["store_bytes"] / max(1, text_bytes),
    }
    info = {"corpus": {**shape, "turns_ingested": len(cycles) * NRT_BATCH_TURNS},
            "batches_timed": len(timed),
            "setup": _setup_info(run, t_gen, t_warm),
            "merges": sum(c["merges"] for c in cycles[1:]),
            "store_bytes": at[-1]["store_bytes"], "store_files": at[-1]["store_files"],
            "build_postings": median([sum(len(set(t)) for t in batches[c["b"]][1])
                                      for c in cycles]),
            "build_terms": median([len({w for t in batches[c["b"]][1] for w in t})
                                   for c in cycles])}
    return {"e2e": e2e, "info": info,
            "queries": [q for c in timed for q in c["followups"]],
            "first_batch_queries": [c["first"] for c in timed]}


def _manifests_ok(ix, batches, cycles) -> bool:
    """The live segments' postings counts (read from their manifests on disk)
    add up to the generator's count for the batches committed."""
    import json

    seg_root = os.path.join(ix.dir, "segments")
    total = 0
    for name in os.listdir(seg_root):
        if name.endswith(".manifest.json"):
            with open(os.path.join(seg_root, name)) as f:
                total += json.load(f)["n_postings"]
    return total == sum(len(set(t)) for c in cycles for t in batches[c["b"]][1])


WORKLOADS = {"search": search, "nrt": nrt}


# ---------------------------------------------------------------------------
# per-layer metrics from the traced run's spans.  A count is a median per
# call unless named "per run"; 0 means the workload makes no such call.


def layer_metrics(tracer: Tracer, res: dict, e2e: dict) -> dict:
    spans = tracer.spans

    def named(name):
        return [s for s in spans if s.name == name]

    def dur(ss):
        return median([s.end - s.start for s in ss])

    def attr(ss, key):
        return median([s.attrs.get(key, 0) for s in ss])

    queries = [q.span for q in res["queries"] if q.span is not None and q.error is None]
    builds = named("builder.build")
    store = named("store.save_index") + named("store.load_index")
    packed = named("searcher.scored_packed")
    merges = named("incremental.maybe_merge")
    batches = named("incremental.process_batch")
    m = {
        "parser.parse_s": dur(named("parser.parse")),
        "searcher.lower_s": dur(named("searcher.search")),
        "searcher.execute_s": dur(named("searcher.collect")),
        "searcher.py4j_calls": median([s.py4j for s in queries]),
        "searcher.spark_jobs": attr(queries, "jobs"),
        "searcher.spark_stages": attr(queries, "stages"),
        "searcher.spark_tasks": attr(queries, "tasks"),
        "searcher.failed_tasks": sum(s.attrs["failed_tasks"] for s in named("query")),
        "searcher.catalyst_analysis_s": attr(queries, "analysis"),
        "searcher.catalyst_optimization_s": attr(queries, "optimization"),
        "searcher.catalyst_planning_s": attr(queries, "planning"),
    }
    for shape in SHAPES:
        m[f"searcher.{shape}_s"] = dur(
            [s for s in queries if s.attrs.get("shape") == shape])
    m["searcher.term_dict_s"] = dur([s for s in named("searcher.term_doc_freqs")
                                     if s.attrs.get("first")])
    base = sum(s.attrs.get("base_rows", 0) for s in packed)
    m["packed.pruned_s"] = dur(packed)
    m["packed.candidate_ratio"] = (sum(s.attrs["rows"] for s in packed) / base) if base else 0.0
    m.update({
        "store.load_s": dur(named("store.load_index")),
        "store.save_s": dur(named("store.save_index")),
        "store.bytes": float(res["info"]["store_bytes"]),
        "store.files": float(res["info"]["store_files"]),
        "store.spark_jobs": attr(store, "jobs"),
        "builder.build_call_s": dur(builds),
        "builder.materialize_s": dur(named("builder.materialize")) if named(
            "builder.materialize") else median([tracer.self_time(s) for s in batches]),
        "builder.assign_doc_ids_s": dur(named("builder.assign_doc_ids")),
        "builder.spark_jobs": attr(builds, "jobs"),
        "builder.spark_stages": attr(builds, "stages"),
        "builder.spark_tasks": attr(builds, "tasks"),
        "builder.failed_tasks": sum(s.attrs["failed_tasks"] for s in builds),
        "builder.py4j_calls": median([s.py4j for s in builds]),
        "builder.postings": float(res["info"]["build_postings"]),
        "builder.terms": float(res["info"]["build_terms"]),
        "incremental.process_batch_s": dur(batches),
        "incremental.merge_s": sum(s.end - s.start for s in merges),
        "incremental.merges": float(sum(s.attrs.get("merges", 0) for s in merges)),
        "incremental.bytes_rewritten": float(sum(s.attrs.get("bytes_rewritten", 0)
                                                 for s in merges)),
        "incremental.segments_live": attr(merges, "segments_live"),
        "incremental.open_index_s": dur(named("incremental.open_index")),
        "incremental.first_query_s": median(
            [q.latency for q in res.get("first_batch_queries", [])]),
    })
    self_times = tracer.layer_self_times()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_times.get(layer, 0.0)
    for k in TRACED_E2E:
        m[f"traced.{k}"] = e2e[k]
    return m
