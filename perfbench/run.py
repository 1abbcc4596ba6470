"""Benchmark entry point.

    python3 perfbench/run.py --workload search|nrt --seed N --seconds S --trace 0|1

Run from the repository root.  It starts Spark as ``local[<cores>]`` in this
process, generates the seeded inputs, runs one workload as a closed loop with
one client for ``--seconds``, checks every result against the engine's oracle
and prints two JSON lines: a run stamp (host, versions, seed, corpus shape,
failures), then the result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 1`` records spans around each public call, writes them to
``.perfbench_out/`` and reports the per-layer metrics instead of the
end-to-end ones.  All scratch files live under ``.perfbench_work/`` and are
removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(workdir: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from this checkout and keep their
    # temporary files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # -Xms1g: the heap starts at 1 GiB (of 2), so peak RSS depends little on
    # when G1 decides to grow it.  C1 only: in runs this short the C2
    # compiler would still be compiling during the timed window, slowing
    # set-up and adding CPU noise to the measured operations.  No perf-data
    # file: the JVM would write it to /tmp, outside the checkout.
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms1g -XX:TieredStopAtLevel=1 -XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark, then the JVM and every other process this run started, and
    wait for them to end."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while True:
            left = descendants(os.getpid())
            if not left:
                return
            if time.time() > deadline:
                for p in left:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.time() + 30
            time.sleep(0.2)


def _stamp(args, cores: int, spark) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": cores,
        "loadavg": os.getloadavg(),
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import lucene_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    import workloads
    from probes import Py4jCounter, RssSampler, Tracer, host_steal

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not gen.self_check(args.seed):
        print("perfbench: generator self-check failed", file=sys.stderr)
        return 1

    rss = RssSampler().start()
    cores = _cores()
    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    spark = None
    try:
        spark = _start_spark(workdir, cores)
        py4j = Py4jCounter()
        py4j.install()
        tracer = Tracer(spark, py4j, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, workdir, args.seconds, cores,
                            T_PROCESS, time.perf_counter())
        if args.trace:
            _wrap_engine(tracer)
        steal0 = host_steal()
        res = workloads.WORKLOADS[args.workload](run, args.seed)
        steal1 = host_steal()
        e2e = res["e2e"]
        stamp = _stamp(args, cores, spark)
        stamp["host_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        if args.trace:
            time.sleep(1.0)  # let the listener bus record the last job
            tracer.resolve_spark_counts()
            tracer.close()
            metrics = workloads.layer_metrics(tracer, res, e2e)
            units = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
            trace_path = os.path.join(ROOT, ".perfbench_out",
                                      f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(trace_path, {"stamp": stamp, "info": res["info"], "metrics": metrics})
            stamp["trace_file"] = os.path.relpath(trace_path, ROOT)
    finally:
        if spark is not None:
            _stop_spark(spark)
        peak = rss.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    if not args.trace:
        e2e["peak_rss_mb"] = peak / 2**20
        metrics = e2e
        units = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    stamp.update(info=res["info"], failures=run.failures[:20],
                 ungated={k: {"value": e2e[k], "unit": u}
                          for k, u in workloads.UNGATED_UNITS.items()})
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps(stamp, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _wrap_engine(tracer) -> None:
    """Spans for the public calls the engine makes to itself."""
    import weakref

    from lucene_spark.index import IndexBuilder
    from lucene_spark.search import IndexSearcher

    tracer.wrap_method(IndexBuilder, "build", "builder.build", "index.builder")
    tracer.wrap_method(IndexBuilder, "assign_doc_ids", "builder.assign_doc_ids",
                       "index.builder")
    seen = weakref.WeakSet()

    def first_call(searcher):
        first = searcher not in seen
        seen.add(searcher)
        return {"first": first}

    tracer.wrap_method(IndexSearcher, "term_doc_freqs", "searcher.term_doc_freqs",
                       "search.searcher", attrs=first_call)


if __name__ == "__main__":
    sys.exit(main())
