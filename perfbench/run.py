"""Benchmark entry point.

    python3 perfbench/run.py --workload bigdim_link --seed 1 --seconds 6 --trace 0

Runs one workload (``bigdim_link`` or ``kg_release``, see
``workloads.py``) in one process on ``local[min(4, cores)]``, from the root
of a checkout of this repository. The run:

1. starts the session, then repeats the workload's set-up (seeded input
   generation, parquet staging, prior state) and makes one discarded
   warm pass;
2. makes timed passes until ``--seconds`` have gone by (at least two),
   checking every pass's output against the warm pass's;
3. makes the workload's run-level output check;
4. prints a detail line, then as the last line the result:
   ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
   the end-to-end metrics, ``--trace 1`` the per-layer metrics of a run
   whose passes are traced (spans, job groups and Spark's event log).

Every file the run writes lives under ``.perfbench_work/`` in the checkout
and is removed on exit. The run fails, printing no result, when the
``ontology_mapper_spark`` package is not beside ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_PASSES = 2
MAX_CORES = 4
DRIVER_MEMORY = "2g"
# Heap sizing that follows live data, not GC timing. G1 by default
# widens the young generation and expands the heap when collections take
# more than ~8% of the time, which follows host load, and made the JVM's
# peak RSS swing by a quarter between runs of the same code. A fixed young
# generation, a GC-time goal that never asks for expansion, and tight
# free-space ratios leave the heap as large as the live data needs.
JVM_HEAP_OPTS = (
    "-Xmn512m -XX:GCTimeRatio=1 -XX:MinHeapFreeRatio=10 -XX:MaxHeapFreeRatio=30"
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "kg_triples_per_s": "1/s",
    "link_mentions_per_s": "1/s",
    "index_build_s": "s",
    "advance_s": "s",
    "peak_rss_mb": "MB",
}
LAYERS = ("sources.pages", "pipeline", "operators.tfidf", "sinks", "operators.graph")
_EVENT_METRICS = {
    "shuffle_write_bytes": "B", "spill_bytes": "B", "gc_s": "s",
    "tasks_failed": "count", "idle_core_s": "s",
}
PER_LAYER = {
    "session.init_s": "s",
    "session.python_rss_mb": "MB",
    "sources.pages.extract_s": "s",
    "sources.pages.pages_in": "count",
    "sources.pages.mentions_out": "count",
    "sources.pages.cpu_s": "s",
    "pipeline.plan_s": "s",
    "pipeline.plan_jobs": "count",
    "pipeline.persisted_left": "count",
    "pipeline.changed_pages": "count",
    "pipeline.fresh_triples": "count",
    "pipeline.delta_ratio": "ratio",
    "operators.tfidf.index_s": "s",
    "operators.tfidf.labels": "count",
    "operators.tfidf.index_bytes": "B",
    "operators.tfidf.idf_s": "s",
    "operators.tfidf.distinct_terms": "count",
    "operators.tfidf.dedup_ratio": "ratio",
    "operators.tfidf.score_s": "s",
    "operators.tfidf.score_cpu_s": "s",
    "operators.tfidf.candidates": "count",
    "operators.tfidf.keep_ratio": "ratio",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "operators.graph.diff_s": "s",
    "operators.graph.cooccur_s": "s",
    "operators.graph.pagerank_s": "s",
    **{f"{layer}.{m}": u for layer in LAYERS for m, u in _EVENT_METRICS.items()},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.pass_s": "s",
    "trace.uncovered_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("bigdim_link", "kg_release"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_environment(work: str) -> None:
    """Make the session's processes find the package in this checkout and
    keep their scratch files inside ``work``. Python workers inherit the
    environment of the JVM, which inherits it from here, so PYTHONPATH
    must be set before the session starts."""
    if not os.path.isfile(os.path.join(ROOT, "ontology_mapper_spark", "__init__.py")):
        raise SystemExit(
            f"perfbench: no ontology_mapper_spark package in {ROOT}; "
            "run from the root of a checkout of the repository"
        )
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # spark-submit first runs a launcher JVM; keep its perf data out of /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            + JVM_HEAP_OPTS,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit, also when the session is already broken."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def run(args, work: str) -> tuple[dict, dict]:
    """One benchmark run; returns ``(result, detail)``."""
    _prepare_environment(work)
    import ontology_mapper_spark
    from ontology_mapper_spark import release_pipeline_cache
    from ontology_mapper_spark.operators import tfidf
    from ontology_mapper_spark.session import get_spark

    from perfbench import eventlog, tracing, workloads

    package = os.path.dirname(os.path.abspath(ontology_mapper_spark.__file__))
    if os.path.dirname(package) != ROOT:
        raise SystemExit(f"perfbench: imported {package}, not the checkout's package")

    wl = workloads.WORKLOADS[args.workload]()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{wl.name}", cores=cores, shuffle_partitions=cores,
        extra_conf=_spark_conf(work, trace),
    )
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        tr = tracing.Tracer(sc, trace)
        ctx = workloads.Context(
            spark, args.seed, os.path.join(work, "data"), os.path.join(work, "out")
        )
        with tracing.RssSampler(sc._gateway.proc.pid) as rss, \
                tr.interpose(tfidf, "source_idf_map", "operators.tfidf", "idf"):
            reps, setup_index_s = [], []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                index_s = wl.stage(ctx, tr)
                reps.append(time.perf_counter() - t)
                if index_s is not None:
                    setup_index_s.append(index_s)
            wl.open(ctx)
            tr.pass_label = "warm"
            t = time.perf_counter()
            wl.run_pass(ctx, tr)
            warm_s = time.perf_counter() - t
            tr.pass_label = "check"
            reference = wl.fingerprints(ctx)
            release_pipeline_cache(spark)

            passes = []
            t_start = time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t_start < args.seconds):
                sc._jvm.System.gc()  # every pass starts from a collected heap
                tr.pass_label = f"p{len(passes)}"
                rss.take()
                with tr.span("pass", tr.pass_label):
                    rec = wl.run_pass(ctx, tr)
                rec["jvm_rss_mb"], rec["python_rss_mb"] = rss.take()
                tr.pass_label = "check"
                rec["persisted_left"] = sc._jsc.getPersistentRDDs().size()
                rec["ok"] = wl.fingerprints(ctx) == reference
                release_pipeline_cache(spark)
                passes.append(rec)
            run_check = wl.check_run(ctx)
            release_pipeline_cache(spark)
            if trace:
                wl.counts(ctx)
                ctx.sizes["labels"] = ctx.index.n_labels
                ctx.sizes["index_bytes"] = workloads.index_bytes(ctx.index)
        conf = dict(sc.getConf().getAll())
    finally:
        _stop(spark)

    failed = sum(not p["ok"] for p in passes) + (not run_check["ok"])
    main_output = next(iter(reference.values()))
    triples = main_output[1]
    setup_s = session_s + _median(reps) + warm_s
    walls = [p["wall"] for p in passes]
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": trace, "cores": cores,
        "sizes": ctx.sizes, "triples": triples, "fingerprints": reference,
        "passes": passes,
        "setup": {"session_s": session_s, "reps_s": reps, "warm_pass_s": warm_s,
                  "index_s": setup_index_s},
        "run_check": run_check, "fail_frac": failed / len(passes),
        "spark_conf": conf,
    }
    if trace:
        groups = eventlog.group_metrics(
            eventlog.read_events(os.path.join(work, "events")), cores
        )
        metrics, detail["layers"] = layer_metrics(
            tr.spans, groups, passes, ctx.sizes, triples, session_s, setup_index_s
        )
        metrics["session.python_rss_mb"] = detail["layers"]["session"]["python_rss_mb"] = (
            _median(p["python_rss_mb"] for p in passes)
        )
        units = PER_LAYER
    else:
        # set-up builds after the first, which runs on a cold JVM
        index_runs = [p["index_s"] for p in passes if "index_s" in p] or setup_index_s[1:]
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median(walls),
            "kg_triples_per_s": _median(triples / w for w in walls),
            "link_mentions_per_s": _median(p["linked"] / p["link_s"] for p in passes),
            "index_build_s": _median(index_runs),
            "advance_s": _median(p["advance_s"] for p in passes),
            "peak_rss_mb": _median(p["jvm_rss_mb"] for p in passes),
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    return result, detail


def layer_metrics(spans, groups, passes, sizes, triples, session_s, setup_index_s):
    """Per-layer metrics of a traced run: for each metric, the median over
    the timed passes of its per-pass total. Returns ``(metrics, report)``:
    the metrics name every declared per-layer metric (0 where the workload
    never calls the layer); the report lists only the layers it calls."""
    labels = [f"p{i}" for i in range(len(passes))]
    timed = [s for s in spans if s["pass"] in labels]

    def wall(s):
        return s["end"] - s["start"]

    def event(key):
        return lambda s: groups.get(s["group"], {}).get(key, 0)

    def count(key):
        return lambda s: s["counts"].get(key, 0)

    def children(s):
        return [c for c in spans if c["parent"] == s["group"]]

    def subtree(key):
        return lambda s: event(key)(s) + sum(subtree(key)(c) for c in children(s))

    def per_pass(value, layer, name=None):
        return _median(
            sum(value(s) for s in timed if s["pass"] == label and s["layer"] == layer
                and name in (None, s["name"]))
            for label in labels
        )

    m = {"session.init_s": session_s}
    for layer in LAYERS:
        for key in _EVENT_METRICS:
            m[f"{layer}.{key}"] = per_pass(event(key), layer)
    rows_out = lambda s: groups.get(s["group"], {}).get("node_rows", {})  # noqa: E731
    candidates = per_pass(
        lambda s: rows_out(s).get("MapInPandas", 0), "operators.tfidf", "score"
    )
    mentions, recrawled = sizes.get("mentions", 0), sizes.get("recrawled", 0)
    m.update({
        "sources.pages.extract_s": per_pass(wall, "sources.pages", "extract"),
        "sources.pages.pages_in": per_pass(count("pages_in"), "sources.pages"),
        "sources.pages.mentions_out": per_pass(count("mentions_out"), "sources.pages"),
        "sources.pages.cpu_s": per_pass(event("cpu_s"), "sources.pages"),
        "pipeline.plan_s": per_pass(wall, "pipeline"),
        "pipeline.plan_jobs": per_pass(subtree("jobs"), "pipeline"),
        "pipeline.persisted_left": _median(p["persisted_left"] for p in passes),
        "pipeline.changed_pages": sizes.get("changed_pages", 0),
        "pipeline.fresh_triples": sizes.get("fresh_triples", 0),
        "pipeline.delta_ratio":
            sizes.get("changed_pages", 0) / recrawled if recrawled else 0,
        "operators.tfidf.index_s":
            per_pass(wall, "operators.tfidf", "index") or _median(setup_index_s[1:]),
        "operators.tfidf.labels": sizes.get("labels", 0),
        "operators.tfidf.index_bytes": sizes.get("index_bytes", 0),
        "operators.tfidf.idf_s": per_pass(wall, "operators.tfidf", "idf"),
        "operators.tfidf.distinct_terms": sizes.get("distinct_terms", 0),
        "operators.tfidf.dedup_ratio":
            sizes.get("distinct_terms", 0) / mentions if mentions else 0,
        "operators.tfidf.score_s": per_pass(wall, "operators.tfidf", "score"),
        "operators.tfidf.score_cpu_s":
            per_pass(event("cpu_s"), "operators.tfidf", "score"),
        "operators.tfidf.candidates": candidates,
        "operators.tfidf.keep_ratio":
            sizes.get("fresh_triples", triples) / candidates if candidates else 0,
        "sinks.write_s": per_pass(wall, "sinks", "write"),
        "sinks.bytes_written": per_pass(count("bytes_written"), "sinks"),
        "operators.graph.diff_s": per_pass(wall, "operators.graph", "kg_diff_summary"),
        "operators.graph.cooccur_s":
            per_pass(wall, "operators.graph", "entity_cooccurrence"),
        "operators.graph.pagerank_s": per_pass(wall, "operators.graph", "pagerank_int"),
        "spark.jobs": per_pass(subtree("jobs"), "pass"),
        "spark.stages": per_pass(subtree("stages"), "pass"),
        "spark.tasks": per_pass(subtree("tasks"), "pass"),
        "trace.pass_s": per_pass(wall, "pass"),
        "trace.uncovered_s": per_pass(
            lambda s: wall(s) - sum(wall(c) for c in children(s)), "pass"
        ),
    })
    called = {s["layer"] for s in timed} | {"session", "spark", "trace"}
    report = {
        name: {k[len(name) + 1:]: v for k, v in m.items() if k.startswith(name + ".")}
        for name in ("session", *LAYERS, "spark", "trace") if name in called
    }
    return m, report


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its session and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
