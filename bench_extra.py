"""Optimization-round measurement harness (guide §1). NOT the driver
contract — ``bench.py`` stays frozen; this file exists so per-query
isolation, repeats, and plan capture don't touch the timed artifact.

Usage:
  python bench_extra.py suite [--repeat N] [--only q1,q2]   # per-query times
  python bench_extra.py explain <out_dir> [--only q1,q2]    # formatted plans

Methodology matches bench.suite(): same get_spark("bench-suite",
cores=min(16, CPUS)) session, same untimed session-warmup action, same
noop-sink timing per query (guide §1.4), jobs labelled (guide §1.5).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (frozen driver harness; reused, never edited)
from ontology_mapper_spark.session import (  # noqa: E402
    get_spark,
    release_pipeline_cache,
)

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS


def _queries():
    import __spark_entry__ as entrymod

    qs = dict(entrymod.queries())
    qs.update(bench._graph_suite_queries())
    headline = [
        "tfidf_topk",
        "syntactic_levenshtein",
        "syntactic_prefiltered_levenshtein",
        "minhash_lsh_pairs",
        "simhash",
        "ngram_jaccard_neardup",
        "embedding_topk",
        "doc_fingerprint",
        "quality_score",
        "ancestor_closure",
        "topk_per_group",
        "broadcast_dim_join",
        "term_pagerank",
        "entity_cooccur",
        "kg_release_diff",
    ]
    return {name: qs[name] for name in headline}


def _warm(spark):
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    ).limit(100).mapInPandas(
        lambda it: it, "doc_id long, text string"
    ).write.format("noop").mode("overwrite").save()


def run_suite(repeat: int, only: list[str] | None) -> None:
    spark = get_spark("bench-extra", cores=min(16, CPUS))
    qs = _queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    _warm(spark)
    all_runs: list[dict[str, float]] = []
    for r in range(repeat):
        times: dict[str, float] = {}
        for name, fn in qs.items():
            spark.sparkContext.setJobDescription(f"bench_extra:{name}:r{r}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
            spark.sparkContext.setJobDescription(None)
            # untimed: a repeat must not read an earlier repeat's pins
            release_pipeline_cache(spark)
        times["_total"] = round(sum(times.values()), 3)
        all_runs.append(times)
        print(json.dumps({"run": r, **times}), flush=True)
    if repeat > 1:
        best = {
            k: min(run[k] for run in all_runs) for k in all_runs[0]
        }
        print(json.dumps({"run": "min", **best}), flush=True)
    spark.stop()


def dump_plans(out_dir: str, only: list[str] | None, suffix: str) -> None:
    import contextlib
    import io

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("bench-extra-explain", cores=min(16, CPUS))
    qs = _queries()
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    for name, fn in qs.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF_DIR).explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    args = sys.argv[1:]
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        del args[i : i + 2]
    if args and args[0] == "suite":
        repeat = 1
        if "--repeat" in args:
            repeat = int(args[args.index("--repeat") + 1])
        run_suite(repeat, only)
    elif args and args[0] == "explain":
        suffix = args[2] if len(args) > 2 else "before"
        dump_plans(args[1], only, suffix)
    else:
        print(__doc__)
        sys.exit(2)
