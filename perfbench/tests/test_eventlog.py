"""Tests of the event-log parser and the tracer: a synthetic event stream,
and a tiny traced Spark run whose job groups are read back from the log.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog, run, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _task(stage, launch, finish, failed=False, **metrics):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Accumulables": metrics.pop("accums", [])},
        "Task Metrics": metrics,
    }


def test_group_metrics_folds_stages_and_tasks_into_their_group():
    plan = {"nodeName": "MapInPandas", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    events = [
        {"Event": eventlog._SQL_START, "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart",
         "Properties": {"spark.jobGroup.id": "a", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 0, 1000, **{"Executor Run Time": 900, "Executor CPU Time": 5e8,
                             "JVM GC Time": 100, "Memory Bytes Spilled": 10,
                             "Disk Bytes Spilled": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                             "accums": [{"ID": 7, "Update": "12"}]}),
        _task(0, 0, 500, failed=True),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 0, "Completion Time": 2000}},
        {"Event": "SparkListenerJobStart", "Properties": {}},
    ]
    groups = eventlog.group_metrics(events, cores=2)
    a = groups["a"]
    assert (a["jobs"], a["stages"], a["tasks"], a["tasks_failed"]) == (1, 1, 2, 1)
    assert a["run_s"] == pytest.approx(0.9)
    assert a["cpu_s"] == pytest.approx(0.5)
    assert a["gc_s"] == pytest.approx(0.1)
    assert (a["spill_bytes"], a["shuffle_write_bytes"]) == (15, 64)
    # 2 cores x 2 s stage wall, minus 1 s + 0.5 s of task time
    assert a["idle_core_s"] == pytest.approx(2.5)
    assert a["node_rows"] == {"MapInPandas": 12}
    assert groups[""]["jobs"] == 1


def _double(batches):
    for pdf in batches:
        yield pdf.assign(x=pdf["id"] * 2)


@pytest.mark.spark
def test_tiny_traced_run_charges_jobs_to_span_groups(tmp_path, monkeypatch):
    from ontology_mapper_spark.session import get_spark

    monkeypatch.setenv("PYTHONPATH", ROOT)
    work = str(tmp_path)
    os.makedirs(os.path.join(work, "events"))
    spark = get_spark("perfbench-test", cores=2, shuffle_partitions=2,
                      extra_conf=run._spark_conf(work, trace=True))
    try:
        tr = tracing.Tracer(spark.sparkContext, enabled=True)
        tr.pass_label = "p0"
        with tr.span("outer", "mapinpandas") as counts:
            df = spark.range(0, 1000, 1, 2).mapInPandas(_double, "id long, x long")
            counts["groups"] = df.groupBy(df.x % 7).count().count()
            with tr.span("inner", "range"):
                spark.range(10).count()
            spark.range(5).count()  # back in the outer group
        spark.range(3).count()  # after the spans: no group
    finally:
        run._stop(spark)

    outer, inner = tr.spans
    assert outer["parent"] is None and inner["parent"] == outer["group"]
    assert outer["counts"] == {"groups": 7}
    assert outer["end"] - outer["start"] >= inner["end"] - inner["start"] > 0
    groups = eventlog.group_metrics(
        eventlog.read_events(os.path.join(work, "events")), cores=2
    )
    g_out, g_in = groups[outer["group"]], groups[inner["group"]]
    assert g_out["node_rows"]["MapInPandas"] == 1000
    assert g_out["shuffle_write_bytes"] > 0
    assert g_out["jobs"] >= 3 and g_in["jobs"] >= 1
    assert "MapInPandas" not in g_in["node_rows"]
    assert g_out["tasks_failed"] == g_in["tasks_failed"] == 0
    assert groups[""]["jobs"] >= 1


def test_benchmark_json_declares_what_the_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    from perfbench import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_rss_sampler_take_reports_the_window_peak_and_restarts_it():
    with tracing.RssSampler(os.getpid(), interval_s=0.01) as rss:
        grown = bytearray(64 << 20)
        for i in range(0, len(grown), 4096):
            grown[i] = 1  # touch every page so it is resident
        peak, _ = rss.take()
        del grown
        rss.take()  # this window opened while the buffer was resident
        after, _ = rss.take()
    assert peak > after + 32
