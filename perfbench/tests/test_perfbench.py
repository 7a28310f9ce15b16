"""Tests of the benchmark's own code: spans, the event-log parser, the
plan-shape counter, the memory sampler, the digests, the reference tiles
and the stage-by-stage network.

    python3 -m pytest perfbench/tests -q
"""
import inspect
import json
import os
import time

import pandas as pd
from pyspark.sql import functions as F

import spans
import workloads
from tosidewalk_spark.operators import network as N, sidewalks as SW, spatial as SP
from tosidewalk_spark.plans import pipeline
from tosidewalk_spark.sources import synth


def _events(*evs):
    return [json.dumps(e) for e in evs]


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spans.union_length([(5, 6), (0, 10)]) == 10.0


def test_event_log_parser_groups_jobs_stages_and_tasks():
    lines = _events(
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a#0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "a#0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1500,
         "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 250, "Disk Bytes Spilled": 1048576,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1048576}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 750}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 999}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": None},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 3000},
    )
    stats = spans.parse_event_log(lines)
    assert set(stats) == {"a#0"}
    g = stats["a#0"]
    assert (g.jobs, g.stages) == (2, 2)
    assert g.task_s == 1.0
    assert (g.spill_mb, g.shuffle_write_mb, g.shuffle_read_mb) == (1.0, 2.0, 1.0)
    assert g.job_s == 2.0  # [1.0, 2.0] and [1.5, 3.0] overlap


def test_tracer_self_time_excludes_children():
    tr = spans.Tracer()
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.05)
    outer, inner = tr.find("outer")[0], tr.find("inner")[0]
    assert tr.spans[inner].parent == outer
    assert abs(tr.self_s(outer) - (tr.spans[outer].duration - tr.spans[inner].duration)) < 1e-9
    assert tr.self_s(outer) < tr.spans[inner].duration
    assert tr.subtree(outer) == [outer, inner]
    assert tr.root(inner) == tr.root(outer) == outer


def test_count_python_nodes_reads_the_final_plan_only():
    plan = ("AdaptiveSparkPlan isFinalPlan=true\n"
            "+- == Final Plan ==\n"
            "   FlatMapGroupsInPandas [k], <lambda>\n"
            "   +- MapInPandas dp\n"
            "+- == Initial Plan ==\n"
            "   FlatMapGroupsInPandas [k], <lambda>\n")
    assert spans.count_python_nodes(plan) == 2
    assert spans.count_python_nodes("HashAggregate(keys=[k])") == 0


def test_pandas_stages_on_tiny_jobs(spark):
    df = spark.range(10).withColumn("k", F.col("id") % 2)
    grouped = df.groupBy("k").applyInPandas(lambda p: p, df.schema)
    grouped.localCheckpoint(eager=True)
    assert workloads.pandas_stages(grouped) == 1
    assert workloads.pandas_stages(df.groupBy("k").count()) == 0


def test_event_log_of_a_tiny_job_lands_in_its_job_group(spark):
    tr = spans.Tracer(spark.sparkContext)
    with tr.span("tiny"):
        workloads.noop(spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count())
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    stats = spans.read_event_logs(str(spark.events_dir))
    g = spans.tree_stats(tr, 0, stats)
    assert g.jobs >= 1 and g.stages >= 1 and g.task_s >= 0
    assert g.shuffle_write_mb > 0


def test_digest_is_order_insensitive_and_content_sensitive(spark):
    a = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3], "y": ["a", "b", "c"]}))
    b = spark.createDataFrame(pd.DataFrame({"x": [3, 1, 2], "y": ["c", "a", "b"]}))
    c = spark.createDataFrame(pd.DataFrame({"x": [3, 1, 2], "y": ["c", "a", "z"]}))
    assert workloads.digest(a) == workloads.digest(b)
    assert workloads.digest(a)[0] == 3
    assert workloads.digest(a) != workloads.digest(c)


def test_seed_zero_pages_are_synth_pages(spark):
    assert workloads.digest(workloads.seeded_pages(spark, 500, 0)) == \
        workloads.digest(synth.pages(spark, 500))
    assert workloads.digest(workloads.seeded_pages(spark, 500, 1)) != \
        workloads.digest(synth.pages(spark, 500))
    ids = workloads.seeded_pages(spark, 500, 3).select(
        F.expr("CAST(REGEXP_EXTRACT(url, '/p/([0-9]+)', 1) AS BIGINT)").alias("id"))
    assert ids.agg(F.min("id"), F.max("id")).first() == (1500, 1999)


def test_pages_per_entity_matches_the_generator():
    for n, offset in ((1000, 0), (1234, 777), (401, 399)):
        counts = workloads.pages_per_entity(n, offset)
        assert sum(counts) == n
        brute = [0] * synth.N_ENTITIES
        for i in range(offset, offset + n):
            brute[(i * 7) % synth.N_ENTITIES] += 1
        assert counts == brute


def test_reference_tiles_match_the_engine_and_catch_a_wrong_row(spark):
    n, seed = 3001, 2
    buffers = workloads.city_buffers(spark).persist()
    points = synth.geo_entities(spark, workloads.seeded_pages(spark, n, seed))
    rows = SP.coverage_tiles(points, SP.pip_join(points, buffers)).collect()
    polys = [(r["poly_lats"], r["poly_lngs"]) for r in buffers.collect()]
    expected = workloads.expected_tiles(n, seed * n, polys)
    assert any(t[2] for t in expected)  # some pages do fall in a buffer
    assert workloads.check_tiles(rows, n, expected) == []
    wrong = [r.asDict() for r in rows]
    wrong[0]["n_matched"] += 1
    wrong[0]["coverage"] = wrong[0]["n_matched"] / wrong[0]["n_pages"]
    assert workloads.check_tiles(wrong, n, expected)
    buffers.unpersist()


HEAP_LOG = ("[0.004s][debug][gc,heap,coops] Heap address: 0x0000000704800000, "
            "size: 4024 MB, Compressed Oops mode: Zero based, Oop shift amount: 3\n")


def test_java_heap_range_reads_the_jvm_log_line():
    assert spans.java_heap_range(HEAP_LOG) == (0x704800000, 0x800000000)


def test_rss_outside_kb_leaves_out_the_heap_range():
    smaps = ("00400000-00452000 r-xp 00000000 08:02 173521  /usr/bin/java\n"
             "Size:                328 kB\n"
             "Rss:                 100 kB\n"
             "VmFlags: rd ex mr mw me dw\n"
             "704800000-705000000 rw-p 00000000 00:00 0\n"
             "Rss:                8000 kB\n"
             "7ff000000000-7ff000100000 rw-p 00000000 00:00 0\n"
             "Rss:                  20 kB\n")
    lo, hi = spans.java_heap_range(HEAP_LOG)
    assert spans.rss_outside_kb(smaps.splitlines(True), lo, hi) == 120
    assert spans.rss_outside_kb(smaps.splitlines(True), 0, 0) == 8120


def test_the_session_jvm_logs_its_heap_and_the_sampler_leaves_it_out(spark):
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc.pid
    lo, hi = spans.java_heap_range((spark.events_dir.parent / "jvm-heap.log").read_text())
    with open(f"/proc/{jvm}/smaps") as f:
        outside = spans.rss_outside_kb(f, lo, hi)
    with open(f"/proc/{jvm}/smaps") as f:
        total = spans.rss_outside_kb(f, 0, 0)
    spark.range(10 ** 6).selectExpr("sum(id)").collect()  # touches some heap
    assert 0 < outside < total
    with spans.RssSampler(interval_s=0.05) as rss:
        rss.exclude_heap(jvm, lo, hi)
        time.sleep(0.3)
        peak_kb = rss.take_peak_mb() * 1024
    tree_kb = sum(spans._rss_kb(p, None) for p in spans.descendants(os.getpid()))
    assert 0 < peak_kb < tree_kb


def test_stage_pass_calls_what_build_network_calls(monkeypatch):
    """build_network_stages must run the stages build_network runs, in its
    order and on the same inputs; every network and sidewalks function is
    replaced by a recorder, so no Spark job runs."""
    class Frame:
        def __init__(self, label):
            self.label = label

        def localCheckpoint(self, eager=False):
            return self

    calls = []
    for mod in (N, SW):
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ != mod.__name__:
                continue

            def recorder(*args, _name=name, **kwargs):
                calls.append((_name, tuple(a.label for a in args)))
                return Frame(f"{_name}#{sum(c[0] == _name for c in calls)}")
            monkeypatch.setattr(mod, name, recorder)

    nodes, ways = Frame("nodes"), Frame("ways")
    pipeline.build_network(nodes, ways)
    reference, calls[:] = list(calls), []
    workloads.build_network_stages(nodes, ways)
    assert len(reference) == 16
    assert calls == reference
