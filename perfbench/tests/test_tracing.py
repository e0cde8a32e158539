"""The span recorder, the event-log reader and the RSS sampler."""

from __future__ import annotations

import os
import time

import pytest

import tracing
from run import tail


def test_union_length_merges_overlaps():
    assert tracing._union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing._union_length([]) == 0


def test_self_time_subtracts_children():
    rec = tracing.SpanRecorder()
    with rec.span("outer") as outer:
        with rec.span("inner"):
            time.sleep(0.05)
        time.sleep(0.02)
    inner = rec.named("inner")[0]
    assert inner.parent == outer.id
    assert rec.self_time(outer) == pytest.approx(outer.wall - inner.wall)
    assert 0.015 < rec.self_time(outer) < outer.wall


def test_tail_has_ten_samples_beyond_or_falls_back_to_max():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    xs = [float(i) for i in range(1, 41)]
    value, pct, n = tail(xs)
    assert n == 40 and pct == 75.0 and sum(x > value for x in xs) == 10


def test_tree_rss_skips_a_child_still_sharing_its_parents_memory():
    fork = tracing._PF_FORKNOEXEC
    table = {  # pid: (ppid, flags, vsize, rss pages)
        1: (0, 0, 5000, 100),
        2: (1, fork, 5000, 100),  # spawned, not exec'd, same memory: skipped
        3: (1, fork, 800, 30),    # forked worker with its own memory
        4: (3, 0, 900, 7),
        9: (0, 0, 10, 1000),      # outside the tree
    }
    assert tracing._tree_rss_pages(table, 1) == 100 + 30 + 7


def test_tree_rss_counts_this_process():
    assert tracing.tree_rss_bytes(os.getpid()) > 1 << 20
    with tracing.RssSampler(interval_s=0.01) as rss:
        time.sleep(0.05)
    assert rss.peak_mb > 1


@pytest.fixture(scope="module")
def traced_job(tmp_path_factory):
    from lawlm_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark("perfbench-test", cpus=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + str(log_dir),
    })
    rec = tracing.SpanRecorder()
    try:
        with rec.span("job") as span:
            spark.range(0, 20_000, numPartitions=4).groupBy("id").count().count()
    finally:
        spark.stop()
    return rec, span, tracing.read_event_log(str(log_dir))


def test_event_log_reader_on_a_tiny_job(traced_job):
    rec, span, log = traced_job
    layer = tracing.span_layer(span, log, rec.self_time(span))
    assert layer["jobs"] > 0 and layer["tasks"] > 0 and layer["task_s"] > 0
    busy = layer["wall_s"] - layer["driver_gap_s"]
    assert 0 < busy <= span.wall
    assert 0 <= layer["driver_gap_share"] < 1
