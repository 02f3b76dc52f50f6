"""Tests of the benchmark's tracing and accounting helpers. The
Spark-facing parts are fed recorded shapes; one test starts a local
Spark session to check job attribution across threads.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench.trace import (
    ProcSampler,
    Span,
    SparkCollector,
    Stopwatch,
    Tracer,
    aggregate_groups,
    data_files,
    net_of_steal,
    process_tree,
    rest_time,
    snapshot,
    steal_share,
    tree_cpu_s,
    tree_pss,
    wrap_method,
    written,
)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def advance(self, dt):
        self.t += dt


class FakeSc:
    """The SparkContext surface the tracer touches."""

    def __init__(self):
        self.props = {}
        self.log = []

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = description
        self.log.append(group)


def test_self_time_subtracts_direct_children():
    clock = FakeClock()
    tr = Tracer(True, clock=clock)
    with tr.span("day"):
        clock.advance(1.0)
        with tr.span("download"):
            clock.advance(2.0)
            with tr.span("patch"):
                clock.advance(0.5)
        with tr.span("compact"):
            clock.advance(3.0)
    day, download, patch, compact = range(4)
    assert tr.spans[day].duration == pytest.approx(6.5)
    assert tr.self_time(day) == pytest.approx(1.0)
    assert tr.self_time(download) == pytest.approx(2.0)
    assert tr.self_time(patch) == pytest.approx(0.5)
    assert tr.subtree(download) == [download, patch]
    assert tr.find("patch", within=day) == [patch]
    assert tr.find("patch", within=compact) == []
    dumped = tr.dump()
    assert [d["parent"] for d in dumped] == [None, day, download, day]
    assert dumped[1]["self_s"] == pytest.approx(2.0)


def test_disabled_tracer_records_nothing_and_touches_no_job_group():
    sc = FakeSc()
    tr = Tracer(False, sc)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == [] and sc.log == [] and tr.overhead_s == 0.0


def test_spans_tag_job_groups_and_restore_the_parent_group():
    sc = FakeSc()
    sc.setJobGroup("outer-owner", "set before tracing")
    tr = Tracer(True, sc)
    with tr.span("a"):
        assert sc.getLocalProperty("spark.jobGroup.id") == "pb-0"
        with tr.span("b"):
            assert sc.getLocalProperty("spark.jobGroup.id") == "pb-1"
        assert sc.getLocalProperty("spark.jobGroup.id") == "pb-0"
        assert sc.getLocalProperty("spark.job.description") == "a"
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer-owner"
    # a span that raises still restores the group
    with pytest.raises(ValueError):
        with tr.span("c"):
            raise ValueError
    assert sc.getLocalProperty("spark.jobGroup.id") == "outer-owner"


def test_wrap_method_spans_each_call_and_restores():
    class Store:
        def insert(self, x):
            return x * 2

    tr = Tracer(True)
    undo = wrap_method(tr, Store, "insert", "jobs.lake.insert")
    assert Store().insert(3) == 6 and Store().insert(4) == 8
    assert [s.name for s in tr.spans] == ["jobs.lake.insert"] * 2
    undo()
    Store().insert(5)
    assert len(tr.spans) == 2


def test_aggregate_groups_folds_jobs_stages_and_plan_exchanges():
    jobs = [
        {"jobId": 0, "jobGroup": "pb-0", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "pb-1", "stageIds": [2, 3]},
        {"jobId": 2, "jobGroup": "someone-else", "stageIds": [4]},
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 4, "executorCpuTime": 2e9,
         "inputBytes": 100, "shuffleWriteBytes": 10, "memoryBytesSpilled": 1, "diskBytesSpilled": 2},
        {"stageId": 1, "status": "COMPLETE", "numCompleteTasks": 8, "executorCpuTime": 1e9,
         "inputBytes": 0, "shuffleWriteBytes": 0, "memoryBytesSpilled": 0, "diskBytesSpilled": 0},
        {"stageId": 2, "status": "SKIPPED", "numCompleteTasks": 0},
        {"stageId": 3, "status": "COMPLETE", "numCompleteTasks": 1, "inputBytes": 7},
        {"stageId": 4, "status": "COMPLETE", "numCompleteTasks": 99},
    ]
    sql = [
        {"successJobIds": [0], "nodes": [{"nodeName": "Exchange"}, {"nodeName": "BroadcastExchange"},
                                          {"nodeName": "HashAggregate"}]},
        {"successJobIds": [1], "nodes": [{"nodeName": "Scan parquet"}]},
        {"successJobIds": [0, 1], "nodes": [{"nodeName": "Exchange"}]},  # spans two groups: skipped
    ]
    # statusTracker's answer wins over the job record's own group
    out = aggregate_groups(["pb-0", "pb-1"], {1: "pb-1"}, jobs, stages, sql)
    assert out["pb-0"] == {"jobs": 1, "stages": 2, "tasks": 12, "cpu_s": 3.0, "input_bytes": 100,
                           "shuffle_write_bytes": 10, "spill_bytes": 3, "exchanges": 2}
    assert out["pb-1"]["jobs"] == 1 and out["pb-1"]["stages"] == 1 and out["pb-1"]["input_bytes"] == 7
    assert out["pb-1"]["exchanges"] == 0


def test_spark_collector_reads_the_three_endpoints():
    class Tracker:
        def getJobIdsForGroup(self, g):
            return [0] if g == "pb-0" else []

    class Sc:
        uiWebUrl = "http://localhost:4040"
        applicationId = "app-1"

        def statusTracker(self):
            return Tracker()

    seen = []

    def fetch(url):
        seen.append(url)
        if url.endswith("/jobs"):
            return [{"jobId": 0, "stageIds": [0]}]
        if url.endswith("/stages"):
            return [{"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 3}]
        return []

    out = SparkCollector(Sc(), fetch=fetch).per_group([Span("a", 0.0, None, "pb-0")])
    assert out["pb-0"]["jobs"] == 1 and out["pb-0"]["tasks"] == 3
    assert [u.split("app-1")[1].split("?")[0] for u in seen] == ["/jobs", "/stages", "/sql"]


def test_net_of_steal_takes_stolen_time_out_of_wall_time():
    base = [100, 0, 50, 1000, 5, 2, 3, 10, 0, 0]
    # 400 ticks busy, no steal: unchanged
    quiet = [500, 0, 50, 1000, 5, 2, 3, 10, 0, 0]
    assert net_of_steal(2.0, base, quiet) == 2.0
    # 300 busy, 100 stolen: a quarter of the ready vCPU time did not run
    busy = [350, 0, 100, 1000, 5, 2, 3, 110, 0, 0]
    assert net_of_steal(2.0, base, busy) == pytest.approx(1.5)
    assert steal_share(base, busy) == pytest.approx(100 / 400)
    assert net_of_steal(2.0, base, base) == 2.0  # no ticks at all


def test_stopwatch_reports_wall_and_net_time():
    clock = FakeClock()
    readings = iter([[0] * 10, [300, 0, 0, 0, 0, 0, 0, 100, 0, 0]])
    with Stopwatch(clock=clock, ticks=lambda: next(readings)) as sw:
        clock.advance(4.0)
    assert sw.wall == 4.0 and sw.net == pytest.approx(3.0)
    with Stopwatch() as real:  # the host's own counters
        time.sleep(0.01)
    assert 0 <= real.net <= real.wall


def stamp(epoch_s: float) -> str:
    """A monitoring-API timestamp, as the REST /jobs records carry."""
    t = datetime.datetime.fromtimestamp(epoch_s, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}GMT"


def test_rest_time_parses_monitoring_timestamps():
    assert rest_time("2023-11-15T00:00:01.250GMT") == 1_700_006_401.25
    assert rest_time(stamp(1_700_006_402.5)) == 1_700_006_402.5


def test_jobs_without_a_group_go_to_the_innermost_span_by_submission_time():
    """A job the program submits from its own worker thread carries no
    job group; it belongs to the innermost span open when it was
    submitted, and one submitted outside every span to none."""
    windows = [(100.0, 110.0, "pb-0"), (102.0, 105.0, "pb-1"), (106.0, 108.0, "pb-2")]
    jobs = [
        {"jobId": 0, "submissionTime": stamp(103.0), "stageIds": [0]},  # inside pb-1, within pb-0
        {"jobId": 1, "submissionTime": stamp(101.0), "stageIds": [1]},  # pb-0 only
        {"jobId": 2, "submissionTime": stamp(107.5), "stageIds": [2]},  # pb-2
        {"jobId": 3, "submissionTime": stamp(111.0), "stageIds": [3]},  # after every span
        {"jobId": 4, "jobGroup": "pb-2", "submissionTime": stamp(103.0), "stageIds": [4]},
    ]
    stages = [{"stageId": i, "status": "COMPLETE", "numCompleteTasks": 1} for i in range(5)]
    out = aggregate_groups(["pb-0", "pb-1", "pb-2"], {}, jobs, stages, [], windows)
    assert {g: o["jobs"] for g, o in out.items()} == {"pb-0": 1, "pb-1": 1, "pb-2": 2}
    assert sum(o["tasks"] for o in out.values()) == 4


def test_spark_jobs_from_worker_threads_count_in_the_enclosing_span(tmp_path):
    """The program runs some writes on its own thread pool. Under
    PySpark's pinned-thread mode those threads do not inherit the span's
    job group; the collector still charges their jobs to the span."""
    pyspark = pytest.importorskip("pyspark")
    spark = (
        pyspark.sql.SparkSession.builder.master("local[1]")
        .appName("perfbench-trace-test")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={tmp_path}")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tr = Tracer(True, sc)
        with tr.span("outer"):
            spark.range(10).count()  # the span's own thread: tagged
            with tr.span("inner"):
                with ThreadPoolExecutor(max_workers=2) as pool:
                    assert sum(pool.map(lambda n: spark.range(n).count(), [5, 6])) == 11
        spark.range(3).count()  # outside every span: charged to none
        out = SparkCollector(sc).per_group(tr.spans)
        assert out["pb-0"]["jobs"] >= 1
        assert out["pb-1"]["jobs"] >= 2
        assert out["pb-1"]["tasks"] >= 2
    finally:
        spark.stop()


def test_written_counts_new_and_rewritten_files_only(tmp_path):
    (tmp_path / "a").mkdir()
    keep = tmp_path / "a" / "keep.parquet"
    keep.write_bytes(b"x" * 10)
    old = tmp_path / "a" / "old.parquet"
    old.write_bytes(b"y" * 20)
    before = data_files(snapshot(str(tmp_path)))
    old.unlink()
    (tmp_path / "a" / "new.parquet").write_bytes(b"z" * 30)
    (tmp_path / "a" / ".new.parquet.crc").write_bytes(b"c")
    (tmp_path / "a" / "_SUCCESS").write_bytes(b"")
    time.sleep(0.01)
    rewritten = tmp_path / "a" / "keep.parquet"
    rewritten.write_bytes(b"w" * 11)
    after = data_files(snapshot(str(tmp_path)))
    assert written(before, after) == (41, 2)
    assert written(after, after) == (0, 0)
    assert snapshot(str(tmp_path / "missing")) == {}


def test_proc_sampler_sees_child_memory_and_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", "b = bytearray(64 << 20); import time; time.sleep(2)"]
    )
    try:
        time.sleep(1.0)
        assert child.pid in process_tree(os.getpid())
        assert tree_cpu_s([os.getpid()]) > 0
        assert tree_pss([child.pid]) >= 64 << 20  # private pages count whole
        with ProcSampler(interval_s=0.05) as s:
            time.sleep(0.2)
        assert s.peak_pss >= 64 << 20  # the child's buffer, not this process
        assert s.cpu_s() > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
