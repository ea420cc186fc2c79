"""Toy-scale self-tests of the benchmark: each workload at a few hundred
docs, the negative cases its checks must catch, and the event-log reader.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import shutil

import pytest

import run
import textcorpus
import tracing
from workloads import DedupMaintain, ExtractJob, NullRecorder


def test_planted_twins_are_whole_hundreds():
    assert textcorpus.planted_twins(0, 300) == {(6, 7), (106, 107), (206, 207)}
    with pytest.raises(ValueError):
        textcorpus.land_part("unused", 0, 150, 1, "p")


def test_corpus_is_a_function_of_the_seed():
    ids = textcorpus.np.arange(100, 110)
    assert textcorpus.texts_for(ids, 5) == textcorpus.texts_for(ids, 5)
    assert textcorpus.texts_for(ids, 5) != textcorpus.texts_for(ids, 6)
    a, b = textcorpus.texts_for(textcorpus.np.array([106, 107]), 5)
    assert a.split()[:-1] == b.split()[:-1] and a.split()[-1] != b.split()[-1]


def test_event_log_reader_groups_tasks_by_job_group(tmp_path):
    plan = {
        "nodeName": "MapInArrow",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
        ],
        "children": [],
    }

    def task(stage, ms, run_ms, sent):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {
                "Launch Time": 0,
                "Finish Time": ms,
                "Accumulables": [
                    {"ID": 7, "Update": str(run_ms)},
                    {"ID": 8, "Update": str(sent)},
                ],
            },
            "Task Metrics": {
                "JVM GC Time": 10,
                "Memory Bytes Spilled": 1,
                "Disk Bytes Spilled": 2,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            },
        }

    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "r.1"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1], "Properties": {}},
        task(0, 1000, 500, 64), task(0, 3000, 1500, 64), task(0, 1000, 0, 0),
        task(1, 9000, 9000, 9),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    groups = tracing.read_event_log(str(log))
    assert set(groups) == {"r.1"}
    got = tracing.spark_layers(groups, {"r.1", "r.2"})
    assert got["python_worker_s"] == pytest.approx(2.0)
    assert got["python_bytes_sent"] == 128
    assert got["shuffle_write_bytes"] == 300
    assert got["spill_bytes"] == 9
    assert got["gc_s"] == pytest.approx(0.03)
    assert got["task_skew"] == pytest.approx(3.0)


def test_run_refuses_a_directory_without_the_package(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "extract_job", "--seed", "1", "--seconds", "1"]) == 2


@pytest.fixture(scope="module")
def spark():
    from deed_ocr_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_extract_job_checks_catch_a_missing_bucket(spark, tmp_path):
    wl = ExtractJob(spark, str(tmp_path), seed=3, docs=300, buckets=4)
    wl.setup(NullRecorder())
    times, attempted, failed = run.measure(wl, NullRecorder(), 0)
    assert (len(times), attempted, failed) == (1, 1, 0)

    class SlowJobRecorder(NullRecorder):
        def seconds(self, name):  # a job far slower than its write + ledger
            return [100.0] * len(wl.results)

    with pytest.raises(RuntimeError, match="slack"):
        wl.layers(SlowJobRecorder())

    def op_losing_a_bucket(rec):
        res = ExtractJob.op(wl, rec)
        shutil.rmtree(os.path.join(wl.out, "part_bucket=2"))
        return res

    wl.op = op_losing_a_bucket
    assert run.measure(wl, NullRecorder(), 0) == ([], 1, 1)


def test_dedup_maintain_checks_catch_a_lost_label(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SIG_CACHE", str(tmp_path / "sigcache"))
    wl = DedupMaintain(spark, str(tmp_path), seed=3, base_docs=400, append_docs=200)
    wl.setup(NullRecorder())
    times, attempted, failed = run.measure(wl, NullRecorder(), 0)
    assert (len(times), attempted, failed) == (1, 1, 0)
    assert len(wl.pairs) == 6  # 4 base twins + 2 from the append

    def op_losing_a_label(rec):
        return DedupMaintain.op(wl, rec).filter("doc_id != 707")

    wl.op = op_losing_a_label
    assert run.measure(wl, NullRecorder(), 0) == ([], 1, 1)
