"""Tests of the benchmark's own parts: the event-log reader on a small
recorded log, the delta-step attribution and span self times.

    python3 -m pytest perfbench/test_perfbench.py -q

The recorded log is ``fixtures/eventlog_small.jsonl.gz``. To record it
again (about a minute; needs the package on the path):

    python3 perfbench/test_perfbench.py --record
"""

from __future__ import annotations

import gzip
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl.gz")
# the events and fields the reader uses; the rest is dropped on recording
_KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd",
         "SparkListenerStageSubmitted", "SparkListenerStageCompleted",
         "SparkListenerTaskEnd",
         "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "org.apache.spark.sql.execution.ui."
         "SparkListenerSQLAdaptiveExecutionUpdate",
         "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"}
_PROPS = ("spark.jobGroup.id", "callSite.short", "spark.sql.execution.id")


def _log():
    from eventlog import EventLog, read_events
    return EventLog(read_events(FIXTURE))


def test_python_stage_metrics_by_group():
    log = _log()
    tot = log.stage_totals({"g.python"})
    assert tot["python_in_bytes"] > 0 and tot["python_out_bytes"] > 0
    assert tot["cpu_s"] > 0 and tot["task_skew"] >= 1.0
    # a group that ran no Python node reports none
    assert log.stage_totals({"g.band"})["python_in_bytes"] == 0


def test_jobs_grouped_with_call_site_and_written_path():
    log = _log()
    by_group = log.group_jobs(lambda j: j["group"])
    assert {"g.python", "g.band", "g.collect"} <= set(by_group)
    # PySpark records the Python call site for collect-type actions
    sites = {log.jobs[j]["call_site"] for j in by_group["g.collect"]}
    assert any(s and s.startswith("collect at ")
               and s.split(":")[0].endswith("test_perfbench.py") for s in sites)
    written = {p for j in by_group["g.python"]
               for p in log.written_paths(log.jobs[j]["exec_id"])}
    assert any(p.endswith("/extracted") for p in written)
    assert log.job_wall_s(by_group["g.python"]) > 0


def test_band_join_output_rows_from_plan_metrics():
    from layers import _band_join
    log = _log()
    execs = {log.jobs[j]["exec_id"]
             for j in log.group_jobs(lambda j: j["group"])["g.band"]}
    rows = log.plan_metric(execs, _band_join, "number of output rows")
    # 12 identical documents: each of the 16 bands buckets all of them
    # together, so the self-join emits 16 * C(12, 2) candidate rows
    assert rows == 16 * 66


def test_delta_steps_follow_tables_call_sites_and_order():
    from workloads import delta_steps
    sections = [(100, "digest"), (120, "doclocal"), (150, "merge"),
                (180, "canonicalize"), (200, "manifest")]
    base = "/w/store"
    jobs = [{"call_site": None}, {"call_site": None},
            {"call_site": "count at /x/quickner_spark/kg/delta.py:110"},
            {"call_site": None},
            {"call_site": "collect at /x/quickner_spark/kg/link.py:144"},
            {"call_site": "count at /x/quickner_spark/kg/delta.py:160"},
            {"call_site": "isEmpty at /x/quickner_spark/kg/delta.py:185"},
            {"call_site": None}]
    paths = [["file:/w/store/digests/snap=1"], [], [],
             ["file:/w/store/extract/snap=1"], [], [],
             [], ["file:/w/store/manifest/v1"]]
    assert delta_steps(jobs, paths, base, sections) == [
        "digest", "digest", "digest", "doclocal", "doclocal", "merge",
        "canonicalize", "manifest"]


def test_delta_sections_cover_every_step():
    from workloads import DELTA_STEPS, delta_sections
    assert {step for _, step in delta_sections()} == set(DELTA_STEPS)


def test_span_self_time_subtracts_direct_children():
    from spans import Tracer
    t = Tracer("r")
    t.spans = [
        {"id": 0, "name": "job", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 4.0, "end": 9.0, "parent": 0},
        {"id": 3, "name": "c", "start": 5.0, "end": 6.0, "parent": 2}]
    assert t.self_times_by_id() == {0: 2.0, 1: 3.0, 2: 4.0, 3: 1.0}


def record() -> None:
    """Run three small job groups on local[2] with the event log on and
    keep the events the reader uses."""
    import shutil
    import tempfile

    work = tempfile.mkdtemp(dir=HERE)
    try:
        events = os.path.join(work, "events")
        os.makedirs(events)
        os.environ["PYTHONPATH"] = os.path.dirname(HERE)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{events} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell")
        from pyspark.sql import functions as F

        from eventlog import find_log, read_events
        from quickner_spark.kg.extract import extract_stage
        from quickner_spark.operators.textops import minhash_dedup
        from quickner_spark.session import get_spark

        spark = get_spark("perfbench-fixture", cores=2)
        sc = spark.sparkContext
        pages = spark.createDataFrame(
            [(f"u{i}", f"<p>page {i} text</p>".encode()) for i in range(40)],
            "url string, html binary").repartition(2)
        sc.setJobGroup("g.python", "extract")
        extract_stage(pages).write.parquet(os.path.join(work, "extracted"))
        docs = spark.createDataFrame(
            [(f"d{i:02d}", "the same twelve word text appears on every "
              "one of these pages") for i in range(12)],
            "doc_id string, text string")
        sc.setJobGroup("g.band", "minhash")
        minhash_dedup(docs).write.parquet(os.path.join(work, "pairs"))
        sc.setJobGroup("g.collect", "collect")
        spark.read.parquet(os.path.join(work, "pairs")).where(
            F.col("shared") > 0).collect()
        spark.stop()
        os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
        with gzip.open(FIXTURE, "wt", encoding="utf-8") as out:
            for e in read_events(find_log(events)):
                if e["Event"] not in _KEEP:
                    continue
                for key in ("physicalPlanDescription", "details",
                            "Stage Infos"):
                    e.pop(key, None)
                e.get("Stage Info", {}).pop("RDD Info", None)
                e.get("Stage Info", {}).pop("Details", None)
                if "Task Info" in e:
                    e["Task Info"] = {k: e["Task Info"][k] for k in
                                      ("Launch Time", "Finish Time")}
                    e.pop("Task Metrics", None)
                if "Properties" in e:
                    e["Properties"] = {k: v for k, v in e["Properties"].items()
                                       if k in _PROPS}
                # keep no local paths: the scratch dir and the checkout
                line = (json.dumps(e).replace(work, "/work")
                        .replace(os.path.dirname(HERE), "/src"))
                out.write(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__" and sys.argv[1:] == ["--record"]:
    record()
