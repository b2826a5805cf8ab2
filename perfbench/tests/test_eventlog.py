"""The event-log parser attributes a two-job query to its job group."""

import glob
import os

import pytest

import eventlog

pyspark = pytest.importorskip("pyspark")


def test_two_job_query(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    (tmp_path / "log").mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(tmp_path / "log"))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("sorted", "sorted")
        # a range-partitioned sort: one sampling job, then a two-stage job
        rows = spark.range(0, 1000, numPartitions=4).orderBy(F.col("id").desc()).collect()
        sc.setJobGroup("other", "other")
        spark.range(10).count()
    finally:
        spark.stop()
    assert rows[0].id == 999
    (log,) = glob.glob(os.path.join(tmp_path, "log", "*"))
    groups = eventlog.parse_file(log)
    g = groups["sorted"]
    assert g["jobs"] == 2
    assert g["stages"] == 3
    assert g["tasks"] >= 4 + 4 + 1
    assert g["shuffle_write_bytes"] > 0 and g["shuffle_read_bytes"] == g["shuffle_write_bytes"]
    assert g["executor_run_s"] > 0 and g["output_bytes"] == 0
    assert groups["other"]["jobs"] >= 1


def test_skipped_stages_and_ungrouped_jobs():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g"}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 1500, '
        '"Executor CPU Time": 2000000000, "JVM GC Time": 10, "Disk Bytes Spilled": 7, '
        '"Output Metrics": {"Bytes Written": 5}, "Input Metrics": {"Bytes Read": 3}}}',
        '{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}}',
        '{"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}}',
    ]
    groups = eventlog.parse(lines)
    g = groups["g"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 1)  # stage 0 skipped
    assert g["executor_run_s"] == 1.5 and g["executor_cpu_s"] == 2.0 and g["executor_gc_s"] == 0.01
    assert (g["spill_bytes"], g["output_bytes"], g["input_bytes"]) == (7, 5, 3)
    assert groups[None]["jobs"] == 1 and groups[None]["stages"] == 1
