"""Pins the event-log parser on tiny jobs whose counters are known.

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing as tr  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("evlog")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{root}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    windows = {}

    def window(name, fn):
        t0 = time.time()
        fn()
        windows[name] = (t0, time.time())

    window("shuffle", lambda: spark.range(0, 1000, 1, 4)
           .groupBy((F.col("id") % 10).alias("k")).count().collect())

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    window("python", lambda: spark.range(0, 100, 1, 2).select(plus_one("id")).collect())
    pq = str(root / "t.parquet")
    spark.range(0, 100, 1, 2).write.parquet(pq)
    window("scan", lambda: spark.read.parquet(pq).agg(F.sum("id")).collect())
    spark.stop()
    paths = [str(p) for p in root.iterdir() if p.is_file()]
    return tr.parse_event_log(paths), windows


def test_shuffle_job_counters(traced):
    log, windows = traced
    jobs = tr.jobs_in(log, *windows["shuffle"])
    c = tr.job_counters(log, jobs)
    assert c["jobs"] == 1 and c["stages"] == 2
    assert c["tasks"] == 4 + 3  # 4 map tasks, 3 shuffle partitions
    assert c["shuffle_write_bytes"] > 0
    assert c["shuffle_read_bytes"] == c["shuffle_write_bytes"]
    assert c["python_bytes"] == 0 and c["spill_bytes"] == 0
    assert c["task_run_s"] > 0 and c["task_cpu_s"] > 0
    t0, t1 = windows["shuffle"]
    assert 0 < tr.busy_s(log, jobs) <= t1 - t0
    assert tr.last_task_end(log, jobs) <= t1


def test_python_bytes_counted(traced):
    log, windows = traced
    c = tr.job_counters(log, tr.jobs_in(log, *windows["python"]))
    assert c["jobs"] == 1 and c["tasks"] == 2
    assert c["python_bytes"] > 0
    assert c["shuffle_write_bytes"] == 0


def test_scan_bytes_and_files_read(traced):
    log, windows = traced
    t0, t1 = windows["scan"]
    c = tr.job_counters(log, tr.jobs_in(log, t0, t1))
    assert c["scan_bytes"] > 0
    files = sum(m.get("number of files read", 0) for t, m in log.sql_metrics if t0 <= t <= t1)
    assert files == 2
