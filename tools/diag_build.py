"""Decompose the bench's cold `build` line in a fresh process.

Reproduces bench.py's exact sequence up to the first timed line (get_spark,
docs.count, SeismicSparkIndex.build + postings.count) with the event log on,
then prints wall-clock marks for each phase plus the per-stage task table —
so the cold-start share (first Python UDF stage, JIT, planning gaps) is
separated from the build's real compute.

Usage: python tools/diag_build.py [--out /tmp/diag_build.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from canary import measure  # noqa: E402
from diag_knn_window import _ev_lines  # noqa: E402

EVDIR = "/tmp/spark-events-build"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/diag_build.json")
    args = ap.parse_args()
    import glob
    import shutil

    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR, exist_ok=True)

    pre = measure()
    marks = {}
    t_start = time.time()

    from pyspark.sql import SparkSession as SS

    from seismic_spark.index import SeismicSparkIndex
    from seismic_spark.postings import IndexConfig

    marks["imports"] = round(time.time() - t_start, 2)

    t0 = time.time()
    builder = SS.builder.appName("diag-build").master("local[32]")
    for k, v in [
        ("spark.python.daemon.module", "seismic_spark.daemon"),
        ("spark.sql.shuffle.partitions", "32"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.execution.arrow.maxRecordsPerBatch", "10000"),
        ("spark.driver.memory", "8g"),
        ("spark.ui.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.local.dir", "/dev/shm/spark-local"),
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", EVDIR),
    ]:
        builder = builder.config(k, v)
    os.environ.setdefault("PYTHONPATH", REPO)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    marks["session"] = round(time.time() - t0, 2)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.time()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n = docs.count()
    marks["docs_count"] = round(time.time() - t0, 2)

    t0 = time.time()
    idx = SeismicSparkIndex.build(spark, docs, IndexConfig(n_postings=10**6))
    marks["build_lazy"] = round(time.time() - t0, 2)  # includes corpus_stats job
    t0 = time.time()
    idx.postings.count()
    marks["postings_count"] = round(time.time() - t0, 2)
    marks["build_line_total"] = round(
        marks["build_lazy"] + marks["postings_count"], 2
    )

    # a second warm build for contrast
    t0 = time.time()
    idx2 = SeismicSparkIndex.build(spark, docs, IndexConfig(n_postings=10**6))
    idx2.postings.count()
    marks["warm_build"] = round(time.time() - t0, 2)

    post = measure()
    spark.stop()

    evdirs = sorted(glob.glob(os.path.join(EVDIR, "*")), key=os.path.getmtime)
    stages = {}
    tasks = {}
    jobs = []
    for line in _ev_lines(evdirs[-1]):
        try:
            ev = json.loads(line)
        except Exception:
            continue
        e = ev.get("Event")
        if e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub, comp = si.get("Submission Time"), si.get("Completion Time")
            stages[si["Stage ID"]] = {
                "name": si["Stage Name"].split("\n")[0][:60],
                "tasks": si["Number of Tasks"],
                "t0": sub,
                "wall": round((comp - sub) / 1000, 2) if sub and comp else None,
            }
        elif e == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            tm = ev.get("Task Metrics") or {}
            a = tasks.setdefault(sid, dict(task=0.0, cpu=0.0, n=0))
            a["task"] += (tm.get("Executor Run Time") or 0) / 1000
            a["cpu"] += (tm.get("Executor CPU Time") or 0) / 1e9
            a["n"] += 1
        elif e == "SparkListenerJobStart":
            jobs.append(
                {"job": ev["Job ID"], "t0": ev["Submission Time"]}
            )
        elif e == "SparkListenerJobEnd":
            for j in jobs:
                if j["job"] == ev["Job ID"]:
                    j["t1"] = ev["Completion Time"]

    rows = []
    for sid, s in stages.items():
        t = tasks.get(sid, {})
        rows.append(
            {
                "stage": sid,
                "wall": s["wall"],
                "tasks": s["tasks"],
                "task_s": round(t.get("task", 0), 1),
                "cpu_s": round(t.get("cpu", 0), 1),
                "name": s["name"],
            }
        )
    rows.sort(key=lambda r: -(r["wall"] or 0))
    # serial gaps between jobs (driver/planning time)
    jt = sorted([j for j in jobs if "t1" in j], key=lambda j: j["t0"])
    gaps = []
    for a, b in zip(jt, jt[1:]):
        g = (b["t0"] - a["t1"]) / 1000
        if g > 0.15:
            gaps.append({"after_job": a["job"], "gap_s": round(g, 2)})
    rec = {
        "canary_pre": pre["first_touch_mbps"],
        "canary_post": post["first_touch_mbps"],
        "marks": marks,
        "n_docs": n,
        "top_stages": rows[:15],
        "job_gaps": gaps,
        "n_jobs": len(jobs),
    }
    with open(args.out, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec, indent=1))


if __name__ == "__main__":
    main()
