"""Per-stage profiler for one registry query (guide §1/§7 without the UI).

Runs the query warm on the session get_spark() builds, then once timed with
the Spark event log enabled, and prints each stage of the timed run: wall
span, total executor run time, task count, shuffle read/write bytes, input
bytes, the stage callsite, and the pipeline step a checkpoint job names.

Usage: python tools/opt_profile.py <query_name> [more names...]
SF dir from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_data_warehouse_and_analytics_project_spark.registry import all_queries
from sql_data_warehouse_and_analytics_project_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = "/tmp/spark-events"
    os.makedirs(evdir, exist_ok=True)
    import shutil

    for f in glob.glob(evdir + "/*"):
        shutil.rmtree(f) if os.path.isdir(f) else os.remove(f)

    # the event log must be on before the JVM starts: pass it through
    # PYSPARK_SUBMIT_ARGS (as perfbench/run.py does) so the session is the
    # one get_spark() builds, with every plan-affecting setting of bench.py
    # and the benchmark intact
    submit = [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir={evdir}",
        "--conf", "spark.eventLog.compress=false",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        shlex.join(submit) + " " + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_spark("opt_profile")
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from sql_data_warehouse_and_analytics_project_spark.sources import tpch

    for t in tpch.TABLES:
        df = tpch.load(spark, sf_dir, t)
        df.agg(F.count(F.xxhash64(*df.columns)).alias("_touch")).collect()

    qs = all_queries()
    for name in sys.argv[1:]:
        rq = qs[name]
        # warm
        spark.catalog.clearCache()
        rq.fn(spark, sf_dir).count()
        spark.catalog.clearCache()
        spark.sparkContext.setJobGroup(f"PROFILE:{name}", f"PROFILE:{name}")
        t0 = time.perf_counter()
        rq.fn(spark, sf_dir).count()
        wall = time.perf_counter() - t0
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setJobDescription(None)
        print(f"\n=== {name}: timed wall {wall:.3f}s ===", flush=True)

    sc = spark.sparkContext
    app_id = sc.applicationId
    spark.stop()

    # parse the event log (Spark 4 writes a rolling dir: eventlog_v2_<appId>/)
    path = os.path.join(evdir, app_id)
    if os.path.isdir(path) or not os.path.exists(path):
        cands = sorted(
            glob.glob(evdir + f"/eventlog_v2_{app_id}/events_*")
            or glob.glob(evdir + "/**/events_*", recursive=True)
            or glob.glob(evdir + "/*")
        )
        path = cands[0] if cands else None
    stages = {}  # (stageId, attempt) -> dict
    jobs = {}  # jobId -> (group, description)
    job_stages = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = (
                    props.get("spark.jobGroup.id", ""),
                    props.get("spark.job.description", ""),
                )
                for sid in ev.get("Stage IDs", []):
                    job_stages[sid] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                key = (si["Stage ID"], si["Stage Attempt ID"])
                s = stages.setdefault(
                    key,
                    {"run_ms": 0, "sr": 0, "sw": 0, "inp": 0, "rows_out": 0},
                )
                s["name"] = si["Stage Name"]
                s["tasks"] = si["Number of Tasks"]
                s["submit"] = si.get("Submission Time", 0)
                s["complete"] = si.get("Completion Time", 0)
            elif e == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tm = ev.get("Task Metrics") or {}
                if key not in stages:
                    stages[key] = {
                        "name": "?",
                        "tasks": 0,
                        "submit": 0,
                        "complete": 0,
                        "run_ms": 0,
                        "sr": 0,
                        "sw": 0,
                        "inp": 0,
                        "rows_out": 0,
                    }
                s = stages[key]
                s["run_ms"] += tm.get("Executor Run Time", 0)
                srm = tm.get("Shuffle Read Metrics") or {}
                s["sr"] += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                swm = tm.get("Shuffle Write Metrics") or {}
                s["sw"] += swm.get("Shuffle Bytes Written", 0)
                im = tm.get("Input Metrics") or {}
                s["inp"] += im.get("Bytes Read", 0)

    # group stages by job group; a checkpoint job's description names its step
    per_group = {}
    for (sid, att), s in sorted(stages.items()):
        group, desc = jobs.get(job_stages.get(sid), ("", ""))
        s["step"] = "" if desc == group else f"[{desc}] "
        per_group.setdefault(group, []).append((sid, s))

    for group, ss in per_group.items():
        if not group.startswith("PROFILE:"):
            continue
        print(f"\n##### {group}")
        total_span = sum(s["complete"] - s["submit"] for _, s in ss)
        for sid, s in sorted(ss, key=lambda x: -(x[1]["complete"] - x[1]["submit"])):
            span = (s["complete"] - s["submit"]) / 1000.0
            print(
                f"  stage {sid:>4} span={span:7.3f}s run={s['run_ms']/1000.0:8.3f}s "
                f"tasks={s['tasks']:>3} in={s['inp']>>10}KiB sr={s['sr']>>10}KiB "
                f"sw={s['sw']>>10}KiB  {s['step']}{s['name'][:110]}"
            )
        print(f"  total stage span {total_span/1000.0:.3f}s over {len(ss)} stages")


if __name__ == "__main__":
    main()
