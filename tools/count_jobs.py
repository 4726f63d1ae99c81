"""Cost shape of bench slots: per sample, wall time and jobs, stages,
tasks.

Timing on a shared host swings 2x between windows (BASELINE.md
variance dossiers), so the job/stage/task COUNTS of a slot are the
first witness for task-storm/job-count optimizations (guide §1.4:
count your jobs), and wall time confirms them. After the standard
bench warmups, runs each slot 3 times through the noop sink, as
bench.py does, each sample in its own job group, and prints one JSON
line: per slot, each sample's wall time and counts plus the median
wall time. Counts that differ between samples show which slots are
not deterministic given code + config.

Usage: SPARK_GRAFT_CPUS=32 python tools/count_jobs.py q30_sessionization [...]
"""
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SAMPLES = 3


def main() -> None:
    names = sys.argv[1:]
    import bench
    from bigdata_spark_assignment_spark.plans import REGISTRY
    from bigdata_spark_assignment_spark.session import get_session

    spark = get_session(app_name="count-jobs")
    bench._warmup(spark)
    if any(n.startswith(("q40", "q42", "q67")) for n in names):
        bench._warm_ivf_index(spark, SF_DIR)
    bench._warm_plans(spark, {n: REGISTRY[n] for n in names}, set(),
                      SF_DIR)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    out = {}
    for name in names:
        samples = []
        for i in range(SAMPLES):
            group = f"{name}#{i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                REGISTRY[name].fn(spark, SF_DIR) \
                    .write.format("noop").mode("overwrite").save()
            finally:
                sc.setJobGroup(None, None)
            wall = round(time.perf_counter() - t0, 3)
            bus.waitUntilEmpty(60_000)
            jobs = tracker.getJobIdsForGroup(group)
            n_stages = n_tasks = 0
            for jid in jobs:
                ji = tracker.getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = tracker.getStageInfo(sid)
                    if si is not None:
                        n_stages += 1
                        n_tasks += si.numTasks
            samples.append({"wall": wall, "jobs": len(jobs),
                            "stages": n_stages, "tasks": n_tasks})
        out[name] = {"samples": samples,
                     "median": statistics.median(s["wall"]
                                                 for s in samples)}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
