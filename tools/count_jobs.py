"""Deterministic cost shape of one bench slot: jobs, stages, tasks.

Timing on this host swings 2x between windows (BASELINE.md variance
dossiers), but the job/stage/task COUNTS of a slot are deterministic
given code + config — the right witness for task-storm/job-count
optimizations (guide §1.4: count your jobs). Runs the slot once
(after the standard bench warmups) inside a job group and prints the
counts plus wall time.

Usage: SPARK_GRAFT_CPUS=32 python tools/count_jobs.py q30_sessionization [...]
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


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
    out = {}
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, SF_DIR) \
            .write.format("noop").mode("overwrite").save()
        wall = round(time.perf_counter() - t0, 3)
        jobs = tracker.getJobIdsForGroup(name)
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
        out[name] = {"jobs": len(jobs), "stages": n_stages,
                     "tasks": n_tasks, "wall": wall}
        sc.setJobGroup(None, None)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
