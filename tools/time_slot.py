"""Time one or more bench slots exactly as bench.py does (session
bootstrap warmups, sf0.001 plan warm, noop sink, 3 samples) and print
one JSON line — the paired-A/B building block for a host whose windows
swing 2x (BASELINE.md variance dossiers): run variants back-to-back
under the same window and compare medians.

Usage: SPARK_GRAFT_CPUS=32 python tools/time_slot.py q30_sessionization [...]
"""
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    names = sys.argv[1:]
    import bench
    from bigdata_spark_assignment_spark.plans import REGISTRY
    from bigdata_spark_assignment_spark.session import get_session

    spark = get_session(app_name="time-slot")
    bench._warmup(spark)
    if any("q42" in n or "q40" in n or "q67" in n for n in names):
        bench._warm_ivf_index(spark, SF_DIR)
    bench._warm_plans(spark, {n: REGISTRY[n] for n in names}, set(),
                      SF_DIR)
    out = {}
    for name in names:
        samples = []
        for _ in range(3):
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, SF_DIR) \
                .write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = {"samples": samples,
                     "median": statistics.median(samples)}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
