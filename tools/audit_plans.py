"""Plan-shape audit over every registered query (guide §1.3).

For each slot, builds the plan at sf0.001 and counts the witnesses the
optimization guide says to check: Exchange (shuffles), join strategies,
Python-boundary nodes (BatchEvalPython = row-at-a-time UDF — must be
zero; Arrow nodes are the sanctioned vectorized boundary), cartesian /
broadcast-nested-loop joins, and whether the parquet scans carry
PushedFilters. Prints one JSON line per slot.

Usage: python tools/audit_plans.py [name-substring ...]
"""
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_spark_assignment_spark.plans import REGISTRY  # noqa: E402
from bigdata_spark_assignment_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

MARKS = {
    # tree lines look like "+- Exchange (14)"; the partitioning spec is
    # on the detail line "Arguments: hashpartitioning(..."
    "exchange": r"\bExchange \(\d+\)",
    "aqe_shuffle_reads": r"\bAQEShuffleRead\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "smj": r"\bSortMergeJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "cartesian": r"\bCartesianProduct\b",
    "batch_eval_python": r"\bBatchEvalPython\b",
    "arrow_eval_python": r"\bArrowEvalPython\b",
    "pandas_grouped": r"\b(FlatMapGroupsInPandas|AggregateInPandas|MapInPandas)\b",
    "pushed_filters": r"PushedFilters: \[[^\]]",
}


def main() -> None:
    filters = sys.argv[1:]
    spark = get_session(app_name="audit-plans")
    for name in sorted(REGISTRY):
        if filters and not any(f in name for f in filters):
            continue
        row = {"q": name}
        try:
            df = REGISTRY[name].fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            for key, pat in MARKS.items():
                row[key] = len(re.findall(pat, plan))
        except Exception as exc:  # noqa: BLE001
            row["err"] = f"{type(exc).__name__}: {exc}"[:160]
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
