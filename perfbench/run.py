"""Closed-loop benchmark of the engine: one client, one operation at a
time, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Workloads (README.md in this directory says why each exists):

* ``corpus``    - near-duplicate detection over the 5000 documents of the
  sf0.1 fixture (``data/``): MinHash LSH (q34) and near-duplicate
  clusters (q53), i.e. pandas/Arrow workers, persist, localCheckpoint
  and iterative connected components;
* ``flight_ml`` - the paper's job: CSV read, cleaning, features and FDR
  selection, then cross-validated linear regression and decision tree.

A run starts the session and makes its inputs (``--seed`` permutes the
corpus query order and seeds the flight data). ``corpus`` then runs one
discarded warm-up pass and timed passes while less than ``--seconds``
have passed, at least two; ``flight_ml`` times one pass in the fresh
JVM, as the paper's batch job runs. Then the outputs are checked. With
``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` every
timed pass is traced and it prints the per-layer metrics, read from
``/proc`` and from Spark's status store. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from bigdata_spark_assignment_spark.fixtures import (  # noqa: E402
    make_flights_expo,
    make_planes,
)
from bigdata_spark_assignment_spark.io import read_csv  # noqa: E402
from bigdata_spark_assignment_spark.ml.flight_delay import (  # noqa: E402
    FlightDelayPipeline,
)
from bigdata_spark_assignment_spark.plans import REGISTRY  # noqa: E402
from bigdata_spark_assignment_spark.session import (  # noqa: E402
    default_parallelism,
    get_session,
)
from tests.oracle_utils import normalize  # noqa: E402

from probe import ProcessTree, cpu_delta, group_stages  # noqa: E402

# Inputs, warm-up and timed passes per workload. Every run is a fresh
# process that pays JVM start, so sizes, warm-ups and pass counts are set
# for the runs of both workloads to fit the budget in README.md. A
# workload without a warm-up times exactly its ``passes``, all cold.
# ``data/`` holds a byte-for-byte copy of the sf0.1 fixture's documents.
CORPUS = {"dir": os.path.join(HERE, "data"), "queries": ["q34", "q53"],
          "warm_up": True, "passes": 2}
FLIGHTS = {"n": 20_000, "n_planes": 3000, "cv_folds": 2,
           "warm_up": False, "passes": 1}
FLIGHT_MODELS = ("lr", "dtr")

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s"}
PER_LAYER = (
    [("plans.build_s", "s"), ("spark.jobs", "count"),
     ("spark.stages", "count"), ("spark.tasks", "count"),
     ("cores.idle_s", "s"), ("spark.executor_run_s", "s"),
     ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
     ("spark.input_mb", "MiB"), ("spark.shuffle_write_mb", "MiB"),
     ("spark.spill_mb", "MiB"), ("pyworker.cpu_s", "s"),
     ("driver.cpu_s", "s"), ("jvm.cpu_s", "s"), ("peak_rss_mb", "MiB"),
     ("session.start_s", "s"),
     ("ml.prepare_s", "s"), ("ml.prepare.tasks", "count")]
    + [(f"ml.fit_{m}_s", "s") for m in FLIGHT_MODELS]
    + [(f"ml.fit_{m}.tasks", "count") for m in FLIGHT_MODELS]
    + [(f"op.{q}.{k}", u) for q in CORPUS["queries"]
       for k, u in (("s", "s"), ("tasks", "count"))]
    + [("trace.pass_s", "s"), ("trace.overhead_s", "s")])

# status-store totals -> per-layer metric names
STAGE_METRICS = {"jobs": "spark.jobs", "stages": "spark.stages",
                 "tasks": "spark.tasks",
                 "executorRunTime": "spark.executor_run_s",
                 "executorCpuTime": "spark.executor_cpu_s",
                 "jvmGcTime": "spark.gc_s", "inputBytes": "spark.input_mb",
                 "shuffleWriteBytes": "spark.shuffle_write_mb",
                 "diskBytesSpilled": "spark.spill_mb"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19])  # field 22
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start / os.sysconf("SC_CLK_TCK"))


def registry_name(prefix: str) -> str:
    return next(n for n in REGISTRY if n.lower().startswith(prefix + "_"))


class QueryWorkload:
    """Registered queries over the parquet tables in ``spec["dir"]``, each
    run as ``REGISTRY[q].fn(spark, dir)`` into a noop sink. The seed
    permutes the query order; every pass of a run, the warm-up whose
    output is checked included, runs that order."""

    def __init__(self, spec: dict, seed: int, work: str):
        self.spec, self.seed = spec, seed
        self.dir = spec["dir"]
        self.tables = {f[:-len(".parquet")]: os.path.join(self.dir, f)
                       for f in sorted(os.listdir(self.dir))
                       if f.endswith(".parquet")}
        self.names = {q: registry_name(q) for q in spec["queries"]}
        self.order = sorted(self.names)
        random.Random(seed).shuffle(self.order)
        self.outputs: dict[str, tuple] = {}  # warm-up results by query

    def setup(self, spark) -> dict:
        return {t: pq.read_metadata(path).num_rows
                for t, path in self.tables.items()}

    def ops(self, spark, pass_no: int):
        return [(q, self._op(spark, q, keep=pass_no < 0))
                for q in self.order]

    def _op(self, spark, q: str, keep: bool):
        fn = REGISTRY[self.names[q]].fn

        def run() -> dict[str, float]:
            t = time.perf_counter()
            df = fn(spark, self.dir)
            build = time.perf_counter() - t
            if keep:  # the noop write fills the cache, collect reads it
                df = df.persist()
            df.write.format("noop").mode("overwrite").save()
            if keep:
                self.outputs[q] = (df.columns, [tuple(r) for r in df.collect()])
                df.unpersist()
            return {"build": build}
        return run

    def check(self, spark) -> dict[str, str]:
        """The warm-up pass's output of each query against its DuckDB
        oracle on the same tables, compared as the oracle tests compare
        them; returns the failures by query."""
        failed = {}
        con = duckdb.connect()
        try:
            for t, path in self.tables.items():
                con.execute(f"CREATE VIEW {t} AS "
                            f"SELECT * FROM read_parquet('{path}')")
            for q, name in sorted(self.names.items()):
                if q not in self.outputs:
                    failed[q] = "no output"
                    continue
                cols, rows = self.outputs[q]
                res = con.execute(REGISTRY[name].oracle)
                want_cols = [d[0] for d in res.description]
                if sorted(cols) != sorted(want_cols):
                    failed[q] = f"columns {sorted(cols)} != {sorted(want_cols)}"
                elif normalize(rows, cols) != normalize(res.fetchall(),
                                                         want_cols):
                    failed[q] = "values differ from the oracle"
        finally:
            con.close()
        return failed


class FlightWorkload:
    """The paper's pipeline: all-string header CSVs of
    ``make_flights_expo`` and ``make_planes`` written in setup; a pass
    reads them, prepares (clean, featurize, FDR selection), then fits
    and evaluates each model with k-fold CV."""

    def __init__(self, spec: dict, seed: int, work: str):
        self.spec, self.seed = spec, seed
        self.flights = os.path.join(work, "flights.csv")
        self.planes = os.path.join(work, "planes.csv")
        self.metrics: list[dict] = []  # one {model: {rmse, r2}} per pass

    def setup(self, spark) -> dict:
        flights = make_flights_expo(spark, n=self.spec["n"], seed=self.seed)
        planes = make_planes(spark, n=self.spec["n_planes"], seed=self.seed)
        for df, path in ((flights, self.flights), (planes, self.planes)):
            df.write.mode("overwrite").option("header", True).csv(path)
        return {"flights": self.spec["n"], "planes": self.spec["n_planes"]}

    def ops(self, spark, pass_no: int):
        state: dict = {}
        pipe = FlightDelayPipeline(
            selector_mode="fdr", cv_folds=self.spec["cv_folds"],
            parallelism=min(4, default_parallelism()))
        result: dict = {}
        self.metrics.append(result)

        def prepare():
            flights = read_csv(spark, self.flights)
            planes = read_csv(spark, self.planes)
            state["prepared"] = pipe.prepare(flights, planes).cache()
            state["rows"] = state["prepared"].count()

        def fit(model):
            def run():
                result.update(pipe.fit_evaluate(state["prepared"],
                                                models=(model,)))
            return run

        self.state = state
        return ([("prepare", prepare)]
                + [(f"fit_{m}", fit(m)) for m in FLIGHT_MODELS])

    def check(self, spark) -> dict[str, str]:
        """Per-model metrics identical on every pass; LR beats the tree
        on RMSE and has R^2 > 0.8."""
        failed = {}
        first = self.metrics[0]
        for m in FLIGHT_MODELS:
            if m not in first or any(p.get(m) != first[m]
                                     for p in self.metrics):
                failed[f"fit_{m}"] = "metrics missing or differ between " \
                    f"passes: {[p.get(m) for p in self.metrics]}"
        if not failed:
            lr, tree = first["lr"], first["dtr"]
            if not lr["rmse"] < tree["rmse"]:
                failed["fit_dtr"] = f"LR does not beat the tree: {first}"
            if not lr["r2"] > 0.8:
                failed["fit_lr"] = f"LR R^2 <= 0.8: {lr}"
        return failed


WORKLOADS = {"corpus": (QueryWorkload, CORPUS),
             "flight_ml": (FlightWorkload, FLIGHTS)}


class Runner:
    """Runs passes of a workload and records, per pass, wall time, the
    process-tree CPU split and (when traced) per-operation spans and
    status-store totals."""

    def __init__(self, spark, workload, tree: ProcessTree):
        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.tree = workload, tree
        self.cores = default_parallelism()
        self.errors: list[str] = []
        self.group_no = 0

    def run_pass(self, pass_no: int, traced: bool) -> dict:
        # each pass starts with an empty cache: what one pass persists
        # is not reused by the next, while reuse between the queries of
        # one pass stays visible through the seeded order
        self.spark.catalog.clearCache()
        ops = self.workload.ops(self.spark, pass_no)
        rec = {"ops": {}, "failed": [], "attempted": 0, "trace_s": 0.0}
        cpu0, t0 = self.tree.cpu(), time.perf_counter()
        for name, op in ops:
            rec["attempted"] += 1
            t = time.perf_counter()
            if traced:
                self.group_no += 1
                group = f"perfbench-{self.group_no}"
                self.sc.setJobGroup(group, name)
                rec["trace_s"] += time.perf_counter() - t
            t = time.perf_counter()
            try:
                spans = op() or {}
            except Exception as exc:  # count it, keep the loop going
                spans = {}
                rec["failed"].append(name)
                self.errors.append(f"pass {pass_no} {name}: "
                                   f"{type(exc).__name__}: {exc}")
            spans["wall"] = time.perf_counter() - t
            if traced:
                spans.update(group_stages(self.sc, group))
                rec["trace_s"] += time.perf_counter() - t - spans["wall"]
            rec["ops"][name] = spans
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = cpu_delta(cpu0, self.tree.cpu())
        rec["cpu_s"] = sum(rec["cpu"].values())
        return rec


def layer_values(rec: dict, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass."""
    ops = rec["ops"]
    out = {"trace.pass_s": rec["wall"], "trace.overhead_s": rec["trace_s"],
           "plans.build_s": sum(o.get("build", 0.0) for o in ops.values()),
           "cores.idle_s": rec["wall"] * cores - rec["cpu_s"],
           "pyworker.cpu_s": rec["cpu"]["pyworker"],
           "driver.cpu_s": rec["cpu"]["driver"],
           "jvm.cpu_s": rec["cpu"]["jvm"]}
    for key, metric in STAGE_METRICS.items():
        out[metric] = sum(o.get(key, 0.0) for o in ops.values())
    if "prepare" in ops:
        out["ml.prepare_s"] = ops["prepare"]["wall"]
        out["ml.prepare.tasks"] = ops["prepare"]["tasks"]
        for m in FLIGHT_MODELS:
            out[f"ml.fit_{m}_s"] = ops[f"fit_{m}"]["wall"]
            out[f"ml.fit_{m}.tasks"] = ops[f"fit_{m}"]["tasks"]
    for q in CORPUS["queries"]:
        if q in ops:
            out[f"op.{q}.s"] = ops[q]["wall"]
            out[f"op.{q}.tasks"] = ops[q]["tasks"]
    return out


def varying_counts(traced: list[dict]) -> list[str]:
    """Task/stage/job counts that differ between traced passes, per
    operation."""
    out = []
    for name in traced[0]["ops"]:
        for key in ("jobs", "stages", "tasks"):
            seen = {r["ops"][name].get(key) for r in traced}
            if len(seen) > 1:
                out.append(f"{name}.{key}={sorted(seen)}")
    return out


def run_facts(spark, args, inputs: dict) -> dict:
    jvm = spark.sparkContext._jvm
    conf = dict(spark.sparkContext.getConf().getAll())
    volatile = ("spark.app.", "spark.driver.host", "spark.driver.port",
                "spark.executor.id", "spark.driver.extraJavaOptions",
                "spark.executor.extraJavaOptions", "spark.sql.warehouse.dir",
                "spark.rdd.compress", "spark.serializer.objectStreamReset",
                "spark.submit.", "spark.ui.showConsoleProgress")
    settings = {k: v for k, v in sorted(conf.items())
                if not k.startswith(volatile)}
    settings["spark.sql.optimizer.excludedRules"] = spark.conf.get(
        "spark.sql.optimizer.excludedRules", "")
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "bigdata_spark_assignment_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "cores": default_parallelism(), "spark": spark.version,
            "java": jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0], "commit": commit,
            "engine_sha256": digest.hexdigest()[:16],
            "session_settings": settings, "input_rows": inputs}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # every file the run writes (inputs, Spark local dirs, temp files of
    # the JVM and the Python workers) stays under the run's own directory
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-"
                                       f"{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
    tree = ProcessTree()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        cls, spec = WORKLOADS[args.workload]
        workload = cls(spec, args.seed, work)
        t = time.perf_counter()
        inputs = workload.setup(spark)
        log(f"inputs {time.perf_counter() - t:.2f}s")
        runner = Runner(spark, workload, tree)
        if spec["warm_up"]:
            warm = runner.run_pass(-1, traced=False)
            log(f"warm-up: {warm['wall']:.3f}s " + " ".join(
                f"{k}={v['wall']:.2f}" for k, v in warm["ops"].items()))
        setup_s = process_age()
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s)")

        passes: list[dict] = []
        t_loop = time.perf_counter()
        while len(passes) < spec["passes"] or (
                spec["warm_up"]
                and time.perf_counter() - t_loop < args.seconds):
            passes.append(runner.run_pass(len(passes), bool(args.trace)))
            p = passes[-1]
            log(f"pass {len(passes) - 1}: "
                f"{p['wall']:.3f}s cpu {p['cpu_s']:.2f}s "
                + " ".join(f"{k}={v['wall']:.2f}"
                           for k, v in p["ops"].items()))
        measured_s = time.perf_counter() - t_loop

        t = time.perf_counter()
        check_failed = workload.check(spark)
        log(f"output checks {time.perf_counter() - t:.2f}s: "
            + ("all ok" if not check_failed else json.dumps(check_failed)))
        peak = tree.peak_rss_mb()
        facts = run_facts(spark, args, inputs)
        if args.workload == "flight_ml":
            facts["flight_ml_clean_rows"] = workload.state.get("rows")
            facts["flight_ml_metrics"] = workload.metrics[0]
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm(tree)
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(p["attempted"] for p in passes)
    failed = sum(len(set(p["failed"]) | set(check_failed)) for p in passes)
    for err in runner.errors:
        log(err)

    if args.trace:
        per_pass = [layer_values(p, runner.cores) for p in passes]
        values = {name: 0.0 for name, _ in PER_LAYER}
        for name in per_pass[0]:
            values[name] = statistics.median(v[name] for v in per_pass)
        values["session.start_s"] = session_s
        values["peak_rss_mb"] = peak
        if len(passes) > 1:
            varying = varying_counts(passes)
            print("counts that vary between traced passes: "
                  + (", ".join(varying) if varying else "none"))
        units = dict(PER_LAYER)
    else:
        values = {"setup_s": setup_s,
                  "pass_s": statistics.median(p["wall"] for p in passes),
                  "cpu_s": statistics.median(p["cpu_s"] for p in passes)}
        units = END_TO_END

    facts["passes"] = len(passes)
    facts["measured_s"] = round(measured_s, 3)
    print("facts " + json.dumps(facts, sort_keys=True))
    n = len(passes)
    for name, unit in units.items():
        print(f"{name} = {values[name]:.6g} {unit}"
              + (f"  (median of {n} passes)"
                 if name in ("pass_s", "cpu_s", "trace.pass_s") else ""))
    print(f"failed_share = {failed}/{attempted}")
    print(json.dumps({
        "correct": not check_failed and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


def stop_jvm(tree: ProcessTree) -> None:
    """Shut the py4j gateway and wait until every process this run
    started (JVM, PySpark daemon and workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tree.snapshot() if p != tree.root]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
