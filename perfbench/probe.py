"""Read-only probes of the running process tree and of Spark's status
store, the two sources of the benchmark's layer numbers.

CPU and memory come from ``/proc`` (Linux): the Python driver, the
JVM it launched through py4j, and the PySpark daemon and workers the
JVM forks. Spark-side counts come from the status store the listener
bus feeds, which Spark keeps with the UI disabled.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float, float, int] | None:
    """(comm, ppid, own cpu seconds, cpu seconds of reaped children,
    start time in clock ticks) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17,
    # starttime is field 22
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return comm, int(fields[1]), own, reaped, int(fields[19])


class ProcessTree:
    """CPU seconds of this process and all its descendants."""

    def __init__(self):
        self.root = os.getpid()

    def snapshot(self) -> dict[int, tuple[str, int, float, float, int]]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        keep, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in procs and pid not in keep:
                keep[pid] = procs[pid]
                frontier.extend(p for p, s in procs.items() if s[1] == pid)
        return keep

    def cpu(self) -> dict[tuple[int, int, str], float]:
        """CPU seconds of each live process by (pid, start time, part).
        The parts are ``driver`` (this Python process and any child not
        below the JVM), ``jvm`` (the JVM's own threads) and ``pyworker``
        (the processes below the JVM: the PySpark daemon and its workers,
        and the JVM's reaped children). ``cpu_delta`` turns two readings
        into the CPU used between them."""
        tree = self.snapshot()
        jvm = self.jvm_pid(tree)
        below_jvm = set()
        if jvm is not None:
            frontier = [jvm]
            while frontier:
                pid = frontier.pop()
                kids = [p for p, s in tree.items() if s[1] == pid]
                below_jvm.update(kids)
                frontier.extend(kids)
        out = {}
        for pid, (_, _, own, reaped, start) in tree.items():
            if pid == jvm:
                out[(pid, start, "jvm")] = own
                out[(pid, start, "pyworker")] = reaped
            elif pid in below_jvm:
                out[(pid, start, "pyworker")] = own + reaped
            else:
                out[(pid, start, "driver")] = own + reaped
        return out

    def jvm_pid(self, tree=None) -> int | None:
        tree = tree or self.snapshot()
        return next((p for p, s in tree.items() if s[0] == "java"), None)

    def peak_rss_mb(self) -> float:
        """JVM ``VmHWM`` plus this process's max RSS, in MiB."""
        driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        jvm = self.jvm_pid()
        if jvm is not None:
            with open(f"/proc/{jvm}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (driver_kb + jvm_kb) / 1024.0


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds by part used between two ``ProcessTree.cpu`` readings.

    Summed per process over those alive at the second reading. The
    PySpark daemon ignores SIGCHLD, so a worker that exits leaves its CPU
    in no parent's reaped-children time; a process-wide total would drop
    by the worker's whole lifetime when the daemon retires an idle one.
    Per process, an exited worker adds nothing instead, which misses only
    what it used between the first reading and its exit.
    """
    out = dict.fromkeys(("driver", "jvm", "pyworker"), 0.0)
    for key, seconds in after.items():
        out[key[2]] += seconds - before.get(key, 0.0)
    return out


STAGE_FIELDS = ("executorRunTime", "executorCpuTime", "jvmGcTime",
                "inputBytes", "shuffleWriteBytes", "diskBytesSpilled")


def group_stages(sc, group: str) -> dict[str, float]:
    """Totals over every non-SKIPPED stage of the jobs run under job
    group ``group``: jobs, stages, completed tasks and the executor
    metrics in ``STAGE_FIELDS`` (times in seconds, bytes in MiB).

    Waits for the listener bus to drain first; reading before it does
    misses the last task and stage events of the group and makes the
    counts vary from run to run.
    """
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(("jobs", "stages", "tasks") + STAGE_FIELDS, 0.0)
    out["jobs"] = float(len(jobs))
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        if data.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += data.numCompleteTasks()
        for name in STAGE_FIELDS:
            out[name] += getattr(data, name)()
    out["executorRunTime"] /= 1e3
    out["executorCpuTime"] /= 1e9
    out["jvmGcTime"] /= 1e3
    for name in ("inputBytes", "shuffleWriteBytes", "diskBytesSpilled"):
        out[name] /= 2.0 ** 20
    return out
