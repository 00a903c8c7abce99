"""Measurement helpers: the process tree from /proc, Spark's status
store per job group, and in-memory spans.

Everything here observes the engine from outside: it reads /proc and
Spark's own status stores, and it adds nothing to the engine's plans.
The whole-tree CPU, steal and capacity-probe helpers are ``bench.py``'s.
"""

from __future__ import annotations

import os
import signal
import time
from contextlib import contextmanager

from bench import (  # noqa: F401  (re-exported)
    _capacity_probe as capacity_probe,
    _steal_seconds as steal_seconds,
    _tree_cpu_seconds as tree_cpu_seconds,
)

_TICK = os.sysconf("SC_CLK_TCK")
_PY_WORKER_MARKERS = (b"pyspark.daemon", b"pyspark.worker")


def nproc() -> int:
    """Cores this process may run on (affinity-aware, unlike cpu_count)."""
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _proc_table() -> dict[int, tuple[int, float, float]]:
    """pid -> (ppid, own cpu s, cpu s of reaped children)."""
    table = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # comm may hold spaces or parens: split after the last ')'
        rest = st.rsplit(")", 1)[1].split()
        own = (int(rest[11]) + int(rest[12])) / _TICK
        reaped = (int(rest[13]) + int(rest[14])) / _TICK
        table[int(pid_s)] = (int(rest[1]), own, reaped)
    return table


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def py_worker_cpu_seconds() -> float:
    """CPU seconds of the PySpark daemon and its forked workers (the
    daemon reaps its workers, so exited workers count through it)."""
    table = _proc_table()
    total = 0.0
    for pid in _descendants(table, os.getpid()):
        cmd = _cmdline(pid)
        if any(m in cmd for m in _PY_WORKER_MARKERS):
            total += table[pid][1] + table[pid][2]
    return total


def reset_peak_rss() -> None:
    """Reset VmHWM of every process in the tree to its current RSS
    (``clear_refs`` value 5), so the next read covers one job only."""
    table = _proc_table()
    for pid in _descendants(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree, in MiB."""
    table = _proc_table()
    total_kb = 0
    for pid in _descendants(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


# --- process lifetime ------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of its tree: a descendant
    whose parent exits (the PySpark daemon and its workers outlive the
    JVM that forked them) is re-parented here rather than to init, so
    ``end_descendants`` still finds it and can reap it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 10.0) -> None:
    """Stop every process below this one and wait until each has ended:
    SIGTERM, then SIGKILL to whatever is left after ``grace_s``. Orphans
    come back here (``adopt_orphans``) and are reaped."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    signalled: set[tuple[int, int]] = set()
    while True:
        _reap_children()
        pids = [p for p in _descendants(_proc_table(), me) if p != me]
        if not pids:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for pid in pids:
            if (pid, sig) not in signalled:
                signalled.add((pid, sig))
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# --- Spark status store ---------------------------------------------------------

AUX_GROUP = "perfbench-aux"


def set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def group_metrics(spark, group: str) -> dict:
    """Stage metrics of every job run under ``group``, read from the
    status store (statusTracker job ids -> lastStageAttempt)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    cpu_ns = shuffle_w = input_b = tasks = 0
    peak = 0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j: stage never submitted (skipped)
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        cpu_ns += sd.executorCpuTime()
        shuffle_w += sd.shuffleWriteBytes()
        input_b += sd.inputBytes()
        tasks += sd.numCompleteTasks()
        peak = max(peak, sd.peakExecutionMemory())
    return {
        "exec_cpu_s": cpu_ns / 1e9,
        "shuffle_write_mb": shuffle_w / 2**20,
        "input_mb": input_b / 2**20,
        "peak_exec_mem_mb": peak / 2**20,
        "jobs": len(job_ids),
        "tasks": tasks,
    }


def join_output_rows(spark, group: str) -> int:
    """Rows that the join operators of ``group``'s SQL executions emitted
    ("number of output rows" of every plan node named ``*Join``), read
    from the SQL status store. For a spatial join this is its candidate
    pairs, before the exact refine."""
    sc = spark.sparkContext
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    total = 0
    for i in range(executions.size()):
        ex = executions.apply(i)
        if not any(ex.jobs().contains(j) for j in job_ids):
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not node.name().endswith("Join"):
                continue
            metrics = node.metrics()
            for q in range(metrics.size()):
                m = metrics.apply(q)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(v.get().replace(",", ""))
    return total


def job_names(spark, group: str) -> list[str]:
    """Call-site names of the group's jobs (e.g. 'localCheckpoint at ...')."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    names = []
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        try:
            names.append(store.job(j).name())
        except Exception:  # py4j: job evicted from the store
            names.append("")
    return names


# --- spans -----------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written once, when the run ends.

    A span is (id, name, parent, start, end, workload, seed) plus the
    metrics measured while it was open."""

    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "seed": self.seed,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        out = {}
        for s in self.spans:
            kids = sorted(
                (c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]
            )
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in kids:
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out
