"""Shared pieces of the benchmark: session lifecycle, op statistics, memory,
the fresh-plan stage count and the code-keyed cache directory."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Ops:
    """Latencies of the timed ops of one run, and their failures."""

    latencies: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    items: int = 0
    cpu_s: float = 0.0  # process-tree CPU time spent in the timed ops

    @property
    def attempted(self) -> int:
        return len(self.latencies)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples above it, or the maximum when there are fewer than 11."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    k = n - 11  # xs[k] has exactly ten samples above it
    return round(100.0 * (k + 1) / n, 1), xs[k]


def end_to_end(setup_s: float, ops: Ops, peak_rss_mb: float) -> dict:
    """``setup_s`` is the set-up's process-tree CPU seconds."""
    busy = sum(ops.latencies)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops.attempted / busy, "1/s"),
        "items_per_s": (ops.items / busy, "1/s"),
        "op_p50_s": (statistics.median(ops.latencies), "s"),
        "cpu_s_per_op": (ops.cpu_s / ops.attempted, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def start_session(conf: dict[str, str] | None = None):
    from receiptanalyzerpipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false", **(conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(warm_up) -> tuple[object, float, float]:
    """What a CLI invocation pays before its first op: the JVM and session
    start, then ``warm_up(spark)``. Returns the session, the process-tree
    CPU seconds and the wall seconds of the set-up."""
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    spark = start_session()
    warm_up(spark)
    return spark, tree_cpu_s() - cpu0, time.perf_counter() - t0


def code_key(roots: list[str], extra: str = "") -> str:
    """Digest of every source file under ``roots`` (paths and contents),
    and of ``extra``: a cache made from that code is valid only under it."""
    h = hashlib.sha256(extra.encode())
    for root in roots:
        for d, dirs, files in sorted(os.walk(root)):
            dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__pycache__")))
            for name in sorted(files):
                if name.endswith(".pyc"):
                    continue
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def cache_dir(parent: str, key: str) -> str:
    """``parent/key``, created; the directories of every other key under
    ``parent`` are removed, since they describe other code."""
    os.makedirs(parent, exist_ok=True)
    for name in os.listdir(parent):
        if name != key:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    path = os.path.join(parent, key)
    os.makedirs(path, exist_ok=True)
    return path


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _status(pid: int) -> dict[str, str]:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            ppid = _status(int(d)).get("PPid")
            if ppid:
                children.setdefault(int(ppid), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user and system) used so far by this process and the
    processes it started, counting exited children they have reaped. Time
    a virtual machine's host steals is not in it, unlike wall time."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and everything it started (the
    driver JVM, the PySpark daemon and its Python workers)."""
    kb = 0
    for pid in _descendants(os.getpid()):
        v = _status(pid).get("VmHWM", "0 kB").split()[0]
        kb += int(v)
    return kb / 1024.0


def _succeeded(tracker, group: str) -> bool:
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    return bool(jobs) and all(j is not None and j.status == "SUCCEEDED" for j in jobs)


def executed_stages(spark, group: str) -> int:
    """Stages that ran tasks for the jobs of job group ``group``.

    Counting stages with completed tasks, not a job's stage list, keeps
    skipped stages (shuffle output reused from an earlier execution) out
    of the count. The status tracker is filled by a listener that runs
    behind the scheduler, so a marker job is run first and awaited: once
    the tracker has seen it finish, it has seen every earlier event."""
    tracker = spark.sparkContext.statusTracker()
    marker = f"{group}/marker"
    job_group(spark, marker)
    spark.range(1).count()
    deadline = time.monotonic() + 60
    while not _succeeded(tracker, marker):
        if time.monotonic() > deadline:
            raise TimeoutError(f"the status tracker never saw job group {marker} finish")
        time.sleep(0.01)
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                seen.add(sid)
    return len(seen)


def job_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)
