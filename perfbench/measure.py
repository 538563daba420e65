"""Measurement helpers shared by the workloads: percentiles, answer
canonicalization, Spark REST stage aggregation, /proc CPU and RSS
attribution, and the host label (steal and the pinned CPU calibration).

Everything here reads the system from outside: the engine package is
never imported by this module.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
import urllib.request


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------


def percentile(samples: list[float], q: float) -> dict:
    """Nearest-rank percentile ``q`` (0 < q <= 100) of ``samples``.

    Returns ``{"value", "n", "beyond"}``: ``beyond`` is how many samples
    lie strictly above the reported rank, so a caller can tell whether a
    tail figure rests on enough samples (a p90 needs 100 samples to have
    ten beyond it). ``value`` is None for an empty sample."""
    n = len(samples)
    if n == 0:
        return {"value": None, "n": 0, "beyond": 0}
    rank = max(1, math.ceil(q / 100.0 * n))
    return {"value": sorted(samples)[rank - 1], "n": n, "beyond": n - rank}


def tail_percentile(samples: list[float], min_beyond: int = 10) -> dict | None:
    """The highest of p99, p95, p90, p75 that has at least ``min_beyond``
    samples above it, as ``percentile`` gives it plus ``"q"``; None when
    even p75 rests on fewer."""
    for q in (99, 95, 90, 75):
        p = percentile(samples, q)
        if p["beyond"] >= min_beyond:
            return {"q": q, **p}
    return None


def median(samples: list[float]) -> float:
    """The usual median (mean of the middle pair for even counts)."""
    s = sorted(samples)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


# ---------------------------------------------------------------------------
# answer canonicalization
# ---------------------------------------------------------------------------


def canonical(columns: list[str], rows) -> tuple[list[str], list[tuple[str, ...]]]:
    """Column-sorted, row-sorted, stringified form of a result.

    Two engines agree when their canonical forms are equal: the column
    order of either side does not matter, nor does row order, and values
    compare by ``str()`` (so 3 and 3.0 differ, as in the declared-query
    hash rule)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted(tuple(str(r[i]) for i in order) for r in rows)
    return cols, out


# ---------------------------------------------------------------------------
# Spark REST stages → exec.* metrics
# ---------------------------------------------------------------------------

EXEC_FIELDS = {
    # exec.* name → StageData field of /api/v1/applications/<id>/stages
    "exec.task_run_ms": "executorRunTime",
    "exec.jvm_cpu_ms": "executorCpuTime",  # nanoseconds in the payload
    "exec.gc_ms": "jvmGcTime",
    "exec.shuffle_read_bytes": "shuffleReadBytes",
    "exec.shuffle_write_bytes": "shuffleWriteBytes",
    "exec.spill_bytes": None,  # memory + disk spill, summed below
    "exec.input_bytes": "inputBytes",
}


def stages_of_jobs(jobs: list[dict], after_job: int) -> tuple[int, set[int]]:
    """``(number of jobs, their stage ids)`` for the jobs of the REST
    ``/jobs`` list whose id is above ``after_job``. Stage records carry no
    job ids, so a job's stages are found through its ``stageIds``."""
    new = [j for j in jobs if j["jobId"] > after_job]
    return len(new), {s for j in new for s in j.get("stageIds", ())}


def aggregate_stages(stages: list[dict], stage_ids: set[int] | None = None) -> dict:
    """Sum REST stage records into ``exec.*``.

    ``stages`` is the JSON list of ``/stages`` (every attempt of a stage is
    a record of its own, and each did work). SKIPPED stages reused an
    earlier shuffle and did no work; they are ignored. ``stage_ids`` limits
    the sum to those stages; None takes every stage. Returns counts of
    stages and tasks, times in milliseconds and sizes in bytes."""
    out = {k: 0.0 for k in EXEC_FIELDS}
    out["exec.stages"] = 0
    out["exec.tasks"] = 0
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        if stage_ids is not None and st.get("stageId") not in stage_ids:
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += int(st.get("numCompleteTasks", 0)) + int(
            st.get("numFailedTasks", 0)
        )
        for name, field in EXEC_FIELDS.items():
            if field is None:
                out[name] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            elif name == "exec.jvm_cpu_ms":
                out[name] += st.get(field, 0) / 1e6
            else:
                out[name] += st.get(field, 0)
    return out


class SparkRest:
    """Reads the local Spark UI REST API of one application."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.loads(resp.read())

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages")


# ---------------------------------------------------------------------------
# /proc: CPU time and RSS of a process tree
# ---------------------------------------------------------------------------


def clock_ticks() -> float | None:
    """Kernel clock ticks per second, or None when the value is unknown
    (sysconf returns -1 or raises on some platforms)."""
    try:
        hz = os.sysconf("SC_CLK_TCK")
    except (ValueError, OSError):
        return None
    return float(hz) if hz and hz > 0 else None


def parse_proc_stat(raw: str) -> dict:
    """``{"ppid", "comm", "cpu_ticks", "child_ticks"}`` from the text of
    ``/proc/<pid>/stat``. comm may contain spaces and parentheses, so the
    fields are split after its last closing parenthesis. ``cpu_ticks`` is
    utime + stime; ``child_ticks`` is cutime + cstime, the CPU of children
    the process has already reaped."""
    head, _, tail = raw.rpartition(")")
    f = tail.split()
    # f[0] is field 3 (state) of proc(5); utime..cstime are fields 14-17
    return {
        "ppid": int(f[1]),
        "comm": head.partition("(")[2],
        "cpu_ticks": int(f[11]) + int(f[12]),
        "child_ticks": int(f[13]) + int(f[14]),
    }


def read_proc_stat(pid: int) -> dict | None:
    """Parsed ``/proc/<pid>/stat``, or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return parse_proc_stat(fh.read())
    except (OSError, IndexError, ValueError):
        return None


def read_cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def read_hwm_kb(pid: int) -> int:
    """Peak resident set (VmHWM) of a process in KiB; 0 when it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def process_tree(root: int) -> dict[int, dict]:
    """Every live descendant of ``root`` (and root itself) → its stat."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_proc_stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(p for p, s in procs.items() if s["ppid"] == pid)
    return keep


def classify(pid: int, stat: dict, root: int, cmdline: str) -> str:
    """'driver' for the benchmark process, 'jvm' for a Java process,
    'python_worker' for a PySpark daemon or worker, else 'other'."""
    if pid == root:
        return "driver"
    if stat["comm"] == "java" or "/java" in cmdline.split(" ", 1)[0]:
        return "jvm"
    if "pyspark.daemon" in cmdline or "pyspark.worker" in cmdline:
        return "python_worker"
    return "other"


def cpu_by_role(root: int, procs: dict[int, dict] | None = None,
                cmdlines: dict[int, str] | None = None) -> dict[str, int]:
    """CPU ticks of the process tree under ``root`` summed per role.

    PySpark forks each Python worker from its daemon, and the daemon reaps
    the workers that exit, so a Python process counts its own ticks plus
    those of its reaped children. The JVM and the driver count only their
    own: their reaped children are daemons counted already, or not Spark's.
    Take readings before and after an operation and subtract."""
    procs = process_tree(root) if procs is None else procs
    out = {"driver": 0, "jvm": 0, "python_worker": 0, "other": 0}
    for pid, st in procs.items():
        cmd = cmdlines[pid] if cmdlines is not None else read_cmdline(pid)
        role = classify(pid, st, root, cmd)
        out[role] += st["cpu_ticks"]
        if role == "python_worker":
            out[role] += st["child_ticks"]
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident sets (VmHWM) of the live processes under
    ``root``: the driver, the JVM and the Python workers. The kernel keeps
    each peak, so the figure does not depend on when a sampler looks; a
    sampler also counted, now and then, a short-lived child that shares the
    JVM's address space while it starts a command, as a second JVM."""
    return sum(read_hwm_kb(pid) for pid in process_tree(root)) / 1024.0


def peak_rss_by_role(root: int) -> dict[str, float]:
    """``peak_rss_mb`` split by process role, as ``cpu_by_role`` names them."""
    out = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0, "other": 0.0}
    for pid, st in process_tree(root).items():
        out[classify(pid, st, root, read_cmdline(pid))] += read_hwm_kb(pid) / 1024.0
    return out


def reset_peak_rss(root: int) -> None:
    """Reset the VmHWM of every live process under ``root`` to its present
    resident set (``clear_refs`` 5), so later peaks cover only what runs
    after the call. Processes that are gone or refuse are skipped."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


# ---------------------------------------------------------------------------
# host label
# ---------------------------------------------------------------------------


def steal_jiffies(path: str = "/proc/stat") -> int | None:
    """Aggregate steal jiffies from /proc/stat, or None if unreadable."""
    try:
        with open(path) as fh:
            f = fh.readline().split()
    except OSError:
        return None
    if len(f) <= 8 or f[0] != "cpu" or not f[8].isdigit():
        return None
    return int(f[8])


def steal_pct(j0: int | None, t0: float, j1: int | None, t1: float) -> float | None:
    """Steal as a percentage of total host CPU over [t0, t1], or None when
    either reading failed or the tick rate is unknown."""
    hz = clock_ticks()
    if j0 is None or j1 is None or hz is None or t1 <= t0:
        return None
    return (j1 - j0) / ((t1 - t0) * hz * float(os.cpu_count() or 1)) * 100.0


def calib_cpu_sec() -> float:
    """Pinned pure-CPU calibration loop: sha256 over 128 MiB of fixed
    bytes, single-threaded (the same loop as the repo's bench.py, so the
    two label a host the same way)."""
    buf = b"\x5a" * 65536
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(2048):
        h.update(buf)
    h.hexdigest()
    return round(time.perf_counter() - t0, 4)
