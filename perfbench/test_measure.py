"""Unit tests of the benchmark's own helpers (no Spark needed)::

    python3 -m pytest perfbench/test_measure.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import measure  # noqa: E402
import pytest  # noqa: E402


# -- percentile rule ---------------------------------------------------------


def test_percentile_is_nearest_rank_with_sample_count():
    s = [float(i) for i in range(100, 0, -1)]
    assert measure.percentile(s, 90) == {"value": 90.0, "n": 100, "beyond": 10}
    assert measure.percentile(s, 50) == {"value": 50.0, "n": 100, "beyond": 50}
    assert measure.percentile(s, 100) == {"value": 100.0, "n": 100, "beyond": 0}


def test_percentile_of_few_samples_says_how_many_lie_beyond():
    # 9 samples: the p90 rank is the largest, so nothing lies beyond it
    assert measure.percentile([float(i) for i in range(9)], 90) == {
        "value": 8.0, "n": 9, "beyond": 0}
    assert measure.percentile([7.0], 90) == {"value": 7.0, "n": 1, "beyond": 0}
    assert measure.percentile([], 90) == {"value": None, "n": 0, "beyond": 0}


def test_tail_percentile_needs_ten_samples_beyond():
    s = [float(i) for i in range(1, 101)]
    assert measure.tail_percentile(s) == {"q": 90, "value": 90.0, "n": 100, "beyond": 10}
    assert measure.tail_percentile(s * 10)["q"] == 99
    assert measure.tail_percentile(s[:40]) == {"q": 75, "value": 30.0, "n": 40, "beyond": 10}
    assert measure.tail_percentile(s[:39]) is None


def test_median_of_odd_and_even_counts():
    assert measure.median([3.0, 1.0, 2.0]) == 2.0
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- answer canonicalization ---------------------------------------------------


def test_canonical_ignores_column_and_row_order():
    a = measure.canonical(["b", "a"], [(2, "x"), (1, "y")])
    b = measure.canonical(["a", "b"], [("y", 1), ("x", 2)])
    assert a == b == (["a", "b"], [("x", "2"), ("y", "1")])


def test_canonical_compares_values_as_strings():
    assert measure.canonical(["n"], [(3,)]) != measure.canonical(["n"], [(3.0,)])
    assert measure.canonical(["n"], [(None,)]) == (["n"], [("None",)])
    # a missing row or a different column name is a different answer
    assert measure.canonical(["n"], [(1,), (2,)]) != measure.canonical(["n"], [(1,)])
    assert measure.canonical(["n"], [(1,)]) != measure.canonical(["m"], [(1,)])


# -- REST stage payload → exec.* ---------------------------------------------


def load_rest_payload():
    with open(os.path.join(HERE, "testdata", "rest_payload.json")) as fh:
        return json.load(fh)


def test_stages_of_jobs_follows_job_stage_ids():
    rec = load_rest_payload()
    n_all, all_ids = measure.stages_of_jobs(rec["jobs"], -1)
    assert n_all == len(rec["jobs"])
    assert all_ids == {s for j in rec["jobs"] for s in j["stageIds"]}
    n, ids = measure.stages_of_jobs(rec["jobs"], rec["after_job"])
    assert n == rec["expect"]["exec.jobs"]
    assert ids == set(rec["expect"]["stage_ids"])


def test_aggregate_recorded_stages():
    rec = load_rest_payload()
    _, ids = measure.stages_of_jobs(rec["jobs"], rec["after_job"])
    got = measure.aggregate_stages(rec["stages"], ids)
    for name, value in rec["expect"].items():
        if name.startswith("exec.") and name != "exec.jobs":
            assert got[name] == pytest.approx(value), name


def test_aggregate_skips_skipped_stages_and_sums_attempts():
    base = {"numCompleteTasks": 4, "numFailedTasks": 0, "executorRunTime": 100,
            "executorCpuTime": 50_000_000, "jvmGcTime": 5, "inputBytes": 10,
            "shuffleReadBytes": 0, "shuffleWriteBytes": 7,
            "memoryBytesSpilled": 1, "diskBytesSpilled": 2}
    stages = [
        dict(base, stageId=1, attemptId=0, status="COMPLETE"),
        dict(base, stageId=1, attemptId=1, status="COMPLETE", numFailedTasks=1),
        dict(base, stageId=2, attemptId=0, status="SKIPPED"),
        dict(base, stageId=3, attemptId=0, status="COMPLETE"),
    ]
    got = measure.aggregate_stages(stages, {1, 2})
    assert got["exec.stages"] == 2
    assert got["exec.tasks"] == 9
    assert got["exec.task_run_ms"] == 200
    assert got["exec.jvm_cpu_ms"] == 100.0  # nanoseconds in the payload
    assert got["exec.spill_bytes"] == 6
    assert measure.aggregate_stages(stages)["exec.stages"] == 3


# -- /proc CPU attribution ----------------------------------------------------


def stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields 3.. of proc(5): state ppid pgrp session tty tpgid flags minflt
    # cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0]
    return f"{pid} ({comm}) " + " ".join(map(str, rest))


def test_parse_proc_stat_survives_odd_command_names():
    st = measure.parse_proc_stat(stat_line(42, "a (b) c", 7, 11, 5, 3, 2))
    assert st == {"ppid": 7, "comm": "a (b) c", "cpu_ticks": 16, "child_ticks": 5}


def test_cpu_by_role_splits_jvm_and_python_workers():
    root = 100
    lines = {
        100: (stat_line(100, "python3", 1, 40, 10, 999, 0), "python3 perfbench/run.py"),
        101: (stat_line(101, "java", 100, 300, 100, 7, 0), "/usr/lib/jvm/bin/java -cp x"),
        # the daemon has reaped finished workers: their CPU is its cutime
        102: (stat_line(102, "python3", 101, 6, 4, 60, 30), "python3 -m pyspark.daemon"),
        # a live worker is a fork of the daemon and shares its command line
        103: (stat_line(103, "python3", 102, 20, 10), "python3 -m pyspark.daemon"),
        104: (stat_line(104, "bash", 100, 1, 1), "bash -c true"),
    }
    procs = {pid: measure.parse_proc_stat(line) for pid, (line, _) in lines.items()}
    cmds = {pid: cmd for pid, (_, cmd) in lines.items()}
    got = measure.cpu_by_role(root, procs, cmds)
    assert got == {"driver": 50, "jvm": 400, "python_worker": 130, "other": 2}


def test_process_tree_and_peak_rss_of_this_process():
    assert os.getpid() in measure.process_tree(os.getpid())
    assert measure.read_hwm_kb(os.getpid()) > 0
    assert measure.peak_rss_mb(os.getpid()) >= measure.read_hwm_kb(os.getpid()) / 1024.0
    assert measure.read_hwm_kb(-1) == 0


def test_reset_peak_rss_drops_an_earlier_peak():
    big = bytearray(256 * 1024 * 1024)  # touched pages: a peak of +256 MiB
    del big
    before = measure.read_hwm_kb(os.getpid())
    measure.reset_peak_rss(os.getpid())
    assert measure.read_hwm_kb(os.getpid()) < before - 128 * 1024
    roles = measure.peak_rss_by_role(os.getpid())
    assert roles["driver"] > 0 and roles["jvm"] == 0


# -- host label -----------------------------------------------------------------


def test_clock_ticks_guards_unknown_values(monkeypatch):
    monkeypatch.setattr(os, "sysconf", lambda name: -1)
    assert measure.clock_ticks() is None
    monkeypatch.setattr(os, "sysconf", lambda name: 0)
    assert measure.clock_ticks() is None

    def raise_(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", raise_)
    assert measure.clock_ticks() is None
    monkeypatch.setattr(os, "sysconf", lambda name: 100)
    assert measure.clock_ticks() == 100.0


def test_steal_is_null_when_a_read_fails(tmp_path, monkeypatch):
    assert measure.steal_jiffies(str(tmp_path / "missing")) is None
    bad = tmp_path / "stat"
    bad.write_text("intr 1 2 3\n")
    assert measure.steal_jiffies(str(bad)) is None
    good = tmp_path / "stat2"
    good.write_text("cpu  10 0 10 100 0 0 0 25 0 0\n")
    assert measure.steal_jiffies(str(good)) == 25
    monkeypatch.setattr(measure, "clock_ticks", lambda: 100.0)
    assert measure.steal_pct(None, 0.0, 25, 1.0) is None
    assert measure.steal_pct(0, 0.0, 25, 0.0) is None
    pct = measure.steal_pct(0, 0.0, 100, 1.0)
    assert pct == 100.0 / (100.0 * float(os.cpu_count() or 1)) * 100.0
    monkeypatch.setattr(measure, "clock_ticks", lambda: None)
    assert measure.steal_pct(0, 0.0, 100, 1.0) is None


def test_calib_cpu_sec_is_a_positive_time():
    assert measure.calib_cpu_sec() > 0
