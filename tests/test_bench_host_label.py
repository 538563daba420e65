"""bench.py host label: the clock-tick and steal guards (shared with
perfbench through perfbench/measure.py)."""

from __future__ import annotations

import pytest

import bench


@pytest.fixture
def four_cpus(monkeypatch):
    monkeypatch.setattr(bench.os, "cpu_count", lambda: 4)


@pytest.mark.parametrize("reported", [-1, 0])
def test_non_positive_tick_rate_gives_null_steal(monkeypatch, reported):
    # an unknown tick rate is not an assumed 100 Hz
    monkeypatch.setattr(bench.os, "sysconf", lambda name: reported)
    assert bench.steal_pct(0, 0.0, 40, 1.0) is None


def test_sysconf_error_gives_null_steal(monkeypatch):
    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(bench.os, "sysconf", unknown)
    assert bench.steal_pct(0, 0.0, 40, 1.0) is None


def test_clock_ticks_reported_value_is_kept(monkeypatch, four_cpus):
    monkeypatch.setattr(bench.os, "sysconf", lambda name: 250)
    # 40 jiffies over 1 s on 4 cores at 250 Hz = 4% of capacity
    assert bench.steal_pct(0, 0.0, 40, 1.0) == pytest.approx(4.0)


def test_steal_jiffies_reads_field_nine(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  10 0 20 300 4 0 1 77 0 0\ncpu0 1 2 3\n")
    assert bench.steal_jiffies(str(stat)) == 77


def test_failed_stat_read_gives_null_steal(tmp_path):
    short = tmp_path / "short"
    short.write_text("cpu  10 0 20 300\n")
    for path in (str(tmp_path / "missing"), str(short)):
        j = bench.steal_jiffies(path)
        assert j is None
        assert bench.steal_pct(j, 0.0, 40, 1.0) is None
        assert bench.steal_pct(40, 0.0, j, 1.0) is None


def test_steal_pct_is_share_of_host_capacity(monkeypatch, four_cpus):
    monkeypatch.setattr(bench.os, "sysconf", lambda name: 100)
    # 40 jiffies over 1 s on 4 cores at 100 Hz = 10% of capacity
    assert bench.steal_pct(0, 0.0, 40, 1.0) == pytest.approx(10.0)
