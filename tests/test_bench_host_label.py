"""bench.py host label: the clock-tick and steal guards."""

from __future__ import annotations

import pytest

import bench


@pytest.mark.parametrize("reported", [-1, 0])
def test_clock_ticks_non_positive_falls_back_to_100(monkeypatch, reported):
    monkeypatch.setattr(bench.os, "sysconf", lambda name: reported)
    assert bench._clock_ticks() == 100.0


def test_clock_ticks_sysconf_error_falls_back_to_100(monkeypatch):
    def unknown(name):
        raise ValueError(name)

    monkeypatch.setattr(bench.os, "sysconf", unknown)
    assert bench._clock_ticks() == 100.0


def test_clock_ticks_reported_value_is_kept(monkeypatch):
    monkeypatch.setattr(bench.os, "sysconf", lambda name: 250)
    assert bench._clock_ticks() == 250.0


def test_steal_jiffies_reads_field_nine(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  10 0 20 300 4 0 1 77 0 0\ncpu0 1 2 3\n")
    assert bench._steal_jiffies(str(stat)) == 77


def test_failed_stat_read_gives_null_steal(tmp_path):
    short = tmp_path / "short"
    short.write_text("cpu  10 0 20 300\n")
    for path in (str(tmp_path / "missing"), str(short)):
        j = bench._steal_jiffies(path)
        assert j is None
        assert bench._steal_pct(j, 0.0, 40, 1.0, 100.0, 4.0) is None
        assert bench._steal_pct(40, 0.0, j, 1.0, 100.0, 4.0) is None


def test_steal_pct_is_share_of_host_capacity():
    # 40 jiffies over 1 s on 4 cores at 100 Hz = 10% of capacity
    assert bench._steal_pct(0, 0.0, 40, 1.0, 100.0, 4.0) == 10.0
