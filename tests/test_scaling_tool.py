"""``tools/scaling.py`` without Spark: the CPUs each leg is pinned to, the
refusal below 4 CPUs and the efficiency arithmetic."""

import importlib.util
import pathlib

import pytest

_TOOL = pathlib.Path(__file__).resolve().parent.parent / "tools" / "scaling.py"
_spec = importlib.util.spec_from_file_location("scaling_tool", _TOOL)
scaling = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scaling)


def test_legs_take_the_first_cpus_of_the_mask():
    assert scaling.leg_cpus({3, 1, 0, 2}) == ([0], [0, 1, 2, 3])
    # non-contiguous: the first CPUs the mask holds, not 0..k-1
    assert scaling.leg_cpus({2, 3, 5, 7, 8, 9, 10, 11}) == (
        [2, 3], [2, 3, 5, 7, 8, 9, 10, 11])
    # 4N <= the mask: the CPUs past 4N stay unused
    assert scaling.leg_cpus(set(range(4, 15))) == (
        [4, 5], [4, 5, 6, 7, 8, 9, 10, 11])


def test_refuses_below_four_cpus(monkeypatch):
    def no_process(*args, **kwargs):
        raise AssertionError("started a process")

    monkeypatch.setattr(scaling.os, "sched_getaffinity", lambda pid: {0, 1, 5})
    monkeypatch.setattr(scaling.subprocess, "run", no_process)
    with pytest.raises(SystemExit) as exc:
        scaling.main()
    assert "at least 4 CPUs" in str(exc.value.code)    # exit status 1


def test_efficiency_from_leg_records():
    legs = [("pagerank", 1, 40.0), ("pagerank", 4, 12.5),
            ("pagerank", 1, 44.0), ("pagerank", 4, 11.0),
            ("hash", 4, 2.0), ("hash", 1, 8.0),
            ("sketch", 1, 30.0), ("sketch", 4, 15.0)]
    records = [{"family": f, "cpus": c, "sec": s} for f, c, s in legs]
    assert scaling.efficiency(records) == {
        "pagerank": round(40.0 / 11.0 / 4, 3), "hash": 1.0, "sketch": 0.5}
