"""``tools/scaling.py`` without Spark: the CPUs each leg is pinned to, the
refusal below 4 CPUs and the efficiency and spread arithmetic."""

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
    legs = [("pagerank", 0, 1, 40.0), ("pagerank", 0, 4, 12.5),
            ("pagerank", 1, 1, 44.0), ("pagerank", 1, 4, 11.0),
            ("hash", 0, 4, 2.0), ("hash", 0, 1, 8.0),
            ("sketch", 0, 1, 30.0), ("sketch", 0, 4, 15.0)]
    records = [{"family": f, "round": r, "cpus": c, "sec": s}
               for f, r, c, s in legs]
    assert scaling.efficiency(records) == {
        "pagerank": round(40.0 / 11.0 / 4, 3), "hash": 1.0, "sketch": 0.5}
    # per round: 40 / 12.5 / 4 = 0.8 and 44 / 11 / 4 = 1.0, while the
    # min-based figure pairs round 0's T_N with round 1's T_4N
    assert scaling.spread(records) == {
        "pagerank": {"rounds": [[40.0, 12.5], [44.0, 11.0]],
                     "range": [0.8, 1.0]},
        "hash": {"rounds": [[8.0, 2.0]], "range": [1.0, 1.0]},
        "sketch": {"rounds": [[30.0, 15.0]], "range": [0.5, 0.5]}}
