"""suites._run_members: the one fan-out for suite members. Plain Python
thunks — the helper's contract is independent of Spark."""

from __future__ import annotations

import threading
import time

import pytest

from uw_hadoop_aglorithms_spark.operators.suites import _run_members


def test_results_keyed_and_ordered_as_given():
    # later members finish first: order must follow the dict, not completion
    members = {
        name: (lambda d=delay, n=name: time.sleep(d) or n.upper())
        for name, delay in (("a", 0.15), ("b", 0.05), ("c", 0.0))
    }
    got = _run_members(members)
    assert list(got) == ["a", "b", "c"]
    assert got == {"a": "A", "b": "B", "c": "C"}


def test_one_thread_per_member():
    # every member blocks until all have started: fewer threads than
    # members would break the barrier instead of returning
    n = 6
    barrier = threading.Barrier(n, timeout=10)
    got = _run_members({i: barrier.wait for i in range(n)})
    assert sorted(got.values()) == list(range(n))


def test_failure_reraised_after_siblings_finish():
    finished = threading.Event()

    def slow():
        time.sleep(0.2)
        finished.set()
        return "slow"

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        _run_members({"boom": boom, "slow": slow})
    assert finished.is_set()


def test_first_failure_in_member_order_wins():
    def fail(msg, delay):
        def run():
            time.sleep(delay)
            raise ValueError(msg)
        return run

    # "second" raises first in time; "first" is first in member order
    with pytest.raises(ValueError, match="^first$"):
        _run_members({"first": fail("first", 0.15), "second": fail("second", 0.0)})


def test_empty_members():
    assert _run_members({}) == {}
