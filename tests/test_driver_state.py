"""Mechanized stale-green gate (VERDICT r6 item 2).

DRIVER_STATE.json stamps each query's last GREEN driver/sweep verification
with a content hash of (normalized plan + function source + oracle SQL).
The driver verifies the first 50 queries of ``__spark_entry__.queries()``,
which ``driver_state.window`` derives from that file: stale or unstamped
queries first, then sweep-basis stamps, then driver stamps by ascending
round. An edited query queues itself; the gate fails only when more stale
or unstamped queries exist than one driver round verifies, because the
overflow would go unverified by the next round.

On failure: sweep and stamp some of the named queries
(``python driver_state.py --stamp-sweep LABEL name...``) or revert the
unintended edits. After a new CORRECTNESS_r{N}.json lands, re-stamp:
``python driver_state.py --stamp N`` (and ``python plans_snapshot.py`` first
if plans changed). ``python driver_state.py --check`` prints the window.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import driver_state  # noqa: E402


def _stamp(basis, round_, h="h"):
    return {"basis": basis, "round": round_, "hash": h}


def test_window_orders_stale_then_sweep_then_driver_rounds():
    hashes = {n: "h" for n in ("a", "b", "c", "d", "e", "f", "g", "h", "i")}
    hashes["e"] = "edited"
    state = {
        "a": _stamp("driver", 9),
        "b": _stamp("driver", 4),
        "c": _stamp("sweep", "label-2"),
        "d": _stamp("driver", 4),
        "e": _stamp("driver", 4),  # hash mismatch: stale
        "f": _stamp("sweep", "label-1"),
        "h": _stamp("driver", 10),
        "i": _stamp("driver", 5),
        "retired": _stamp("driver", 1),  # no longer registered
    }
    # g is unstamped; stale names tie-break by name, sweep labels don't order
    assert driver_state.window(hashes, state, len(hashes)) == [
        "e", "g", "c", "f", "b", "d", "i", "a", "h",
    ]
    assert driver_state.window(hashes, state, 3) == ["e", "g", "c"]
    assert len(driver_state.window(hashes, state)) == len(hashes)


def test_check_reports_only_the_overflow():
    n = driver_state.WINDOW
    hashes = {f"q{i:03d}": "new" for i in range(n + 1)}
    hashes["fresh"] = "h"
    state = {f"q{i:03d}": _stamp("driver", 3, "old") for i in range(n)}
    state["fresh"] = _stamp("driver", 3)
    problems = driver_state.check(hashes, state)
    assert len(problems) == 1
    assert problems[0].startswith(f"q{n:03d}: never driver/sweep-verified")
    del hashes[f"q{n:03d}"]
    assert driver_state.check(hashes, state) == []
    state["q000"]["hash"] = "new"
    hashes.update({"x": "new", "y": "new"})
    problems = driver_state.check(hashes, state)
    assert [p.split(":")[0] for p in problems] == ["y"]


def test_no_silent_stale_greens():
    """Every registered query is stamped or queued in the derived window:
    at most one driver round's worth of stale or unstamped queries."""
    problems = driver_state.check()
    assert not problems, "\n".join(problems)


def test_state_covers_every_query():
    """Every registered query is either stamped or queued in the derived
    window — a new query must enter the window (or be swept and stamped)
    before it can leave the gate's sight."""
    from profitscout_engine_spark.queries import load_registry

    hashes, state = driver_state.current_hashes(), driver_state.load_state()
    queued = set(driver_state.window(hashes, state))
    uncovered = sorted(set(load_registry()) - set(state) - queued)
    assert not uncovered, f"queries neither stamped nor windowed: {uncovered}"


def test_entry_order_is_the_derived_window():
    """The driver verifies the first 50 of ``queries()``: they are the derived
    window, and ``oracle_sql()`` keeps the same order."""
    import __spark_entry__ as e

    hashes, state = driver_state.current_hashes(), driver_state.load_state()
    names = list(e.queries())
    assert names[: driver_state.WINDOW] == driver_state.window(hashes, state)
    assert names == driver_state.window(hashes, state, len(hashes))
    paired = set(e.oracle_sql())
    assert list(e.oracle_sql()) == [n for n in names if n in paired]
