"""Mechanized stale-green tracking (VERDICT r6 item 2).

DRIVER_STATE.json records, for every oracle-paired query, a content hash of
what its last GREEN driver row actually verified:

    hash = sha256( plan_sha  +  query function source  +  oracle SQL )

- ``plan_sha`` (from PLANS.json, written by plans_snapshot.py) is the
  normalized physical-plan hash — it catches edits INSIDE operators the
  query calls (the round-6 ranks.py interpolation rewrite changed consumer
  plans while their own source stayed identical);
- the function source catches query edits the plan can't see (collected
  literals, driver-side assembly);
- the oracle SQL catches oracle-only fixes.

The driver verifies the first WINDOW (50) queries that
``__spark_entry__.queries()`` returns, and ``window()`` picks them from this
file: stale or never-stamped queries first, then sweep-basis stamps (the
weaker basis), then driver stamps by ascending round, ties broken by name.
An edited query therefore queues itself for the next driver round; no list
is kept by hand.

Workflow:

    python driver_state.py --check
        print the derived window and its composition (stale, sweep-basis,
        driver by round); exit 1 listing the stale or never-stamped queries
        that do not fit in the window (more than WINDOW of them), i.e. the
        stale greens the next driver round would silently skip.
        tests/test_driver_state.py runs the same check.

    python driver_state.py --stamp N
        after CORRECTNESS_r0N.json lands: stamp every green row in it with
        the CURRENT hash (run it in the same tree the driver verified).

    python driver_state.py --stamp-sweep LABEL name...
        stamp names verified by a full fresh-process oracle sweep (the
        judge's or the builder's end-of-round sweep) — a weaker basis than
        a driver row, recorded as such.

Regenerate PLANS.json BEFORE stamping or checking when plans changed.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

STATE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "DRIVER_STATE.json")
PLANS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANS.json")
WINDOW = 50  # queries the driver verifies per round


def current_hashes() -> dict[str, str]:
    from profitscout_engine_spark.queries import load_registry

    plans = json.load(open(PLANS_PATH))["flags"]
    out = {}
    for name, spec in load_registry().items():
        try:
            src = inspect.getsource(spec.fn)
        except (OSError, TypeError):
            src = repr(spec.fn)
        plan_sha = plans.get(name, {}).get("plan_sha", "")
        oracle = getattr(spec, "oracle", None) or ""
        out[name] = hashlib.sha256(
            (plan_sha + "\n===\n" + src + "\n===\n" + str(oracle)).encode()
        ).hexdigest()
    return out


def load_state() -> dict:
    if os.path.exists(STATE_PATH):
        return json.load(open(STATE_PATH))
    return {}


def save_state(state: dict) -> None:
    json.dump(state, open(STATE_PATH, "w"), indent=1, sort_keys=True)


def _is_stale(name: str, hashes: dict[str, str], state: dict) -> bool:
    rec = state.get(name)
    return rec is None or rec["hash"] != hashes[name]


def window(hashes: dict[str, str], state: dict, n: int = WINDOW) -> list[str]:
    """The first ``n`` of ``hashes``' names in driver-verification order:
    stale or unstamped, then sweep-basis, then driver stamps by ascending
    round; ties broken by name."""

    def key(name: str) -> tuple:
        if _is_stale(name, hashes, state):
            return (0, 0, name)
        rec = state[name]
        if rec["basis"] == "sweep":
            return (1, 0, name)
        return (2, rec["round"], name)

    return sorted(hashes, key=key)[:n]


def check(hashes: dict[str, str] | None = None, state: dict | None = None) -> list[str]:
    """Return human-readable problems: the stale or unstamped queries that do
    not fit in the driver window. Defaults to the current tree's files."""
    hashes = current_hashes() if hashes is None else hashes
    state = load_state() if state is None else state
    stale = sorted(n for n in hashes if _is_stale(n, hashes, state))
    problems = []
    for name in stale[WINDOW:]:
        rec = state.get(name)
        if rec is None:
            problems.append(f"{name}: never driver/sweep-verified and outside the window")
        else:
            problems.append(
                f"{name}: edited since its last green ({rec['basis']} "
                f"{rec['round']}) and outside the window — stale green"
            )
    return problems


def stamp_driver(round_no: int) -> None:
    cur = current_hashes()
    path = os.path.join(
        os.path.dirname(STATE_PATH), f"CORRECTNESS_r{round_no:02d}.json"
    )
    rows = json.load(open(path))
    state = load_state()
    n = 0
    for name, row in rows.items():
        # hash_match False = red row. Oracle-less queries record
        # err='no_oracle' with rows_match=None — the driver's declared
        # weaker rows-only check; a completed run (spark_rows set) counts.
        if row.get("err") == "no_oracle":
            if row.get("spark_rows") is None:
                continue
        elif (
            row.get("hash_match") is False
            or row.get("err")
            or not row.get("rows_match")
        ):
            continue
        if name in cur:
            state[name] = {
                "basis": "driver",
                "round": round_no,
                "hash": cur[name],
            }
            n += 1
    save_state(state)
    print(f"stamped {n} driver-green rows from round {round_no}")


def stamp_sweep(label: str, names: list[str]) -> None:
    cur = current_hashes()
    state = load_state()
    for name in names:
        if name not in cur:
            raise SystemExit(f"unknown query: {name}")
        state[name] = {"basis": "sweep", "round": label, "hash": cur[name]}
    save_state(state)
    print(f"stamped {len(names)} sweep-verified rows ({label})")


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--check"]:
        hashes, state = current_hashes(), load_state()
        win = window(hashes, state)
        print("\n".join(win))
        stale = [n for n in win if _is_stale(n, hashes, state)]
        rounds = Counter(state[n]["round"] for n in win if n not in stale
                         and state[n]["basis"] == "driver")
        by_round = ", ".join(f"r{r}: {c}" for r, c in sorted(rounds.items()))
        print(f"window: {len(stale)} stale, "
              f"{len(win) - len(stale) - rounds.total()} sweep-basis, "
              f"{rounds.total()} driver ({by_round or 'none'})")
        probs = check(hashes, state)
        for p in probs:
            print(p)
        print(f"{len(probs)} problems")
        sys.exit(1 if probs else 0)
    elif args[:1] == ["--stamp"]:
        stamp_driver(int(args[1]))
    elif args[:1] == ["--stamp-sweep"]:
        stamp_sweep(args[1], args[2:])
    else:
        raise SystemExit(__doc__)
