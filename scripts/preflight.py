#!/usr/bin/env python
"""Driver-artifact preflight: assert the __spark_entry__ contract invariants
that, when broken, silently zero the driver's recorded artifacts (round 3:
one oracle-less queries() entry wiped CORRECTNESS_r03.json).

Checks (fast, no Spark unless --gate):
  1. entry / queries / oracle_sql exist and enumerate without error
  2. EVERY queries() name has an oracle_sql() entry (fail-closed — no
     "rows-only" rows; the driver contract in evidence records rows+schema+
     hash per query and nothing weaker)
  3. no orphan oracles (oracle_sql() names absent from queries())
  4. _RECORD_FIRST names all resolve to live registrations, no duplicates,
     and every registration has a driver verdict at least once (a past
     CORRECTNESS_r*.json or the current first-RECORD_WINDOW slots)
  5. with --gate [sf_dir] [budget_sec]: run the full check_oracle gate and
     fail if it exceeds the wall-time budget (default 600 s — headroom under
     host steal for a driver-side budget)

The check logic lives in ``contract_errors`` / ``recorded_ever`` so
``tests/test_contract.py`` imports THIS module instead of duplicating the
invariants (single source of truth for the window size and artifact format).

Usage: python scripts/preflight.py [--gate [sf_dir] [budget_sec]]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RECORD_WINDOW = 50  # the driver records the first 50 registrations
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_record(path: str):
    """Parse one CORRECTNESS_r*.json; a corrupt record raises, naming its file."""
    try:
        with open(path) as f:
            return json.load(f)
    except ValueError as e:
        raise ValueError(f"unreadable driver record {path}: {e}") from e


def recorded_ever(root: str = _ROOT) -> set:
    """Union of query names the driver has ever recorded (CORRECTNESS_r*.json)."""
    names: set = set()
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        names |= set(_load_record(p))
    return names


def latest_recorded_round(root: str = _ROOT) -> dict:
    """name -> newest round number whose CORRECTNESS_r*.json contains it."""
    latest: dict = {}
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(p).split("_r")[1].split(".")[0])
        for n in _load_record(p):
            latest[n] = max(latest.get(n, 0), rnd)
    return latest


def contract_errors(entrymod) -> list:
    """All contract violations for the given entry module (empty = clean)."""
    errors: list = []

    for fn in ("entry", "queries", "oracle_sql"):
        if not callable(getattr(entrymod, fn, None)):
            errors.append(f"missing driver hook: {fn}()")
    if errors:
        return errors

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if not queries:
        errors.append("queries() is empty")

    missing = sorted(set(queries) - set(oracles))
    if missing:
        errors.append(f"{len(missing)} queries() entries with NO oracle_sql(): {missing}")
    orphans = sorted(set(oracles) - set(queries))
    if orphans:
        errors.append(f"{len(orphans)} orphan oracle_sql() entries: {orphans}")

    rf = entrymod._RECORD_FIRST
    stale = sorted(set(rf) - set(queries))
    if stale:
        errors.append(f"_RECORD_FIRST names not registered: {stale}")
    dupes = sorted({n for n in rf if rf.count(n) > 1})
    if dupes:
        errors.append(
            f"_RECORD_FIRST duplicates (they shrink the {RECORD_WINDOW}-slot window): {dupes}"
        )

    # every registration must have a driver verdict at least once: either in
    # a past CORRECTNESS_r*.json or inside the current recorded window
    window = set(list(queries)[:RECORD_WINDOW])
    never = sorted(set(queries) - recorded_ever() - window)
    if never:
        errors.append(
            f"{len(never)} registrations never driver-recorded and outside the "
            f"first-{RECORD_WINDOW} window: {never}"
        )

    # max-staleness (VERDICT r5 #1): a query whose most recent driver verdict
    # is more than 2 rounds behind the newest artifact must be in the
    # upcoming window so the next recording refreshes it — fail-closed, same
    # spirit as the never-recorded check above
    latest = latest_recorded_round()
    if latest:
        newest = max(latest.values())
        too_stale = sorted(
            n for n in queries
            if latest.get(n, 0) < newest - 2 and n not in window
        )
        if too_stale:
            errors.append(
                f"{len(too_stale)} registrations with a driver verdict older "
                f"than round {newest - 2} and outside the first-"
                f"{RECORD_WINDOW} window: {too_stale}"
            )

    for name, fn in queries.items():
        if not callable(fn):
            errors.append(f"queries()[{name!r}] is not callable")
    for name, q in oracles.items():
        if not isinstance(q, str) or not q.strip():
            errors.append(f"oracle_sql()[{name!r}] is not a non-empty string")
    return errors


def main() -> int:
    import __spark_entry__ as entrymod

    errors = contract_errors(entrymod)

    rf = getattr(entrymod, "_RECORD_FIRST", [])
    if len(set(rf)) > RECORD_WINDOW:
        print(
            f"WARN: _RECORD_FIRST holds {len(set(rf))} names for a "
            f"{RECORD_WINDOW}-slot window; trailing prioritized names will "
            "not be recorded this round"
        )

    queries = entrymod.queries() if callable(getattr(entrymod, "queries", None)) else {}
    oracles = entrymod.oracle_sql() if callable(getattr(entrymod, "oracle_sql", None)) else {}
    print(f"{len(queries)} queries, {len(oracles)} oracles; "
          f"{len(rf)} in the priority window")

    if "--gate" in sys.argv:
        rest = [a for a in sys.argv[sys.argv.index("--gate") + 1 :] if not a.startswith("-")]
        sf_dir = rest[0] if rest and os.path.isdir(rest[0]) else "/root/testdata/sf0.01"
        budget = float(rest[-1]) if rest and not os.path.isdir(rest[-1]) else 600.0
        t0 = time.time()
        rc = subprocess.call(
            [sys.executable, os.path.join(os.path.dirname(__file__), "check_oracle.py"), sf_dir]
        )
        wall = time.time() - t0
        la = os.getloadavg()
        print(f"gate wall-time {wall:.1f}s (budget {budget:.0f}s), loadavg {la[0]:.1f}")
        if rc != 0:
            errors.append(f"check_oracle gate failed (rc={rc})")
        if wall > budget:
            errors.append(f"gate wall-time {wall:.1f}s exceeds budget {budget:.0f}s")

    if errors:
        for e in errors:
            print(f"PREFLIGHT FAIL: {e}")
        return 1
    print("PREFLIGHT OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
