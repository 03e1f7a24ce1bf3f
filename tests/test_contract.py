"""Driver-contract invariants (round-4, VERDICT r3 'What's wrong' #1/#2).

The driver records rows+schema+hash per queries() entry against its
oracle_sql() — a single oracle-less registration zeroed the whole
CORRECTNESS_r03.json. These tests keep the contract fail-closed locally so
that class of drift can never pass pytest again. Pure-Python: no Spark
session needed (queries() only builds a dict of callables).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod


def test_driver_hooks_exist():
    assert callable(entrymod.entry)
    assert callable(entrymod.queries)
    assert callable(entrymod.oracle_sql)


def test_every_query_has_an_oracle():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert q, "queries() is empty"
    missing = sorted(q - o)
    assert not missing, f"queries() entries with NO oracle_sql(): {missing}"


def test_no_orphan_oracles():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    orphans = sorted(o - q)
    assert not orphans, f"oracle_sql() entries with no queries() entry: {orphans}"


def test_record_first_names_resolve():
    q = set(entrymod.queries())
    stale = sorted(set(entrymod._RECORD_FIRST) - q)
    assert not stale, f"_RECORD_FIRST names not registered: {stale}"


def test_all_registrations_well_formed():
    for name, fn in entrymod.queries().items():
        assert callable(fn), name
    for name, sql in entrymod.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name


def test_preflight_script_passes():
    import subprocess

    rc = subprocess.call(
        [sys.executable, os.path.join(os.path.dirname(__file__), "..", "scripts", "preflight.py")]
    )
    assert rc == 0


def test_contract_errors_empty():
    """Single source of truth: the dup-window and driver-verdict invariants
    (and everything else preflight checks) live in scripts/preflight.py —
    this test imports that logic instead of duplicating it (ADVICE r4 /
    round-5 review: two hand-maintained copies of the window size and
    artifact format would silently diverge)."""
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    )
    import preflight

    assert preflight.RECORD_WINDOW == 50
    errors = preflight.contract_errors(entrymod)
    assert not errors, "\n".join(errors)


def test_corrupt_driver_record_raises_naming_the_file(tmp_path):
    """A corrupt CORRECTNESS_r*.json must fail the contract check loudly,
    not silently drop its names from it."""
    import pytest

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    )
    import preflight

    (tmp_path / "CORRECTNESS_r01.json").write_text('{"kg_a": {}}')
    (tmp_path / "CORRECTNESS_r99.json").write_text('{"kg_a": ')
    for check in (preflight.recorded_ever, preflight.latest_recorded_round):
        with pytest.raises(ValueError, match="CORRECTNESS_r99.json"):
            check(str(tmp_path))
