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



_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The embedder constructors are the reference's model seam: a model name and
# its width are deployment settings, set by whoever installs a real model.
_OPTION_SCAN_EXEMPT = {os.path.join("kgpipe_spark", "functions", "embedders.py")}
_OPTION_CALLERS = ("kgpipe_spark", "jobs", "scripts", "perfbench", "tests", "__spark_entry__.py")


def _py_files(path):
    if path.endswith(".py"):
        yield path
        return
    for d, _, files in os.walk(path):
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _parse(path):
    import ast

    with open(path) as fh:
        return ast.parse(fh.read(), path)


def _defs(tree):
    """(call name, def node, bound self/cls count) for every def in ``tree``;
    a constructor is called by its class's name."""
    import ast

    stack = [(tree, None)]
    while stack:
        node, cls = stack.pop()
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if cls is None:
                    yield child.name, child, 0
                else:
                    static = any(getattr(d, "id", None) == "staticmethod" for d in child.decorator_list)
                    name = cls.name if child.name == "__init__" else child.name
                    yield name, child, int(not static)
            stack.append((child, child if isinstance(child, ast.ClassDef) else None))


def _defaulted(fn, bound):
    """(parameter, call position or None) for each defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional[first:], start=first):
        yield arg.arg, i - bound
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _record_calls(tree, setters):
    """Add every call in ``tree`` to ``setters``: (callee, keyword | position
    | "*" | "**") -> [None for a value, or the (name, param) option of the
    enclosing def when the argument only forwards that option]."""
    import ast

    scopes = {fn: (name, {p for p, _ in _defaulted(fn, bound)}) for name, fn, bound in _defs(tree)}

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                f = child.func
                callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

                def source(v):
                    forwards = scope and isinstance(v, ast.Name) and v.id in scope[1]
                    return (scope[0], v.id) if forwards else None

                for i, v in enumerate(child.args):
                    if isinstance(v, ast.Starred):
                        setters.setdefault((callee, "*"), []).append(None)
                        break
                    setters.setdefault((callee, i), []).append(source(v))
                for k in child.keywords:
                    slot = (callee, k.arg) if k.arg else (callee, "**")
                    setters.setdefault(slot, []).append(source(k.value) if k.arg else None)
            visit(child, scopes.get(child, scope))

    visit(tree, None)


def test_every_function_option_is_set_by_a_call_site():
    """Every defaulted parameter of a def under kgpipe_spark/ is passed, by
    keyword or position, by at least one call to a function or class of that
    name somewhere in the repo. A call that only forwards its own caller's
    option (``f(x, n=n)``) counts only when that outer option is set itself.
    An option no caller sets is a constant with an untested alternative."""
    options = {}  # (name, param) -> [(file, call position or None)]
    for path in _py_files(os.path.join(_REPO, "kgpipe_spark")):
        rel = os.path.relpath(path, _REPO)
        if rel in _OPTION_SCAN_EXEMPT:
            continue
        for name, fn, bound in _defs(_parse(path)):
            for param, pos in _defaulted(fn, bound):
                options.setdefault((name, param), []).append((rel, pos))

    setters = {}
    for src in _OPTION_CALLERS:
        for path in _py_files(os.path.join(_REPO, src)):
            _record_calls(_parse(path), setters)

    def slots(name, param):
        yield from ((name, param), (name, "*"), (name, "**"))
        yield from ((name, pos) for _, pos in options[(name, param)] if pos is not None)

    is_set, grew = set(), True
    while grew:
        grew = False
        for key in options.keys() - is_set:
            if any(src is None or src in is_set for s in slots(*key) for src in setters.get(s, ())):
                is_set.add(key)
                grew = True

    unset = sorted(
        f"{rel}: {name}({param}=...)"
        for (name, param), where in options.items()
        if (name, param) not in is_set
        for rel, _ in where
    )
    assert not unset, f"{len(unset)} options no call site sets:\n" + "\n".join(unset)
