"""Registry-introspection CLI (jobs/kgpipe_cli.py) — the reference's
`kgpipe list/show/discover` surface (`src/kgpipe/cli/main.py:29-86`) over
the driver-contract registry. list/show/discover must work without a JVM."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLI = os.path.join(REPO, "jobs", "kgpipe_cli.py")


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, CLI, *args], capture_output=True, text=True, cwd=REPO, timeout=180
    )


def test_cli_list_json_covers_registry():
    out = _run("list", "--json")
    assert out.returncode == 0, out.stderr[-500:]
    rows = json.loads(out.stdout)
    names = {r["name"] for r in rows}
    assert {"kg_flagship_pipeline", "kg_link_two_pass", "kg_streaming_ingest"} <= names
    assert all(r["oracle"] in ("sql", "rows-only") for r in rows)


def test_cli_show_and_unknown():
    out = _run("show", "kg_flagship_pipeline", "--sql")
    assert out.returncode == 0
    assert "ANSI-SQL cross-check" in out.stdout
    assert "oracle SQL:" in out.stdout
    assert _run("show", "definitely_not_registered").returncode == 1


def test_cli_discover_walks_package():
    out = _run("discover", "--json")
    assert out.returncode == 0
    found = json.loads(out.stdout)
    mods = {r["module"] for r in found}
    assert "kgpipe_spark.operators.linking" in mods
    assert "kgpipe_spark.plans.pipeline" in mods
    gone = ("dedup", "similarity", "text", "multimodal")
    assert not mods & {f"kgpipe_spark.operators.{m}" for m in gone}
    fns = {(r["module"], r["function"]) for r in found}
    assert {
        ("kgpipe_spark.operators.linking", "minhash_token_signatures"),
        ("kgpipe_spark.operators.linking", "minhash_verified_pairs"),
    } <= fns
