"""Repository hygiene: no tracked script reaches for the retired
headline harness (bench.py) or its rehearsal tooling, every script left
in tools/ still imports, and the classic MapReduce layer has no executor
of its own. Runs no Spark."""

from __future__ import annotations

import os
import re
import runpy
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")

# modules deleted with the old harness; perfbench/ is the one benchmark
DELETED_TOOLS = (
    "adjudication",
    "audit_plans",
    "bench_delta",
    "dress_rehearsal",
    "merge_sf1_factors",
    "predict_next_window",
    "run_rehearsal",
    "scale_check_new_ops",
    "warm_stores",
)
_NAMES = "|".join(("bench",) + DELETED_TOOLS)
DANGLING = re.compile(
    rf"\b(?:import|from)\s+(?:{_NAMES})\b"
    rf"|\b(?:{_NAMES})\.(?:py|sh)\b|\btools[./](?:{_NAMES})\b"
)


def _tracked(*patterns: str) -> list[str]:
    out = subprocess.run(
        ["git", "ls-files", "--", *patterns],
        capture_output=True, text=True, cwd=ROOT, check=True,
    )
    return out.stdout.split()


def test_no_script_uses_deleted_tooling():
    this = os.path.relpath(os.path.abspath(__file__), ROOT)
    hits = []
    for rel in _tracked("*.py", "*.sh"):
        if rel == this or not os.path.exists(os.path.join(ROOT, rel)):
            continue
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                if DANGLING.search(line):
                    hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)


@pytest.mark.parametrize(
    "script", sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports(script, monkeypatch):
    monkeypatch.syspath_prepend(TOOLS)
    runpy.run_path(os.path.join(TOOLS, script), run_name=script[:-3])


def test_classic_has_no_executor_of_its_own():
    """DiscoJob lowers onto plans.pipeline: the classic layer runs no
    Python pass of its own, so it must not grow a second map/shuffle/
    reduce runner back."""
    with open(os.path.join(ROOT, "disco_spark", "operators", "classic.py"), encoding="utf-8") as fh:
        src = fh.read()
    found = [name for name in ("mapInPandas", "pandas_udf", "OUT_BATCH") if name in src]
    assert not found, found
