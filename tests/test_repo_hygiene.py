"""Repository hygiene: no tracked script reaches for the retired
headline harness (bench.py) or its rehearsal tooling, every script left
in tools/ still imports, the classic MapReduce layer has no executor of
its own, only disco_spark/store.py moves files into place or writes a
manifest, the graph modules orient edges in one place, and each text
primitive is written once per engine. Runs no Spark."""

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


def _store_writes(tree) -> list[int]:
    """Lines that move a file into place (``os.replace``/``os.rename``)
    or open a ``manifest.json`` for writing."""
    import ast

    hits = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr in ("replace", "rename")
            and isinstance(f.value, ast.Name)
            and f.value.id == "os"
        ):
            hits.append(node.lineno)
        elif isinstance(f, ast.Name) and f.id == "open":
            mode = node.args[1] if len(node.args) > 1 else next(
                (k.value for k in node.keywords if k.arg == "mode"), None
            )
            names = [
                c.value for c in ast.walk(node.args[0]) if isinstance(c, ast.Constant)
            ] if node.args else []
            writes = isinstance(mode, ast.Constant) and set(str(mode.value)) & set("wax+")
            if writes and any("manifest.json" in str(n) for n in names):
                hits.append(node.lineno)
    return sorted(hits)


def test_only_the_store_publishes_tags():
    """Every persisted-store write goes through disco_spark/store.py:
    no other module moves files into place or writes a manifest."""
    import ast

    pkg = os.path.join(ROOT, "disco_spark")
    hits = []
    for d, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path == os.path.join(pkg, "store.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            hits += [f"{os.path.relpath(path, ROOT)}:{n}" for n in _store_writes(tree)]
    assert not hits, hits


def test_store_write_guard_sees_what_it_forbids():
    import ast

    src = (
        "os.replace(a, b)\nos.rename(a, b)\n"
        "open(os.path.join(p, 'manifest.json'), 'w')\n"
        "open(os.path.join(p, 'manifest.json'))\nopen(x, 'w')\n"
    )
    assert _store_writes(ast.parse(src)) == [1, 2, 3]


GRAPH_MODULES = ("triangles.py", "khop.py", "communities.py", "pagerank.py")
# an edge (u, v) turned around: in Spark, column v renamed to the source
# side; in oracle SQL, a UNION ALL arm selecting v before u
SPARK_REVERSE = re.compile(r'F\.col\("v"\)\.alias\("(?:u|src)"\)')
SQL_REVERSE = re.compile(
    r"UNION\s+ALL\s+SELECT\s+v(?:\s+AS\s+\w+)?\s*,\s*u\b", re.IGNORECASE
)


def _orientations(src: str) -> tuple[int, int, int]:
    """(Spark reversals, oracle reversals, unionByName calls) in ``src``."""
    return (
        len(SPARK_REVERSE.findall(src)),
        len(SQL_REVERSE.findall(src)),
        src.count("unionByName"),
    )


def test_graph_edges_are_oriented_in_one_place():
    """The graph modules orient co-order edges in one Spark function
    (triangles._both_orientations) and one oracle CTE
    (triangles.UND_CTE); every other query composes those two."""
    sim = os.path.join(ROOT, "disco_spark", "similarity")
    found = {}
    for f in GRAPH_MODULES:
        with open(os.path.join(sim, f), encoding="utf-8") as fh:
            found[f] = _orientations(fh.read())
    want = {f: (0, 0, 0) for f in GRAPH_MODULES}
    want["triangles.py"] = (1, 1, 0)
    assert found == want


def test_orientation_guard_sees_what_it_forbids():
    src = (
        'edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))\n'
        'F.struct(F.col("v").alias("src"), F.col("u").alias("dst"))\n'
        "SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges\n"
        "SELECT u AS src, v AS dst FROM edges\n  UNION ALL SELECT v, u FROM edges\n"
        "SELECT a AS node FROM tris UNION ALL SELECT b FROM tris\n"
    )
    assert _orientations(src) == (2, 2, 1)


# Each shared text primitive is written once in Spark and once in oracle
# SQL, in textops/analysis.py; every other module composes those. The
# patterns match source with whitespace runs collapsed to one space.
TEXT_PRIMITIVES = {
    "whitespace split (Spark)": re.compile(r"\bsplit\([^()]*(?:\([^()]*\))?[^()]*\\+s\+"),
    "whitespace split (SQL)": re.compile(r"regexp_split_to_array\( ?text ?, ?'\\+s\+'"),
    "_TOKS_SQL definition": re.compile(r"\b_TOKS_SQL ?= ?\""),
    "normalizer (Spark)": re.compile(r"F\.regexp_replace\( ?F\.lower\("),
    "normalizer (SQL)": re.compile(r"\bregexp_replace\( ?lower\("),
    "inline n-grams (Spark)": re.compile(r"concat_ws\( ?[\"'] [\"'] ?, ?(?:F\.)?element_at\("),
    "inline n-grams (SQL)": re.compile(r"concat_ws\( ?' ' ?, ?toks\[i\]"),
    "alphabetic ratio (Spark)": re.compile(r'"\[\^a-z \]"'),
    "alphabetic ratio (SQL)": re.compile(r"'\[\^a-z \]'"),
    "BPE pretokens (Spark)": re.compile(r'rlike\( ?r"\^\\s\+\$"\)'),
    "BPE pretokens (SQL)": re.compile(r"regexp_matches\( ?t ?, ?'\^\\+s\+\$'\)"),
}


def _text_copies(src: str) -> dict[str, int]:
    """How often each text-primitive pattern occurs in ``src``."""
    flat = re.sub(r"\s+", " ", src)
    return {name: len(pat.findall(flat)) for name, pat in TEXT_PRIMITIVES.items()}


def test_text_primitives_are_written_once_per_engine():
    pkg = os.path.join(ROOT, "disco_spark")
    found = {name: {} for name in TEXT_PRIMITIVES}
    for f in _tracked("disco_spark/*.py"):
        with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
            for name, n in _text_copies(fh.read()).items():
                if n:
                    found[name][os.path.relpath(os.path.join(ROOT, f), pkg)] = n
    once = {"textops/analysis.py": 1}
    want = {name: once for name in TEXT_PRIMITIVES}
    # InvertedIndex.from_tokens keeps its own split: the index build
    # path reads a caller-named text column
    want["whitespace split (Spark)"] = {**once, "index/discodb.py": 1}
    want["inline n-grams (Spark)"] = want["inline n-grams (SQL)"] = {}
    assert found == want


def test_text_primitive_guard_sees_what_it_forbids():
    src = (
        'F.filter(F.split(F.col("text"), r"\\s+"), lambda x: x != F.lit(""))\n'
        'F.expr("filter(split(text, \'\\\\\\\\s+\'), x -> x != \'\')")\n'
        'F.explode(F.split(F.col("text"), r"[.!?]+"))\n'
        "unnest(regexp_split_to_array(text, '\\\\s+')) AS tok\n"
        "_TOKS_SQL = \"list_filter(...)\"\n"
        'F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\\s+", " ")))\n'
        "md5(trim(regexp_replace(lower(text), '\\\\s+', ' ', 'g')))\n"
        'F.concat_ws(\n    " ",\n    F.element_at(toks, i + 1),\n    F.element_at(toks, i + 2))\n'
        "concat_ws(' ', toks[i], toks[i+1]) AS bigram\n"
        "concat_ws(' ', toks[1], toks[2]) AS prefix\n"
        'F.length(F.regexp_replace(F.col("text"), "[^a-z ]", ""))\n'
        "length(regexp_replace(text, '[^a-z ]', '', 'g'))\n"
        'lambda x: ~x.rlike(r"^\\s+$")\n'
        "t -> NOT regexp_matches(t, '^\\\\s+$')\n"
    )
    assert _text_copies(src) == dict.fromkeys(TEXT_PRIMITIVES, 1) | {
        "whitespace split (Spark)": 2
    }
