"""The engine's Python worker daemon (``disco_spark.worker_daemon``): a
reused worker no longer re-reads ``pyspark.zip`` on every task, a zip
that changes is still re-read, and engine UDFs import from any working
directory."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

from disco_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    # written aside and moved into place, as a shipped file replaces an old one
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_zip_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    first, second = f"zmod_{uuid.uuid4().hex}", f"zmod_{uuid.uuid4().hex}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(first).VALUE == 1
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda a: (reads.append(a), read(a))[1])

        importlib.invalidate_caches()
        settled = reads.count(archive)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == settled, "an unchanged zip was re-read"

        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == settled + 1
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)


def test_reused_worker_does_not_reread_zips(spark):
    """PySpark invalidates import caches at the start of every task; in a
    worker forked by the engine daemon that re-reads no zip archive."""

    def zip_reads_in_task(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), read(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"reads": [len(reads)], "patch": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInPandas(zip_reads_in_task, "reads long, patch string")
        .collect()
    )
    assert [(r.reads, r.patch) for r in rows] == [(0, "disco_spark.worker_daemon")] * 4


def test_add_py_file_after_workers_are_warm(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize([1, 2], 2).map(lambda x: x + 1).collect() == [2, 3]
    name = f"late_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "def f(x):\n    return x * 10\n"})
    sc.addPyFile(archive)

    def use(x):
        return importlib.import_module(name).f(x)

    try:
        assert sc.parallelize([1, 2], 2).map(use).collect() == [10, 20]
    finally:
        sys.modules.pop(name, None)


_OUTSIDE = """
import json, sys
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from disco_spark.plans.pipeline import SPLIT, Pipeline, Stage
from disco_spark.session import get_spark

spark = get_spark("worker_path_probe", master="local[1]")
df = spark.createDataFrame([("a", 1), ("b", 2)], "key string, value bigint")

def proc(iface, state, label, inp):
    for k, v in inp:
        iface.output(label).add(k, v + 1)

runs = {{
    "plain_udf": lambda: df.select(F.udf(lambda v: v + 1, "bigint")("value")).collect(),
    "pipeline": lambda: Pipeline([(SPLIT, Stage("s", process=proc))]).run(df).collect(),
}}
out = {{}}
for name, run in runs.items():
    try:
        out[name] = sorted(r[-1] for r in run())
    except Exception as exc:
        out[name] = type(exc).__name__ + ": " + str(exc).splitlines()[0]
spark.stop()
print(json.dumps(out))
"""


def test_engine_udfs_run_outside_the_checkout(tmp_path):
    """A driver outside the checkout, with no PYTHONPATH, that puts the
    checkout on its own sys.path (as tools/ scripts do): the workers must
    import disco_spark too."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"plain_udf": [2, 3], "pipeline": [2, 3]}, out
