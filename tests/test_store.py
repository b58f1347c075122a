"""The shared persisted-store protocol (disco_spark/store.py): one
manifest check and one write-aside swap. Plain-Python write functions,
no Spark."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from disco_spark import store

WANT = {"input_files": [["corpus.parquet", 10, 1]], "version": 1}
PARTS = [f"part-{i}" for i in range(5)]


def _writer(tag: str, hold: threading.Barrier | None = None):
    """Write data/part-0..4, each holding ``tag``; with ``hold``, wait
    there after the first part so two builders write at the same time."""

    def write(d: str) -> None:
        os.makedirs(os.path.join(d, "data"))
        for i, part in enumerate(PARTS):
            with open(os.path.join(d, "data", part), "w") as fh:
                fh.write(tag)
            if hold is not None and i == 0:
                hold.wait()

    return write


def _contents(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f)) as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def test_concurrent_cold_builds_serve_one_complete_store(tmp_path):
    """Two threads of one process build the same cold store at once:
    both return, and the store in place is one builder's complete copy
    under a matching manifest, never a mix of the two."""
    path = str(tmp_path / "kind" / "sf")
    hold = threading.Barrier(2, timeout=30)
    results, errors = [], []

    def run(tag):
        try:
            results.append(store.ensure(path, WANT, ("data",), _writer(tag, hold)))
        except BaseException as exc:  # pragma: no cover - reported below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors and results == [True, True]
    got = _contents(path)
    assert json.loads(got.pop("manifest.json")) == WANT
    assert sorted(got) == [os.path.join("data", p) for p in PARTS]
    assert len(set(got.values())) == 1
    assert os.listdir(tmp_path / "kind") == ["sf"]
    assert store.ensure(path, WANT, ("data",), _writer("c")) is False


def test_failed_write_leaves_previous_store(tmp_path):
    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("old"))
    before = _contents(path)

    def broken(d: str) -> None:
        _writer("new")(d)
        raise RuntimeError("injected")

    with pytest.raises(RuntimeError, match="injected"):
        store.build(path, {**WANT, "version": 2}, broken)
    assert _contents(path) == before
    assert os.listdir(tmp_path) == ["sf"]


def test_stale_scratch_is_reclaimed_young_kept(tmp_path):
    """Scratch a crashed builder left behind is removed once it is older
    than the age guard; younger scratch may be a live builder's."""
    path = str(tmp_path / "sf")
    stale = tmp_path / "sf_building_crashed"
    young = tmp_path / "sf_building_live"
    for d in (stale, young):
        d.mkdir()
        (d / "part-0").write_text("x")
    old = time.time() - store.STALE_S - 60
    os.utime(stale, (old, old))
    store.build(path, WANT, _writer("a"))
    assert not stale.exists()
    assert young.exists()
    assert sorted(os.listdir(tmp_path)) == ["sf", "sf_building_live"]


def test_build_into_missing_parent(tmp_path):
    path = str(tmp_path / "no" / "such" / "parent" / "sf")
    assert store.ensure(path, WANT, ("data",), _writer("a")) is True
    assert json.loads(_contents(path)["manifest.json"]) == WANT
