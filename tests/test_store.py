"""The shared persisted-store protocol (disco_spark/store.py): immutable
blobs behind one tag, one tag check (``ensure``) and one publish.
Plain-Python write functions; only the reader test starts Spark."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import pytest

from disco_spark import store

WANT = {"input_files": [["corpus.parquet", 10, 1]], "version": 1}
WANT2 = {**WANT, "version": 2}
PARTS = [f"part-{i}" for i in range(5)]


def _writer(tag: str, hold: threading.Barrier | None = None, fail: bool = False):
    """Write data/part-0..4, each holding ``tag``; with ``hold``, wait
    there after the first part so two builders write at the same time;
    with ``fail``, raise after the first part."""

    def write(d: str) -> None:
        os.makedirs(os.path.join(d, "data"))
        for i, part in enumerate(PARTS):
            with open(os.path.join(d, "data", part), "w") as fh:
                fh.write(tag)
            if hold is not None and i == 0:
                hold.wait()
            if fail:
                raise RuntimeError("injected")

    return write


def _contents(path: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f)) as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def _served(path: str) -> tuple[dict, list[tuple[str, str, str]]]:
    """What a reader sees: (the tag minus ``blobs``, sorted (role, file
    within its blob, contents) of every blob the tag names)."""
    tag = store.tag(path)
    files = []
    for role, names in tag.pop("blobs").items():
        for name in names:
            for rel, text in _contents(os.path.join(path, name)).items():
                files.append((role, rel, text))
    return tag, sorted(files)


def _add(path: str, batch: str, tag: str, fail: bool = False) -> None:
    """A delta batch: one blob under ``delta/batch=<batch>``, published
    in place of any entry an earlier run of the batch left."""
    group = f"delta/batch={batch}"
    blob = store.put(path, group, _writer(tag, fail=fail))

    def update(t: dict) -> dict:
        kept = [n for n in t["blobs"].get("delta", []) if os.path.dirname(n) != group]
        return {**t, "blobs": {**t["blobs"], "delta": kept + [blob]}}

    store.publish(path, update)


def test_concurrent_cold_builds_serve_one_complete_store(tmp_path):
    """Two threads of one process build the same cold store at once:
    both return, and the store in place is one builder's complete copy
    under a matching tag, never a mix of the two."""
    path = str(tmp_path / "kind" / "sf")
    hold = threading.Barrier(2, timeout=30)
    results, errors = [], []

    def run(tag):
        try:
            results.append(store.ensure(path, WANT, _writer(tag, hold)))
        except BaseException as exc:  # pragma: no cover - reported below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors and results == [True, True]
    tag, files = _served(path)
    assert tag == WANT
    assert [(role, rel) for role, rel, _ in files] == [("data", p) for p in PARTS]
    assert len({text for _, _, text in files}) == 1
    # the builder that published first had its blob dropped by the
    # second; it is reclaimed once older than STALE_S
    _backdate(path)
    store.publish(path, lambda t: t)
    got = _contents(path)
    assert len([f for f in got if f.endswith("part-0")]) == 1
    assert os.listdir(tmp_path / "kind") == ["sf"]
    assert store.ensure(path, WANT, _writer("c")) is False


def test_failed_write_leaves_previous_store(tmp_path):
    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("old"))
    before = _contents(path)
    with pytest.raises(RuntimeError, match="injected"):
        store.build(path, WANT2, _writer("new", fail=True))
    assert _contents(path) == before
    assert os.listdir(tmp_path) == ["sf"]


def _fail_at(step: str, monkeypatch) -> bool:
    """Make one step of the next publish raise; True when the step
    comes after the new tag is in place."""

    def boom(*_a, **_k):
        raise OSError("injected")

    target = {
        "tag_write": (store.json, "dump"),
        "replace": (store.os, "replace"),
        "drop": (store.os, "utime"),
    }.get(step)
    if target is not None:
        monkeypatch.setattr(*target, boom)
    return step == "drop"


@pytest.mark.parametrize("step", ["write", "tag_write", "replace", "drop"])
@pytest.mark.parametrize("op", ["build", "add"])
def test_fault_at_each_step_serves_old_or_new_generation(
    tmp_path, monkeypatch, op, step
):
    """A build or a delta publish that raises at any step (blob write,
    temp tag write, ``os.replace``, restarting a dropped blob's age
    clock) leaves the store serving exactly the old generation or
    exactly the new one: the tag parses, every blob it names is whole,
    no temp tag is left, and ``ensure`` serves it without a rebuild. A
    retry then lands."""
    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("old"))
    _add(path, "1", "d-old")
    old = _served(path)

    def write(fail: bool = False) -> dict:
        if op == "build":
            store.build(path, WANT2, _writer("new", fail=fail))
            return WANT2
        _add(path, "1", "d-new", fail=fail)  # re-runs batch 1
        return WANT

    with monkeypatch.context() as m:
        landed = _fail_at(step, m)
        with pytest.raises((OSError, RuntimeError), match="injected"):
            write(fail=step == "write")
    got = _served(path)
    assert [f for f in os.listdir(path) if f.startswith(store.TAG + ".")] == []
    if not landed:
        assert got == old
        assert store.ensure(path, WANT, _writer("x")) is False
        want = write()
        got = _served(path)
    else:
        want = WANT2 if op == "build" else WANT
    assert got != old and got[0] == want
    texts = {text for _, _, text in got[1]}
    assert texts == ({"new"} if op == "build" else {"old", "d-new"})
    assert store.ensure(path, want, _writer("x")) is False


def test_concurrent_publishes_all_land(tmp_path):
    """Writers publishing different batches at once each apply their
    change to the tag the previous one published (the store lock): a
    lost update would drop a batch."""
    import sys

    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("base"))
    threads = [
        threading.Thread(target=_add, args=(path, str(i), f"d{i}")) for i in range(16)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    _, files = _served(path)
    assert {text for _, _, text in files} == {"base"} | {f"d{i}" for i in range(16)}


def _backdate(path: str) -> None:
    """Age every entry under ``path`` past ``STALE_S``."""
    old = time.time() - store.STALE_S - 60
    for d, dirs, files in os.walk(path):
        for name in dirs + files:
            os.utime(os.path.join(d, name), (old, old))


def test_rebuild_drops_batches_and_empty_groups(tmp_path):
    """A build's tag names only its own blobs, and the store serves
    without the rest. What the old tag named stays for readers planned
    on it until it is older than ``STALE_S``; then the next publish
    removes it, and the group directories that leaves empty."""
    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("old"))
    _add(path, "1", "d1")
    store.build(path, WANT, _writer("new"))
    assert list(store.blobs(path)) == ["data"]
    assert {text for _, _, text in _served(path)[1]} == {"new"}
    assert store.ensure(path, WANT, _writer("x")) is False
    store.publish(path, lambda t: t)
    assert sorted(os.listdir(path)) == [store.LOCK, "build", "delta", store.TAG]
    _backdate(path)
    store.publish(path, lambda t: t)
    assert sorted(os.listdir(path)) == [store.LOCK, "build", store.TAG]
    assert len(os.listdir(os.path.join(path, "build"))) == 1
    assert {text for _, _, text in _served(path)[1]} == {"new"}


def test_reader_planned_on_old_tag_outlives_rebuild(spark, tmp_path):
    """A DataFrame planned on one tag still reads its blobs after a
    rebuild publishes a tag that drops them."""

    def write(n: int):
        return lambda d: spark.range(n).write.parquet(os.path.join(d, "data"))

    path = str(tmp_path / "sf")
    store.build(path, WANT, write(3))
    old = store.read(spark, path, store.blobs(path)["data"])
    store.build(path, WANT2, write(5))
    assert old.count() == 3
    assert sorted(r.id for r in old.collect()) == [0, 1, 2]
    assert store.read(spark, path, store.blobs(path)["data"]).count() == 5


def test_stale_scratch_is_reclaimed_young_kept(tmp_path):
    """A blob or temp tag a crashed writer left in the store is removed
    by a later publish once it is older than the age guard; a younger
    one may be a live writer's and is kept."""
    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("a"))
    stale = tmp_path / "sf" / "delta" / "batch=9" / "blob-crashed"
    young = tmp_path / "sf" / "build" / "blob-live"
    stale_tag = tmp_path / "sf" / (store.TAG + ".crashed")
    for d in (stale, young):
        d.mkdir(parents=True)
        (d / "part-0").write_text("x")
    stale_tag.write_text("{}")
    old = time.time() - store.STALE_S - 60
    for p in (stale, stale.parent, stale.parent.parent, stale_tag):
        os.utime(p, (old, old))
    store.build(path, WANT, _writer("b"))
    assert not (tmp_path / "sf" / "delta").exists()
    assert not stale_tag.exists()
    assert young.exists()
    assert os.listdir(tmp_path) == ["sf"]


def test_store_without_blobs_is_rebuilt_once(tmp_path):
    """A store laid out before tags named blobs (manifest equal to the
    build keys, data dirs beside it) is rebuilt once, then served."""
    path = tmp_path / "sf"
    (path / "data").mkdir(parents=True)
    (path / store.TAG).write_text(json.dumps(WANT))
    assert store.ensure(str(path), WANT, _writer("a")) is True
    assert store.ensure(str(path), WANT, _writer("b")) is False
    assert _served(str(path))[0] == WANT


def test_missing_blob_triggers_rebuild(tmp_path):
    path = str(tmp_path / "sf")
    store.build(path, WANT, _writer("a"))
    shutil.rmtree(os.path.join(path, store.blobs(path)["data"][0]))
    assert store.ensure(path, WANT, _writer("b")) is True
    assert {text for _, _, text in _served(path)[1]} == {"b"}


def test_build_into_missing_parent(tmp_path):
    path = str(tmp_path / "no" / "such" / "parent" / "sf")
    assert store.ensure(path, WANT, _writer("a")) is True
    assert _served(path)[0] == WANT
