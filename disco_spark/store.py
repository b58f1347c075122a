"""One way to build, change and open a persisted store (ANN index, LSH
signature store, k-NN graph, planted cells): DDFS's immutable blobs
behind one mutable tag.

A store is a directory holding the blob directories its tag names and
the tag, ``manifest.json``: the build keys ``ensure`` compares plus
``blobs``, role -> blob paths relative to the store. Every write, a
whole build or a mutation, writes a fresh blob (``put``) and then
publishes a new tag with one ``os.replace`` (``publish``). Nothing is
written in place, so a reader that reads the tag once sees one whole
generation, and a write that fails at any step leaves the previous
generation serving.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import tempfile
import time
from typing import Callable

# every store and per-query scratch layout lives under <repo>/benchdata
# (gitignored), one subdirectory per kind, one store per dataset
ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "benchdata"
)
# a blob no tag names (a crashed writer's, or one a publish dropped) is
# reclaimed once it is this old: a live writer's blob is younger than
# any write takes, and a dropped one outlives reads planned on its tag
STALE_S = 3600
TAG = "manifest.json"
LOCK = ".lock"


def store_path(kind: str, sf_dir: str, suffix: str = "") -> str:
    """``ROOT/kind/<dataset name><suffix>``: sf0.001/sf0.01/sf0.1 never
    collide, and ``suffix`` keys variants of one dataset."""
    return os.path.join(
        ROOT, kind, os.path.basename(os.path.normpath(sf_dir)) + suffix
    )


def tag(path: str) -> dict:
    """The store's tag; empty when it has none that parses."""
    try:
        with open(os.path.join(path, TAG)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def blobs(path: str) -> dict[str, list[str]]:
    """The tag's blobs: role -> blob paths relative to ``path``."""
    return tag(path)["blobs"]


def read(spark, path: str, names: list[str]):
    """One ``spark.read.parquet`` over the named blobs: one listing and
    one schema inference, however many blobs."""
    return spark.read.parquet(*(os.path.join(path, n) for n in names))


def _names(blob_map: dict[str, list[str]]) -> set[str]:
    return {n for names in blob_map.values() for n in names}


def ensure(path: str, want: dict, write: Callable[[str], None]) -> bool:
    """Serve the store at ``path`` when its tag, minus ``blobs``, equals
    ``want`` and every blob it names exists; otherwise ``build`` it with
    ``write``. Returns True when a build ran."""
    have = tag(path)
    named = have.pop("blobs", None)
    if named and have == want and all(
        os.path.isdir(os.path.join(path, n)) for n in _names(named)
    ):
        return False
    build(path, want, write)
    return True


def build(path: str, want: dict, write: Callable[[str], None]) -> None:
    """Build the whole store: ``write(blob)`` writes each table as a
    directory of one fresh blob, then a tag of ``want`` naming only
    those tables is published, dropping all the old tag named."""
    blob = put(path, "build", write)
    tables = sorted(os.listdir(os.path.join(path, blob)))
    publish(path, lambda _: {**want, "blobs": {t: [f"{blob}/{t}"] for t in tables}})


def put(path: str, group: str, write: Callable[[str], None]) -> str:
    """Write one fresh blob, ``<path>/<group>/blob-<unique>``, with
    ``write(dir)`` and return its name relative to ``path``. The
    directory exists when ``write`` runs, so a writer that targets it
    directly needs ``mode("overwrite")``. If ``write`` raises, the blob
    is removed."""
    parent = os.path.join(path, group)
    while True:  # a concurrent publish reclaims a stale group dir
        os.makedirs(parent, exist_ok=True)
        with contextlib.suppress(FileNotFoundError):
            d = tempfile.mkdtemp(prefix="blob-", dir=parent)
            break
    try:
        write(d)
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        _prune(path, group)
        raise
    return os.path.relpath(d, path)


def publish(path: str, update: Callable[[dict], dict]) -> dict:
    """Replace the store's tag with ``update(tag)`` and return it.

    Under a lock on the store, so each concurrent writer updates the tag
    the previous one published: write the new tag to a temp file and
    ``os.replace`` it in. The blobs only the old tag named are not
    removed, since a reader may have planned on the old tag: their age
    clock restarts (with their group directories'), and they go with
    every other blob no tag names once older than ``STALE_S``."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, LOCK), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        old = tag(path)
        new = update(old)
        fd, tmp = tempfile.mkstemp(prefix=TAG + ".", dir=path)
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(new, fh)
            os.replace(tmp, os.path.join(path, TAG))
        except BaseException:
            os.unlink(tmp)
            raise
        keep = _names(new["blobs"])
        for name in _names(old.get("blobs", {})) - keep:
            while name:  # _reclaim ages the top entry it does not keep
                with contextlib.suppress(FileNotFoundError):
                    os.utime(os.path.join(path, name))
                name = os.path.dirname(name)
        _reclaim(path, keep)
    return new


def _prune(path: str, rel: str) -> None:
    """Remove ``rel`` and each parent below ``path`` while empty."""
    while rel:
        try:
            os.rmdir(os.path.join(path, rel))
        except OSError:
            return
        rel = os.path.dirname(rel)


def _reclaim(path: str, keep: set[str], rel: str = "") -> None:
    """Remove each entry under ``path/rel`` that neither is, holds nor
    lies inside a name in ``keep`` once it is older than ``STALE_S``: a
    blob a publish dropped, a crashed writer's blob or temp tag, or an
    older store layout."""
    for entry in os.scandir(os.path.join(path, rel)):
        name = os.path.join(rel, entry.name)
        if name in keep or name in (TAG, LOCK):
            continue
        if any(k.startswith(name + "/") for k in keep):
            _reclaim(path, keep, name)
            continue
        with contextlib.suppress(OSError):  # a failed put removed it meanwhile
            if time.time() - entry.stat(follow_symlinks=False).st_mtime > STALE_S:
                if entry.is_dir(follow_symlinks=False):
                    shutil.rmtree(entry.path)
                else:
                    os.unlink(entry.path)
