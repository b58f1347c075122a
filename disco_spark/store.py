"""One way to build and open a persisted store (ANN index, LSH
signature store, k-NN graph, planted cells): a directory of data dirs
plus a ``manifest.json`` recording what they were built from,
published whole or not at all — DDFS's immutable blobs behind a
mutable tag. Stores are deterministic functions of their
fingerprinted inputs, so when two builders race, whichever copy lands
is THE store.
"""

from __future__ import annotations

import contextlib
import glob
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
# scratch left by a crashed builder is reclaimed once it is this old; a
# live builder's scratch is younger than any build takes
STALE_S = 3600


def store_path(kind: str, sf_dir: str, suffix: str = "") -> str:
    """``ROOT/kind/<dataset name><suffix>``: sf0.001/sf0.01/sf0.1 never
    collide, and ``suffix`` keys variants of one dataset."""
    return os.path.join(
        ROOT, kind, os.path.basename(os.path.normpath(sf_dir)) + suffix
    )


def ensure(
    path: str, want: dict, dirs: tuple[str, ...], write: Callable[[str], None]
) -> bool:
    """Serve the store at ``path`` when its manifest equals ``want`` and
    every dir in ``dirs`` exists; otherwise ``build`` it with ``write``.
    Returns True when a build ran."""
    try:
        with open(os.path.join(path, "manifest.json")) as fh:
            if json.load(fh) == want and all(
                os.path.isdir(os.path.join(path, d)) for d in dirs
            ):
                return False
    except (OSError, ValueError):
        pass
    build(path, want, write)
    return True


def build(path: str, want: dict, write: Callable[[str], None]) -> None:
    """Build the whole store: ``write(scratch)`` writes the data dirs,
    then ``want`` is stamped as the manifest, then the directory is
    swapped in. Anything the old store held (delta batches, tombstones,
    markers) goes with it."""

    def write_store(scratch: str) -> None:
        write(scratch)
        with open(os.path.join(scratch, "manifest.json"), "w") as fh:
            json.dump(want, fh)

    swap(path, write_store)


def swap(dest: str, write: Callable[[str], None]) -> None:
    """Replace ``dest`` with what ``write`` puts into a fresh scratch
    directory beside it. The scratch already exists when ``write`` runs,
    so a writer that targets it directly needs ``mode("overwrite")``.

    A crash leaves the old ``dest``, the new one or (between the two
    renames) none, never a mix. If ``write`` raises, the scratch is
    removed and ``dest`` is untouched. If a concurrent builder's copy
    lands first, ours is discarded."""
    dest = os.path.normpath(dest)
    parent, name = os.path.split(dest)
    os.makedirs(parent, exist_ok=True)
    pattern = os.path.join(glob.escape(parent), glob.escape(name) + "_building_*")
    for stale in glob.glob(pattern):
        with contextlib.suppress(OSError):  # already reclaimed by another
            if time.time() - os.path.getmtime(stale) > STALE_S:
                shutil.rmtree(stale, ignore_errors=True)
    scratch = tempfile.mkdtemp(prefix=f"{name}_building_", dir=parent)
    try:
        write(scratch)
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    # the old copy is named after the scratch, so it is unique too and a
    # crash here leaves it to the same age-guarded reclaim
    old = scratch + "_old"
    with contextlib.suppress(OSError):  # cold, or a concurrent swap moved it
        os.rename(dest, old)
    try:
        os.rename(scratch, dest)
    except OSError:
        shutil.rmtree(scratch, ignore_errors=True)
        if not os.path.isdir(dest):  # not a concurrent builder's copy
            raise
    shutil.rmtree(old, ignore_errors=True)
