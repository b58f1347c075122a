"""Deferred persists (session.lazy_persist) belong to the thread that
made them: a registered query started on one thread releases its own
thread's frames and those of exited threads, never a frame another live
thread is still reading."""

from __future__ import annotations

import sys
import threading

from disco_spark import registry
from disco_spark.session import lazy_persist, release_deferred
from tests.conftest import SF_SMOKE

registry.load_all()


def test_registered_query_keeps_other_threads_persists(spark):
    held, checked = threading.Event(), threading.Event()
    seen = {}

    def holder():
        df = lazy_persist(spark.range(10))
        held.set()
        checked.wait(60)
        seen["cached"] = df.is_cached
        seen["df"] = df

    t = threading.Thread(target=holder)
    t.start()
    assert held.wait(60)
    registry.QUERIES["profile_orders_columns"](spark, SF_SMOKE)
    checked.set()
    t.join(60)
    assert not t.is_alive()
    assert seen["cached"]
    release_deferred()  # the holder has exited: its frame goes now
    assert not seen["df"].is_cached


class _Frame:
    """Stands in for a DataFrame: records who persisted and released it."""

    def __init__(self):
        self.owner = threading.current_thread()
        self.released_by = []

    def persist(self):
        return self

    def unpersist(self):
        self.released_by.append(threading.current_thread())


def test_concurrent_release_touches_only_own_frames():
    frames: list[_Frame] = []
    lock = threading.Lock()

    def worker():
        for _ in range(200):
            f = lazy_persist(_Frame())
            with lock:
                frames.append(f)
            assert release_deferred() >= 1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(frames) == 8 * 200
    assert all(f.released_by == [f.owner] for f in frames)
