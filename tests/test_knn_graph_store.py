"""Persisted adaptive k-NN graph store (similarity/ann.py): the shared
substrate of the graph/cosine-dedup/SemDeDup queries, materialized once
per (dataset, k, nprobe) and served warm — same manifest discipline as
the ANN index and LSH signature stores."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from disco_spark.similarity.ann import _adaptive_knn
from disco_spark.store import blobs, store_path

from tests.conftest import SF_SMOKE


def _store(k=5, p=4) -> str:
    return store_path("knn_graph", SF_SMOKE, f"_k{k}_p{p}")


def _graph() -> str:
    (name,) = blobs(_store())["graph"]
    return os.path.join(_store(), name)


def test_warm_serve_equals_fresh_build(spark):
    """A warm serve must be BIT-identical to the fresh compute (doubles
    roundtrip parquet exactly): wipe, build, re-serve, compare."""
    shutil.rmtree(_store(), ignore_errors=True)
    fresh = {tuple(r) for r in _adaptive_knn(spark, SF_SMOKE).collect()}
    assert os.path.isfile(os.path.join(_store(), "manifest.json"))
    warm = {tuple(r) for r in _adaptive_knn(spark, SF_SMOKE).collect()}
    assert warm == fresh


def test_stale_manifest_rebuilds(spark):
    _adaptive_knn(spark, SF_SMOKE).count()
    mf = os.path.join(_store(), "manifest.json")
    stale = json.load(open(mf))
    stale["algo"] = "something-older"
    json.dump(stale, open(mf, "w"))
    before = {tuple(r) for r in _adaptive_knn(spark, SF_SMOKE).collect()}
    # rebuild restored the current manifest
    assert json.load(open(mf))["algo"] != "something-older"
    assert before  # and still serves rows


def test_missing_graph_dir_rebuilds(spark):
    """Manifest intact but graph blob gone (the crash shape the
    ensure_index lesson covers) -> rebuild, never an empty serve."""
    _adaptive_knn(spark, SF_SMOKE).count()
    shutil.rmtree(_graph())
    rows = _adaptive_knn(spark, SF_SMOKE).count()
    assert rows > 0
    assert os.path.isdir(_graph())


def test_k_and_nprobe_key_separate_stores(spark):
    _adaptive_knn(spark, SF_SMOKE, k=5, nprobe=4).count()
    _adaptive_knn(spark, SF_SMOKE, k=20, nprobe=4).count()
    assert os.path.isdir(_store(k=5))
    assert os.path.isdir(_store(k=20))
    k5 = _adaptive_knn(spark, SF_SMOKE, k=5).groupBy("src_id").count()
    assert k5.agg(F.max("count")).collect()[0][0] <= 5
