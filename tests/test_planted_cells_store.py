"""Persisted planted-corpus quantizer store (similarity/ann.py
planted_cells_store): the r13 audit trained its cells in-query on every
call; the store moves that one-time sqrt(n)-center training behind the
same manifest discipline as the ANN index / k-NN graph stores, keyed by
the embeddings files the planted corpus derives from. The recall oracle
is untouched — warm must be bit-identical to fresh."""

from __future__ import annotations

import json
import os
import shutil

from disco_spark import registry
from disco_spark.session import load_tables, lazy_persist
from disco_spark.similarity.ann import (
    _planted_vectors,
    adaptive_cells,
    planted_cells_store,
)
from disco_spark.store import store_path

from tests.conftest import SF_SMOKE


def _store() -> str:
    return store_path("planted_cells", SF_SMOKE)


def _planted(spark):
    ids = load_tables(spark, SF_SMOKE)["embeddings"].select("vec_id")
    return lazy_persist(_planted_vectors(ids))


def test_warm_serve_equals_fresh_train(spark):
    """Wipe, train+persist, re-serve: identical (vec_id, label) rows
    (integer labels roundtrip parquet exactly; adaptive_cells is
    deterministic), manifest written last."""
    shutil.rmtree(_store(), ignore_errors=True)
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    p = _planted(spark)
    fresh = {
        tuple(r) for r in planted_cells_store(spark, SF_SMOKE, p, emb).collect()
    }
    assert os.path.isfile(os.path.join(_store(), "manifest.json"))
    warm = {
        tuple(r) for r in planted_cells_store(spark, SF_SMOKE, p, emb).collect()
    }
    assert warm == fresh
    # and both match a from-scratch training pass on the same corpus
    direct = {tuple(r) for r in adaptive_cells(p).collect()}
    assert warm == direct


def test_stale_manifest_retrains(spark):
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    p = _planted(spark)
    planted_cells_store(spark, SF_SMOKE, p, emb).count()
    mf = os.path.join(_store(), "manifest.json")
    stale = json.load(open(mf))
    stale["algo"] = "something-older"
    json.dump(stale, open(mf, "w"))
    planted_cells_store(spark, SF_SMOKE, p, emb).count()
    assert json.load(open(mf))["algo"] == "adaptive-sqrt-cells-lloyd1-v1"


def test_manifest_without_cells_dir_retrains(spark):
    """The ensure_index lesson: a matching manifest alone is not a
    serveable store — cells/ missing must force a rebuild, not a read
    of a nonexistent path."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    p = _planted(spark)
    planted_cells_store(spark, SF_SMOKE, p, emb).count()
    shutil.rmtree(os.path.join(_store(), "cells"))
    got = planted_cells_store(spark, SF_SMOKE, p, emb)
    assert got.count() == emb.count()
    assert os.path.isdir(os.path.join(_store(), "cells"))


def test_audit_query_runs_warm_and_cold(spark):
    """The registered audit query works on both store states and its
    result is state-independent (the oracle-gated contract)."""
    shutil.rmtree(_store(), ignore_errors=True)
    cold = {
        tuple(r)
        for r in registry.QUERIES["ann_recall_audit_planted"](
            spark, SF_SMOKE
        ).collect()
    }
    warm = {
        tuple(r)
        for r in registry.QUERIES["ann_recall_audit_planted"](
            spark, SF_SMOKE
        ).collect()
    }
    assert warm == cold


def test_interrupted_rebuild_never_stamps_manifest(spark):
    """Crash-safety (r14 review finding): the rebuild is written beside
    the store and swapped in whole (store.ensure), so a build that dies
    mid-parquet-write leaves NO manifest update — the old 'write into
    cells/ under a possibly matching manifest' path could leave a
    matching manifest next to a partial cells dir and silently serve
    it."""
    emb = load_tables(spark, SF_SMOKE)["embeddings"]
    p = _planted(spark)
    planted_cells_store(spark, SF_SMOKE, p, emb).count()
    mf = os.path.join(_store(), "manifest.json")
    stale = json.load(open(mf))
    stale["algo"] = "something-older"
    json.dump(stale, open(mf, "w"))

    class Boom(RuntimeError):
        pass

    # the build side only touches the cells via DataFrame.write; abort
    # there and the store must keep the (stale) manifest untouched so
    # the next call retrains instead of serving whatever half-state
    # the dead writer left in its scratch dir
    import pyspark.sql.readwriter as rw

    orig = rw.DataFrameWriter.parquet
    try:
        def boom(self, path, *a, **kw):
            raise Boom(path)

        rw.DataFrameWriter.parquet = boom
        try:
            planted_cells_store(spark, SF_SMOKE, p, emb)
            raise AssertionError("expected the aborted build to raise")
        except Boom:
            pass
    finally:
        rw.DataFrameWriter.parquet = orig
    assert json.load(open(mf))["algo"] == "something-older"
    # and the un-aborted retry heals the store
    planted_cells_store(spark, SF_SMOKE, p, emb).count()
    assert json.load(open(mf))["algo"] == "adaptive-sqrt-cells-lloyd1-v1"
