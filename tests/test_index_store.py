"""Persisted ANN index (build-then-load, DiscoDB parity) + OOB job
side-channel + registry PRIORITY hygiene."""

from __future__ import annotations

import os

import pytest

from disco_spark import registry
from disco_spark.session import load_tables
from disco_spark.similarity.index_store import ensure_index
from disco_spark.testing import compare_query

from tests.conftest import SF_SMOKE
from tests.test_store import _backdate

registry.load_all()


def test_index_load_matches_fresh_trained(spark, tmp_path):
    """The load path must be BIT-identical to the fresh-trained path
    (same oracle serves both) — reference scheme_discodb build-then-load
    contract: querying the persisted index equals querying the builder."""
    fresh = {
        tuple(r)
        for r in registry.QUERIES["ann_ivfpq_topk"](spark, SF_SMOKE).collect()
    }
    loaded = {
        tuple(r)
        for r in registry.QUERIES["ann_index_load_topk"](spark, SF_SMOKE).collect()
    }
    assert fresh == loaded


def test_index_builds_once_then_serves(spark, tmp_path):
    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    assert ensure_index(e, path) is True  # cold: build runs
    assert ensure_index(e, path) is False  # warm: manifest match, no build


def test_index_stale_manifest_rebuilds(spark, tmp_path):
    import json
    import os

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ensure_index(e, path)
    mf = os.path.join(path, "manifest.json")
    with open(mf) as fh:
        m = json.load(fh)
    m["input_files"] = ["gone.parquet"]
    with open(mf, "w") as fh:
        json.dump(m, fh)
    assert ensure_index(e, path) is True  # corpus changed -> rebuild


def test_index_add_oracle(spark):
    compare_query(spark, "ann_index_add_topk", SF_SMOKE)


def test_index_add_serves_added_vectors(spark):
    """The delta half (odd vec_ids) must be searchable — a missed delta
    would still pass a base-only oracle if the oracle were wrong, so
    assert the property directly."""
    res = registry.QUERIES["ann_index_add_topk"](spark, SF_SMOKE).collect()
    assert any(r.neighbor_id % 2 == 1 for r in res)


def test_incremental_lsh_oracle(spark):
    compare_query(spark, "dedup_incremental_lsh", SF_SMOKE)


def test_signature_store_builds_once(spark, tmp_path):
    from disco_spark.dedup.incremental import ensure_signature_store
    from disco_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE)["documents"]
    path = str(tmp_path / "sig")
    assert ensure_signature_store(docs, path) is True
    assert ensure_signature_store(docs, path) is False


def test_rebuild_drops_stale_delta(spark, tmp_path):
    """A rebuilt index must not serve delta codes encoded under the OLD
    codebooks (code-review finding: rebuild orphaned codes_delta)."""
    import os

    from disco_spark import store
    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_load_all_codes,
        ann_index_save,
    )

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ann_index_save(e.filter("vec_id % 2 = 0"), path, subset="even")
    ann_index_add(e.filter("vec_id % 2 = 1"), path)
    assert os.path.isdir(os.path.join(path, "codes_delta"))
    ann_index_save(e.filter("vec_id % 2 = 0"), path, subset="even")
    assert "codes_delta" not in store.blobs(path)
    assert _ids(ann_index_load_all_codes(spark, path)) == _ids(
        e.filter("vec_id % 2 = 0")
    )
    _backdate(path)
    store.publish(path, lambda t: t)
    assert not os.path.isdir(os.path.join(path, "codes_delta"))


def test_index_add_two_batches_accumulate(spark, tmp_path):
    """A second add() batch must not drop the first batch's vectors
    (one codes_delta/batch=<id> directory per batch), while re-running
    the SAME batch_id stays idempotent."""
    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_load,
        ann_index_load_all_codes,
        ann_index_save,
    )

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ann_index_save(e.filter("vec_id % 3 = 0"), path, subset="mod3-0")
    _, _, books = ann_index_load(spark, path)
    ann_index_add(e.filter("vec_id % 3 = 1"), path, books=books, batch_id="b1")
    ann_index_add(e.filter("vec_id % 3 = 2"), path, books=books, batch_id="b2")
    want = {r.vec_id for r in e.select("vec_id").collect()}
    got = {
        r.vec_id
        for r in ann_index_load_all_codes(spark, path).select("vec_id").collect()
    }
    assert got == want
    ann_index_add(e.filter("vec_id % 3 = 2"), path, books=books, batch_id="b2")
    got_retry = {
        r.vec_id
        for r in ann_index_load_all_codes(spark, path).select("vec_id").collect()
    }
    assert got_retry == want


def test_store_manifests_record_algorithm_params(spark, tmp_path):
    """A changed algorithm parameter must invalidate a persisted store by
    itself — the manifest carries the actual params, not a hand-bumped
    version (ADVICE round 6)."""
    import json
    import os

    from disco_spark.dedup.incremental import ensure_signature_store

    docs = load_tables(spark, SF_SMOKE)["documents"]
    path = str(tmp_path / "sig")
    ensure_signature_store(docs, path)
    mf = os.path.join(path, "manifest.json")
    with open(mf) as fh:
        m = json.load(fh)
    assert m["params"]["n_hashes"] > 0 and m["params"]["shingle_k"] > 0
    m["params"]["n_hashes"] += 1  # simulate a store built under old params
    with open(mf, "w") as fh:
        json.dump(m, fh)
    assert ensure_signature_store(docs, path) is True  # params drift -> rebuild


def test_oob_shared_params_not_cross_wired(spark):
    """Two jobs sharing one Params bag must keep separate OOB channels
    (code-review finding: _attach_oob rebound oob_put on the shared
    object, sending job A's puts to job B's accumulator)."""
    from disco_spark.functions.library import Params
    from disco_spark.operators.classic import DiscoJob

    def put_a(entry, params):
        params.oob_put(f"a-{entry}", 1)
        yield str(entry), 1

    def put_b(entry, params):
        params.oob_put(f"b-{entry}", 1)
        yield str(entry), 1

    shared = Params(tag="shared")
    job_a = DiscoJob(map=put_a, oob=True, params=shared)
    job_b = DiscoJob(map=put_b, oob=True, params=shared)
    df = spark.createDataFrame([(1,), (2,)], "v bigint")
    dfa = job_a.run(df)
    dfb = job_b.run(df)  # runs AFTER job_a.run but BEFORE its action
    dfa.count()
    dfb.count()
    assert job_a.oob_list() == ["a-1", "a-2"]
    assert job_b.oob_list() == ["b-1", "b-2"]


def test_oob_sorted_reduce_oracle(spark):
    compare_query(spark, "classic_oob_sorted_reduce", SF_SMOKE)


def test_oob_put_get_list(spark):
    """job.oob_get/oob_list after an action — reference tests/test_oob.py
    test_large contract (all puts visible, keyed, values intact)."""
    from disco_spark.operators.classic import DiscoJob

    def put_map(entry, params):
        params.oob_put(f"k-{entry}", f"val:{entry}")
        yield str(entry), 1

    job = DiscoJob(map=put_map, oob=True, map_output="key string, value bigint")
    df = spark.createDataFrame([(i,) for i in range(10)], "v bigint")
    job.run(df).count()
    assert job.oob_list() == [f"k-{i}" for i in range(10)]
    assert job.oob_get("k-3") == "val:3"


def test_load_oob_cross_job(spark):
    """Reference tests/test_oob.py chain contract: job B consumes job
    A's OOB blobs after A completes (load_oob)."""
    from disco_spark.operators.classic import DiscoJob, load_oob

    def put_map(entry, params):
        params.oob_put(f"k-{entry}", entry * 10)
        yield str(entry), 1

    a = DiscoJob(map=put_map, oob=True, map_output="key string, value bigint")
    a.run(spark.createDataFrame([(1,), (2,)], "v bigint")).count()

    val = load_oob(a, "k-2")  # ships to job B via Params/broadcast

    def consume_map(entry, params):
        yield str(entry), int(params.seed)

    b = DiscoJob(
        map=consume_map,
        params=__import__("disco_spark.functions.library", fromlist=["Params"]).Params(seed=val),
        map_output="key string, value bigint",
    )
    rows = b.run(spark.createDataFrame([(7,)], "v bigint")).collect()
    assert rows[0].value == 20


def test_priority_rejects_duplicates_and_unknown():
    snap = list(registry.PRIORITY)
    try:
        registry.PRIORITY.append(registry.PRIORITY[0])
        with pytest.raises(AssertionError):
            registry.finalize_order()
        registry.PRIORITY[:] = snap + ["no_such_query_xyz"]
        with pytest.raises(AssertionError, match="no_such_query_xyz"):
            registry.finalize_order()
    finally:
        registry.PRIORITY[:] = snap
        registry.finalize_order()


def test_compact_preserves_serve_and_drops_layers(spark, tmp_path):
    """Compaction must be invisible to search: top-k from the layered
    store (base + delta - tombstones) equals top-k from the folded base,
    and the tag names no layer afterwards; their directories go once
    reclaimed."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from disco_spark import store
    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_compact,
        ann_index_delete,
        ann_index_load,
        ann_index_serveable_codes,
        ensure_index,
    )
    from disco_spark.similarity.pq import TOP_K, ivfpq_search

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ensure_index(e.filter(F.col("vec_id") % 2 == 0), path, subset="even")
    cents, _, books = ann_index_load(spark, path)
    ann_index_add(e.filter(F.col("vec_id") % 2 == 1), path, books=books)
    ann_index_delete(e.filter(F.col("vec_id") % 7 == 2).select("vec_id"), path)
    queries = [
        (r.vec_id, np.array(r.embedding))
        for r in e.filter(F.col("vec_id") < 3)
        .select("vec_id", "embedding")
        .collect()
    ]

    def serve(codes):
        return {
            tuple(r)
            for r in ivfpq_search(
                e, codes, queries, books, spark, k=TOP_K, nprobe=3,
                cents=cents,
            ).collect()
        }

    layered = serve(ann_index_serveable_codes(spark, path))
    ann_index_compact(spark, path)
    _, folded_codes, _ = ann_index_load(spark, path)
    assert serve(folded_codes) == layered
    assert not {"codes_delta", "tombstones"} & set(store.blobs(path))
    _backdate(path)
    store.publish(path, lambda t: t)
    assert not os.path.isdir(os.path.join(path, "codes_delta"))
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    # deleted ids are physically gone from the folded base
    assert (
        folded_codes.filter(F.col("vec_id") % 7 == 2).count() == 0
    )


def test_compact_topk_oracle(spark):
    compare_query(spark, "ann_index_compact_topk", SF_SMOKE)


def test_interrupted_compaction_is_not_folded_twice(spark, tmp_path, monkeypatch):
    """A compaction that dies publishing its tag must not leave folded
    codes beside the delta batches they absorbed: the rerun would add
    and fold the odd half a second time. After the crash and one rerun,
    every vec_id has exactly one code row and the oracle passes."""
    from disco_spark import store

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    replace = os.replace
    raised = []

    def replace_failing_compaction_once(src, dst):
        with open(src) as fh:
            compacting = '"compact/' in fh.read()
        if compacting and not raised:
            raised.append(True)
            raise OSError("injected")
        return replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_failing_compaction_once)
    compact_topk = registry.QUERIES["ann_index_compact_topk"]
    with pytest.raises(OSError, match="injected"):
        compact_topk(spark, SF_SMOKE)
    compact_topk(spark, SF_SMOKE).collect()
    path = store.store_path("ann_index", SF_SMOKE, "_compact")
    codes = spark.read.parquet(_blob(path, "codes"))
    assert codes.count() == codes.select("vec_id").distinct().count()
    compare_query(spark, "ann_index_compact_topk", SF_SMOKE)


def test_missing_codes_dir_triggers_rebuild(spark, tmp_path):
    """A manifest-matching store whose codes blob is GONE must not be
    served — ensure_index rebuilds it."""
    import shutil

    from pyspark.sql import functions as F

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    base = e.filter(F.col("vec_id") % 2 == 0)
    assert ensure_index(base, path, subset="even") is True
    assert ensure_index(base, path, subset="even") is False
    shutil.rmtree(_blob(path, "codes"))
    assert ensure_index(base, path, subset="even") is True
    assert os.path.isdir(_blob(path, "codes"))


def _blob(path, role):
    """The one blob the store's tag names for ``role``."""
    from disco_spark import store

    (name,) = store.blobs(path)[role]
    return os.path.join(path, name)


def _snapshot(path):
    """(manifest bytes, every file under ``path``): equal snapshots mean
    a store was left exactly as it was."""
    import os

    with open(os.path.join(path, "manifest.json"), "rb") as fh:
        manifest = fh.read()
    files = sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
    )
    return manifest, files


def _failing_write(frame):
    """`frame` with its first column raising when a job evaluates it: a
    write of it clears its target directory, then dies."""
    from pyspark.sql import functions as F

    c = frame.columns[0]
    return frame.withColumn(
        c, F.raise_error(F.lit("injected")).cast(frame.schema[c].dataType)
    )


def test_signature_store_missing_bands_triggers_rebuild(
    spark, tmp_path, monkeypatch
):
    """A manifest-matching signature store whose bands/ is gone must not
    be served: dedup_against_store would fail on the missing path."""
    import os
    import shutil

    from disco_spark import store
    from disco_spark.dedup import incremental

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    compare_query(spark, "dedup_incremental_lsh", SF_SMOKE)  # builds
    path = store.store_path("sig_store", SF_SMOKE, "_evencorpus")
    docs = load_tables(spark, SF_SMOKE)["documents"]
    corpus = docs.filter(docs.doc_id % 2 == 0)
    shutil.rmtree(_blob(path, "bands"))
    assert incremental.ensure_signature_store(corpus, path, "even") is True
    compare_query(spark, "dedup_incremental_lsh", SF_SMOKE)


def test_interrupted_signature_store_build_is_rebuilt(
    spark, tmp_path, monkeypatch
):
    """A rebuild that writes groups/ and dies while writing bands/ must
    leave the previous complete store exactly as it was, and no scratch
    beside it."""
    import os

    from disco_spark import store
    from disco_spark.dedup import incremental

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    compare_query(spark, "dedup_incremental_lsh", SF_SMOKE)  # builds
    path = store.store_path("sig_store", SF_SMOKE, "_evencorpus")
    docs = load_tables(spark, SF_SMOKE)["documents"]
    corpus = docs.filter(docs.doc_id % 2 == 0)
    bands = incremental.rep_band_keys
    monkeypatch.setattr(
        incremental, "rep_band_keys", lambda g: _failing_write(bands(g))
    )
    before = _snapshot(path)
    with pytest.raises(Exception, match="injected"):
        incremental.signature_store_save(corpus, path, "even")
    monkeypatch.setattr(incremental, "rep_band_keys", bands)
    assert _snapshot(path) == before
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
    assert incremental.ensure_signature_store(corpus, path, "even") is False
    compare_query(spark, "dedup_incremental_lsh", SF_SMOKE)


def test_interrupted_index_rebuild_is_rebuilt(spark, tmp_path, monkeypatch):
    """ensure_index's crash case, one step on: the codes blob is gone,
    and the rebuild ensure_index starts writes codes and dies while
    writing centroids. The store must stay exactly as it was — never
    new codes beside the old, still-matching tag — and the next
    ensure_index rebuilds it."""
    import os
    import shutil

    from disco_spark import store
    from disco_spark.similarity import index_store

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    compare_query(spark, "ann_index_load_topk", SF_SMOKE)  # builds
    path = store.store_path("ann_index", SF_SMOKE)
    e = load_tables(spark, SF_SMOKE)["embeddings"]
    codes = _blob(path, "codes")
    shutil.rmtree(codes)
    cents = index_store.ivf_centroids
    monkeypatch.setattr(
        index_store, "ivf_centroids", lambda x: _failing_write(cents(x))
    )
    before = _snapshot(path)
    with pytest.raises(Exception, match="injected"):
        ensure_index(e, path)
    monkeypatch.setattr(index_store, "ivf_centroids", cents)
    assert _snapshot(path) == before
    assert not os.path.isdir(codes)
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
    assert ensure_index(e, path) is True
    compare_query(spark, "ann_index_load_topk", SF_SMOKE)


def _ids(frame) -> set[int]:
    return {r.vec_id for r in frame.select("vec_id").collect()}


def _even_index(spark, path):
    """(embeddings, codebooks) of an index built on the even vec_ids."""
    from disco_spark.similarity.index_store import ann_index_load, ann_index_save

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    ann_index_save(e.filter("vec_id % 2 = 0"), path, subset="even")
    return e, ann_index_load(spark, path)[2]


def _fail_writes(monkeypatch, marker):
    """Make every parquet write whose target path holds ``marker`` clear
    its target and raise: what a ``mode("overwrite")`` write whose last
    stage fails leaves behind."""
    import shutil

    import pyspark.sql.readwriter as rw

    write = rw.DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        if marker in str(path):
            shutil.rmtree(path, ignore_errors=True)
            raise RuntimeError("injected")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", parquet)


def test_retried_add_whose_write_fails_keeps_first_attempt(
    spark, tmp_path, monkeypatch
):
    """A retried add batch whose write dies keeps the first attempt's
    vectors served: the retry writes a fresh blob, never the live one."""
    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_serveable_codes,
    )

    path = str(tmp_path / "idx")
    e, books = _even_index(spark, path)
    added = e.filter("vec_id % 2 = 1")
    ann_index_add(added, path, books=books, batch_id="b1")
    assert _ids(ann_index_serveable_codes(spark, path)) == _ids(e)
    with monkeypatch.context() as m:
        _fail_writes(m, "codes_delta")
        with pytest.raises(Exception, match="injected"):
            ann_index_add(added, path, books=books, batch_id="b1")
    assert _ids(ann_index_serveable_codes(spark, path)) == _ids(e)


def test_retried_delete_whose_write_fails_keeps_tombstones(
    spark, tmp_path, monkeypatch
):
    """A retried delete batch whose write dies keeps the first attempt's
    ids tombstoned."""
    from disco_spark.similarity.index_store import (
        ann_index_delete,
        ann_index_serveable_codes,
    )

    path = str(tmp_path / "idx")
    e, _ = _even_index(spark, path)
    dead = e.filter("vec_id % 4 = 2").select("vec_id")
    alive = _ids(e.filter("vec_id % 4 = 0"))
    ann_index_delete(dead, path, batch_id="d1")
    assert _ids(ann_index_serveable_codes(spark, path)) == alive
    with monkeypatch.context() as m:
        _fail_writes(m, "tombstones")
        with pytest.raises(Exception, match="injected"):
            ann_index_delete(dead, path, batch_id="d1")
    assert _ids(ann_index_serveable_codes(spark, path)) == alive


def test_add_published_during_compaction_is_served(spark, tmp_path, monkeypatch):
    """An add published after a compaction planned its read, and before
    the compaction publishes, is still served afterwards: the compaction
    drops only the batches it folded."""
    import pyspark.sql.readwriter as rw

    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_compact,
        ann_index_serveable_codes,
    )

    path = str(tmp_path / "idx")
    e, books = _even_index(spark, path)
    ann_index_add(e.filter("vec_id % 4 = 1"), path, books=books, batch_id="early")
    write = rw.DataFrameWriter.parquet
    late = []

    def parquet(self, target, *args, **kwargs):
        if not late:  # the compaction's own write: its read is planned
            late.append(target)
            ann_index_add(
                e.filter("vec_id % 4 = 3"), path, books=books, batch_id="late"
            )
        return write(self, target, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(rw.DataFrameWriter, "parquet", parquet)
        ann_index_compact(spark, path)
    assert late
    assert _ids(ann_index_serveable_codes(spark, path)) == _ids(e)


def test_rebuild_published_during_compaction_is_kept(spark, tmp_path, monkeypatch):
    """A rebuild published after a compaction wrote its folded codes,
    and before the compaction publishes, is what is served afterwards:
    codes folded under the old codebooks are not published over it."""
    from disco_spark import store
    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_compact,
        ann_index_save,
        ann_index_serveable_codes,
    )

    path = str(tmp_path / "idx")
    e, books = _even_index(spark, path)
    ann_index_add(e.filter("vec_id % 4 = 1"), path, books=books)
    publish = store.publish
    rebuilt = []

    def rebuild_first(*args, **kwargs):
        if not rebuilt:  # the compaction's publish
            rebuilt.append(True)
            ann_index_save(e, path)
        return publish(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(store, "publish", rebuild_first)
        ann_index_compact(spark, path)
    assert rebuilt
    assert sorted(store.blobs(path)) == ["centroids", "codebooks", "codes"]
    assert _ids(ann_index_serveable_codes(spark, path)) == _ids(e)


def test_concurrent_adds_are_both_served(spark, tmp_path):
    """Two threads adding different batches to one index at once: both
    batches are served."""
    import threading

    from disco_spark.similarity.index_store import (
        ann_index_add,
        ann_index_serveable_codes,
    )

    path = str(tmp_path / "idx")
    e, books = _even_index(spark, path)
    errors = []

    def add(where, batch):
        try:
            ann_index_add(e.filter(where), path, books=books, batch_id=batch)
        except BaseException as exc:  # pragma: no cover - reported below
            errors.append(exc)

    threads = [
        threading.Thread(target=add, args=("vec_id % 4 = 1", "a")),
        threading.Thread(target=add, args=("vec_id % 4 = 3", "b")),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    assert not errors
    assert _ids(ann_index_serveable_codes(spark, path)) == _ids(e)
