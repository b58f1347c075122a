"""Persisted ANN index (build-then-load, DiscoDB parity) + OOB job
side-channel + registry PRIORITY hygiene."""

from __future__ import annotations

import pytest

from disco_spark import registry
from disco_spark.session import load_tables
from disco_spark.similarity.index_store import ensure_index
from disco_spark.testing import compare_query

from tests.conftest import SF_SMOKE

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

    from disco_spark.similarity.index_store import ann_index_add, ann_index_save

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ann_index_save(e.filter("vec_id % 2 = 0"), path, subset="even")
    ann_index_add(e.filter("vec_id % 2 = 1"), path)
    assert os.path.isdir(os.path.join(path, "codes_delta"))
    ann_index_save(e.filter("vec_id % 2 = 0"), path, subset="even")
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
    and the layer directories are gone afterwards."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

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
    assert not os.path.isdir(os.path.join(path, "codes_delta"))
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    # deleted ids are physically gone from the folded base
    assert (
        folded_codes.filter(F.col("vec_id") % 7 == 2).count() == 0
    )


def test_compact_topk_oracle(spark):
    compare_query(spark, "ann_index_compact_topk", SF_SMOKE)


def test_interrupted_compaction_is_not_folded_twice(spark, tmp_path, monkeypatch):
    """A compaction that dies writing its compacted.json marker must not
    leave folded codes beside the delta batches they absorbed: the rerun
    would add and fold the odd half a second time. After the crash and
    one rerun, every vec_id has exactly one code row and the oracle
    passes."""
    import builtins
    import os

    from disco_spark import store
    from disco_spark.similarity import index_store

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    raised = []

    def open_failing_marker_once(file, *args, **kwargs):
        if str(file).endswith("compacted.json") and not raised:
            raised.append(True)
            raise OSError("injected")
        return builtins.open(file, *args, **kwargs)

    # index_store's own `open` (the builtin otherwise) writes the marker
    monkeypatch.setattr(index_store, "open", open_failing_marker_once, raising=False)
    compact_topk = registry.QUERIES["ann_index_compact_topk"]
    with pytest.raises(OSError, match="injected"):
        compact_topk(spark, SF_SMOKE)
    compact_topk(spark, SF_SMOKE).collect()
    path = store.store_path("ann_index", SF_SMOKE, "_compact")
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert codes.count() == codes.select("vec_id").distinct().count()
    compare_query(spark, "ann_index_compact_topk", SF_SMOKE)


def test_missing_codes_dir_triggers_rebuild(spark, tmp_path):
    """A manifest-matching store whose codes dir is GONE (the state a
    crash mid-compaction can leave: manifest intact, codes swapped out
    but not yet in) must not be served — ensure_index rebuilds it."""
    import os
    import shutil

    from pyspark.sql import functions as F

    e = load_tables(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    base = e.filter(F.col("vec_id") % 2 == 0)
    assert ensure_index(base, path, subset="even") is True
    assert ensure_index(base, path, subset="even") is False
    shutil.rmtree(os.path.join(path, "codes"))
    assert ensure_index(base, path, subset="even") is True
    assert os.path.isdir(os.path.join(path, "codes"))


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
    shutil.rmtree(os.path.join(path, "bands"))
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
    """ensure_index's crash case, one step on: a compaction crash leaves
    no codes/, the rebuild ensure_index starts writes codes/ and dies
    while writing centroids/. The store must stay exactly as the crash
    left it — never codes/ beside the old, still-matching manifest —
    and the next ensure_index rebuilds it."""
    import os
    import shutil

    from disco_spark import store
    from disco_spark.similarity import index_store

    monkeypatch.setattr(store, "ROOT", str(tmp_path))
    compare_query(spark, "ann_index_load_topk", SF_SMOKE)  # builds
    path = store.store_path("ann_index", SF_SMOKE)
    e = load_tables(spark, SF_SMOKE)["embeddings"]
    shutil.rmtree(os.path.join(path, "codes"))
    cents = index_store.ivf_centroids
    monkeypatch.setattr(
        index_store, "ivf_centroids", lambda x: _failing_write(cents(x))
    )
    before = _snapshot(path)
    with pytest.raises(Exception, match="injected"):
        ensure_index(e, path)
    monkeypatch.setattr(index_store, "ivf_centroids", cents)
    assert _snapshot(path) == before
    assert not os.path.isdir(os.path.join(path, "codes"))
    assert os.listdir(os.path.dirname(path)) == [os.path.basename(path)]
    assert ensure_index(e, path) is True
    compare_query(spark, "ann_index_load_topk", SF_SMOKE)
