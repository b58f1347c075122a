"""Persisted ANN index: build once, load and serve top-k WITHOUT
retraining — the modern parity for DiscoDB's build-then-load contract
(reference lib/disco/schemes/scheme_discodb.py:5-28 mmaps a previously
constructed index file and queries it; the builder is a separate job).

The index is three parquet tables under one directory:

    centroids/  (label, centroid array<double>)   — IVF coarse quantizer
    codes/      (vec_id, codes array<int>, label)  — 16-byte PQ codes
    codebooks/  (subspace, code, centroid array<double>) — PQ codebooks

plus a ``manifest.json`` recording the input files and training params,
so a changed corpus invalidates the index instead of silently serving
stale cells.

Scale story: at 100 TB the build pass (train + encode + centroid agg)
runs once; every subsequent query reads ONLY the probed cells' codes
(label-partitioned parquet -> partition-pruned scan) plus the raw
vectors of the O(queries x shortlist) rerank rows. Serving never touches
the training path — exactly how a FAISS index file or DiscoDB is used.
Training is deterministic (bounded lowest-vec_id sample, fixed init), so
the load path is bit-identical to the fresh-trained path and shares its
oracle (ann.IVF_ORACLE).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark import store
from disco_spark.registry import query
from disco_spark.session import file_fingerprints, load_tables
from disco_spark.similarity.ann import IVF_ORACLE, TOP_K, ivf_centroids, ivf_oracle_sql
from disco_spark.similarity.pq import (
    K_SUB,
    M_SUBSPACES,
    PQ_ITERS,
    PQ_SAMPLE_CAP,
    ivfpq_search,
    pq_encode,
    pq_train,
    probe_queries,
)


def _manifest(e: DataFrame, subset: str = "all") -> dict:
    return {
        # staleness fingerprints are shared with every other persisted
        # store and training cache — see session.file_fingerprints
        "input_files": file_fingerprints(e.inputFiles()),
        # the filter convention of a partial-corpus index (inputFiles
        # alone can't distinguish a filtered view of the same files)
        "subset": subset,
        # pq_train's codebook shape
        "m": M_SUBSPACES,
        "ksub": K_SUB,
        # the ACTUAL training algorithm parameters, not a hand-bumped
        # version: a changed iteration count / sample cap / init scheme
        # must invalidate the persisted index by itself (a manual bump
        # only works if someone remembers to make it)
        "params": {
            "pq_iters": PQ_ITERS,
            "pq_sample_cap": PQ_SAMPLE_CAP,
            "pq_init": "spread-v2",  # evenly spaced sample rows, pq_train
            "ivf_centroid": "decimal-mean-v2",  # ivf_centroids arithmetic
        },
        # bump only for changes the params above can't express (v2:
        # decimal-mean centroids + rounded probe keys; v3: stat
        # fingerprints+subset; v4: mtime_ns + explicit params)
        "version": 4,
    }


def _write_index(e: DataFrame, path: str) -> None:
    """Write the three index tables under ``path``. One distributed
    encode pass + one centroid agg; codebook training is the bounded
    driver-side sample pass (pq_train docstring)."""
    spark = e.sparkSession
    books = pq_train(e)
    m, ksub, _ = books.shape
    codes = pq_encode(e, books).join(e.select("vec_id", "label"), "vec_id")
    cents = ivf_centroids(e)
    # label-partitioned codes: at scale a probe prunes to nprobe
    # directories instead of scanning every code file.
    codes.write.partitionBy("label").mode("overwrite").parquet(
        os.path.join(path, "codes")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    book_rows = [
        (int(j), int(c), [float(x) for x in books[j, c]])
        for j in range(m)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        book_rows, "subspace int, code int, centroid array<double>"
    ).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))


def ann_index_save(e: DataFrame, path: str, subset: str = "all") -> None:
    """Build the full IVF-PQ index from (vec_id, embedding, label) rows
    and swap it in at ``path`` whole (store.build). A rebuild drops any
    delta batches — their codes were assigned under the OLD codebooks
    and would ADC-score as garbage against the new LUTs — and any
    tombstones: the rebuilt corpus IS the truth, and stale tombstones
    would delete re-ingested vectors."""
    store.build(path, _manifest(e, subset), lambda d: _write_index(e, d))


def ann_index_load(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """Load a persisted index -> (centroids_df, codes_df, codebooks).

    Codebook doubles roundtrip parquet exactly (IEEE 754 binary), so
    ADC scores from a loaded index are bit-identical to fresh ones."""
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    codes = spark.read.parquet(os.path.join(path, "codes")).select(
        "vec_id", "codes", F.col("label").cast("int").alias("label")
    )
    rows = (
        spark.read.parquet(os.path.join(path, "codebooks"))
        .orderBy("subspace", "code")
        .collect()  # bounded: m*ksub rows (16*64 = 1024), a few KB
    )
    m = 1 + max(r.subspace for r in rows)
    ksub = 1 + max(r.code for r in rows)
    dsub = len(rows[0].centroid)
    books = np.empty((m, ksub, dsub))
    for r in rows:
        books[r.subspace, r.code] = r.centroid
    return cents, codes, books


def ensure_index(e: DataFrame, path: str, subset: str = "all") -> bool:
    """Build the index at ``path`` unless a manifest-matching one exists.
    Returns True when a build ran (test hook)."""
    return store.ensure(
        path, _manifest(e, subset), ("codes",), lambda d: _write_index(e, d)
    )


def ann_index_add(
    e_new: DataFrame, path: str, books=None, batch_id: str = "0"
) -> None:
    """Incremental add (FAISS ``index.add()`` parity): encode NEW
    vectors with the index's persisted codebooks — no retraining, no
    touch of existing codes — and write ONE delta directory per
    ``batch_id`` (codes_delta/batch=<id>). Distinct batches accumulate;
    re-running the SAME batch_id overwrites only its own directory, so
    the operation stays idempotent under task/ingest retries without a
    second batch ever clobbering the first's vectors.

    At 100 TB this is the only way new data enters an ANN index:
    re-training on every ingest would re-read the corpus. The trade,
    exactly as in FAISS/IVF practice: centroids and codebooks drift
    from the true distribution as the corpus grows; the operator's
    contract is 'cells chosen by the BASE quantizer', and a periodic
    full rebuild (ann_index_save) re-centers it."""
    if books is None:
        _, _, books = ann_index_load(e_new.sparkSession, path)
    new_codes = pq_encode(e_new, books).join(
        e_new.select("vec_id", "label"), "vec_id"
    )
    new_codes.write.partitionBy("label").mode("overwrite").parquet(
        os.path.join(path, "codes_delta", f"batch={batch_id}")
    )


def ann_index_load_all_codes(spark: SparkSession, path: str) -> DataFrame:
    """Base codes plus EVERY delta batch added after the build: reading
    the codes_delta root discovers batch=<id>/label=<l> partitions, so
    the union covers all batches (the pre-fix shape dropped batch N-1
    when batch N landed)."""
    base = spark.read.parquet(os.path.join(path, "codes"))
    delta_dir = os.path.join(path, "codes_delta")
    if os.path.isdir(delta_dir) and any(os.scandir(delta_dir)):
        delta = spark.read.parquet(delta_dir).select("vec_id", "codes", "label")
        base = base.select("vec_id", "codes", "label").unionByName(delta)
    return base.select(
        "vec_id", "codes", F.col("label").cast("int").alias("label")
    )


def ann_index_delete(
    ids: DataFrame, path: str, batch_id: str = "0"
) -> None:
    """Logical delete (FAISS ``remove_ids`` / Lucene tombstone parity):
    record the vec_ids in a tombstone partition under the index; codes
    are NOT rewritten. The serve path anti-joins tombstones out of the
    ADC scan; a full rebuild (ann_index_save) compacts them away.

    Same per-batch layout as ann_index_add: distinct delete batches
    accumulate, re-running one batch_id overwrites only itself. At
    100 TB rewriting label-partitioned code files per delete would be a
    full-index write; tombstones make delete O(|deleted|)."""
    ids.select(F.col("vec_id").cast("bigint")).distinct().write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "tombstones", f"batch={batch_id}"))


def ann_index_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    tomb_dir = os.path.join(path, "tombstones")
    if os.path.isdir(tomb_dir) and any(os.scandir(tomb_dir)):
        return spark.read.parquet(tomb_dir).select("vec_id")
    return None


def ann_index_serveable_codes(spark: SparkSession, path: str) -> DataFrame:
    """Codes visible to search: base + every add batch, minus every
    tombstoned vec_id. The anti-join broadcasts when the tombstone set
    is small (the usual case); AQE handles the rest."""
    codes = ann_index_load_all_codes(spark, path)
    tomb = ann_index_tombstones(spark, path)
    if tomb is not None:
        codes = codes.join(tomb, "vec_id", "left_anti")
    return codes


def _serve_topk(
    e: DataFrame, codes: DataFrame, books: np.ndarray, cents: DataFrame
) -> DataFrame:
    """IVF-PQ top-k of the probe queries over ``codes``: the serve step
    every persisted-index query ends with."""
    return ivfpq_search(
        e, codes, probe_queries(e), books, e.sparkSession, k=TOP_K,
        nprobe=3, cents=cents,
    )


@query("ann_index_load_topk", oracle=IVF_ORACLE)
def ann_index_load_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve IVF-PQ top-k from the PERSISTED index: no training in the
    serve path. First call per dataset builds the index on disk (the
    "build job"); every later call loads centroids/codes/codebooks and
    goes straight to probe -> ADC -> rerank. Deterministic training
    makes this bit-identical to ann_ivfpq_topk, so IVF_ORACLE gates
    both (similarity/ann.py) — a divergence between the fresh and loaded
    paths surfaces as a hash mismatch here."""
    e = load_tables(spark, sf_dir)["embeddings"]
    path = store.store_path("ann_index", sf_dir)
    ensure_index(e, path)
    cents, codes, books = ann_index_load(spark, path)
    return _serve_topk(e, codes, books, cents)


@query(
    "streaming_index_add",
    # same contract as ann_index_add_topk: coarse quantizer trained on
    # the even base, every odd vector serveable — HOW the odd half
    # arrived (N micro-batches vs one batch) must be invisible
    oracle=ivf_oracle_sql(base_where="vec_id % 2 = 0"),
)
def streaming_index_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the persisted ANN index: the odd-vec_id
    half arrives as a real Structured Streaming source (3 files,
    maxFilesPerTrigger=1 -> 3 micro-batches), and each micro-batch's
    foreachBatch encodes it with the PERSISTED codebooks into its own
    codes_delta/batch=<id> directory — the per-batch layout the round-6
    ADVICE fix introduced, exercised here with real multi-batch
    accumulation (batch N must not clobber batch N-1). Serve is the
    ordinary load path over base + all deltas; retried micro-batches
    are idempotent because a batch id overwrites only itself.

    At 100 TB this is the standing shape of index maintenance: a
    crawler appends embedding files, the stream encodes ONLY new
    arrivals (never re-reading the corpus), and a periodic rebuild
    re-centers the quantizer."""
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 2 == 0)
    path = store.store_path("ann_index", sf_dir, "_evenbase_stream")
    ensure_index(base, path, subset="even")
    cents, _, books = ann_index_load(spark, path)

    with tempfile.TemporaryDirectory(
        prefix="ann_stream_src_", ignore_cleanup_errors=True
    ) as stage:
        e.filter(F.col("vec_id") % 2 == 1).repartition(3).write.mode(
            "overwrite"
        ).parquet(stage)
        schema = spark.read.parquet(stage).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
        )

        def add_batch(batch_df: DataFrame, batch_id: int) -> None:
            ann_index_add(batch_df, path, books=books, batch_id=str(batch_id))

        q = (
            stream.writeStream.foreachBatch(add_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    codes = ann_index_load_all_codes(spark, path)
    return _serve_topk(e, codes, books, cents)


@query(
    "ann_index_delete_topk",
    oracle=ivf_oracle_sql(neighbor_where="e.vec_id % 5 <> 3"),
)
def ann_index_delete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-k AFTER a logical delete (vec_id % 5 = 3 tombstoned)
    from the SHARED persisted index — centroids/codebooks unchanged
    (deletes never retrain, exactly FAISS remove_ids), deleted vectors
    excluded from ADC scoring and rerank. The oracle replays full-corpus
    training with the deleted ids filtered from the serveable set, so a
    leak of a tombstoned neighbor OR an accidental retrain both surface
    as value mismatches. Tombstones live in their own subdirectory, so
    ann_index_load_topk's view of the same index is untouched."""
    e = load_tables(spark, sf_dir)["embeddings"]
    path = store.store_path("ann_index", sf_dir)
    ensure_index(e, path)
    cents, _, books = ann_index_load(spark, path)
    ann_index_delete(
        e.filter(F.col("vec_id") % 5 == 3).select("vec_id"), path
    )
    codes = ann_index_serveable_codes(spark, path)
    return _serve_topk(e, codes, books, cents)


@query(
    "ann_index_add_topk",
    oracle=ivf_oracle_sql(base_where="vec_id % 2 = 0"),
)
def ann_index_add_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the index on HALF the corpus (even vec_ids), incrementally
    add the other half with the persisted codebooks (ann_index_add —
    no retraining), then serve top-k over the full corpus. The oracle
    replays exactly that: coarse centroids from the even base only,
    exact rerank over every vector in the probed cells — so a bug in
    the add path (wrong codebooks, missed delta, re-trained centroids)
    shows up as a value mismatch."""
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 2 == 0)
    added = e.filter(F.col("vec_id") % 2 == 1)
    path = store.store_path("ann_index", sf_dir, "_evenbase")
    ensure_index(base, path, subset="even")
    # one load serves the whole call: books feed the delta encode, cents
    # the probe ranking; only the code table is re-read (with the delta)
    cents, _, books = ann_index_load(spark, path)
    ann_index_add(added, path, books=books)
    codes = ann_index_load_all_codes(spark, path)
    return _serve_topk(e, codes, books, cents)


def ann_index_compact(spark: SparkSession, path: str) -> None:
    """Compact the index's LSM-style layers: fold every codes_delta
    batch into the base code table and apply (then drop) every
    tombstone — WITHOUT touching centroids or codebooks, so post-
    compaction ADC scores are bit-identical to the layered serve path
    (this is Lucene segment merging / FAISS index rewrite, NOT a
    rebuild: ann_index_save retrains and re-centers, compaction only
    re-layouts). Run it when delta-batch count makes the probe-side
    union fan out over too many small files, or when the tombstone
    anti-join stops being broadcast-sized.

    Cost at 100 TB: one read of the serveable codes + one label-
    partitioned write — code rows only (a few bytes/vector), embeddings
    are never touched; centroids and codebooks are copied as files.
    The manifest is copied as built (compaction is invisible to
    ensure_index, exactly like add/delete); a marker file records that
    layers were folded. The compacted store is written whole beside the
    old one and swapped in (store.swap), so a crash at any step leaves
    the old layered store or the new folded one — never folded codes
    beside the delta batches and tombstones they already absorbed."""
    codes = ann_index_serveable_codes(spark, path)

    def write(d: str) -> None:
        codes.write.partitionBy("label").mode("overwrite").parquet(
            os.path.join(d, "codes")
        )
        for name in ("centroids", "codebooks"):
            shutil.copytree(os.path.join(path, name), os.path.join(d, name))
        shutil.copy2(os.path.join(path, "manifest.json"), d)
        with open(os.path.join(d, "compacted.json"), "w") as fh:
            json.dump({"compacted": True}, fh)

    store.swap(path, write)


@query(
    "ann_index_compact_topk",
    # centroids trained on the even base (add path), vec_id % 7 = 2
    # tombstoned (delete path), everything folded into the base by the
    # compaction — the oracle replays the logical state the folded
    # index must serve
    oracle=ivf_oracle_sql(
        base_where="vec_id % 2 = 0", neighbor_where="e.vec_id % 7 <> 2"
    ),
)
def ann_index_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full index lifecycle, then serve from the COMPACTED store:
    build on the even half, incrementally add the odd half, tombstone
    vec_id % 7 = 2, compact (deltas + tombstones fold into the base,
    codebooks frozen), and answer top-k from the folded base alone.
    The oracle replays the logical state, so a compaction bug —
    dropped delta batch, resurrected tombstone, accidental retrain —
    surfaces as a value mismatch. On a warm store (compacted marker
    present) the layers are already folded and the query serves
    directly; the pytest proves pre/post-compaction serve equality and
    that the layer directories are gone."""
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.filter(F.col("vec_id") % 2 == 0)
    path = store.store_path("ann_index", sf_dir, "_compact")
    ensure_index(base, path, subset="even-compact")
    # a (re)build swaps in a store without the marker
    if not os.path.exists(os.path.join(path, "compacted.json")):
        cents, _, books = ann_index_load(spark, path)
        ann_index_add(e.filter(F.col("vec_id") % 2 == 1), path, books=books)
        ann_index_delete(
            e.filter(F.col("vec_id") % 7 == 2).select("vec_id"), path
        )
        ann_index_compact(spark, path)
    cents, codes, books = ann_index_load(spark, path)
    return _serve_topk(e, codes, books, cents)
