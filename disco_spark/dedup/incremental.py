"""Incremental dedup against a PERSISTED corpus signature store — the
shape a real crawl-ingest pipeline runs: the existing corpus's MinHash
band keys are written once (a few bytes per doc), and every incoming
batch deduplicates against the STORE, never re-reading or re-shingling
the corpus text.

Reference parity: DiscoDB's build-then-query contract applied to dedup
(build an index job once, later jobs query it —
lib/disco/schemes/scheme_discodb.py:5-28); the band store here is the
LSH analog of those persisted indices.

Scale story: at 100 TB corpus / 1 TB daily ingest, re-running full-
corpus LSH per batch is a 100x overread. With the store, a batch costs
shingle+sign the BATCH only, then one equi-join on (band_idx, band_key)
against a bucketed band table — corpus text is never touched. The store
is written bucketed-by-band_key at real scale so the probe join is
co-located (here: plain parquet, same plan shape).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.dedup.dedup import (
    BAND_CAP,
    BAND_SIZE,
    N_HASHES,
    SHINGLE_K,
    _SHINGLES_SQL,
    _bands_sql,
    minhash_from_toks,
    rep_band_keys,
    signature_groups,
)
from disco_spark import store
from disco_spark.registry import query
from disco_spark.session import file_fingerprints, lazy_persist, load_tables
from disco_spark.textops.analysis import with_toks


def _store_manifest(docs: DataFrame, subset: str) -> dict:
    # (path, size, mtime_ns) fingerprints + the filter convention, same
    # staleness contract as index_store._manifest: an in-place rewrite
    # or a changed corpus filter must invalidate the store
    return {
        "input_files": file_fingerprints(docs.inputFiles()),
        "subset": subset,
        # the ACTUAL LSH parameters: stored band keys are only
        # comparable to a probe computed with identical hashing, so a
        # change to any of these must invalidate the store by itself
        # (not rely on someone remembering to bump "version")
        "params": {
            "n_hashes": N_HASHES,
            "band_size": BAND_SIZE,
            "shingle_k": SHINGLE_K,
            "band_cap": BAND_CAP,
            "hash_family": "md5-salted",  # minhash_from_toks
        },
        "version": 4,  # v4: signature-grouped reps + BAND_CAP bucket cap
    }


def _write_signatures(docs: DataFrame, path: str) -> None:
    """The corpus's LSH state in the capped-rep shape band_candidates()
    uses: `bands` = per-bucket-capped band keys of the signature-group
    REPRESENTATIVES, and `groups` = the (doc_id, rep) map that
    re-expands a rep collision to every member of its exact-signature
    group. One shingle+minhash pass over the corpus, then only these
    ~100-byte rows live on; text is not stored. The cap is computed
    over the corpus alone — the store is built before any batch
    exists, so the chain cannot depend on what arrives later (the
    oracle replays exactly this per-side cap)."""
    grouped = signature_groups(
        minhash_from_toks(with_toks(docs))
    ).persist()
    grouped.select("doc_id", "rep").write.mode("overwrite").parquet(
        os.path.join(path, "groups")
    )
    rep_band_keys(grouped).write.mode("overwrite").parquet(
        os.path.join(path, "bands")
    )
    grouped.unpersist()


def signature_store_save(docs: DataFrame, path: str, subset: str = "all") -> None:
    """Build the corpus's signature store and publish it at ``path``
    whole (store.build)."""
    store.build(
        path, _store_manifest(docs, subset), lambda d: _write_signatures(docs, d)
    )


def ensure_signature_store(
    docs: DataFrame, path: str, subset: str = "all"
) -> bool:
    """Build the store unless a manifest-matching one with both tables
    exists. Returns True when a build ran (test hook)."""
    return store.ensure(
        path, _store_manifest(docs, subset), lambda d: _write_signatures(docs, d)
    )


def dedup_against_store(
    incoming: DataFrame, spark: SparkSession, path: str
) -> DataFrame:
    """(incoming_doc, corpus_doc) candidate near-dup pairs: the incoming
    batch's capped rep band keys equi-joined against the persisted
    store, then rep hits expanded to group members through both sides'
    (doc_id, rep) maps. Only the batch is shingled; the corpus side is
    a scan of the band table. The rep join is bounded per bucket
    (≤BAND_CAP a side); the expansions are linear equi-joins — exact,
    because identical signatures collide on identical band keys."""
    b = store.blobs(path)
    store_bands = store.read(spark, path, b["bands"]).select(
        F.col("doc_id").alias("c_rep"), "band_idx", "band_key"
    )
    store_groups = store.read(spark, path, b["groups"]).select(
        F.col("doc_id").alias("corpus_doc"), F.col("rep").alias("c_rep")
    )
    in_grouped = lazy_persist(
        signature_groups(minhash_from_toks(with_toks(incoming)))
    )
    in_bands = rep_band_keys(in_grouped).select(
        F.col("doc_id").alias("i_rep"), "band_idx", "band_key"
    )
    in_groups = in_grouped.select(
        F.col("doc_id").alias("incoming_doc"), F.col("rep").alias("i_rep")
    )
    hits = (
        in_bands.join(store_bands, ["band_idx", "band_key"])
        .select("i_rep", "c_rep")
        .distinct()
    )
    return (
        hits.join(in_groups, "i_rep")
        .join(store_groups, "c_rep")
        .select("incoming_doc", "corpus_doc")
        .distinct()
    )


@query(
    "dedup_incremental_lsh",
    # the store is an implementation detail — results must equal a
    # two-sided replay of the SAME grouped+capped band chain, one chain
    # per side (the corpus chain is built before the batch exists, so
    # grouping and the BAND_CAP cut are per-side by construction), with
    # rep collisions expanded to group members through each side's
    # (doc_id, rep) map
    oracle=f"""
    WITH {_SHINGLES_SQL},
    {_bands_sql(prefix="c_", where="doc_id % 2 = 0")},
    {_bands_sql(prefix="i_", where="doc_id % 2 = 1")},
    hits AS (
      SELECT DISTINCT i.doc_id AS i_rep, c.doc_id AS c_rep
      FROM i_bands i JOIN c_bands c
        ON i.band_idx = c.band_idx AND i.band_key = c.band_key
    )
    SELECT DISTINCT gi.doc_id AS incoming_doc, gc.doc_id AS corpus_doc
    FROM hits
    JOIN i_grp gi ON gi.rep = hits.i_rep
    JOIN c_grp gc ON gc.rep = hits.c_rep
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even doc_ids play the existing corpus (signature store persisted
    on first call), odd doc_ids play the incoming batch; emit incoming
    docs that LSH-collide with a corpus doc. The oracle proves store
    round-tripping is lossless: a two-sided replay of the grouped+capped
    band chain, expanded through both rep maps, must match exactly."""
    docs = load_tables(spark, sf_dir)["documents"]
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    path = store.store_path("sig_store", sf_dir, "_evencorpus")
    ensure_signature_store(corpus, path, subset="even")
    return dedup_against_store(incoming, spark, path)
