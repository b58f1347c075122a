"""Product-quantization ANN (IVF-PQ's compression half; Jegou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

The scale story: a 64-dim float vector is 256 bytes; its PQ code at
m=8 subspaces x 16 centroids is 8 bytes — a 32x shrink, so the whole
index fits in memory/cache at 100 TB-of-raw-embeddings scale and the
search scan reads codes, not vectors.

Spark mapping:
- **train** (tiny, driver-side numpy): per-subspace k-means on a
  deterministic bounded sample — identical to FAISS practice, where
  codebooks train on a sample and never need the full data.
- **encode** (the 100-TB pass): Arrow-batched ``mapInPandas``;
  vectorized argmin over the codebook per subspace, emitting
  ``codes: array<int>`` per row.
- **search** (ADC — asymmetric distance computation, ``adc_shortlist``):
  per query a m x ksub lookup table (LUT) of subspace dot-products is
  computed driver-side (tiny, ``adc_queries``) and shipped as a broadcast
  literal column; the approximate cosine is a pure-JVM higher-order sum
  ``aggregate(transform(codes, (c,j) -> lut[j*ksub+c]), ...)`` — no
  Python in the scan — and cuts a shortlist per query. The shortlist
  then goes through the exact top-k of similarity/ann.py (the FAISS
  refine stage), so only O(queries * shortlist) raw vectors are read.
  ``ivfpq_search`` scores the codes of the probed cells only;
  ``ann_pq_topk`` scores every code.

The rerank recomputes EXACT cosine, so both registered queries replay
as exact SQL oracles (recall regressions surface as value mismatches).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from disco_spark.registry import query
from disco_spark.session import file_fingerprints, load_tables
from disco_spark.similarity.ann import (
    BRUTE_FORCE_ORACLE,
    IVF_ORACLE,
    N_QUERIES,
    TOP_K,
    exact_topk,
    ivf_centroids,
    probe_cells,
)

# m=16/ksub=64 + shortlist-100 rerank measured at recall@5 = 0.96-1.0 on
# the test embeddings (sf0.01/sf0.1); codes are 16 bytes vs 256-byte raw.
M_SUBSPACES = 16
K_SUB = 64
# training knobs, exported so index_store's manifest records the ACTUAL
# parameters (a change here must invalidate persisted indexes by itself)
PQ_ITERS = 20
PQ_SAMPLE_CAP = 10_000


_TRAIN_CACHE: dict[tuple, np.ndarray] = {}


def probe_queries(e: DataFrame) -> list[tuple[int, np.ndarray]]:
    """(vec_id, vector) for the N_QUERIES lowest vec_ids: the probe set
    every top-k query and its oracle (``vec_id < N_QUERIES``) share."""
    return [
        (r.vec_id, np.array(r.embedding))
        for r in e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]


def pq_train(
    e: DataFrame,
    m: int = M_SUBSPACES,
    ksub: int = K_SUB,
    iters: int = PQ_ITERS,
    sample_cap: int = PQ_SAMPLE_CAP,
) -> np.ndarray:
    """Train per-subspace codebooks -> ndarray [m, ksub, d/m].

    Sample is deterministic (lowest vec_ids) and bounded: codebook
    training is O(sample * ksub * iters) on the driver regardless of
    table size. Vectors are L2-normalized before training so ADC scores
    approximate cosine. Deterministic => cached per (application, input
    files, params): ann_pq_topk and ann_ivfpq_topk share one training
    pass, like FAISS reusing a trained index."""
    # the logical-plan text distinguishes FILTERED views of the same
    # files (e.g. index_store's even-vec_id base) — input files alone
    # would alias them and hand the base trainer full-corpus codebooks.
    # When any key component is unavailable (Spark Connect has neither
    # _jdf nor sparkContext) the only safe degradation is NO caching:
    # a files-only key would reintroduce exactly that aliasing.
    # file fingerprints (size+mtime_ns), not just paths: an in-place
    # rewrite of the input parquet mid-application must miss this cache,
    # exactly as the on-disk manifests already guarantee.
    try:
        key = (
            e.sparkSession.sparkContext.applicationId,
            tuple(tuple(f) for f in file_fingerprints(e.inputFiles())),
            e._jdf.queryExecution().logical().toString(),
            m, ksub, iters, sample_cap,
        )
    except Exception:
        key = None
    if key is not None:
        hit = _TRAIN_CACHE.get(key)
        if hit is not None:
            return hit
    sample = np.array(
        [
            r.embedding
            for r in e.select("embedding")
            .orderBy("vec_id")
            .limit(sample_cap)
            .collect()
        ],
        dtype=np.float64,
    )
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    d = sample.shape[1]
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    dsub = d // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        # deterministic spread init (evenly spaced sample rows) beats
        # first-ksub by ~0.1 recall on the test embeddings
        cents = sub[np.linspace(0, len(sub) - 1, ksub).astype(int)].copy()
        for _ in range(iters):
            # [n, ksub] squared distances, vectorized
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
                else:  # reseed empty cluster at the worst-served point
                    cents[c] = sub[d2.min(axis=1).argmax()]
        books[j] = cents
    if key is not None:
        _TRAIN_CACHE[key] = books
    return books


def pq_encode(e: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, codes array<int>): the distributed
    full-table pass. Arrow-batched numpy argmin; codebooks ride along in
    the closure (a few KB — cloudpickle broadcast)."""
    m, ksub, dsub = codebooks.shape

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            vecs = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            vecs /= np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for j in range(m):
                sub = vecs[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - codebooks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return e.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id bigint, codes array<int>"
    )


def adc_queries(
    spark: SparkSession, queries: list[tuple[int, np.ndarray]], codebooks: np.ndarray
) -> DataFrame:
    """(query_id, q_emb, lut) for the raw query vectors ``queries``:
    lut[j*ksub + c] = <q_j, codebook[j][c]> of the L2-normalized query,
    flattened row-major so the ADC expression indexes it by code."""
    m, _, dsub = codebooks.shape
    rows = []
    for qid, vec in queries:
        v = np.asarray(vec, dtype=np.float64)
        nv = v / max(np.linalg.norm(v), 1e-12)
        lut = np.einsum("jd,jcd->jc", nv.reshape(m, dsub), codebooks).ravel()
        rows.append((int(qid), [float(x) for x in vec], [float(x) for x in lut]))
    return spark.createDataFrame(rows, "query_id bigint, q_emb array<float>, lut array<double>")


def adc_shortlist(
    codes: DataFrame, q: DataFrame, ksub: int, shortlist: int, on: str | None = None
) -> DataFrame:
    """The ADC step: join the broadcast query rows ``q`` (query_id, q_emb,
    lut; plus ``on``) to ``codes`` (vec_id, codes; plus ``on``), score
    each code row by summing its LUT entries JVM-side, and keep the
    ``shortlist`` best per query as (query_id, neighbor_id, q_emb).
    ``on=None`` scores every code against every query."""
    adc = (
        codes.join(F.broadcast(q), on)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "pq_score",
            F.expr(
                f"aggregate(transform(codes, (c, j) -> "
                f"element_at(lut, j * {ksub} + c + 1)), 0D, (acc, x) -> acc + x)"
            ),
        )
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("pq_score"), F.asc("vec_id"))
    return (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "q_emb")
    )


def _rerank(e: DataFrame, cand: DataFrame, k: int) -> DataFrame:
    """Exact top-k of the ADC shortlist ``cand`` against the raw vectors
    of ``e``: (query_id, neighbor_id, cos_sim)."""
    pairs = cand.join(
        e.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id"
    )
    return exact_topk(pairs, k, "query_id", "neighbor_id", "q_emb", "embedding")


def ivfpq_search(
    e: DataFrame,
    codes_df: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    codebooks: np.ndarray,
    spark: SparkSession,
    k: int = TOP_K,
    nprobe: int = 3,
    shortlist: int = 50,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the full large-scale ANN architecture in one plan —
    coarse cells bound WHERE to look (partition-pruned at real scale),
    PQ codes bound WHAT is read there (16-byte ADC scan instead of
    256-byte floats), and an exact rerank on the shortlist restores
    exactness for the rows that matter.

    ``codes_df`` must carry (vec_id, codes, label). The cell probe picks
    each query's ``nprobe`` cells, and the ADC step joins the (broadcast)
    LUT + probe rows against only the probed cells' codes. Pass
    ``cents`` to serve from a PERSISTED coarse quantizer
    (index_store.ann_index_load) instead of recomputing it from ``e`` —
    ``e`` is then only the rerank's raw-vector source."""
    if cents is None:
        cents = ivf_centroids(e)
    q = adc_queries(spark, queries, codebooks)
    probes = probe_cells(q, cents, "query_id", nprobe).select(
        "query_id", "q_emb", "lut", "label"
    )
    cand = adc_shortlist(codes_df, probes, codebooks.shape[1], shortlist, on="label")
    return _rerank(e, cand, k)


@query("ann_ivfpq_topk", oracle=IVF_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    books = pq_train(e)
    codes = pq_encode(e, books).join(e.select("vec_id", "label"), "vec_id")
    return ivfpq_search(e, codes, probe_queries(e), books, spark, k=TOP_K, nprobe=3)


# The rerank recomputes EXACT cosine over the PQ shortlist (100 per
# query), so whenever the shortlist contains the true top-k — verified
# against brute force at sf0.001/sf0.01 — the output equals exact top-k
# and the brute-force SQL is a valid oracle. A recall regression would
# surface here as a value mismatch, which is the point of the gate.
@query("ann_pq_topk", oracle=BRUTE_FORCE_ORACLE)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC over every code, then the exact rerank of a 100-row shortlist."""
    e = load_tables(spark, sf_dir)["embeddings"]
    books = pq_train(e)
    q = adc_queries(spark, probe_queries(e), books)
    cand = adc_shortlist(pq_encode(e, books), q, books.shape[1], shortlist=100)
    return _rerank(e, cand, TOP_K)
