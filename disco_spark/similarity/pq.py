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
- **search** (ADC — asymmetric distance computation): per query a
  m x ksub lookup table of subspace dot-products is computed
  driver-side (tiny), shipped as a broadcast literal column, and the
  approximate cosine is a pure-JVM higher-order sum:
  ``aggregate(transform(codes, (c,j) -> lut[j*ksub+c]), ...)`` —
  no Python in the scan, shuffle is only the final O(queries*k) top-k.

Verified by a recall-vs-bruteforce test (approximate op — no SQL oracle),
same gate as ann_ivf_topk.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from disco_spark.registry import query
from disco_spark.session import file_fingerprints, load_tables
from disco_spark.similarity.ann import N_QUERIES, TOP_K

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


def pq_search(
    codes_df: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    codebooks: np.ndarray,
    spark: SparkSession,
    k: int = TOP_K,
) -> DataFrame:
    """ADC search: per-query LUT of subspace dot products, scored JVM-side.

    queries: [(query_id, raw_vector)]. Returns (query_id, neighbor_id,
    pq_score) with pq_score ~ cosine similarity."""
    m, ksub, dsub = codebooks.shape
    rows = []
    for qid, vec in queries:
        v = np.asarray(vec, dtype=np.float64)
        v /= max(np.linalg.norm(v), 1e-12)
        # lut[j, c] = <q_sub_j, codebook[j][c]>; flattened row-major so the
        # JVM expression indexes it as lut[j*ksub + c]
        lut = np.einsum(
            "jd,jcd->jc", v.reshape(m, dsub), codebooks
        ).ravel()
        rows.append((int(qid), [float(x) for x in lut]))
    q = spark.createDataFrame(rows, "query_id bigint, lut array<double>")
    scored = (
        codes_df.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "pq_score",
            F.round(
                F.expr(
                    f"aggregate(transform(codes, (c, j) -> "
                    f"element_at(lut, j * {ksub} + c + 1)), 0D, (acc, x) -> acc + x)"
                ),
                6,
            ),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "pq_score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pq_score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "pq_score")
    )


def pq_search_rerank(
    e: DataFrame,
    codes_df: DataFrame,
    queries: list[tuple[int, np.ndarray]],
    codebooks: np.ndarray,
    spark: SparkSession,
    k: int = TOP_K,
    shortlist: int = 100,
) -> DataFrame:
    """PQ shortlist + exact re-rank (the FAISS refine stage): ADC scores
    cut the candidate set to ``shortlist`` per query (scanning codes, not
    vectors), then exact cosine runs only on those candidates — at scale
    the expensive float read touches O(queries * shortlist) rows."""
    from disco_spark.dedup.dedup import dot, norm

    cand = pq_search(codes_df, queries, codebooks, spark, k=shortlist)
    q = spark.createDataFrame(
        [(int(qid), [float(x) for x in v]) for qid, v in queries],
        "qid bigint, q_emb array<float>",
    )
    exact = (
        cand.join(e.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id")
        .join(F.broadcast(q), F.col("query_id") == F.col("qid"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (norm(F.col("q_emb")) * norm(F.col("embedding"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


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

    ``codes_df`` must carry (vec_id, codes, label). Probed cells come
    from the same per-label centroid quantizer as ann_ivf_search; ADC
    scoring joins the (broadcast) per-query LUT + probe set against only
    the probed cells' codes. Pass ``cents`` to serve from a PERSISTED
    coarse quantizer (index_store.ann_index_load) instead of recomputing
    it from ``e`` — ``e`` is then only the rerank's raw-vector source."""
    from disco_spark.dedup.dedup import dot, norm
    from disco_spark.similarity.ann import ivf_centroids
    from disco_spark.dedup.dedup import cosine

    m, ksub, dsub = codebooks.shape
    if cents is None:
        cents = ivf_centroids(e)
    q_rows = []
    for qid, vec in queries:
        v = np.asarray(vec, dtype=np.float64)
        nv = v / max(np.linalg.norm(v), 1e-12)
        lut = np.einsum("jd,jcd->jc", nv.reshape(m, dsub), codebooks).ravel()
        q_rows.append((int(qid), [float(x) for x in vec], [float(x) for x in lut]))
    q = spark.createDataFrame(q_rows, "query_id bigint, q_emb array<float>, lut array<double>")
    wc = Window.partitionBy("query_id").orderBy(F.desc("c_sim"), F.asc("label"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("c_sim", F.round(cosine(F.col("q_emb"), F.col("centroid")), 6))
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_emb", "lut", "label")
    )
    adc = (
        codes_df.join(F.broadcast(probes), "label")
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
    cand = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "q_emb")
    )
    exact = (
        cand.join(e.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id")
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (norm(F.col("q_emb")) * norm(F.col("embedding"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


# exact-within-probed-cells replay (same SQL as ann_ivf_topk): valid
# because the ADC shortlist provably recovers the in-cell top-k at
# the gated scales and the rerank recomputes EXACT cosine — a recall
# regression surfaces as a value mismatch. Shared by ann_ivfpq_topk,
# ann_index_load_topk and (with base_where) ann_index_add_topk
# (index_store): load/add paths must be value-identical to the
# fresh-trained path, so one oracle text serves all.
def ivfpq_oracle_sql(
    base_where: str = "TRUE", neighbor_where: str = "TRUE"
) -> str:
    """IVF-PQ replay oracle. ``base_where`` restricts the rows the
    coarse quantizer (centroids) was trained on — the add path trains
    on the base subset but serves over ALL rows (scored stage always
    joins the full table). ``neighbor_where`` (column refs on ``e``)
    restricts which rows are SERVEABLE as neighbors — the delete path's
    tombstoned ids drop out of scoring but stay out of training."""
    return f"""
    WITH dims AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings WHERE {base_where}
    ),
    cents AS (
      SELECT label, list(mean_val ORDER BY pos) AS centroid FROM (
        SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(38,18))) / COUNT(*) AS DOUBLE) AS mean_val FROM dims GROUP BY label, pos
      ) GROUP BY label
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ),
    probe AS (
      SELECT query_id, q_emb, label FROM (
        SELECT q.query_id, q.q_emb, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(q.q_emb::DOUBLE[], c.centroid), 6) DESC,
                          c.label
               ) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 3
    ),
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM probe p JOIN embeddings e
        ON e.label = p.label AND e.vec_id <> p.query_id
      WHERE {neighbor_where}
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """


IVFPQ_ORACLE = ivfpq_oracle_sql()


@query("ann_ivfpq_topk", oracle=IVFPQ_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    books = pq_train(e)
    codes = pq_encode(e, books).join(e.select("vec_id", "label"), "vec_id")
    return ivfpq_search(e, codes, probe_queries(e), books, spark, k=TOP_K, nprobe=3)


@query(
    "ann_pq_topk",
    # The rerank stage recomputes EXACT cosine over the PQ shortlist, so
    # whenever the shortlist (100 per query) contains the true top-k —
    # verified against brute force at sf0.001/sf0.01 — the output equals
    # exact top-k and the brute-force SQL is a valid oracle. A recall
    # regression would surface here as a value mismatch, which is the
    # point of the gate.
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    books = pq_train(e)
    codes = pq_encode(e, books)
    return pq_search_rerank(e, codes, probe_queries(e), books, spark, k=TOP_K)
