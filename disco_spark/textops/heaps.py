"""Heaps-law vocabulary-growth estimator (beyond-reference surface;
driver north star: training-data pipeline ops).

Reference analog: none — the reference's closest surface is the
wordcount family (README.md:17-30, examples/util/wordcount_ddb.py:14-22),
which counts a FIXED vocabulary. This operator estimates how the
vocabulary GROWS with corpus size, V(N) ~ k * N^beta (Heaps' law) — the
capacity-planning number for every df-conditioned plan in this repo:
posting-join candidate volume is sum(df^2), and whether that stays
near-linear at a 10x/100x scale-up is decided by beta (round-10 VERDICT
"What's missing" #2: a frozen vocabulary turns exact-dedup candidates
quadratic; real corpora grow vocab by Heaps' law). Together with
`dedup_posting_skew_profile` (the point-in-time df histogram) this
gives the pair-volume FORECAST: run it on a sample, read beta, and you
know whether the prefix-filtered exact join is safe at the target SF.

Plan shape (100 TB): one tokenize scan -> explode -> groupBy(token)
min(bucket) (partial agg map-side, vocabulary-sized shuffle) + one
tiny groupBy(bucket) pair, a 10-row window for the cumulative curve,
and a 10-point regression — no driver loops, no UDFs. The per-doc
bucket is ntile(10) ordered by doc_id: rank-based, so both engines
split identically regardless of key gaps (doc_id is unique; the window
is a single global sort of doc IDS only — at 100 TB you would bucket
by a hash-date prefix instead, same downstream plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL, with_toks

N_BUCKETS = 10

HEAPS_ORACLE = f"""
WITH buckets AS (
  SELECT doc_id, ntile({N_BUCKETS}) OVER (ORDER BY doc_id) AS bucket,
         {_TOKS_SQL} AS toks
  FROM documents
),
occ AS (
  SELECT bucket, unnest(toks) AS tok FROM buckets
),
first_seen AS (
  SELECT tok, MIN(bucket) AS first_bucket FROM occ GROUP BY tok
),
per_bucket AS (
  SELECT o.bucket,
         COUNT(*) AS n_occ,
         (SELECT COUNT(*) FROM first_seen f WHERE f.first_bucket = o.bucket)
           AS n_new_types
  FROM occ o GROUP BY o.bucket
),
curve AS (
  SELECT bucket,
         SUM(n_occ) OVER (ORDER BY bucket) AS cum_tokens,
         SUM(n_new_types) OVER (ORDER BY bucket) AS cum_vocab
  FROM per_bucket
),
fit AS (
  SELECT regr_slope(ln(cum_vocab), ln(cum_tokens)) AS beta,
         regr_intercept(ln(cum_vocab), ln(cum_tokens)) AS icept
  FROM curve
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(cum_vocab AS BIGINT) AS cum_vocab,
       ROUND(beta, 6) AS heaps_beta,
       ROUND(exp(icept), 6) AS heaps_k
FROM curve CROSS JOIN fit
"""


@query("vocab_heaps_law", oracle=HEAPS_ORACLE)
def vocab_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary-growth curve over 10 equal document
    buckets, with the fitted Heaps exponent/coefficient (log-log
    regression over the 10 curve points) repeated on every row: 10 rows
    (bucket, cum_tokens, cum_vocab, heaps_beta, heaps_k).

    beta ~ 0 means a frozen vocabulary (df grows linearly with corpus
    size -> posting-join candidates grow quadratically); beta ~ 0.5 is
    English-like web text. Both engines compute the regression over the
    SAME 10 exact-integer points, so ROUND(,6) absorbs the only
    divergence surface (float summation order in the 10-point fit)."""
    docs = with_toks(load_tables(spark, sf_dir)["documents"])
    # the global ntile sorts ONLY the doc_id column (narrow projection,
    # one long per doc through the single-partition window), never the
    # document text; the bucket map joins back by key
    bucket_of = docs.select("doc_id").select(
        "doc_id", F.ntile(N_BUCKETS).over(Window.orderBy("doc_id")).alias("bucket")
    )
    occ = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .join(bucket_of, "doc_id")
        .select("bucket", "tok")
    )
    first_seen = occ.groupBy("tok").agg(F.min("bucket").alias("first_bucket"))
    n_occ = occ.groupBy("bucket").agg(F.count("*").alias("n_occ"))
    n_new = first_seen.groupBy(
        F.col("first_bucket").alias("bucket")
    ).agg(F.count("*").alias("n_new_types"))
    w = Window.orderBy("bucket")
    curve = (
        n_occ.join(n_new, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_occ").over(w).alias("cum_tokens"),
            F.sum(F.coalesce("n_new_types", F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    fit = curve.agg(
        F.regr_slope(F.log("cum_vocab"), F.log("cum_tokens")).alias("beta"),
        F.regr_intercept(F.log("cum_vocab"), F.log("cum_tokens")).alias("icept"),
    )
    return curve.crossJoin(fit).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.col("cum_vocab").cast("long").alias("cum_vocab"),
        F.round("beta", 6).alias("heaps_beta"),
        F.round(F.exp("icept"), 6).alias("heaps_k"),
    )
