"""Mergeable frequency sketches — the fixed-memory aggregation family a
100 TB pipeline uses when exact per-key state no longer fits.

Count-min sketch (Cormode & Muthukrishnan 2005): d independent hash
rows of w counters; every occurrence increments one counter per row;
a key's estimate is the MIN over its d counters. The sketch NEVER
underestimates, overestimates by other keys' collisions, and — the
property that matters on a cluster — is a pure SUM-mergeable matrix:
Spark's partial aggregation IS the per-partition sketch build, the
shuffle merges d*w integers per partition, and the driver never sees
per-key state. The hash family is the repo-standard salted md5, so
DuckDB replays every counter bit-for-bit.

Reference parity: the reference aggregates frequencies with exact
sorted reduces (disco's wordcount-style folds); the sketch is the
beyond-reference scale path for cardinalities where exact groupBy
state is the bottleneck, with the estimator-quality audit pattern the
repo already uses for MinHash (dedup_minhash_estimate_audit).

Relation to operators/rollup.py's count-min ROLLUP: that one
demonstrates the time-grain contract (hourly CM grains merging into 6h
answers); this module exposes the sketch itself as a composable API
(cm_sketch / cm_estimate over any token column) plus the accuracy
audit a deployment runs before trusting either.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL, with_toks

CM_DEPTH = 4  # hash rows
CM_WIDTH = 2048  # counters per row
CM_TOP = 15  # audited heavy hitters


def _bucket(col, i: int):
    """Row-i counter index of a token: first 8 md5 hex chars of the
    salted token, mod CM_WIDTH — engine-portable (see sampling.hash_bucket)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"cm{i} "), col)), 1, 8), 16, 10
    ).cast("bigint") % CM_WIDTH


def _bucket_sql(expr: str, i_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('cm' || {i_expr} || ' ' || {expr}), 1, 8))"
        f"::BIGINT % {CM_WIDTH})"
    )


def cm_sketch(tokens: DataFrame, col: str = "tok") -> DataFrame:
    """(row_i, bucket, counter) count-min sketch of a token column —
    at most CM_DEPTH * CM_WIDTH rows regardless of input size. One
    posexplode fans each token to its d counter coordinates; the
    groupBy's partial aggregation builds a per-partition sketch and the
    shuffle merges them (sum-mergeable by construction)."""
    coords = F.array(*[_bucket(F.col(col), i) for i in range(CM_DEPTH)])
    return (
        tokens.select(F.posexplode(coords).alias("row_i", "bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("counter"))
    )


def cm_estimate(keys: DataFrame, sketch: DataFrame, col: str = "tok") -> DataFrame:
    """Per-key count-min estimate: MIN over the key's d counters. Works
    for ANY key set, not just keys drawn from the sketched corpus: a
    coordinate with no counter row means nothing ever hashed there, so
    it reads as 0 via the left join + coalesce (an inner join would
    silently drop the coordinate and overestimate — or vanish the key
    entirely when all d rows are absent). The sketch is bounded at
    CM_DEPTH x CM_WIDTH rows regardless of corpus size, so it is the
    broadcast side."""
    coords = F.array(*[_bucket(F.col(col), i) for i in range(CM_DEPTH)])
    probes = keys.select(
        col, F.posexplode(coords).alias("row_i", "bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["row_i", "bucket"], "left")
        .groupBy(col)
        .agg(
            F.min(F.coalesce(F.col("counter"), F.lit(0)))
            .cast("bigint")
            .alias("cm_estimate")
        )
    )


@query(
    "sketch_countmin_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({_TOKS_SQL}) AS tok FROM documents
    ),
    coords AS (
      SELECT tok, i.i AS row_i, {_bucket_sql("tok", "i.i")} AS bucket
      FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
    ),
    sketch AS (
      SELECT row_i, bucket, CAST(COUNT(*) AS BIGINT) AS counter
      FROM coords GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM toks GROUP BY tok ORDER BY n_exact DESC, tok LIMIT {CM_TOP}
    ),
    probes AS (
      SELECT e.tok, e.n_exact, i.i AS row_i,
             {_bucket_sql("e.tok", "i.i")} AS bucket
      FROM exact e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) i
    )
    SELECT p.tok AS token, p.n_exact,
           MIN(s.counter) AS cm_estimate,
           MIN(s.counter) - p.n_exact AS overestimate
    FROM probes p JOIN sketch s
      ON s.row_i = p.row_i AND s.bucket = p.bucket
    GROUP BY p.tok, p.n_exact
    """,
)
def sketch_countmin_heavy_hitters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min estimates vs exact counts for the corpus's top
    {CM_TOP} tokens — the estimator-quality audit run before trusting
    the sketch at a cardinality where exact counting is off the table.
    overestimate is the collision mass (count-min never undercounts:
    every row's counter >= the true count, so the MIN does too).

    Plan: the sketch is one explode + one bounded groupBy (partial
    sketches merge in the shuffle — at most CM_DEPTH*CM_WIDTH rows ever
    cross the wire per partition); the audit side's exact top-k exists
    only because an audit needs ground truth. The hashing is salted md5
    shared with DuckDB, so every counter — not just the estimates —
    replays exactly."""
    t = load_tables(spark, sf_dir)
    tokens = with_toks(t["documents"]).select(F.explode("toks").alias("tok"))
    sketch = cm_sketch(tokens)
    exact = (
        tokens.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "tok")
        .limit(CM_TOP)
    )
    est = cm_estimate(exact.select("tok"), sketch)
    return exact.join(est, "tok").select(
        F.col("tok").alias("token"),
        "n_exact",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("n_exact")).alias("overestimate"),
    )
