"""End-to-end corpus curation: the flagship composition query.

A real training-data pass chains the individual operators this repo
provides: quality-score filter -> transitive near-dup removal (keep one
canonical doc per cluster) -> deterministic train/val/test split ->
per-split per-language accounting. Each stage is a registered operator
elsewhere (textops/analysis.py, dedup/cc.py, sampling.py); this query
proves they compose into one Catalyst plan.

Scale shape: one documents scan feeds quality + tokenization; the
cluster map comes from the Jaccard-pair connected components (shuffles
on doc_id, the natural key); the final rollup is a small groupBy. No
Python anywhere; the only iterative part (component propagation) is
bounded by near-dup cluster diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.dedup.cc import LSH_CLUSTER_ORACLE
from disco_spark.registry import ORACLES, query
from disco_spark.sampling import _bucket_sql, train_val_test_split
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL

QUALITY_MIN = 0.5

# the oracle composes the registered oracles of the stages it chains:
# quality (text_quality_score) + LSH-prefiltered cluster map
# (cc.LSH_CLUSTER_ORACLE — same CTEs as the driver-checked
# dedup_lsh_jaccard pair generator) + hash split (sampling). Stage
# oracles are registered before this module loads (registry.load_all
# imports dedup/textops first).
# NOTE: outer WITH must NOT be RECURSIVE — DuckDB fails to resolve the
# nested recursive CTE's names if the enclosing WITH carries RECURSIVE
# (the inner oracle brings its own WITH RECURSIVE and works as a plain
# sub-CTE body).
_CURATION_ORACLE = f"""
    WITH
    quality AS ({ORACLES["text_quality_score"]}),
    cluster AS ({LSH_CLUSTER_ORACLE}),
    curated AS (
      SELECT d.doc_id, d.lang, len({_TOKS_SQL}) AS n_toks
      FROM documents d
        JOIN quality q ON q.doc_id = d.doc_id
        JOIN cluster c ON c.doc_id = d.doc_id
      WHERE q.quality >= {QUALITY_MIN} AND c.cluster_id = d.doc_id
    )
    SELECT CASE WHEN {_bucket_sql("doc_id")} < 1000 THEN 'test'
                WHEN {_bucket_sql("doc_id")} < 2000 THEN 'val'
                ELSE 'train' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM curated
    GROUP BY 1, 2
"""


@query("corpus_curation_pipeline", oracle=_CURATION_ORACLE)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality-filter -> keep cluster canonicals -> split -> account.

    Plan shape (the one that scales): everything derives from ONE
    tokenized projection of documents (quality, shingling and token
    counting all read its `toks` column).
    Quality is a column on that projection, not a join. "Keep cluster
    canonicals" is a left-anti join against only the NON-canonical
    members (comp != node — a set the size of the duplicates, tiny
    relative to the corpus, so AQE turns it into a broadcast anti-join):
    canonicals and singletons pass through with zero shuffle of the
    corpus itself."""
    t = load_tables(spark, sf_dir)
    from disco_spark.dedup.cc import connected_components
    from disco_spark.dedup.dedup import lsh_jaccard_pairs
    from disco_spark.textops.analysis import quality_column, with_toks

    base = with_toks(t["documents"])
    # LSH-prefiltered near-dup pairs (bands propose, exact Jaccard
    # verifies) — the curation pass never pays the full inverted-shingle
    # pair join; see dedup_lsh_jaccard for the scale rationale
    pairs = lsh_jaccard_pairs(base).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    non_canonical = (
        connected_components(pairs)
        .filter(F.col("comp") != F.col("node"))
        .select(F.col("node").alias("doc_id"))
    )
    curated = (
        base.select(
            "doc_id",
            "lang",
            F.size("toks").alias("n_toks"),
            quality_column().alias("quality"),
        )
        .filter(F.col("quality") >= QUALITY_MIN)
        .join(non_canonical, "doc_id", "left_anti")
    )
    return (
        train_val_test_split(curated, "doc_id", val=0.1, test=0.1)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )
