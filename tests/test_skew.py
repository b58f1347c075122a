"""Salted join / salted agg preserve exact semantics under skew."""

from __future__ import annotations

import pyspark.sql.functions as F

from disco_spark.operators.skew import salted_agg, salted_join


def _skewed(spark):
    # 90% of rows share key 0 — the hot-key shape
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )


def test_salted_join_matches_plain_join(spark):
    large = _skewed(spark)
    small = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    plain = large.join(small, "k").select("k", "v", "w")
    salted = salted_join(large, small, "k", n_salts=8).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    large = _skewed(spark)
    small = spark.range(1).select(F.col("id").alias("k"), F.lit("x").alias("w"))
    plain = large.join(small, "k", "left").select("k", "v", "w")
    salted = salted_join(large, small, "k", n_salts=4, how="left").select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    salted = salted_agg(
        df,
        ["k"],
        aggs=[F.count(F.lit(1)).alias("pn"), F.sum("v").alias("ps")],
        finals=[F.sum("pn").alias("n"), F.sum("ps").alias("s")],
        n_salts=8,
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_hot_cold_split_join_matches_plain(spark):
    large = _skewed(spark)
    small = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    hot = spark.range(1).select(F.lit(0).alias("k"))  # key 0 is the hot one
    from disco_spark.operators.skew import hot_cold_split_join

    plain = large.join(small, "k").select("k", "v", "w")
    split = hot_cold_split_join(large, small, "k", hot, n_salts=4).select("k", "v", "w")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, split.collect()))


def test_salted_shingle_jaccard_head_heavy_corpus(spark):
    """A corpus where one stopword 3-gram appears in EVERY document
    (the head-shingle shape): the salted exact path must equal the plain
    exact path bit-for-bit, and its plan must carry the salt through the
    hot branch's shuffle."""
    import pyspark.sql.functions as F  # noqa: F811 — cloudpickle by-value

    from disco_spark.dedup.dedup import (
        _EXACT_BASELINE_OPTOUT,
        _jaccard_select,
        pair_overlaps,
        salted_ngram_jaccard_pairs,
        shingle_df,
    )

    rows = [
        # 'of the day' shingle shared by all docs; per-doc tail varies
        (i, f"of the day item{i} item{i+1} item{i % 7} end{i % 3}")
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    plain = _jaccard_select(
        *pair_overlaps(shingle_df(docs), universe=_EXACT_BASELINE_OPTOUT)
    )
    salted = salted_ngram_jaccard_pairs(docs, hot_df_min=20, n_salts=4)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan, "salted branch missing from the executed plan"
