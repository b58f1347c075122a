"""Deterministic sampling/splitting: oracle match + stability props."""

from __future__ import annotations

import pyspark.sql.functions as F

from disco_spark import registry
from disco_spark.sampling import deterministic_sample, train_val_test_split
from disco_spark.session import load_tables
from disco_spark.testing import compare_query
from tests.conftest import SF_SMOKE

registry.load_all()


def test_sample_oracle(spark):
    compare_query(spark, "sample_documents_10pct", SF_SMOKE)


def test_split_oracle(spark):
    compare_query(spark, "split_documents_counts", SF_SMOKE)


def test_sample_stable_under_repartition(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    a = {r["doc_id"] for r in deterministic_sample(docs, "doc_id", 0.2).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(docs.repartition(17), "doc_id", 0.2).collect()
    }
    assert a == b and a  # identical membership regardless of partitioning


def test_split_disjoint_exhaustive(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    split = train_val_test_split(docs, "doc_id")
    n = docs.count()
    by = dict(split.groupBy("split").count().collect()
              if False else [(r["split"], r["count"]) for r in split.groupBy("split").count().collect()])
    assert sum(by.values()) == n
    assert set(by) <= {"train", "val", "test"}
    # fractions approximately honored (hash uniformity)
    assert 0.05 < by.get("test", 0) / n < 0.15


def test_stratified_balance_oracle(spark):
    compare_query(spark, "sample_stratified_balance", SF_SMOKE)


def test_stratified_balance_equalizes(spark):
    """A 10:1-skewed corpus must come out ~balanced, deterministically."""
    from disco_spark.sampling import stratified_balance

    rows = [(i, "big") for i in range(500)] + [(1000 + i, "small") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out1 = {(r.doc_id, r.lang) for r in stratified_balance(df, "lang", "doc_id").collect()}
    out2 = {(r.doc_id, r.lang) for r in stratified_balance(df, "lang", "doc_id").collect()}
    assert out1 == out2  # deterministic
    from collections import Counter

    kept = Counter(l for _, l in out1)
    # big stratum downsampled to ~minority size (hash-binomial noise)
    assert 30 <= kept["big"] <= 70
    assert 30 <= kept["small"] <= 50


def test_split_leakage_audit_oracle(spark):
    compare_query(spark, "split_leakage_audit", SF_SMOKE)


def test_split_leakage_audit_finds_planted_leak(spark):
    """A near-dup pair planted across the train/test boundary must be
    reported with both sides' splits; near-dups within one split must not."""
    import os
    import tempfile

    from disco_spark.sampling import BUCKETS, hash_bucket
    from disco_spark.sampling import split_leakage_audit
    from pyspark.sql import functions as F

    # find doc ids landing in each split bucket range deterministically
    ids = spark.range(0, 3000).select(
        F.col("id"), hash_bucket(F.col("id")).alias("b")
    )
    test_ids = [r.id for r in ids.filter(F.col("b") < int(0.1 * BUCKETS)).head(2)]
    train_ids = [r.id for r in ids.filter(F.col("b") >= int(0.2 * BUCKETS)).head(2)]
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (test_ids[0], base),                      # test member of the pair
        (train_ids[0], base),                     # train member -> LEAK
        (train_ids[1], "totally different words about query engines"),
        (test_ids[1], "unrelated test split document with other content"),
    ]
    tmp = tempfile.mkdtemp(prefix="leak_")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "documents.parquet"))
    got = {
        frozenset([(r.doc_a, r.split_a), (r.doc_b, r.split_b)])
        for r in split_leakage_audit(spark, tmp).collect()
    }
    assert got == {
        frozenset([(test_ids[0], "test"), (train_ids[0], "train")])
    }


def test_cluster_aware_split_oracle(spark):
    compare_query(spark, "split_cluster_aware", SF_SMOKE)


def test_cluster_aware_split_eliminates_leakage(spark):
    """After cluster-aware splitting, NO LSH near-dup pair may straddle
    any split boundary (the property the plain hash split violates —
    split_leakage_audit finds rows on the same data)."""
    from disco_spark import registry
    from disco_spark.dedup.dedup import (
        band_candidates,
        minhash_from_toks,
    )
    from disco_spark.session import load_tables
    from disco_spark.textops.analysis import with_toks
    from pyspark.sql import functions as F

    registry.load_all()
    sf = SF_SMOKE
    # the plain split leaks on this data (precondition for a real test)
    assert registry.QUERIES["split_leakage_audit"](spark, sf).count() > 0

    split = registry.QUERIES["split_cluster_aware"](spark, sf)
    pairs = band_candidates(
        minhash_from_toks(with_toks(load_tables(spark, sf)["documents"]))
    )
    sa = split.toDF("doc_a", "split_a")
    sb = split.toDF("doc_b", "split_b")
    crossing = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
    )
    assert crossing.count() == 0
