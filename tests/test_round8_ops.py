"""Round-8 operators: LSH band cap, filter ablation, semantic prune."""

from __future__ import annotations

from pyspark.sql import functions as F

from disco_spark.testing import compare_query
from tests.conftest import SF_CORRECT


def test_quality_filter_ablation_oracle(spark):
    compare_query(spark, "quality_filter_ablation", SF_CORRECT)


def test_dedup_semantic_prune_oracle(spark):
    compare_query(spark, "dedup_semantic_prune", SF_CORRECT)


def test_dedup_lsh_band_stats_oracle(spark):
    compare_query(spark, "dedup_lsh_band_stats", SF_CORRECT)


def test_ablation_internal_consistency(spark):
    """any_fail bounds every per-rule count; exactly_one_fail is the sum
    of the per-rule unique counts (each doc failing exactly one rule is
    unique to exactly one rule)."""
    from disco_spark.textops.analysis import (
        _ABLATION_RULES,
        quality_filter_ablation,
    )

    row = quality_filter_ablation(spark, SF_CORRECT).collect()[0]
    names = [n for n, _ in _ABLATION_RULES]
    assert row["any_fail"] <= row["n_docs"]
    for n in names:
        assert row[f"{n}_unique"] <= row[f"{n}_fail"] <= row["any_fail"]
    assert row["exactly_one_fail"] == sum(row[f"{n}_unique"] for n in names)


def test_semantic_prune_keep_policy(spark):
    """Every pruned vector's keeper has a smaller id, and no keeper is
    itself pruned by an even smaller id *below the pruned vector* —
    i.e. the survivor set (ids never appearing as vec_id) is exactly
    the anti-join complement."""
    from disco_spark.similarity.ann import dedup_semantic_prune

    pruned = dedup_semantic_prune(spark, SF_CORRECT)
    rows = pruned.collect()
    assert rows, "sf0.01 corpus contains planted embedding near-dups"
    for r in rows:
        assert r["kept_by"] < r["vec_id"]
        assert r["n_better_dups"] >= 1
        assert -1.0 <= r["max_cos"] <= 1.0


def test_band_cap_bounds_bucket_pairs(spark):
    """A planted 100-doc exact-replica group must produce 99 linear
    star edges (not 4950 quadratic pairs), and a hot band bucket never
    contributes more than BAND_CAP*(BAND_CAP-1)/2 rep pairs."""
    from disco_spark.dedup.dedup import (
        BAND_CAP,
        band_candidates,
        minhash_from_toks,
    )
    from disco_spark.textops.analysis import with_toks

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(100)]
        + [(100 + i, f"unique text number {i} with words {i * 7}")
           for i in range(20)],
        "doc_id long, text string",
    )
    pairs = band_candidates(
        minhash_from_toks(with_toks(docs))
    ).collect()
    replica = [
        (r.doc_a, r.doc_b) for r in pairs if r.doc_a < 100 and r.doc_b < 100
    ]
    # identical signatures collapse: exactly the 99 star edges from rep 0
    assert sorted(replica) == [(0, b) for b in range(1, 100)]
    # nothing exceeds the cap's pair budget per (band) bucket by design:
    # total non-star pairs are bounded by bands * C(BAND_CAP, 2)
    non_star = [p for p in pairs if p not in replica]
    assert len(non_star) <= 3 * BAND_CAP * (BAND_CAP - 1) // 2


def test_edit_distance_budget_semantics(spark):
    """Pairs over the ED_MAX absolute budget drop even when the 40%
    relative rule would admit them; pairs within both bars carry the
    exact distance. Fixtures share a 100-token prefix so the bands
    collide deterministically (md5 is fixed)."""
    import os
    import tempfile

    import duckdb

    from disco_spark.dedup.dedup import (
        ED_MAX,
        ED_NUM,
        ED_DEN,
        band_candidates,
        dedup_edit_distance,
        minhash_from_toks,
    )
    from disco_spark.textops.analysis import with_toks

    prefix = " ".join(f"w{i:03d}" for i in range(100))
    d0 = prefix + " qqq"
    d1 = prefix + " qqz"  # distance 1 from d0
    d2 = prefix + " " + "xaaa " * 40  # long divergent tail vs d0
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2)], "doc_id long, text string"
    )
    cands = {
        (r.doc_a, r.doc_b)
        for r in band_candidates(
            minhash_from_toks(with_toks(docs))
        ).collect()
    }
    assert (0, 1) in cands and (0, 2) in cands
    # premise check via DuckDB's exact levenshtein: (0, 2) is over the
    # absolute budget but UNDER the 40% relative bar — the pair the
    # old semantics admitted and the budget must drop
    lev02 = duckdb.sql(
        "SELECT levenshtein(?, ?)", params=[d0, d2]
    ).fetchone()[0]
    assert lev02 > ED_MAX
    assert ED_DEN * lev02 <= ED_NUM * max(len(d0), len(d2))
    with tempfile.TemporaryDirectory() as dd:
        docs.write.parquet(os.path.join(dd, "documents.parquet"))
        got = {
            (r.doc_a, r.doc_b): r.edit_dist
            for r in dedup_edit_distance(spark, dd).collect()
        }
    assert got.get((0, 1)) == 1
    assert (0, 2) not in got
    assert all(d <= ED_MAX for d in got.values())


def test_contamination_fraction_oracle(spark):
    compare_query(spark, "contamination_overlap_fraction", SF_CORRECT)


def test_contamination_fraction_verdicts(spark):
    """Fractions live in [0,1], verdicts follow the banded thresholds,
    and every train doc with shingles gets a row (zero-overlap docs
    report 0.0/clean, not absence)."""
    from disco_spark.textops.analysis import with_toks
    from disco_spark.textops.vocab import (
        _CONTAM_CLEAN_MAX,
        _CONTAM_PARTIAL_MAX,
        _TRAIN_LO,
        contamination_overlap_fraction,
    )
    from disco_spark.dedup.dedup import shingle_df
    from disco_spark.sampling import hash_bucket
    from disco_spark.session import load_tables

    rows = contamination_overlap_fraction(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["overlap_frac"] <= 1.0
        assert 0 <= r["n_overlap"] <= r["n_shingles"]
        if r["overlap_frac"] <= _CONTAM_CLEAN_MAX:
            assert r["verdict"] == "clean"
        elif r["overlap_frac"] <= _CONTAM_PARTIAL_MAX:
            assert r["verdict"] == "partial"
        else:
            assert r["verdict"] == "contaminated"
    sh = shingle_df(
        with_toks(load_tables(spark, SF_CORRECT)["documents"])
    ).withColumn("b", hash_bucket(F.col("doc_id")))
    n_train_docs = (
        sh.filter(F.col("b") >= _TRAIN_LO).select("doc_id").distinct().count()
    )
    assert len(rows) == n_train_docs


def test_countmin_oracle(spark):
    compare_query(spark, "sketch_countmin_heavy_hitters", SF_CORRECT)


def test_countmin_never_underestimates(spark):
    """CM property: estimate >= exact for EVERY key (not just the
    audited top-k) — checked over the full token vocabulary."""
    from disco_spark.operators.sketch import cm_estimate, cm_sketch
    from disco_spark.session import load_tables
    from disco_spark.textops.analysis import with_toks

    tokens = (
        with_toks(load_tables(spark, SF_CORRECT)["documents"])
        .select(F.explode("toks").alias("tok"))
        .persist()
    )
    sketch = cm_sketch(tokens).persist()
    exact = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    est = cm_estimate(exact.select("tok"), sketch)
    bad = exact.join(est, "tok").filter(F.col("cm_estimate") < F.col("n"))
    assert bad.count() == 0
    # the sketch is bounded regardless of vocabulary size
    from disco_spark.operators.sketch import CM_DEPTH, CM_WIDTH

    assert sketch.count() <= CM_DEPTH * CM_WIDTH
    sketch.unpersist()
    tokens.unpersist()


def test_countmin_absent_key_estimates_zero(spark):
    """cm_estimate must answer ANY key set: a key never seen by the
    sketch reads 0 (its coordinates have no counter rows — the left
    join + coalesce path), never silently vanishing or estimating
    over a subset of its d rows."""
    from disco_spark.operators.sketch import cm_estimate, cm_sketch

    tokens = spark.createDataFrame(
        [("alpha",), ("alpha",), ("beta",)], "tok string"
    )
    sketch = cm_sketch(tokens)
    keys = spark.createDataFrame(
        [("alpha",), ("never-in-corpus-xyzzy",)], "tok string"
    )
    est = {r["tok"]: r["cm_estimate"] for r in cm_estimate(keys, sketch).collect()}
    assert set(est) == {"alpha", "never-in-corpus-xyzzy"}
    assert est["alpha"] >= 2
    assert est["never-in-corpus-xyzzy"] == 0


def test_token_budget_oracle(spark):
    compare_query(spark, "sample_token_budget_per_source", SF_CORRECT)


def test_token_budget_binds_and_floors(spark):
    """Every source appears (the first-doc floor), and no source
    exceeds the budget except via its single floor doc."""
    from disco_spark.sampling import (
        TOKEN_BUDGET_PER_SOURCE,
        sample_token_budget_per_source,
    )
    from disco_spark.session import load_tables

    rows = sample_token_budget_per_source(spark, SF_CORRECT).collect()
    n_sources = (
        load_tables(spark, SF_CORRECT)["documents"]
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_sources
    for r in rows:
        assert r["n_docs_kept"] >= 1
        # over-budget is only possible when a single floor doc is alone
        if r["n_tokens_kept"] > TOKEN_BUDGET_PER_SOURCE:
            assert r["n_docs_kept"] == 1


def test_cluster_histogram_oracle(spark):
    compare_query(spark, "dedup_cluster_size_histogram", SF_CORRECT)


def test_cluster_histogram_mass_conservation(spark):
    """Histogram doc mass equals the corpus; removable = docs - clusters
    per row; a planted 3-replica family lands in the size-3 row."""
    from disco_spark.dedup.cc import dedup_cluster_size_histogram
    from disco_spark.session import load_tables

    rows = dedup_cluster_size_histogram(spark, SF_CORRECT).collect()
    n_docs = load_tables(spark, SF_CORRECT)["documents"].count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert r["n_removable"] == r["n_docs"] - r["n_clusters"]
        assert r["n_docs"] == r["cluster_size"] * r["n_clusters"]


def test_fertility_oracle(spark):
    compare_query(spark, "text_tokenizer_fertility_by_lang", SF_CORRECT)


def test_fertility_sane_bounds(spark):
    """Pretokens at least one per word (the GPT-2 split never merges
    across whitespace), chars/pretoken positive and below max word len."""
    from disco_spark.textops.analysis import text_tokenizer_fertility_by_lang

    rows = text_tokenizer_fertility_by_lang(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["fertility"] >= 1.0
        assert 0 < r["chars_per_pretoken"] < 40


def test_band_cap_soundness_property(spark):
    """Property over randomized corpora: (a) SOUNDNESS — every capped
    candidate pair band-collides under the raw (uncapped, ungrouped)
    semantics; (b) CLUSTER EQUIVALENCE on identical-signature groups —
    star edges connect exactly the docs the raw all-pairs would,
    i.e. same connected components within each group."""
    import itertools
    import random

    from disco_spark.dedup.dedup import (
        band_candidates,
        band_keys_df,
        minhash_from_toks,
    )
    from disco_spark.textops.analysis import with_toks

    rng = random.Random(8)
    vocab = [f"t{i}" for i in range(30)]
    rows = []
    doc_id = 0
    for _ in range(12):  # replica families of random sizes
        base = " ".join(rng.choices(vocab, k=rng.randint(5, 12)))
        for _ in range(rng.randint(1, 6)):
            rows.append((doc_id, base))
            doc_id += 1
    for _ in range(15):  # singletons
        rows.append((doc_id, " ".join(rng.choices(vocab, k=rng.randint(5, 12)))))
        doc_id += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_from_toks(with_toks(docs)).persist()

    capped = {
        (r.doc_a, r.doc_b) for r in band_candidates(sig).collect()
    }
    raw_bands = band_keys_df(sig).collect()
    by_key: dict = {}
    for r in raw_bands:
        by_key.setdefault((r.band_idx, r.band_key), []).append(r.doc_id)
    raw_pairs = set()
    for members in by_key.values():
        for a, b in itertools.combinations(sorted(members), 2):
            raw_pairs.add((a, b))
    # (a) soundness: the cap only REMOVES pairs, never invents them
    assert capped <= raw_pairs
    # (b) identical-signature groups stay fully connected through stars
    sig_groups: dict = {}
    for r in sig.collect():
        key = tuple(r[f"mh{i}"] for i in range(6))
        sig_groups.setdefault(key, []).append(r.doc_id)
    for members in sig_groups.values():
        if len(members) < 2:
            continue
        rep = min(members)
        for m in members:
            if m != rep:
                assert (rep, m) in capped, (rep, m)
    sig.unpersist()
