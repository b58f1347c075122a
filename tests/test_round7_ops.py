"""Round-7 operators: batch sessionization, tf-idf / OOV coverage,
exact-substring dedup, salted skew join query, persisted-index delete."""

from __future__ import annotations

import pyspark.sql.functions as F

from disco_spark import registry
from disco_spark.session import load_tables
from disco_spark.testing import compare_query

from tests.conftest import SF_SMOKE

registry.load_all()


def test_sessionize_oracle(spark):
    compare_query(spark, "events_sessionize_gap", SF_SMOKE)


def test_sessionize_gap_property(spark):
    """Within a session every inter-event gap <= GAP; consecutive
    sessions of one user are separated by > GAP."""
    from disco_spark.operators.sessionize import GAP_SECONDS

    rows = (
        registry.QUERIES["events_sessionize_gap"](spark, SF_SMOKE)
        .orderBy("user_id", "session_seq")
        .collect()
    )
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
        assert r.session_end - r.session_start == r.duration_s
        assert r.n_events >= 1
    for sess in by_user.values():
        for prev, nxt in zip(sess, sess[1:]):
            assert nxt.session_start - prev.session_end > GAP_SECONDS
            assert nxt.session_seq == prev.session_seq + 1


def test_sessionize_event_conservation(spark):
    """Every event lands in exactly one session."""
    total = load_tables(spark, SF_SMOKE)["events"].count()
    agg = (
        registry.QUERIES["events_sessionize_gap"](spark, SF_SMOKE)
        .agg(F.sum("n_events").alias("s"))
        .collect()[0]
    )
    assert agg.s == total


def test_tfidf_oracle(spark):
    compare_query(spark, "tfidf_top_terms", SF_SMOKE)


def test_tfidf_at_most_k_per_doc(spark):
    from disco_spark.textops.tfidf import TOP_TERMS_PER_DOC

    counts = (
        registry.QUERIES["tfidf_top_terms"](spark, SF_SMOKE)
        .groupBy("doc_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert counts <= TOP_TERMS_PER_DOC


def test_vocab_coverage_oracle(spark):
    compare_query(spark, "vocab_coverage_oov", SF_SMOKE)


def test_vocab_coverage_only_test_split(spark):
    """Rows are exactly the test-split docs (single-sourced boundary)."""
    from disco_spark.sampling import TEST_HI, hash_bucket

    docs = load_tables(spark, SF_SMOKE)["documents"]
    expect = {
        r.doc_id
        for r in docs.filter(hash_bucket(F.col("doc_id")) < TEST_HI)
        .select("doc_id")
        .collect()
    }
    got = {
        r.doc_id
        for r in registry.QUERIES["vocab_coverage_oov"](spark, SF_SMOKE)
        .select("doc_id")
        .collect()
    }
    assert got == expect


def test_exact_substring_oracle(spark):
    compare_query(spark, "dedup_exact_substring", SF_SMOKE)


def test_exact_substring_detects_planted_copy(spark):
    """Two synthetic docs sharing a long literal passage pair up; an
    unrelated doc does not."""
    from disco_spark.dedup.substring import shared_span_pairs

    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"intro words {passage} trailing one"),
            (2, f"{passage} completely different ending here"),
            (3, "nothing in common with the others at all " * 3),
        ],
        "doc_id bigint, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in shared_span_pairs(docs).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_rollup_incremental_refresh_oracle(spark):
    compare_query(spark, "rollup_incremental_refresh", SF_SMOKE)


def test_merge_grains_equals_rebuild(spark):
    """Refresh contract directly: grains(old) ⊕ grains(new) ==
    grains(all), for an arbitrary cutoff (including buckets straddling
    it)."""
    from disco_spark.operators.rollup import hourly_grains, merge_grains

    ev = load_tables(spark, SF_SMOKE)["events"]
    cutoff = "1997-03-15 07:30:00"  # mid-hour: straddles a bucket
    merged = merge_grains(
        hourly_grains(ev.filter(F.col("ts") < cutoff)),
        hourly_grains(ev.filter(F.col("ts") >= cutoff)),
    )
    full = hourly_grains(ev)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_lm_perplexity_oracle(spark):
    compare_query(spark, "text_lm_perplexity", SF_SMOKE)


def test_lm_perplexity_prefers_fluent_text(spark):
    """A doc made of common train-split bigrams must score lower (less
    surprising) than a doc of shuffled rare junk — the CCNet filtering
    premise, checked end-to-end on synthetic docs scored by the same
    model code paths (train = the real corpus train split)."""
    from disco_spark.sampling import TEST_HI, hash_bucket
    from disco_spark.session import load_tables as lt
    from disco_spark.textops.lm_score import _doc_bigrams

    docs = lt(spark, SF_SMOKE)["documents"]
    import pyspark.sql.functions as FF

    common = (
        _doc_bigrams(docs)
        .groupBy("a", "b")
        .count()
        .orderBy(FF.desc("count"))
        .limit(6)
        .collect()
    )
    fluent = " ".join(f"{r.a} {r.b}" for r in common)
    junk = " ".join(f"zzq{i}xw vbn{i}qp" for i in range(6))
    # find test-bucket ids deterministically
    ids = []
    i = 10**9
    while len(ids) < 2:
        b = spark.range(i, i + 1).select(
            hash_bucket(FF.col("id")).alias("b")
        ).collect()[0].b
        if b < TEST_HI:
            ids.append(i)
        i += 1
    synth = spark.createDataFrame(
        [(ids[0], fluent), (ids[1], junk)], "doc_id bigint, text string"
    )
    from disco_spark.sampling import VAL_HI

    # score synthetic docs against the real train split by unioning them
    # into the corpus (they land in the test bucket, never the model)
    import disco_spark.textops.lm_score as lm

    bg = lm._doc_bigrams(docs.select("doc_id", "text").unionByName(synth))
    train = bg.filter(FF.col("bucket") >= VAL_HI).select("a", "b")
    counts = train.groupBy("a", "b").agg(FF.count(FF.lit(1)).alias("c_ab"))
    ctx = counts.groupBy("a").agg(FF.sum("c_ab").alias("c_a"))
    vocab = train.agg(FF.countDistinct("b").alias("vocab"))
    test = bg.filter(FF.col("doc_id").isin(ids)).select("doc_id", "a", "b")
    nll = FF.when(
        FF.col("c_a").isNull(), -FF.log2(FF.lit(1.0) / FF.col("vocab"))
    ).otherwise(
        -FF.log2(
            (FF.coalesce(FF.col("c_ab"), FF.lit(0)) + FF.lit(1.0))
            / (FF.col("c_a") + FF.col("vocab"))
        )
    )
    scores = {
        r.doc_id: r.ppl
        for r in test.join(counts, ["a", "b"], "left")
        .join(ctx, "a", "left")
        .crossJoin(FF.broadcast(vocab))
        .withColumn("nll", nll)
        .groupBy("doc_id")
        .agg((FF.sum("nll") / FF.count(FF.lit(1))).alias("ppl"))
        .collect()
    }
    assert scores[ids[0]] < scores[ids[1]]


def test_triangle_count_oracle(spark):
    compare_query(spark, "graph_triangle_count", SF_SMOKE)


def test_triangle_count_known_graph(spark):
    """K4 minus one edge = 2 triangles: nodes on both triangles count 2,
    the others 1."""
    from disco_spark.similarity.triangles import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4)], "u bigint, v bigint"
    )  # triangles: {1,2,3} and {1,3,4}
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 2, 3: 2, 2: 1, 4: 1}


def test_coorder_hub_cap_and_strength(spark):
    """A hub order above the cap contributes no pairs; pairs below the
    strength threshold are not edges."""
    from disco_spark.similarity.triangles import coorder_edges

    rows = (
        [(1, p) for p in range(10)]   # hub order 1: 10 parts -> dropped
        + [(2, 20), (2, 21)]          # co-ordered once -> below strength
        + [(3, 30), (3, 31), (4, 30), (4, 31)]  # co-ordered twice -> edge
    )
    li = spark.createDataFrame(rows, "l_orderkey bigint, l_partkey bigint")
    edges = {(r.u, r.v) for r in coorder_edges(li, cap=5).collect()}
    assert edges == {(30, 31)}


def test_skew_salted_query_oracle(spark):
    compare_query(spark, "join_skew_salted", SF_SMOKE)


def test_streaming_index_add_oracle(spark):
    compare_query(spark, "streaming_index_add", SF_SMOKE)


def test_streaming_index_add_multiple_delta_batches(spark):
    """The stream really produced MULTIPLE delta batch directories, and
    their union covers every odd vec_id exactly once."""
    import os

    from disco_spark.similarity.index_store import ann_index_load_all_codes
    from disco_spark.store import store_path

    registry.QUERIES["streaming_index_add"](spark, SF_SMOKE).collect()
    path = store_path("ann_index", SF_SMOKE, "_evenbase_stream")
    batches = sorted(os.listdir(os.path.join(path, "codes_delta")))
    assert len([b for b in batches if b.startswith("batch=")]) >= 2
    e = load_tables(spark, SF_SMOKE)["embeddings"]
    served = [
        r.vec_id
        for r in ann_index_load_all_codes(spark, path).select("vec_id").collect()
    ]
    assert len(served) == len(set(served))  # no double-ingest
    assert set(served) == {r.vec_id for r in e.select("vec_id").collect()}


def test_jsonl_roundtrip_oracle(spark):
    compare_query(spark, "source_jsonl_roundtrip", SF_SMOKE)


def test_jsonl_roundtrip_survives_hostile_text(spark):
    """Embedded newlines, quotes, tabs, unicode — JSON escaping must
    return them byte-identical."""
    import shutil
    import tempfile

    # U+2028 (the JS-hostile line separator) included; NUL excluded -
    # JSON strings can carry it but parquet UTF8 column values reject
    # it, a source-data contract rather than a sink escaping property
    hostile = 'line1\nline2\t"quoted" \\ backslash é中文 \u2028 x'
    src = spark.createDataFrame([(1, hostile)], "doc_id bigint, text string")
    path = tempfile.mkdtemp(prefix="jsonl_hostile_")
    try:
        src.write.mode("overwrite").json(path)
        back = spark.read.schema("doc_id bigint, text string").json(path)
        assert back.collect()[0].text == hostile
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_dpp_oracle(spark):
    compare_query(spark, "dpp_partition_pruned_join", SF_SMOKE)


def test_dpp_plan_has_dynamic_pruning(spark):
    """The partitioned-fact join really plans a dynamicpruning partition
    filter (the runtime directory cut DPP exists for)."""
    import shutil
    import tempfile

    t = load_tables(spark, SF_SMOKE)
    path = tempfile.mkdtemp(prefix="dpp_plan_")
    try:
        t["orders"].write.partitionBy("o_orderpriority").mode(
            "overwrite"
        ).parquet(path)
        fact = spark.read.parquet(path)
        dim = (
            t["orders"]
            .select("o_orderpriority")
            .distinct()
            .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        )
        plan = (
            fact.join(dim, "o_orderpriority")
            .groupBy("o_orderpriority")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "dynamicpruning" in plan
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_index_delete_oracle(spark):
    compare_query(spark, "ann_index_delete_topk", SF_SMOKE)


def test_index_delete_excludes_tombstoned(spark):
    res = registry.QUERIES["ann_index_delete_topk"](spark, SF_SMOKE).collect()
    assert res
    assert all(r.neighbor_id % 5 != 3 for r in res)


def test_index_delete_batches_accumulate_and_rebuild_compacts(spark, tmp_path):
    from disco_spark import store
    from disco_spark.session import load_tables as lt
    from disco_spark.similarity.index_store import (
        ann_index_delete,
        ann_index_save,
        ann_index_serveable_codes,
    )

    e = lt(spark, SF_SMOKE)["embeddings"]
    path = str(tmp_path / "idx")
    ann_index_save(e, path)
    ann_index_delete(e.filter("vec_id % 10 = 1").select("vec_id"), path, "d1")
    ann_index_delete(e.filter("vec_id % 10 = 2").select("vec_id"), path, "d2")
    served = {
        r.vec_id
        for r in ann_index_serveable_codes(spark, path).select("vec_id").collect()
    }
    alive = {
        r.vec_id
        for r in e.filter("vec_id % 10 NOT IN (1, 2)").select("vec_id").collect()
    }
    assert served == alive  # both delete batches applied
    ann_index_save(e, path)  # rebuild compacts tombstones
    assert "tombstones" not in store.blobs(path)
    n_all = e.count()
    assert ann_index_serveable_codes(spark, path).count() == n_all


def test_clustering_coefficient_oracle(spark):
    compare_query(spark, "graph_clustering_coefficient", SF_SMOKE)


def test_clustering_coefficient_bounds(spark):
    rows = registry.QUERIES["graph_clustering_coefficient"](
        spark, SF_SMOKE
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.clustering_coeff <= 1.0
        assert r.deg >= 2


def test_edit_distance_oracle(spark):
    compare_query(spark, "dedup_edit_distance", SF_SMOKE)


def test_edit_distance_subset_of_candidates(spark):
    """Verified pairs are a subset of the LSH candidate set, and every
    kept pair satisfies the integer threshold."""
    verified = registry.QUERIES["dedup_edit_distance"](spark, SF_SMOKE)
    cands = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE).collect()
    }
    for r in verified.collect():
        assert (r.doc_a, r.doc_b) in cands
        assert r.edit_dist >= 0


def test_hourly_anomaly_oracle(spark):
    compare_query(spark, "events_hourly_anomaly", SF_SMOKE)


def test_hourly_anomaly_flags_planted_spike(spark):
    """A synthetic type with one 100x bucket flags exactly that bucket."""
    import datetime

    rows = []
    base = datetime.datetime(2000, 1, 1)
    for h in range(24):
        n = 100 if h == 12 else 1
        for i in range(n):
            rows.append((base + datetime.timedelta(hours=h, seconds=i), "t", 0.0))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    from disco_spark.operators.rollup import anomaly_buckets

    flagged = anomaly_buckets(ev).collect()
    assert len(flagged) == 1 and flagged[0].n_events == 100


def test_session_funnel_oracle(spark):
    compare_query(spark, "events_session_funnel", SF_SMOKE)


def test_session_funnel_counts_conserve_sessions(spark):
    """Outcome counts sum to the number of sessions."""
    total_sessions = registry.QUERIES["events_sessionize_gap"](
        spark, SF_SMOKE
    ).count()
    funnel = registry.QUERIES["events_session_funnel"](spark, SF_SMOKE).collect()
    assert sum(r.n_sessions for r in funnel) == total_sessions
    assert {r.outcome for r in funnel} <= {"converted", "viewed_only", "no_view"}


def test_curriculum_oracle(spark):
    compare_query(spark, "curriculum_ppl_buckets", SF_SMOKE)


def test_curriculum_buckets_partition_scores(spark):
    """Quartiles are contiguous, sized within 1 of each other, and cover
    every scored doc."""
    rows = sorted(
        registry.QUERIES["curriculum_ppl_buckets"](spark, SF_SMOKE).collect(),
        key=lambda r: r.bucket,
    )
    n_docs = registry.QUERIES["text_lm_perplexity"](spark, SF_SMOKE).count()
    assert sum(r.n_docs for r in rows) == n_docs
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    for lo, hi in zip(rows, rows[1:]):
        assert lo.max_ppl <= hi.min_ppl  # bands are ordered score ranges


def test_cdc_upsert_oracle(spark):
    compare_query(spark, "cdc_upsert_latest_wins", SF_SMOKE)


def test_cdc_upsert_latest_wins_semantics(spark):
    """Three versions of one key: only the highest survives; untouched
    keys pass through."""
    from disco_spark.operators.cdc import upsert_latest_wins

    log = spark.createDataFrame(
        [(1, "a", 0), (1, "b", 2), (1, "c", 1), (2, "z", 0)],
        "k bigint, val string, version bigint",
    )
    got = {(r.k, r.val, r.version) for r in upsert_latest_wins(log, "k", "version").collect()}
    assert got == {(1, "b", 2), (2, "z", 0)}


def test_schema_evolution_oracle(spark):
    compare_query(spark, "source_schema_evolution", SF_SMOKE)


def test_schema_evolution_nulls_only_old_batch(spark):
    rows = registry.QUERIES["source_schema_evolution"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert (r.quality_tier is None) == (r.doc_id % 2 == 0)


def test_gapfill_oracle(spark):
    compare_query(spark, "events_gapfill_hourly", SF_SMOKE)


def test_gapfill_spine_is_dense(spark):
    """Per type: buckets form a complete hourly range and real counts
    are preserved."""
    rows = registry.QUERIES["events_gapfill_hourly"](spark, SF_SMOKE).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    total = 0
    for tname, rs in by_type.items():
        secs = sorted(int(r.bucket.timestamp()) for r in rs)
        assert secs == list(range(secs[0], secs[-1] + 3600, 3600)), tname
        total += sum(r.n_events for r in rs)
    assert total == load_tables(spark, SF_SMOKE)["events"].count()


def test_cohort_oracle(spark):
    compare_query(spark, "cohort_orders_retention", SF_SMOKE)


def test_cohort_offset_zero_counts_every_customer(spark):
    """Every customer is active in their own cohort month (offset 0),
    so summing offset-0 actives over cohorts equals distinct customers."""
    rows = registry.QUERIES["cohort_orders_retention"](spark, SF_SMOKE).collect()
    zero = sum(r.active_customers for r in rows if r.months_since == 0)
    n_cust = (
        load_tables(spark, SF_SMOKE)["orders"]
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert zero == n_cust


def test_conversion_delay_oracle(spark):
    compare_query(spark, "events_conversion_delay", SF_SMOKE)


def test_conversion_delay_bounded_by_converted_sessions(spark):
    """Converted-session count matches the funnel's 'converted' bucket,
    and delays are sane (0 <= min <= avg <= max)."""
    row = registry.QUERIES["events_conversion_delay"](spark, SF_SMOKE).collect()[0]
    funnel = {
        r.outcome: r.n_sessions
        for r in registry.QUERIES["events_session_funnel"](spark, SF_SMOKE).collect()
    }
    assert row.n_converted == funnel.get("converted", 0)
    assert 0 <= row.min_delay_s <= row.avg_delay_s <= row.max_delay_s


def test_multimodal_sig_dedup_oracle(spark):
    compare_query(spark, "multimodal_sig_dedup", SF_SMOKE)


def test_multimodal_sig_groups_are_groups(spark):
    rows = registry.QUERIES["multimodal_sig_dedup"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r.n_media >= 2
        assert 0 <= r.signature < (1 << 16)


def test_drift_psi_oracle(spark):
    compare_query(spark, "drift_psi_sources", SF_SMOKE)


def test_drift_psi_detects_planted_shift(spark):
    """A synthetic source whose lengths sit in one extreme bin scores a
    much higher PSI than a source sampled like the corpus — asserted
    against the SHIPPED psi_by_source construction."""
    import pyspark.sql.functions as FF

    from disco_spark.operators.drift import psi_by_source
    from disco_spark.session import load_tables as lt

    docs = lt(spark, SF_SMOKE)["documents"]
    base = docs.orderBy("doc_id").limit(50)  # pinned row choice
    shifted = base.select(
        (FF.col("doc_id") + 10**9).alias("doc_id"),
        FF.substring("text", 1, 10).alias("text"),
        "lang",
        FF.lit("synthetic_shifted").alias("source"),
        FF.lit(10).alias("n_chars"),
    )
    normal = base.select(
        (FF.col("doc_id") + 2 * 10**9).alias("doc_id"),
        "text", "lang",
        FF.lit("synthetic_normal").alias("source"),
        "n_chars",
    )
    aug = (
        docs.select("doc_id", "text", "lang", "source", "n_chars")
        .unionByName(shifted)
        .unionByName(normal)
    )
    psi = {r.source: r.psi for r in psi_by_source(aug).collect()}
    assert psi["synthetic_shifted"] > 0.25  # action threshold
    assert psi["synthetic_shifted"] > 3 * psi["synthetic_normal"]
