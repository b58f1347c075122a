"""Text analysis + dedup: oracle matches on real testdata, plus
synthetic near-duplicate goldens proving the detectors actually detect."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from disco_spark import registry
from disco_spark.dedup.dedup import (
    minhash_from_toks,
    shingle_df,
    simhash_frame,
)
from disco_spark.testing import compare_query
from disco_spark.textops.analysis import with_toks
from tests.conftest import SF_CORRECT, SF_SMOKE

registry.load_all()

TEXT = [
    "text_token_stats",
    "text_bpe_pretokens",
    "text_pii_scrub",
    "text_url_stats",
    "text_quality_score",
    "text_lang_id",
    "text_fingerprint",
    "text_repetition_ratio",
    "corpus_source_stats",
    "vocab_top_bigrams",
    "contamination_test_vs_train",
    "contamination_train_bloom",
    "text_quality_gopher",
]
DEDUP = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_df_pruned",
    "dedup_lsh_jaccard",
    "dedup_paragraph",
    "dedup_paragraph_clean",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "dedup_cluster_canonical",
    "corpus_curation_pipeline",
]


@pytest.mark.parametrize("name", TEXT + DEDUP)
def test_oracle(spark, name):
    compare_query(spark, name, SF_SMOKE)


@pytest.fixture()
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("lazy", "sleepy")),         # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_lsh_finds_near_dups(spark, near_dup_docs):
    sig = minhash_from_toks(with_toks(near_dup_docs))
    sigs = {r.doc_id: [r[f"mh{i}"] for i in range(6)] for r in sig.collect()}
    assert sigs[1] == sigs[2]  # identical docs -> identical signatures
    shared_13 = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    shared_14 = sum(a == b for a, b in zip(sigs[1], sigs[4]))
    assert shared_13 > shared_14  # near dup shares more minhashes than unrelated
    assert shared_14 == 0


def test_simhash_hamming_separates(spark, near_dup_docs):
    sigs = {r.doc_id: r.simhash for r in simhash_frame(with_toks(near_dup_docs)).collect()}

    def hamming(a, b):
        return bin(sigs[a] ^ sigs[b]).count("1")

    assert hamming(1, 2) == 0  # identical
    assert hamming(1, 3) < hamming(1, 4)  # near dup closer than unrelated


def test_exact_dedup_groups(spark, near_dup_docs):
    near_dup_docs.createOrReplaceTempView("documents")
    out = (
        near_dup_docs.select(
            F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))).alias("h"),
            "doc_id",
        )
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("rep"))
        .collect()
    )
    by_n = sorted(r.n for r in out)
    assert by_n == [1, 1, 2]  # docs 1+2 collapse


def test_jaccard_math(spark, near_dup_docs):
    sh = shingle_df(near_dup_docs)
    a = sh.toDF("doc_a", "shingle")
    b = sh.toDF("doc_b", "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .count()
        .collect()
    )
    pairs = {(r.doc_a, r.doc_b): r["count"] for r in common}
    assert (1, 2) in pairs  # exact dup shares all shingles
    assert (1, 3) in pairs  # near dup shares some
    assert (1, 4) not in pairs  # unrelated shares none


def test_df_pruned_jaccard_drops_hot_shingles_keeps_near_dups(spark):
    """A shingle present in > DF_PRUNE_MAX docs must not generate pairs
    by itself; genuine near-dups (sharing many rare shingles) survive."""
    from disco_spark.dedup.dedup import (
        DF_PRUNE_MAX,
        _jaccard_from_shingles,
        shingle_df,
    )

    hot = "alpha beta gamma"  # one shared 3-shingle across many docs
    rows = [(i, f"{hot} filler{i} x{i} y{i} z{i}") for i in range(DF_PRUNE_MAX + 3)]
    near_a = "one two three four five six seven eight nine ten"
    rows += [(100, near_a), (101, near_a + " eleven")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    sh = shingle_df(docs).persist()
    hot_set = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") > DF_PRUNE_MAX)
        .select("shingle")
    )
    kept = sh.join(F.broadcast(hot_set), "shingle", "left_anti")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in _jaccard_from_shingles(kept, universe="df_pruned").collect()
    }
    assert (100, 101) in pairs  # rare-shingle near-dups survive
    # no pair exists among the hot-shingle-only docs
    assert not any(a < 100 and b < 100 for a, b in pairs)


def test_connected_components_chain_and_islands(spark):
    """Path graph 1-2-3-4 collapses to comp=1; isolated edge 10-11 to 10;
    propagation must cross the full chain (transitive closure, not just
    direct pairs)."""
    from disco_spark.dedup.cc import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src bigint, dst bigint"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == want
    # distributed path must produce identical labels (force it by setting
    # the driver threshold below the edge count)
    got_dist = {
        r.node: r.comp
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got_dist == want


def test_cc_star_vs_propagation_vs_unionfind_random_graphs(spark):
    """Both CC paths (driver union-find, large/small-star) agree on
    random graphs, including a long chain — the diameter shape where
    star-style rewriting needs O(log n) rounds, where min-label
    propagation would need n."""
    import random

    from disco_spark.dedup.cc import _cc_large_small_star, connected_components

    rng = random.Random(7)
    cases = []
    for _ in range(3):  # sparse random graphs
        n = 60
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(45)])
    cases.append([(i, i + 1) for i in range(80)])  # one long chain

    for i, raw in enumerate(cases):
        raw = [(a, b) for a, b in raw if a != b]
        edges = spark.createDataFrame(raw, "src bigint, dst bigint")
        want = {
            r.node: r.comp for r in connected_components(edges).collect()
        }  # union-find ground truth (threshold far above edge count)
        # star converges in O(log n) rounds with the default budget
        star = {r.node: r.comp for r in _cc_large_small_star(edges).collect()}
        assert star == want, f"case {i}: star mismatch"


def test_pii_scrub_and_url_stats_on_synthetic(spark):
    """The testdata corpus contains no emails/IPs/URLs (counts are all
    zero there, which the oracle confirms but which exercises nothing),
    so the matching/redaction behavior is proven on synthetic docs."""
    from disco_spark.textops.analysis import EMAIL_RE, IP_RE

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-corp.org from 10.0.0.1 now"),
            (2, "see https://a.io/x and https://a.io/y and http://b.net"),
            (3, "clean text, nothing to scrub"),
        ],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("___pii_docs")
    from pyspark.sql import functions as F

    scrub = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(IP_RE), 0)).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ).alias("scrubbed"),
    ).collect()
    by_id = {r.doc_id: r for r in scrub}
    assert (by_id[1].n_emails, by_id[1].n_ips) == (2, 1)
    assert by_id[1].scrubbed == "mail <EMAIL> and <EMAIL> from <IP> now"
    assert (by_id[3].n_emails, by_id[3].n_ips) == (0, 0)

    from disco_spark.textops.analysis import URL_RE, DOMAIN_RE

    urls = F.regexp_extract_all(F.col("text"), F.lit(URL_RE), 0)
    domains = F.array_distinct(
        F.filter(
            F.transform(urls, lambda x: F.regexp_extract(x, DOMAIN_RE, 1)),
            lambda d: d != "",
        )
    )
    stats = {
        r.doc_id: (r.n, r.d)
        for r in docs.select(
            "doc_id", F.size(urls).alias("n"), F.size(domains).alias("d")
        ).collect()
    }
    assert stats[2] == (3, 2)  # 3 urls over domains {a.io, b.net}
    assert stats[3] == (0, 0)


def test_bloom_prefilter_exact_and_jvm_only(spark):
    """The bloom prefilter must (a) equal the unfiltered exact join
    bit-for-bit (no false negatives; exact join kills false positives),
    (b) actually prune the scan side, and (c) keep the scan-side
    membership test free of Python nodes."""
    from disco_spark.textops.vocab import (
        _BLOOM_K,
        bloom_build,
        bloom_might_contain,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma delta w{i+1} epsilon zeta") for i in range(60)]
        + [(100, "alpha beta w7 gamma"), (101, "unrelated words only here")],
        "doc_id bigint, text string",
    )
    sh = shingle_df(docs)
    small = sh.filter(F.col("doc_id") < 10).select("shingle").distinct()
    big = sh.filter(F.col("doc_id") >= 10).select("doc_id", "shingle")

    bloom, m = bloom_build(spark, small, "shingle")
    survivors = (
        big.crossJoin(F.broadcast(bloom))
        .filter(bloom_might_contain("bloom", "shingle", m, _BLOOM_K))
        .drop("bloom")
    )
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # membership is pure JVM

    exact = set(map(tuple, big.join(small, "shingle").collect()))
    filtered = set(map(tuple, survivors.join(small, "shingle").collect()))
    assert filtered == exact and exact  # identical result, non-trivial

    n_big, n_surv = big.count(), survivors.count()
    assert n_surv < n_big  # the prefilter actually prunes
    # every true member survives (no false negatives), independent of join
    truth = {r.shingle for r in small.collect()}
    assert {r.shingle for r in survivors.collect() if r.shingle in truth} == {
        r.shingle for r in big.collect() if r.shingle in truth
    }


def test_gopher_rules_each_trigger(spark):
    """Each Gopher rule individually rejects a crafted violator while
    honest prose passes — the keep column is a real conjunction, not a
    constant."""
    from disco_spark.textops.analysis import text_quality_gopher

    good = "the quick brown fox likes to jump over lazy dogs and " * 6  # 60 words, stopwords present
    rows = [
        (1, good),
        (2, "too short to pass the word count gate"),          # n_words < 50
        (3, ("#### " * 60).strip()),                           # symbol ratio + alpha
        (4, " ".join(str(i) for i in range(60))),              # no alphabetic words
        (5, "a b c d e " * 12),                                # mean word len < 3
    ]
    spark.createDataFrame(rows, "doc_id bigint, text string").createOrReplaceTempView("x")
    import tempfile, os
    tmp = tempfile.mkdtemp(prefix="gopher_")
    spark.table("x").write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.doc_id: r for r in text_quality_gopher(spark, tmp).collect()}
    assert out[1].keep
    assert not out[2].keep and out[2].n_words < 50
    assert not out[3].keep and out[3].alpha_word_ratio < 0.8
    assert not out[4].keep and out[4].n_stop_hits == 0
    assert not out[5].keep and out[5].mean_word_len < 3.0


def test_paragraph_clean_strips_cross_doc_boilerplate(spark):
    """The testdata corpus has no sentence punctuation (1 span/doc, no
    cross-doc span dups — the oracle run is vacuous there), so the
    rewrite behavior is proven on synthetic docs: a shared boilerplate
    sentence is stripped from every doc, unique sentences and
    IN-document repeats survive, and short spans are never candidates."""
    import os
    import tempfile

    from disco_spark.dedup.dedup import dedup_paragraph_clean

    boiler = "accept our cookies to continue reading this site"
    uniq = "the quick brown fox jumped over the extremely lazy dog number {}"
    rows = [
        (1, f"{boiler}. {uniq.format(1)}."),
        (2, f"{uniq.format(2)}! {boiler}? also short."),
        # in-doc repeat of a long sentence, unique to this doc: kept twice
        (3, f"{uniq.format(3)}. {uniq.format(3)}."),
    ]
    tmp = tempfile.mkdtemp(prefix="paraclean_")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(tmp, "documents.parquet"))
    out = {r.doc_id: r for r in dedup_paragraph_clean(spark, tmp).collect()}
    assert out[1].cleaned_text == uniq.format(1)
    assert out[2].cleaned_text == f"{uniq.format(2)}. also short"
    assert (out[1].n_spans, out[1].n_kept) == (2, 1)
    assert (out[2].n_spans, out[2].n_kept) == (3, 2)  # short span kept
    assert out[3].cleaned_text == f"{uniq.format(3)}. {uniq.format(3)}"
    assert (out[3].n_spans, out[3].n_kept) == (2, 2)  # in-doc repeat kept


def test_bloom_merge_identity(spark):
    """build(A) | build(B) must be BIT-IDENTICAL to build(A UNION B)
    at the same m, and the merged bloom must contain every key of both
    sets (mergeability is exact, not approximate)."""
    from disco_spark.textops.vocab import (
        bloom_build,
        bloom_merge,
        bloom_might_contain,
    )

    a = spark.createDataFrame([(f"ka{i}",) for i in range(200)], "k string")
    b = spark.createDataFrame([(f"kb{i}",) for i in range(300)], "k string")
    m = 1 << 14
    bl_a, _ = bloom_build(spark, a, "k", m_bits=m)
    bl_b, _ = bloom_build(spark, b, "k", m_bits=m)
    bl_union, _ = bloom_build(spark, a.unionAll(b), "k", m_bits=m)

    merged = bloom_merge([bl_a, bl_b])
    assert merged.collect()[0]["bloom"] == bl_union.collect()[0]["bloom"]

    survivors = (
        a.unionAll(b)
        .crossJoin(F.broadcast(merged))
        .filter(bloom_might_contain("bloom", "k", m))
        .count()
    )
    assert survivors == 500  # no false negatives across the merge


def test_bloom_merge_and_build_guards(spark):
    """Misuse must fail loudly: empty merge list, mismatched-m inputs
    (silently ORing them would create false negatives), non-word-packed
    m_bits, and a pinned m too small for the key set's fpr guarantee."""
    import pytest

    from disco_spark.textops.vocab import bloom_build, bloom_merge

    keys = spark.createDataFrame([(f"k{i}",) for i in range(100)], "k string")
    with pytest.raises(ValueError, match="at least one"):
        bloom_merge([])
    small, _ = bloom_build(spark, keys, "k", m_bits=1 << 13)
    big, _ = bloom_build(spark, keys, "k", m_bits=1 << 14)
    with pytest.raises(ValueError, match="mismatched m"):
        bloom_merge([small, big])
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(spark, keys, "k", m_bits=1000)
    with pytest.raises(ValueError, match="undersized"):
        bloom_build(spark, keys, "k", m_bits=64)


def test_simhash_pairs_oracle(spark):
    compare_query(spark, "dedup_simhash_pairs", SF_CORRECT)


def test_simhash_pigeonhole_lossless_on_random_sigs(spark):
    """The C(6,3) band set must reproduce the naive all-pairs hamming
    join exactly on adversarial signatures: random 60-bit values plus
    planted pairs at hamming exactly 0, 1, 3 (must be found) and 4
    (must NOT be found at the <=3 budget)."""
    import random

    from disco_spark.dedup.dedup import simhash_pigeonhole_pairs

    rng = random.Random(11)
    sigs = []
    base = rng.getrandbits(60)
    sigs.append((0, base))
    sigs.append((1, base))                                # hamming 0
    sigs.append((2, base ^ (1 << 7)))                     # hamming 1
    sigs.append((3, base ^ (1 << 0) ^ (1 << 20) ^ (1 << 59)))  # hamming 3
    sigs.append((4, base ^ 0b1111))                       # hamming 4
    for i in range(5, 40):
        sigs.append((i, rng.getrandbits(60)))
    df = spark.createDataFrame(sigs, "doc_id bigint, simhash bigint")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pigeonhole_pairs(df).collect()
    }
    naive = {}
    rows = dict(sigs)
    for a in rows:
        for b in rows:
            if a < b:
                h = bin(rows[a] ^ rows[b]).count("1")
                if h <= 3:
                    naive[(a, b)] = h
    assert got == naive
    assert got[(0, 1)] == 0 and got[(0, 2)] == 1 and got[(0, 3)] == 3
    assert (0, 4) not in got


def test_cluster_hamming_oracle(spark):
    compare_query(spark, "dedup_cluster_hamming", SF_CORRECT)


def test_cluster_hamming_covers_every_qualifying_pair(spark):
    """Compliance property: every exact hamming<=3 pair must share a
    cluster, and every doc must appear exactly once in the map."""
    registry.load_all()
    sf = "/root/testdata/sf0.001"
    cm = {
        r.doc_id: r.cluster_id
        for r in registry.QUERIES["dedup_cluster_hamming"](spark, sf).collect()
    }
    pairs = registry.QUERIES["dedup_simhash_pairs"](spark, sf).collect()
    assert pairs, "no hamming pairs at sf0.001; corpus drifted"
    for r in pairs:
        assert cm[r.doc_a] == cm[r.doc_b], (r.doc_a, r.doc_b)
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(cm) == n_docs
