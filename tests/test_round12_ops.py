"""Round 12: per-doc candidate-degree cap for the edit-distance verify
(EDIT_CAND_CAP + calibration sweep) and the lossless char-histogram
prescreen. Reference parity: the candidate-propose/exact-verify shape
mirrors the reference's partition-then-verify dedup flows
(lib/disco/worker/classic/worker.py map->partition->reduce contract);
the cap/calibration pair is this repo's BAND_CAP discipline applied to
per-doc degree."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest

from disco_spark import registry
from disco_spark.testing import compare_query
from tests.conftest import SF_CORRECT, SF_SMOKE

registry.load_all()


def test_edit_distance_oracle_smoke(spark):
    compare_query(spark, "dedup_edit_distance", SF_SMOKE)


def test_edit_cap_calibration_oracle(spark):
    compare_query(spark, "dedup_edit_cap_calibration", SF_SMOKE)


def _grouped(spark, docs):
    from disco_spark.dedup.dedup import (
        minhash_from_toks,
        signature_groups,
    )
    from disco_spark.textops.analysis import with_toks

    return signature_groups(minhash_from_toks(with_toks(docs)))


def _clique_docs(spark, n=14):
    """A telescoping clique: every doc shares a long prefix, each with
    a distinct MULTI-TOKEN tail — tails are long enough that replica
    signatures stay distinct (no star collapse), yet the shared prefix
    makes every pair band-collide: the gray-zone inflation shape the
    degree cap exists to bound."""
    prefix = " ".join(f"w{i:03d}" for i in range(120))
    rows = [
        (i, f"{prefix} " + " ".join(f"t{i:02d}x{j}" for j in range(30)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_capped_candidates_degree_bound(spark):
    """NON-STAR candidate degree per doc_a is <= cap BY CONSTRUCTION,
    for any cap (star edges are cap-exempt: linear in total and always
    true pairs) — the linear bound the operator's scale story rests
    on."""
    from collections import Counter

    from pyspark.sql import functions as F

    from disco_spark.dedup.dedup import capped_band_candidates

    docs = _clique_docs(spark)
    grouped = _grouped(spark, docs).persist()
    star = {
        (r.doc_a, r.doc_b)
        for r in grouped.filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .collect()
    }
    saw_capped = False
    for cap in (1, 3, 5):
        pairs = {
            (r.doc_a, r.doc_b)
            for r in capped_band_candidates(None, cap=cap, grouped=grouped).collect()
        }
        deg = Counter(a for a, b in pairs - star)
        assert deg, "fixture must produce non-star band collisions"
        assert max(deg.values()) <= cap
        saw_capped = saw_capped or max(deg.values()) == cap
    grouped.unpersist()
    assert saw_capped, "fixture never exercised the cap"


def test_capped_candidates_equal_uncapped_when_cap_large(spark):
    """With a cap above every doc's true degree, the capped generator
    is exactly band_candidates — the cap only ever removes pairs."""
    from disco_spark.dedup.dedup import band_candidates, capped_band_candidates

    docs = _clique_docs(spark)
    grouped = _grouped(spark, docs).persist()
    full = {(r.doc_a, r.doc_b) for r in band_candidates(None, grouped=grouped).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in capped_band_candidates(None, cap=10**6, grouped=grouped).collect()
    }
    small = {
        (r.doc_a, r.doc_b)
        for r in capped_band_candidates(None, cap=2, grouped=grouped).collect()
    }
    grouped.unpersist()
    assert capped == full
    assert small < full


def test_capped_rank_prefers_more_bands(spark):
    """The per-doc rank keeps the partners that MORE bands proposed —
    higher estimated similarity survives the cut first."""
    from disco_spark.dedup.dedup import ranked_band_candidates

    # md5-deterministic fixture, searched offline so the BAND structure
    # is exact (a long-shared-prefix fixture collapses every doc into
    # ONE signature group — all star edges, zero ranked pairs, and the
    # rank property goes vacuously untested, which is how the original
    # version of this test passed for a round without checking
    # anything): doc 9 is doc 0's near-twin (one tail token differs)
    # agreeing on 2 of 3 LSH bands; docs 1/3/4/6 share only the core
    # and agree on exactly 1 band; all 10 signatures are distinct so
    # every doc is its own rep and every collision is a RANKED pair.
    core = (
        "c027518 c747720 c469464 c408459 c430451 c504845 c591590"
        " c937892 c786134 c063901 c083805 c262585"
    )
    shared_tail = "t225958 t003383 t152879 t558242 t340380"
    noise = {
        1: "u1556706 u1217834 u1452411 u1978827 u1588799 u1308910",
        2: "u2011833 u2213742 u2659494 u2918855 u2093437 u2786043",
        3: "u3118357 u3687943 u3134841 u3070165 u3581504 u3405430",
        4: "u4658435 u4222702 u4328613 u4166833 u4016438 u4167768",
        5: "u5732149 u5194218 u5051676 u5058265 u5242667 u5458711",
        6: "u6592914 u6926417 u6186842 u6691477 u6807211 u6743247",
        7: "u7429304 u7734582 u7084605 u7835871 u7510560 u7894485",
        8: "u8538195 u8162561 u8116743 u8056657 u8365611 u8651084",
    }
    rows = (
        [(0, f"{core} {shared_tail} t314464")]
        + [(j, f"{core} {t}") for j, t in noise.items()]
        + [(9, f"{core} {shared_tail} t880945")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ranked = {
        (r.doc_a, r.doc_b): r.cr
        for r in ranked_band_candidates(_grouped(spark, docs)).collect()
    }
    # the twin MUST band-collide and MUST rank first for doc 0 — and
    # because doc_b=9 is the LARGEST id, the (n_bands DESC, doc_b ASC)
    # tie-break can only hurt it: rank 1 here proves the band COUNT
    # decided, not the tie order
    assert (0, 9) in ranked
    assert ranked[(0, 9)] == 1
    # at least one 1-band partner is present and ranked BELOW the twin
    others = [cr for (a, b), cr in ranked.items() if a == 0 and b != 9]
    assert others and min(others) >= 2


def test_char_hist_lower_bound_property():
    """ceil(L1(hist)/2) and |len gap| both lower-bound the true edit
    distance (the lossless-screen invariant), checked against DuckDB's
    exact levenshtein over adversarial pairs."""
    alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    pairs = [
        ("kitten", "sitting"),
        ("abc def ghi", "abc xyz ghi"),
        ("aaaa", "aaab"),
        ("token1 token2", "token1g3 token2g7"),
        ("", "abc"),
        ("same text here", "same text here"),
        ("ab" * 50, "ba" * 50),
        ("w1 w2 w3 w4", "w4 w3 w2 w1"),
    ]
    for a, b in pairs:
        lev = duckdb.sql("SELECT levenshtein(?, ?)", params=[a, b]).fetchone()[0]
        l1 = sum(abs(a.count(c) - b.count(c)) for c in alphabet)
        assert (l1 + 1) // 2 <= lev
        assert abs(len(a) - len(b)) <= lev


def test_calibration_matches_production_at_default_cap(spark):
    """The calibration row at cap == EDIT_CAND_CAP reports exactly the
    production query's candidate and verified counts — the sweep and
    the operator share one candidate definition."""
    from disco_spark.dedup.dedup import EDIT_CAND_CAP

    cal = {
        r.cap: r
        for r in registry.QUERIES["dedup_edit_cap_calibration"](
            spark, SF_CORRECT
        ).collect()
    }
    verified = registry.QUERIES["dedup_edit_distance"](spark, SF_CORRECT).count()
    assert cal[EDIT_CAND_CAP].n_verified == verified
    # monotone in cap, and recall normalized to the sweep max
    caps = sorted(cal)
    for lo, hi in zip(caps, caps[1:]):
        assert cal[lo].n_candidates <= cal[hi].n_candidates
        assert cal[lo].n_verified <= cal[hi].n_verified
    assert cal[caps[-1]].recall_vs_max == 1.0


def test_capped_verify_drops_only_capped_pairs(spark):
    """On a corpus where one doc has more gray-zone partners than the
    cap, the capped verify output is the top-cap subset — and every
    kept pair still carries the exact distance."""
    from disco_spark.dedup.dedup import dedup_edit_distance

    docs = _clique_docs(spark, n=14)
    with tempfile.TemporaryDirectory() as dd:
        docs.write.parquet(os.path.join(dd, "documents.parquet"))
        got = dedup_edit_distance(spark, dd).collect()
    assert got
    from collections import Counter

    deg = Counter(r.doc_a for r in got)
    from disco_spark.dedup.dedup import EDIT_CAND_CAP

    assert max(deg.values()) <= EDIT_CAND_CAP
    for r in got:
        assert 0 <= r.edit_dist


def test_simhash_pigeonhole_rejects_unsound_budget(spark):
    """max_hamming above the pigeonhole guarantee raises instead of
    silently returning incomplete pairs (r11 ADVICE)."""
    import pytest as _pytest

    from disco_spark.dedup.dedup import (
        SIMHASH_HAMMING_MAX,
        simhash_pigeonhole_pairs,
    )

    sigs = spark.createDataFrame(
        [(1, 7), (2, 11)], "doc_id long, simhash long"
    )
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_pigeonhole_pairs(sigs, max_hamming=SIMHASH_HAMMING_MAX + 1)
    # the registered budget still works
    assert simhash_pigeonhole_pairs(sigs).count() >= 0


def test_band_candidates_need_input():
    """sig=None without grouped is a contract error, not a crash later
    (r11 ADVICE: the None-when-grouped contract is now explicit)."""
    import pytest as _pytest

    from disco_spark.dedup.dedup import band_candidates, capped_band_candidates

    with _pytest.raises(ValueError):
        band_candidates(None)
    with _pytest.raises(ValueError):
        capped_band_candidates(None)


def test_simhash_frame_plan_is_shuffle_free(spark):
    """simhash_frame's whole bit-vote runs inside each row (higher-
    order functions over the token array): its physical plan must add
    ZERO Exchange over the scan. Pins the r11 bench-drift question
    (dedup_simhash 1.06->1.97s on a plan-neutral oracle refactor)
    permanently: if this ever fails, the plan regressed for real;
    while it passes, wall drift is host variance."""
    from disco_spark.dedup.dedup import simhash_frame
    from disco_spark.textops.analysis import with_toks

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (
        simhash_frame(with_toks(docs))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_cc_distributed_path_never_collects(spark):
    """Above DRIVER_EDGE_THRESHOLD the CC seam must take the
    large-star/small-star path WITHOUT collecting the edge list to the
    driver (r11 optional item): DataFrame.collect is patched to raise
    for the duration of the call — convergence checks are count()-only
    by design, so a zero-threshold run must complete untouched."""
    from pyspark.sql import DataFrame

    from disco_spark.dedup.cc import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 12)], "src long, dst long"
    )
    real_collect = DataFrame.collect

    def forbidden(self, *a, **k):
        raise AssertionError("distributed CC path called collect()")

    DataFrame.collect = forbidden
    try:
        out = connected_components(edges, driver_threshold=0)
    finally:
        DataFrame.collect = real_collect
    labels = {r.node: r.comp for r in out.collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10


def test_edit_distance_verify_stage_is_spread(spark):
    """The verify join must sit on an explicit round-robin exchange:
    candidate pairs are byte-tiny but verify-heavy, and AQE's
    byte-based coalescing otherwise packs them into ONE post-shuffle
    partition, serializing every levenshtein on one core (measured at
    10x: 19,827 of 22,489 survivors in a single partition, 2.3x the
    query wall). AQE never coalesces a user repartition, so the plan
    must carry one."""
    for name in ("dedup_edit_distance", "dedup_edit_cap_calibration"):
        plan = (
            registry.QUERIES[name](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # both propose/verify operators route their candidate frame
        # through spread_verify_pairs(); the helper owns the rationale
        assert "RoundRobinPartitioning" in plan, name
