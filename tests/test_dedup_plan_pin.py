"""Plan pin for the batch dedup hot path: the LSH candidate + verify
plans perfbench's `batch` workload runs (lsh_jaccard_pairs, and
band_candidates over map-only signatures). A refactor of the shared
candidate/verify helpers must not add or drop an exchange here."""

from __future__ import annotations

import re

from disco_spark.dedup.dedup import band_candidates, lsh_jaccard_pairs, minhash_from_toks
from disco_spark.session import load_tables, release_deferred
from disco_spark.textops.analysis import with_toks

from tests.conftest import SF_SMOKE


def _exchanges(df) -> tuple[int, int]:
    """(keyed shuffle Exchange nodes, BroadcastExchange nodes) in the
    executed plan, cached subplans included. Round-robin exchanges are
    left out: _spread_docs adds them only when the host has more cores
    than the input has splits, so their count follows the host."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        len(re.findall(r"\bExchange (?!RoundRobinPartitioning)", plan)),
        len(re.findall(r"\bBroadcastExchange\b", plan)),
    )


def test_lsh_jaccard_pairs_exchanges(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    try:
        assert _exchanges(lsh_jaccard_pairs(with_toks(docs))) == (6, 3)
    finally:
        release_deferred()


def test_band_candidates_exchanges(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    try:
        cands = band_candidates(minhash_from_toks(with_toks(docs)))
        assert _exchanges(cands) == (6, 1)
    finally:
        release_deferred()
