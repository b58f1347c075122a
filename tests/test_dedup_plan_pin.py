"""Plan pin for the batch dedup hot path: the LSH candidate + verify
plans perfbench's `batch` workload runs (lsh_jaccard_pairs, and
band_candidates over map-only signatures). A refactor of the shared
candidate/verify helpers must not add or drop an exchange here."""

from __future__ import annotations

from disco_spark.dedup.dedup import band_candidates, lsh_jaccard_pairs, minhash_from_toks
from disco_spark.session import load_tables, release_deferred
from disco_spark.textops.analysis import with_toks

from tests.conftest import SF_SMOKE
from tests.plan_pin import exchanges


def test_lsh_jaccard_pairs_exchanges(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    try:
        assert exchanges(lsh_jaccard_pairs(with_toks(docs))) == (6, 3)
    finally:
        release_deferred()


def test_band_candidates_exchanges(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"]
    try:
        cands = band_candidates(minhash_from_toks(with_toks(docs)))
        assert exchanges(cands) == (6, 1)
    finally:
        release_deferred()
