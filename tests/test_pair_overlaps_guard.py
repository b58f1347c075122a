"""The pair_overlaps scale guard: the O(df²) posting self-join must
never be re-promoted into a production default (the round-8 cluster_map
regression; measured sf1 OOM even with salting). Callers declare the
bounded universe they feed in; the unbounded opt-out is a loud literal
that no production call site passes (tests use it as the exact
reference)."""

from __future__ import annotations

import glob
import os
import re

import pytest

from disco_spark.dedup.dedup import (
    _EXACT_BASELINE_OPTOUT,
    pair_overlaps,
)

REPO = os.path.join(os.path.dirname(__file__), "..")


def test_unknown_universe_refused(spark):
    sh = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id bigint, shingle string"
    )
    with pytest.raises(ValueError, match="bounded"):
        pair_overlaps(sh, universe="whatever")
    # the keyword is REQUIRED — a positional call must not compile
    with pytest.raises(TypeError):
        pair_overlaps(sh, "df_pruned")  # type: ignore[misc]


def test_bounded_and_optout_universes_accepted(spark):
    sh = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (2, "b")],
        "doc_id bigint, shingle string",
    )
    for universe in ("df_pruned", "lsh_candidates", _EXACT_BASELINE_OPTOUT):
        common, sizes = pair_overlaps(sh, universe=universe)
        rows = common.collect()
        assert rows == [] or (rows[0].doc_a, rows[0].doc_b) == (1, 2)
        assert sizes.count() == 2


def test_optout_literal_has_no_production_call_site():
    """Source-scan pin: the unbounded opt-out string lives only in
    dedup/dedup.py, and NO production call site passes it (the exact
    small-SF references live in the tests). A call site means someone
    re-promoted the quadratic join — fail loudly."""
    hits: dict[str, list[str]] = {}
    for path in glob.glob(
        os.path.join(REPO, "disco_spark", "**", "*.py"), recursive=True
    ):
        src = open(path).read()
        if "UNBOUNDED_EXACT_BASELINE" in src or "_EXACT_BASELINE_OPTOUT" in src:
            hits[os.path.relpath(path, REPO)] = src.splitlines()
    assert set(hits) == {os.path.join("disco_spark", "dedup", "dedup.py")}

    src_lines = next(iter(hits.values()))
    call_sites = [
        ln
        for ln in src_lines
        if re.search(r"universe\s*=\s*_EXACT_BASELINE_OPTOUT", ln)
    ]
    assert len(call_sites) == 0, call_sites


def test_no_registered_query_defaults_to_the_unbounded_join():
    """No registered query may pass the unbounded opt-out: every one
    composes a bounded discipline (dedup_ngram_jaccard, the exact
    baseline, rides the salted split join)."""
    import inspect

    from disco_spark import registry

    registry.load_all()
    offenders = [
        name
        for name, fn in registry.QUERIES.items()
        if re.search(
            r"_EXACT_BASELINE_OPTOUT|UNBOUNDED_EXACT_BASELINE",
            inspect.getsource(fn),
        )
    ]
    assert offenders == [], offenders
