"""Round 13: planted-cluster recall audit (the structured-corpus
complement of ann_recall_audit's near-uniform number), the
spread_verify_pairs helper extraction, and the edit-distance candidate
cap's oracle synchronisation. Reference parity: the audit pattern
extends the reference's result-verification discipline (reference test
suites assert exact outputs per operator, e.g. tests/test_query.py) to
measured recall-vs-ground-truth instruments."""

from __future__ import annotations

import duckdb

from disco_spark import registry
from disco_spark.testing import compare_query
from tests.conftest import SF_CORRECT, SF_SMOKE

registry.load_all()


def test_planted_recall_oracle_smoke(spark):
    compare_query(spark, "ann_recall_audit_planted", SF_SMOKE)


def test_planted_recall_oracle_correct(spark):
    compare_query(spark, "ann_recall_audit_planted", SF_CORRECT)


def test_planted_recall_is_one(spark):
    """On the planted 16-cluster corpus at sf0.01 (500 vectors, ~31 per
    cluster: every true top-5 neighbor is same-cluster) the production
    adaptive-cell pipeline must recover essentially everything —
    recall@5 >= 0.95. This is the structured-corpus bracket around the
    honest near-uniform 0.573: a quantizer that stops finding planted
    structure is broken no matter what the uniform number says.

    NOT asserted at sf0.001: 50 vectors / 16 clusters means ~3 docs per
    cluster, so most true top-5 neighbors are CROSS-cluster near-zero-
    cosine ties — a regime where recall measures tie adjudication, not
    structure recovery."""
    rows = registry.QUERIES["ann_recall_audit_planted"](
        spark, SF_CORRECT
    ).collect()
    matched = sum(r.n_matched * r.n_queries for r in rows)
    total = 5 * sum(r.n_queries for r in rows)
    assert total > 0
    assert matched / total >= 0.95, rows


def test_planted_vectors_bit_identical_to_oracle(spark):
    """The planted corpus itself is BIT-identical across engines (the
    exact-dyadic-double construction PLANTED_JITTER documents): compare
    every coordinate of every vector at sf0.001, not just downstream
    rounded cosines."""
    from disco_spark.session import load_tables
    from disco_spark.similarity.ann import _PLANTED_SQL, _planted_vectors

    ids = load_tables(spark, SF_SMOKE)["embeddings"].select("vec_id")
    got = {
        r.vec_id: list(r.embedding)
        for r in _planted_vectors(ids).collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{SF_SMOKE}/embeddings.parquet'"
    )
    want = dict(
        con.sql(
            f"WITH {_PLANTED_SQL} SELECT vec_id, embedding FROM planted"
        ).fetchall()
    )
    assert set(got) == set(want)
    for vid, emb in got.items():
        assert emb == list(want[vid]), vid  # exact ==, no tolerance


def test_spread_helper_is_round_robin(spark):
    """spread_verify_pairs must produce a RoundRobinPartitioning
    exchange AQE cannot coalesce away — asserted on the helper itself
    so a future propose/verify operator can rely on it."""
    from disco_spark.dedup.dedup import spread_verify_pairs

    df = spark.range(100).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    plan = (
        spread_verify_pairs(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "RoundRobinPartitioning" in plan


def test_edit_cand_cap_env_knob_is_oracle_synchronized():
    """SPARK_GRAFT_EDIT_CAND_CAP must flow into BOTH the Spark plan's
    constant and the baked oracle SQL (read once at import) — a knob
    that moved only one side would de-synchronize the driver gate."""
    import os
    import subprocess
    import sys

    script = (
        "import disco_spark.dedup.dedup as d\n"
        "from disco_spark import registry\n"
        "registry.load_all()\n"
        "assert d.EDIT_CAND_CAP == 3\n"
        "assert 'cr <= 3' in registry.ORACLES['dedup_edit_distance']\n"
        "print('ok')\n"
    )
    env = dict(os.environ, SPARK_GRAFT_EDIT_CAND_CAP="3")
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert "ok" in out.stdout
