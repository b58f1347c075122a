"""Versioned snapshot reads (time travel) — the lakehouse AS OF
contract: every write appends a version directory plus a manifest
entry, history is never rewritten, and a reader reconstructs the table
AS OF any version by folding base + deltas up to that version.

Reference parity: DDFS tags are append-only and re-taggable —
reference tag semantics keep every blob addressable after updates
(SURVEY §1.2/§2.1 catalog ops); this is the same no-history-rewrite
guarantee expressed as table versions (Delta/Iceberg snapshot
semantics) instead of blob tags.

Scale story: version reconstruction is the SAME plan as the CDC upsert
(cdc.upsert_latest_wins — one window over the merge key), applied to
the union of base + the delta dirs the manifest admits for the target
version; the manifest itself is a driver-side JSON of a few dozen
bytes per version (exactly Delta's transaction-log shape — the 100 TB
data never moves to read it). Deltas are typically small next to the
base, so AQE broadcasts them into the union cheaply.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.operators.cdc import upsert_latest_wins
from disco_spark.registry import query
from disco_spark.session import load_tables, scratch_dir

# repriced cents = cents + 10%, all in exact integer arithmetic (both
# engines truncate BIGINT division the same way for positive values)
_REPRICE_SQL = "(cents * 11) // 10"


def _write_versions(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the versioned store: v0 = full snapshot of order
    cents, v1 = delta repricing odd orders (+10%), manifest listing
    both. Overwritten per call (stable scratch, recomputable plan)."""
    base = scratch_dir("timetravel_orders", sf_dir)
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    o.withColumn("version", F.lit(0)).write.mode("overwrite").parquet(
        os.path.join(base, "v=0")
    )
    (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(
            "o_orderkey",
            F.expr("cents * 11 div 10").alias("cents"),
            F.lit(1).alias("version"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(base, "v=1"))
    )
    with open(os.path.join(base, "versions.json"), "w") as f:
        json.dump({"versions": [0, 1]}, f)
    return base


def read_as_of(spark: SparkSession, base: str, version: int) -> DataFrame:
    """Reconstruct the table AS OF `version`: union the manifest's
    version dirs <= version, latest-wins per key."""
    with open(os.path.join(base, "versions.json")) as f:
        versions = [v for v in json.load(f)["versions"] if v <= version]
    parts = [
        spark.read.parquet(os.path.join(base, f"v={v}")) for v in versions
    ]
    log = parts[0]
    for p in parts[1:]:
        log = log.unionByName(p)
    return upsert_latest_wins(log, "o_orderkey", "version")


@query(
    "timetravel_orders_versions",
    oracle=f"""
    WITH cents AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    v0 AS (SELECT o_orderkey, cents FROM cents),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 1 THEN {_REPRICE_SQL}
                  ELSE cents END AS cents
      FROM cents
    )
    SELECT 0 AS version, COUNT(*) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents FROM v0
    UNION ALL
    SELECT 1, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v1
    """,
)
def timetravel_orders_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(version, n_orders, total_cents) for AS OF 0 and AS OF 1 over
    the versioned order store — v0 must still read exactly the original
    snapshot AFTER v1 landed (history preserved), v1 shows the repriced
    state. The oracle replays both versions relationally from the
    source table."""
    base = _write_versions(spark, sf_dir)

    def summarize(version: int) -> DataFrame:
        return (
            read_as_of(spark, base, version)
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("total_cents"),
            )
            .select(F.lit(version).alias("version"), "n_orders", "total_cents")
        )

    return summarize(0).unionByName(summarize(1))
