"""Shared helpers of the plan-pin tests: count the exchanges in a
DataFrame's executed plan, and a registered query's Spark jobs and
exchanges read in its own job group."""

from __future__ import annotations

import re

from disco_spark import registry
from disco_spark.ops import job_group
from disco_spark.session import load_tables

# round-robin exchanges are left out: a fan-out adds them only when the
# host has more cores than the input has splits, so their count follows
# the host, not the plan's shape
KEYED_EXCHANGE = re.compile(r"\bExchange (?!RoundRobinPartitioning)")


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def exchanges(df) -> tuple[int, int]:
    """(keyed shuffle Exchange nodes, BroadcastExchange nodes) in the
    executed plan, cached sub-plans included."""
    plan = executed_plan(df)
    return (
        len(KEYED_EXCHANGE.findall(plan)),
        len(re.findall(r"\bBroadcastExchange\b", plan)),
    )


def query_counts(spark, name: str, sf_dir: str) -> tuple[int, int, int]:
    """(Spark jobs, keyed exchanges, broadcast exchanges) of one run of
    the registered query ``name``."""
    registry.load_all()
    # the first read of a dataset infers its schemas in Spark jobs of
    # its own; they are not the query's
    load_tables(spark, sf_dir)
    with job_group(spark, f"plan_pin.{name}") as group:
        df = registry.QUERIES[name](spark, sf_dir)
        keyed, broadcast = exchanges(df)
        df.collect()
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    return jobs, keyed, broadcast
