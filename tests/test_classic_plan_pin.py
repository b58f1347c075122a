"""Plan pin for the classic MapReduce jobs perfbench's `batch` workload
runs: the word count (map + combiner + reduce) and the job-chain
histogram (custom partitioner, 8 partitions, sort=True) over it. The
lowering onto pipeline stages must not add an exchange or a Python pass
to either."""

from __future__ import annotations

import re

from disco_spark.functions.library import sum_combiner, sum_reduce
from disco_spark.operators.classic import DiscoJob, JobChain
from disco_spark.session import load_tables
from perfbench import jobs

from tests.conftest import SF_SMOKE
from tests.plan_pin import KEYED_EXCHANGE, executed_plan


def _shape(df) -> tuple[int, int]:
    """(keyed shuffle Exchange nodes, Python nodes) in the executed plan."""
    plan = executed_plan(df)
    return (
        len(KEYED_EXCHANGE.findall(plan)),
        len(re.findall(r"\b(?:MapInPandas|ArrowEvalPython)\b", plan)),
    )


def _word_count() -> DiscoJob:
    return DiscoJob(map=jobs.word_map, combiner=sum_combiner, reduce=sum_reduce)


def test_word_count_plan(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"].select("text")
    # one exchange (map -> reduce); map + combiner fused in one pass
    assert _shape(_word_count().run(docs)) == (1, 2)


def test_job_chain_histogram_plan(spark):
    docs = load_tables(spark, SF_SMOKE)["documents"].select("text")
    counts = _word_count()
    hist = DiscoJob(
        map=jobs.frequency_map,
        reduce=jobs.count_sorted,
        partition=jobs.first_digit_partition,
        partitions=8,
        sort=True,
    )
    out = JobChain({counts: [docs], hist: [counts]}).run()[hist]
    # the custom label is computed in the map pass: four Python nodes
    # for two jobs, no separate label pass
    assert _shape(out) == (2, 4)
