"""Registered queries exercising the pipeline model end-to-end — the
reference's canonical pipelines re-run on Spark (classic→pipeline
lowering shapes from master/src/jobpack.erl:380-401; 12-stage stress
pattern from tests/test_pipe.py:26-55).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.functions.library import persistent_hash
from disco_spark.plans.pipeline import (
    GROUP_ALL,
    GROUP_LABEL,
    GROUP_NODE_LABEL,
    SPLIT,
    Pipeline,
    Stage,
)
from disco_spark.registry import query
from disco_spark.session import load_tables
from disco_spark.textops.analysis import _TOKS_SQL

_WC_ORACLE = f"""
    SELECT tok AS key, COUNT(*) AS value
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
"""


def _tokenize(iface, state, label, inp, n_labels=8):
    for text, _none in inp:
        for word in text.split():
            iface.output(persistent_hash(word) % n_labels).add(word, 1)


def _sum_by_key(iface, state, label, inp):
    buf: dict = {}
    for k, v in inp:
        buf[k] = buf.get(k, 0) + int(v)
    out = iface.output(label)
    for k, v in buf.items():
        out.add(k, v)


@query("pipeline_wordcount", oracle=_WC_ORACLE)
def pipeline_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map=split + reduce=group_label — the classic mapreduce lowering
    (jobpack.erl:380-389)."""
    t = load_tables(spark, sf_dir)
    pipe = Pipeline(
        [
            (SPLIT, Stage("map", process=_tokenize)),
            (GROUP_LABEL, Stage("reduce", process=_sum_by_key, combine=True)),
        ],
        label_partitions=8,
    )
    return pipe.run(t["documents"].select("text")).select("key", "value")


@query("pipeline_node_label_condense", oracle=_WC_ORACLE)
def pipeline_node_label_condense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map → map_shuffle(group_node_label) → reduce(group_label): the
    node-local pre-reduce flow (jobpack.erl:390-401; pipeline.rst:135-152).
    The condense stage halves shuffle bytes before the exchange — the
    same reason Catalyst plans partial aggregates."""
    t = load_tables(spark, sf_dir)
    pipe = Pipeline(
        [
            (SPLIT, Stage("map", process=_tokenize)),
            (GROUP_NODE_LABEL, Stage("condense", process=_sum_by_key, combine=True)),
            (GROUP_LABEL, Stage("reduce", process=_sum_by_key, combine=True)),
        ],
        label_partitions=8,
    )
    return pipe.run(t["documents"].select("text")).select("key", "value")


def _type_count(iface, state, label, inp):
    buf: dict = {}
    for k, _v in inp:
        buf[k] = buf.get(k, 0) + 1
    out = iface.output(0)
    for k, v in buf.items():
        out.add(k, v)


def _global_top3(iface, state, label, inp):
    rows = sorted(inp, key=lambda kv: (-int(kv[1]), kv[0]))[:3]
    out = iface.output(0)
    for k, v in rows:
        out.add(k, int(v))


def _merge_counts(iface, state, label, inp):
    _sum_by_key(iface, state, label, inp)


@query(
    "pipeline_group_all_top3",
    oracle="""
    SELECT event_type AS key, COUNT(*) AS value
    FROM events GROUP BY event_type
    ORDER BY value DESC, key LIMIT 3
    """,
)
def pipeline_group_all_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split partial-count → group_all global merge + top-k: the global
    reduce grouping (pipeline_utils.erl:174-181) ending in a single task,
    fed only pre-aggregated rows so the single task is tiny."""
    t = load_tables(spark, sf_dir)
    pipe = Pipeline(
        [
            (SPLIT, Stage("partial", process=_type_count)),
            (GROUP_ALL, Stage("merge", process=_merge_counts, combine=True)),
            (GROUP_ALL, Stage("top3", process=_global_top3, combine=True)),
        ]
    )
    return pipe.run(t["events"].select("event_type")).select("key", "value")
