"""Pipeline-model tests: grouping semantics + stage entry-point order +
oracle matches for registered pipeline queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from disco_spark import registry
from disco_spark.plans.pipeline import GROUP_ALL, GROUP_LABEL, SPLIT, Pipeline, Stage
from disco_spark.testing import compare_query
from tests.conftest import SF_SMOKE

registry.load_all()

PIPELINE = ["pipeline_wordcount", "pipeline_node_label_condense", "pipeline_group_all_top3"]


@pytest.mark.parametrize("name", PIPELINE)
def test_pipeline_oracle(spark, name):
    compare_query(spark, name, SF_SMOKE)


def _kv_df(spark, pairs, label=None):
    if label is None:
        return spark.createDataFrame(pairs, "key string, value bigint")
    return spark.createDataFrame(
        [(label, k, v) for k, v in pairs], "label int, key string, value bigint"
    )


def test_group_label_colocates_and_combines(spark):
    """combine=True process() must see the WHOLE label group in one call
    (reference run_stage worker.py:269-276)."""
    pairs = [(f"k{i}", i) for i in range(100)]
    df = spark.createDataFrame(
        [(i % 7, k, v) for i, (k, v) in enumerate(pairs)], "label int, key string, value bigint"
    )

    def proc(iface, state, label, inp):
        iface.output(label).add(f"label{label}", sum(1 for _ in inp))

    out = Pipeline([(GROUP_LABEL, Stage("s", process=proc, combine=True))]).run(df)
    rows = {(r.key, r.value) for r in out.collect()}
    # one process call per label, each seeing all its rows
    expect = {(f"label{l}", len([i for i in range(100) if i % 7 == l])) for l in range(7)}
    assert rows == expect


def test_group_all_single_task(spark):
    df = _kv_df(spark, [(f"k{i}", 1) for i in range(50)]).repartition(8)

    def proc(iface, state, label, inp):
        iface.output(0).add("total", sum(int(v) for _k, v in inp))

    out = Pipeline([(GROUP_ALL, Stage("s", process=proc, combine=True))]).run(df)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].value == 50


def test_stage_entry_point_order(spark):
    """init once -> process per label -> done once, per task."""
    df = spark.createDataFrame(
        [(l, f"k{l}", 1) for l in (0, 1, 2)], "label int, key string, value bigint"
    ).repartition(1)

    def init(iface, params):
        iface.output(99).add("init", 1)
        return {"seen": 0}

    def proc(iface, state, label, inp):
        state["seen"] += sum(1 for _ in inp)

    def done(iface, state):
        iface.output(99).add("done", state["seen"])

    out = Pipeline([(GROUP_ALL, Stage("s", init=init, process=proc, done=done, combine=True))]).run(df)
    rows = sorted((r.key, r.value) for r in out.collect())
    assert rows == [("done", 3), ("init", 1)]


def test_sort_flag_orders_keys_within_label(spark):
    df = spark.createDataFrame(
        [(0, k, 1) for k in ("c", "a", "b")] + [(1, k, 1) for k in ("z", "y")],
        "label int, key string, value bigint",
    )

    def proc(iface, state, label, inp):
        keys = [k for k, _v in inp]
        assert keys == sorted(keys), f"label {label} unsorted: {keys}"
        iface.output(label).add("ok", len(keys))

    out = Pipeline([(GROUP_LABEL, Stage("s", process=proc, combine=True, sort=True))]).run(df)
    assert sum(r.value for r in out.collect()) == 5


def test_custom_input_hook_reorders_labels(spark):
    df = spark.createDataFrame(
        [(l, f"k{l}", 1) for l in (0, 1, 2)], "label int, key string, value bigint"
    ).repartition(1)
    seen = []

    def hook(state, labels):
        return sorted(labels, reverse=True)

    def proc(iface, state, label, inp):
        list(inp)
        iface.output(0).add(f"l{label}", len(seen))
        seen.append(label)

    out = Pipeline(
        [(GROUP_ALL, Stage("s", process=proc, input_hook=hook, combine=True))]
    ).run(df)
    keys = {r.key: r.value for r in out.collect()}
    assert keys == {"l2": 0, "l1": 1, "l0": 2}  # processed in reverse label order


def test_unknown_grouping_rejected():
    with pytest.raises(ValueError, match="unknown grouping"):
        Pipeline([("group_bogus", Stage("s"))])


# ---------------------------------------------------------------------------
# 12-stage pipeline stress (reference tests/test_pipe.py:40-55: 12 stages
# over group_(node_)label with golden counts at the end)
# ---------------------------------------------------------------------------
def test_twelve_stage_pipeline_preserves_totals(spark):
    from disco_spark.plans.pipeline import GROUP_NODE_LABEL

    def _emit_pass(interface, state, label, inp):
        out = interface.output(label)
        for k, v in inp:
            out.add(k, v)

    def _condense_sum(interface, state, label, inp):
        acc = {}
        for k, v in inp:
            acc[k] = acc.get(k, 0) + (v or 0)
        out = interface.output(label)
        for k, v in acc.items():
            out.add(k, v)

    n, keys = 20_000, 40
    df = spark.range(n).select(
        (F.col("id") % keys).cast("string").alias("key"), F.lit(1).alias("value")
    )
    stages = []
    for i in range(6):
        stages.append((SPLIT, Stage(f"pass{i}", process=_emit_pass, combine=True)))
        grouping = GROUP_NODE_LABEL if i % 2 == 0 else GROUP_LABEL
        stages.append((grouping, Stage(f"condense{i}", process=_condense_sum, combine=True)))
    out = Pipeline(stages, label_partitions=8).run(df)
    rows = {r["key"]: r["value"] for r in out.collect()}
    assert len(rows) == keys
    assert all(v == n // keys for v in rows.values()), rows
    assert sum(rows.values()) == n


def test_label_partitions_place_one_label_per_task(spark):
    """With label_partitions=n, labels 0..n-1 land on n distinct tasks:
    placement by label id, not by a hash that doubles labels up on some
    tasks and leaves others empty."""
    from pyspark import TaskContext

    df = spark.createDataFrame(
        [(i % 8, f"k{i}", i) for i in range(800)], "label int, key string, value bigint"
    )

    def proc(iface, state, label, inp):
        for _ in inp:
            pass
        iface.output(label).add(str(label), TaskContext.get().partitionId())

    stage = Stage("s", process=proc, combine=True, output="key string, value bigint")
    out = Pipeline([(GROUP_LABEL, stage)], label_partitions=8).run(df)
    part = {r.key: r.value for r in out.collect()}
    assert sorted(part) == [str(i) for i in range(8)]
    assert len(set(part.values())) == 8, part
