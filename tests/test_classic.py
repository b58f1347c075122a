"""Compat-layer tests: function library units + DiscoJob semantics +
oracle matches for the registered classic queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from disco_spark import registry
from disco_spark.functions.library import (
    Params,
    default_partition,
    kvgroup,
    make_range_partition,
    persistent_hash,
    sum_combiner,
    sum_reduce,
)
from disco_spark.operators.classic import DiscoJob
from disco_spark.testing import compare_query
from tests.conftest import SF_SMOKE

registry.load_all()

CLASSIC = [
    "classic_wordcount",
    "classic_grep",
    "classic_sort_reduce",
    "classic_innerjoin",
    "classic_partition_histogram",
    "classic_chain_common_words",
    "udaf_weighted_avg_price",
]


@pytest.mark.parametrize("name", CLASSIC)
def test_classic_oracle(spark, name):
    compare_query(spark, name, SF_SMOKE)


def test_kvgroup_groups_consecutive():
    pairs = [("a", 1), ("a", 2), ("b", 3), ("a", 4)]
    got = [(k, list(vs)) for k, vs in kvgroup(iter(pairs))]
    assert got == [("a", [1, 2]), ("b", [3]), ("a", [4])]  # no sorting


def test_persistent_hash_stable():
    assert persistent_hash("x") == persistent_hash("x")
    assert default_partition("x", 7) == persistent_hash("x") % 7


def test_range_partition_bounds():
    p = make_range_partition(0, 100)
    assert p(0, 4) == 0
    assert p(99, 4) == 3
    assert p(100, 4) == 3  # clamped
    buckets = {p(i, 4) for i in range(100)}
    assert buckets == {0, 1, 2, 3}


def test_sum_combiner_and_reduce():
    buf = {}
    sum_combiner("a", 1, buf, False)
    sum_combiner("a", 2, buf, False)
    assert dict(sum_combiner(None, None, buf, True)) == {"a": 3}
    assert dict(sum_reduce(iter([("a", 1), ("b", 2), ("a", 3)]))) == {"a": 4, "b": 2}


def test_params_bag():
    p = Params(alpha=1, name="x")
    assert p.alpha == 1 and p.name == "x"


def test_custom_partition_colocates(spark):
    """All records with the same label must reach one reduce task
    (the group_label guarantee, reference pipeline_utils.erl:147-159)."""
    df = spark.range(1000).select(
        F.col("id").cast("string").alias("key"), F.lit(1).alias("value")
    )

    def tag_task(iter, out, params):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for k, _v in iter:
            out.add(k, pid)

    job = DiscoJob(partition=lambda k, n, p: int(k) % 5, partitions=5, reduce=tag_task)
    rows = job.run(df).collect()
    assert len(rows) == 1000
    tasks: dict = {}
    for r in rows:
        tasks.setdefault(int(r.key) % 5, set()).add(r.value)
    assert sorted(tasks) == [0, 1, 2, 3, 4]
    assert all(len(pids) == 1 for pids in tasks.values())


def test_reduce_runs_once_per_label(spark):
    """One reduce call per label that has records, with its own
    reduce_init — the reference runs one reduce task per label
    (classic/worker.py:373-395). No call sees two labels, and no call
    runs for an empty label."""
    df = spark.range(800).select(
        F.col("id").cast("string").alias("key"), F.lit(1).cast("bigint").alias("value")
    )
    inits = spark.sparkContext.accumulator(0)

    def init(entries, params):
        inits.add(1)

    def labels_seen(iter, out, params):
        out.add(",".join(sorted({str(int(k) % 8) for k, _v in iter})), 1)

    job = DiscoJob(
        partition=lambda k, n, p: int(k) % n, partitions=8, reduce=labels_seen, reduce_init=init
    )
    rows = job.run(df).collect()
    assert sorted(r.key for r in rows) == [str(i) for i in range(8)]
    assert inits.value == 8


def test_wide_row_reaches_map_as_tuple(spark):
    """A row of three or more columns is one map entry: the row tuple,
    in column order."""
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "b", 0.5)], "id bigint, name string, score double"
    )

    def m(entry, params):
        assert isinstance(entry, tuple) and len(entry) == 3
        doc_id, name, score = entry
        yield f"{doc_id}:{name}", int(score * 10)

    out = DiscoJob(map=m).run(df)
    assert out.columns == ["key", "value"]
    assert {(r.key, r.value) for r in out.collect()} == {("1:a", 25), ("2:b", 5)}


def test_sorted_reduce_sees_byte_order(spark):
    """sort=True delivers keys in ascending order within the reduce task
    (reference disk_sort, lib/disco/util.py:319-388)."""
    import random

    keys = [f"k{i:03d}" for i in range(50)]
    random.Random(0).shuffle(keys)
    df = spark.createDataFrame([(k, 1) for k in keys], "key string, value bigint")

    def assert_sorted(iter, out, params):
        prev = None
        for k, _v in iter:
            assert prev is None or k >= prev, f"unsorted: {prev} then {k}"
            prev = k
        out.add("ok", 1)

    job = DiscoJob(reduce=assert_sorted, sort=True, partitions=3)
    rows = job.run(df).collect()
    assert all(r.key == "ok" for r in rows)


def test_map_init_can_skip_entries(spark):
    """map_init may consume entries to skip stream prologues
    (reference func.py:116-126)."""
    df = spark.createDataFrame([(i,) for i in range(10)], "v bigint").coalesce(1)

    def init(entries, params):
        next(entries)  # skip first entry of the task's stream

    def m(entry, params):
        yield str(entry), 1

    out = DiscoJob(map=m, map_init=init).run(df).collect()
    assert len(out) == 9


def test_reduce2_iterable_variant(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "key string, value bigint")
    out = DiscoJob(reduce=sum_reduce, partitions=2).run(df).collect()
    assert {(r.key, r.value) for r in out} == {("a", 3), ("b", 5)}


def test_jobchain_shared_intermediate(spark):
    """A job consumed by two downstream jobs is computed once (persisted)
    and both consumers see its output."""
    from disco_spark.operators.classic import DiscoJob, JobChain
    from disco_spark.functions.library import sum_reduce, kvgroup

    src = spark.createDataFrame(
        [("a b a",), ("b b c",)], "text string"
    )

    def wc_map(entry, params):
        for w in entry.split():
            yield w, 1

    def keep_ge2(iter, out, params):
        for k, vs in kvgroup(iter):
            n = sum(vs)
            if n >= 2:
                out.add(k, n)

    def keep_lt2(iter, out, params):
        for k, vs in kvgroup(iter):
            n = sum(vs)
            if n < 2:
                out.add(k, n)

    j1 = DiscoJob(map=wc_map, reduce=sum_reduce, partitions=4,
                  map_output="key string, value bigint",
                  reduce_output="key string, value bigint")
    j2 = DiscoJob(reduce=keep_ge2, sort=True, partitions=2,
                  reduce_output="key string, value bigint")
    j3 = DiscoJob(reduce=keep_lt2, sort=True, partitions=2,
                  reduce_output="key string, value bigint")
    chain = JobChain({j1: [src], j2: [j1], j3: [j1]})
    res = chain.run()
    assert dict(res[j2].collect()) == {"a": 2, "b": 3}
    assert dict(res[j3].collect()) == {"c": 1}
    assert res[j1].is_cached  # shared intermediate persisted once


def test_jobchain_cycle_detected(spark):
    from disco_spark.operators.classic import DiscoJob, JobChain
    import pytest as _pytest

    j1 = DiscoJob(map=lambda e, p: [(e, 1)], map_output="key string, value bigint")
    j2 = DiscoJob(map=lambda e, p: [(e, 1)], map_output="key string, value bigint")
    chain = JobChain({j1: [j2], j2: [j1]})
    with _pytest.raises(ValueError, match="cycle"):
        chain.run()


def test_job_save_publishes_tag(spark):
    """save='tag' persists results to the catalog (reference save_results:
    job_coordinator.erl:370-407 -> disco:results:<job> tag)."""
    from disco_spark.operators.classic import DiscoJob
    from disco_spark.functions.library import sum_reduce
    from disco_spark.sources.catalog import TagCatalog

    def wc_map(entry, params):
        for w in entry.split():
            yield w, 1

    src = spark.createDataFrame([("x y x",)], "text string")
    job = DiscoJob(map=wc_map, reduce=sum_reduce, partitions=2,
                   save="results_wc_save_test",
                   map_output="key string, value bigint",
                   reduce_output="key string, value bigint")
    try:
        out = job.run(src)
        assert dict(out.collect()) == {"x": 2, "y": 1}
        cat = TagCatalog(spark)
        assert cat.exists("results_wc_save_test")
        assert dict(cat.get("results_wc_save_test").collect()) == {"x": 2, "y": 1}
    finally:
        TagCatalog(spark).delete("results_wc_save_test")
