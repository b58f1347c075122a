"""Registered queries that exercise the classic MapReduce compat layer
(DiscoJob) end-to-end, with DuckDB oracles — the reference's canonical
user programs re-run on Spark:

- classic_wordcount   -> reference README.md:17-30, tests/test_50k.py:5-15
- classic_grep        -> reference examples/util/grep.py:11-21
- classic_sort_reduce -> reference tests/test_sort.py:9-28 (sorted-stream
                         reduce + kvgroup)
- classic_innerjoin   -> reference examples/util/simple_innerjoin.py:6-27
                         (sort-merge join as a classic job)
- classic_partition_histogram -> custom partitioner parity
                         (func.py:39-46) + sum_reduce
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.functions.library import kvgroup, sum_combiner, sum_reduce
from disco_spark.operators.classic import DiscoJob
from disco_spark.registry import query
from disco_spark.session import lazy_persist, load_tables
from disco_spark.textops.analysis import _TOKS_SQL


def _wc_map(entry, params):
    for word in entry.split():
        yield word, 1


@query(
    "classic_wordcount",
    oracle=f"""
    SELECT tok AS key, COUNT(*) AS value
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
    """,
)
def classic_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    job = DiscoJob(
        map=_wc_map,
        combiner=sum_combiner,
        reduce=sum_reduce,
        partitions=8,
        map_output="key string, value bigint",
        reduce_output="key string, value bigint",
    )
    return job.run(t["documents"].select("text"))


def _grep_map(entry, params):
    import re

    doc_id, text = entry
    if re.search(params, text):
        yield doc_id, text


@query(
    "classic_grep",
    oracle="""
    SELECT doc_id AS key, text AS value FROM documents
    WHERE regexp_matches(text, 'data')
    """,
)
def classic_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    job = DiscoJob(map=_grep_map, params="data", map_output="key bigint, value string")
    return job.run(t["documents"].select("doc_id", "text"))


def _seg_map(entry, params):
    yield entry, 1


def _count_sorted_groups(iter, out, params):
    # consumes the byte-sorted stream; kvgroup only works because the
    # compat layer delivered keys grouped (sort=True contract,
    # reference lib/disco/worker/classic/worker.py:397-404)
    for key, vals in kvgroup(iter):
        out.add(key, sum(vals))


@query(
    "classic_sort_reduce",
    oracle="SELECT c_mktsegment AS key, COUNT(*) AS value FROM customer GROUP BY c_mktsegment",
)
def classic_sort_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    job = DiscoJob(
        map=_seg_map,
        reduce=_count_sorted_groups,
        sort=True,
        partitions=4,
        map_output="key string, value bigint",
        reduce_output="key string, value bigint",
    )
    return job.run(t["customer"].select("c_mktsegment"))


def _pair_map(entry, params):
    yield str(entry[0]), int(entry[1])


def _oob_sum_reduce(iter, out, params):
    # strictly-ascending group keys prove the compat layer really
    # delivered a byte-sorted stream (sort=True contract, reference
    # lib/disco/worker/classic/worker.py:397-404 + tests/test_pipeline_sort.py)
    last = None
    for key, vals in kvgroup(iter):
        if last is not None and not key > last:
            raise ValueError(f"sort=True violated: {key!r} after {last!r}")
        last = key
        n = total = 0
        for v in vals:
            n += 1
            total += v
        out.add(key, total)
        # OOB side-output: one record-count blob per reduce group
        # (reference tests/test_oob.py OOBJob1.reduce put pattern)
        params.oob_put("groups:" + key, n)


@query(
    "classic_oob_sorted_reduce",
    oracle="""
    SELECT o_orderpriority AS key, SUM(o_orderkey)::BIGINT AS value
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'groups:' || o_orderpriority AS key, COUNT(*) AS value
    FROM orders GROUP BY o_orderpriority
    """,
)
def classic_oob_sorted_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sort=True reduce + OOB put/get + result_iterator, end-to-end:
    the reduce asserts byte-sorted delivery, puts per-group counts on
    the OOB channel, the driver streams results via result_iterator
    (never collect) and verifies the OOB rows against the data by
    returning BOTH through one oracle (reference tests/test_oob.py,
    tests/test_pipeline_sort.py; lib/disco/task.py:122-145)."""
    from disco_spark.sources.readers import result_iterator

    t = load_tables(spark, sf_dir)
    job = DiscoJob(
        map=_pair_map,
        reduce=_oob_sum_reduce,
        sort=True,
        oob=True,
        partitions=4,
        map_output="key string, value bigint",
        reduce_output="key string, value bigint",
    )
    res = lazy_persist(job.run(t["orders"].select("o_orderpriority", "o_orderkey")))
    # the action that completes the job and materializes OOB; streams
    # partition-by-partition, nothing collects driver-side
    for _ in result_iterator(res):
        pass
    oob_rows = [(k, int(job.oob_get(k))) for k in job.oob_list()]
    return res.unionAll(
        spark.createDataFrame(oob_rows, "key string, value bigint")
    )


def _join_reduce(iter, out, params):
    for _custkey, vals in kvgroup(iter):
        name, n_orders = None, 0
        for v in vals:
            if v.startswith("C:"):
                name = v[2:]
            else:
                n_orders += 1
        if name is not None:
            out.add(name, n_orders)


@query(
    "classic_innerjoin",
    oracle="""
    SELECT c_name AS key, COUNT(o_orderkey) AS value
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_name
    """,
)
def classic_innerjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    left = t["customer"].select(
        F.col("c_custkey").cast("string").alias("key"),
        F.concat(F.lit("C:"), F.col("c_name")).alias("value"),
    )
    right = t["orders"].select(
        F.col("o_custkey").cast("string").alias("key"), F.lit("O").alias("value")
    )
    job = DiscoJob(
        reduce=_join_reduce,
        sort=True,
        partitions=8,
        reduce_output="key string, value bigint",
    )
    return job.run(left.unionAll(right))


def _bucket_map(entry, params):
    yield int(entry // 50000), 1


def _mod_partition(key, n, params):
    return int(key) % n


@query(
    "classic_partition_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS key, COUNT(*) AS value
    FROM orders GROUP BY 1
    """,
)
def classic_partition_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    job = DiscoJob(
        map=_bucket_map,
        partition=_mod_partition,
        reduce=sum_reduce,
        partitions=4,
        map_output="key bigint, value bigint",
        reduce_output="key bigint, value bigint",
    )
    return job.run(t["orders"].select("o_totalprice"))


def _filter_common_reduce(iter, out, params):
    for k, vs in kvgroup(iter):
        total = sum(vs)
        if total >= params:
            out.add(k, total)


@query(
    "classic_chain_common_words",
    oracle=f"""
    SELECT tok AS key, COUNT(*) AS value
    FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)
    GROUP BY tok
    HAVING COUNT(*) >= 100
    """,
)
def classic_chain_common_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JobChain parity (reference lib/disco/job.py:155-190): job 1 is the
    wordcount, job 2 consumes job 1's results and keeps common words —
    the chained-jobs pattern of reference tests/test_chain.py."""
    from disco_spark.operators.classic import JobChain

    t = load_tables(spark, sf_dir)
    j1 = DiscoJob(
        map=_wc_map,
        combiner=sum_combiner,
        reduce=sum_reduce,
        partitions=8,
        map_output="key string, value bigint",
        reduce_output="key string, value bigint",
    )
    j2 = DiscoJob(
        reduce=_filter_common_reduce,
        sort=True,
        partitions=8,
        params=100,
        reduce_output="key string, value bigint",
    )
    chain = JobChain({j1: [t["documents"].select("text")], j2: [j1]})
    return chain.run()[j2]


from disco_spark.sampling import _bucket_sql, hash_bucket  # noqa: E402  (shared md5-bucket idiom)


@query(
    "montecarlo_pi",
    oracle=f"""
    WITH s AS (
      SELECT i,
             {_bucket_sql("('x' || i)", 1_000_000)} / 1000000.0 AS x,
             {_bucket_sql("('y' || i)", 1_000_000)} / 1000000.0 AS y
      FROM generate_series(0, 99999) AS t(i)
    )
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN x * x + y * y < 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS inside,
           ROUND(4.0 * SUM(CASE WHEN x * x + y * y < 1 THEN 1 ELSE 0 END)
                 / COUNT(*), 6) AS pi_est
    FROM s
    """,
)
def montecarlo_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo pi (reference examples/util/estimate_pi.py: COUNT
    raw:// map tasks each drawing one random point). Spark-first: ONE
    range scan of 100k rows, and random() is replaced by hash-derived
    uniforms (md5-bucket / 1e6) so the estimate is deterministic,
    engine-portable, and oracle-checkable — same reproducibility rule as
    the sampling operators. Scale: spark.range partitions the id space;
    no shuffle at all until the single partial/final agg."""
    n = 100_000

    def u(prefix: str):
        # the engine-wide md5-bucket (sampling.hash_bucket) at micro
        # resolution — one definition of "deterministic uniform"
        key = F.concat(F.lit(prefix), F.col("id").cast("string"))
        return hash_bucket(key, 1_000_000) / 1_000_000.0

    s = spark.range(n).select(u("x").alias("x"), u("y").alias("y"))
    inside = F.sum(F.when(F.col("x") * F.col("x") + F.col("y") * F.col("y") < 1, 1).otherwise(0))
    return s.agg(
        F.count(F.lit(1)).alias("n"),
        inside.cast("bigint").alias("inside"),
        F.round(F.lit(4.0) * inside / F.count(F.lit(1)), 6).alias("pi_est"),
    )


@query(
    "letter_freq",
    oracle="""
    SELECT letter, COUNT(*) AS n
    FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]')) AS letter
          FROM documents)
    GROUP BY letter
    """,
)
def letter_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Letter-frequency histogram (reference examples/ipython/
    letter_freq.py: per-char map + kvgroup-sum reduce) as one explode +
    groupBy — partial aggregation collapses each input partition to at
    most 26 rows before the shuffle."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]"), 0)).alias("letter"))
        .groupBy("letter")
        .agg(F.count(F.lit(1)).alias("n"))
    )
