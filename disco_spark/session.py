"""SparkSession factory tuned for the disco_spark engine.

The reference engine (discoproject/disco) has no logical optimizer and
executes user pipelines verbatim (SURVEY.md §4). We instead lean on
Catalyst + AQE for everything it subsumes; this module centralizes the
session configuration so every entry point (tests, bench, driver) gets
the same scale-oriented defaults:

- AQE on (runtime coalescing, skew-join splitting) — replaces disco's
  static ``nr_reduces`` knob (reference: lib/disco/worker/classic/worker.py:227-296).
- Arrow on for every Python<->JVM boundary (pandas UDFs are the only
  sanctioned Python hot path).
- shuffle.partitions sized for local[32] test runs; on a real cluster
  AQE's coalescing makes the initial number mostly a ceiling.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

from disco_spark import store

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(app_name: str = "disco_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In local mode we mirror the driver's harness (local[$SPARK_GRAFT_CPUS]);
    on a cluster the master is injected by spark-submit and this factory
    only contributes SQL-level settings, all of which are cluster-safe.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # Catalyst/AQE: let the optimizer re-plan at runtime. At 100 TB the
        # skew-join and partition-coalescing rules matter more than any
        # static partition count we could pick here.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        # Arrow for all pandas UDF / toPandas traffic.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dims (region/nation/supplier/part heads)
        # must broadcast; 64 MB is safe for 128 GiB executors.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long ns and convert in load_tables (values are
        # µs-precision, so the conversion is lossless).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off by default (driver/bench runs need no port); profiling
        # tools set SPARK_GRAFT_UI=1 to read per-stage metrics over the
        # UI REST API (tools/profile_query.py). Explicit value compare:
        # SPARK_GRAFT_UI=0 must mean OFF, not truthy-string ON.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ and not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    return builder.getOrCreate()


def _normalize_event_ts(df):
    """Normalize the events.ts column to plain TimestampType.

    The driver's parquet has shipped ts as TIMESTAMP(NANOS) (read as
    bigint under nanosAsLong) and as TIMESTAMP_NTZ in different
    environments; watermarks and unix_micros both require TIMESTAMP, so
    repair either shape here. The session is pinned to UTC, making the
    NTZ->TIMESTAMP cast value-stable.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # integer division: epoch-ns exceeds double's 53-bit mantissa,
        # so float division would corrupt microseconds
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# DataFrames are lazy plans, so caching them per (application, sf_dir) is
# safe — the ~1s of driver work load_tables saves per call (10 parquet
# footer reads + schema inference) was a fixed tax on EVERY registered
# query, and the driver/bench run dozens per session against one sf_dir.
_TABLE_CACHE: dict[tuple[str, str], dict] = {}

# Last sf_dir whose views were registered, per live session (weak: dead
# sessions drop out). Re-registering 10 identical temp views cost ~65 ms
# of py4j/catalog work on EVERY query call (r15 construction-tax
# profile); views only need (re-)registration when the session has not
# seen THIS sf_dir as its latest registration — alternating sf_dirs
# still re-register every switch.
import weakref

_LAST_VIEWS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def scratch_dir(name: str, sf_dir: str) -> str:
    """Stable per-(operator, dataset) scratch directory under
    benchdata/scratch — for queries that WRITE a layout and read it back
    (roundtrips, partitioned-layout demos). Unlike a tempdir deleted in
    a finally block, the files outlive the query function, so the
    returned lazy DataFrame can be (re)computed whenever the caller
    runs its action — no cache-eviction-vs-deleted-source race. Writers
    use mode("overwrite"), which makes re-runs self-cleaning."""
    root = store.store_path(os.path.join("scratch", name), sf_dir)
    os.makedirs(root, exist_ok=True)
    return root


def file_fingerprints(files: list[str]) -> list:
    """(path, size, mtime_ns) per input file when stat is possible — the
    shared staleness fingerprint for every persisted store AND in-memory
    training cache. Nanosecond mtime (not whole seconds): a same-size
    rewrite within one second must still invalidate. Remote URIs fall
    back to the bare path (a real deployment would use the store's
    etags)."""
    out = []
    for f in sorted(files):
        local = f[len("file:"):] if f.startswith("file:") else f
        try:
            st = os.stat(local)
            out.append([f, st.st_size, st.st_mtime_ns])
        except OSError:
            out.append([f, None, None])
    return out


def default_parallelism(spark: SparkSession, fallback: int = 32) -> int:
    """sparkContext (and so defaultParallelism) is absent under Spark
    Connect — every plan-shaping use must go through this guard instead
    of touching spark.sparkContext directly (the fan_out
    lesson). The fallback only sizes partition counts, never changes
    results."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return fallback


_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(raw: str) -> int:
    """'134217728', '134217728b', '128m', '128mb', '1g' -> bytes."""
    s = str(raw).strip().lower()
    if s.endswith("b") and len(s) >= 2 and s[-2] in _SIZE_SUFFIX:
        s = s[:-1]  # two-letter suffix: kb/mb/gb/tb
    mult = 1
    if s and s[-1] in _SIZE_SUFFIX:
        mult = _SIZE_SUFFIX[s[-1]]
        s = s[:-1]
    return int(s) * mult


def fan_out(df):
    """Spread a low-parallelism input across the cluster before a
    compute-heavy pass (the reference splits map input per 64 MB blob —
    worker.py task-per-input; one small parquet file arriving as ONE
    Spark partition would serialize the whole pass through one task).
    Decided from Catalyst's size estimate (a ~10 ms driver probe —
    converting to an RDD to count partitions costs 50x that): when the
    input would scan as fewer splits than cores, repartition; at real
    scale the estimate exceeds the threshold and this is a no-op, so no
    shuffle is added to big jobs."""
    spark = df.sparkSession
    try:
        # sparkContext/_jdf are absent under Spark Connect — any failure
        # here means "can't estimate", and the safe fallback is to leave
        # the input untouched (never inject a full shuffle of an input
        # of unknown size).
        target = spark.sparkContext.defaultParallelism
        est_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        max_split = _parse_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except Exception:
        return df  # stats unavailable: leave partitioning as-is
    est_splits = max(1, est_bytes // max_split)
    # only worth a shuffle when the input is BOTH badly under-split
    # (< half the cores) and small enough that moving it is cheap
    if est_splits < max(1, target // 2) and est_bytes < (1 << 30):
        return df.repartition(target)
    return df


# Persists created inside a registered query function outlive the
# function (the plan is lazy; the caller runs the action), so the builder
# can never unpersist them itself. Track them here and release the lot at
# the NEXT registered-query invocation (registry.query wrapper): at most
# one query's worth of deferred cache is resident at a time, instead of
# every shingle/base projection accumulating for the session's lifetime
# (visible as creeping executor-storage growth across a 49-query bench).
# The handles are kept per creating thread: a query started on one thread
# must not unpersist frames another thread is still reading.
_DEFERRED_PERSISTS: dict[threading.Thread, list] = {}
_DEFERRED_LOCK = threading.Lock()


def lazy_persist(df):
    """persist() a DataFrame whose action happens after the building
    query function returns; released automatically when the next
    registered query starts on the same thread (or via release_deferred)."""
    df = df.persist()
    with _DEFERRED_LOCK:
        _DEFERRED_PERSISTS.setdefault(threading.current_thread(), []).append(df)
    return df


def release_deferred() -> int:
    """Unpersist the calling thread's deferred handles and those left by
    threads that have exited; returns how many were released."""
    me = threading.current_thread()
    with _DEFERRED_LOCK:
        done = [t for t in _DEFERRED_PERSISTS if t is me or not t.is_alive()]
        dfs = [df for t in done for df in _DEFERRED_PERSISTS.pop(t)]
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    return len(dfs)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Read every testdata table under ``sf_dir`` and register temp views.

    Returns {name: DataFrame}. Missing tables are skipped so callers can
    run against partial datasets. Plans are cached per (application,
    sf_dir); temp views are (re-)registered on every call so sessions
    that alternate sf_dirs always see views matching THIS call.
    """
    # The driver may hand us a session built without our factory; the
    # events table stores TIMESTAMP(NANOS) which Spark rejects unless this
    # runtime SQL conf is set (values are µs-precision; see get_spark).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        # The cached plans are bound to the session that first built them;
        # a sibling session in the same application (newSession/Connect)
        # must not inherit them — its catalog is separate, and temp views
        # would land in the wrong session. Rebuild for that session.
        if all(df.sparkSession is spark for df in cached.values()):
            if _LAST_VIEWS.get(spark) != key[1]:
                for name, df in cached.items():
                    df.createOrReplaceTempView(name)
                _LAST_VIEWS[spark] = key[1]
            return dict(cached)
        _TABLE_CACHE.pop(key, None)
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            if name == "events":
                df = _normalize_event_ts(df)
            df.createOrReplaceTempView(name)
            out[name] = df
    if not out:
        raise FileNotFoundError(
            f"no testdata tables found under {sf_dir!r} "
            f"(expected <table>.parquet for {', '.join(TABLES)})"
        )
    _TABLE_CACHE[key] = dict(out)
    _LAST_VIEWS[spark] = key[1]
    return out
