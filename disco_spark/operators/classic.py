"""Classic MapReduce compat layer: ``DiscoJob(map=..., reduce=...)``
runs on the one executor, ``plans.pipeline.Pipeline``, lowered as the
reference lowers a classic job (SURVEY.md §2.4/§3.1, jobpack.erl:380-401):

    map only      [{map,split},{map_shuffle,group_node}] -> [(split, map)]
    map + reduce  ... + {reduce,group_label}  -> + [(group_label, reduce)]
    reduce only   [{reduce,group_label}]      -> [(group_label, reduce)]

map_shuffle is the identity here (no exchange follows a map).
- map / map_init / combiner fuse into the split stage, one streaming
  Python pass; the combiner (func.py:48-71) is flushed every
  COMBINER_FLUSH_EVERY records to bound memory (classic/worker.py:346-354).
- partition(key, n, params) is the label. A custom partitioner labels
  pairs in the split stage (a reduce-only job gets a split stage that
  only labels); the default one (func.py:128-129) is the JVM column
  pmod(hash(key), n), so a reduce-only job keeps its one Python pass.
- sort=True is ``Stage.sort``: byte order within a label (unix sort
  LC_ALL=C, unsigned compare on BinaryType keys — util.py:319-388).
- reduce (iter, out, params) / reduce2 (iter, params) -> pairs
  (func.py:73-114) and reduce_init run once per label with records
  (``combine=True``): one reduce task per label, classic/worker.py:373-395.
The only exchange is the one the reference also does (map -> reduce).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from disco_spark.functions.library import kvify
from disco_spark.plans.pipeline import GROUP_LABEL, SPLIT, Pipeline, Stage
from disco_spark.session import fan_out

COMBINER_FLUSH_EVERY = 100_000


class _OOBDictParam:
    """AccumulatorParam merging OOB key->value dicts (duck-typed; pyspark
    only calls zero/addInPlace). Same-key puts keep the later write, like
    the reference's OOB blob overwrite (lib/disco/task.py:122-145); since
    a retried task re-puts identical values, merge is idempotent under
    Spark task retries."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


def _labeled(df: DataFrame) -> DataFrame:
    """Input rows as pipeline records (label 0, key, value): a single
    column is the key with a null value, two columns are the pair, and
    wider rows travel as one struct key. Columns are taken by position,
    so an input column named ``label`` is data, not a label."""
    width = len(df.columns)
    df = df.toDF(*(f"_{i}" for i in range(width)))
    if width == 2:
        key, value = F.col("_0"), F.col("_1")
    else:
        key = F.col("_0") if width == 1 else F.struct(*df.columns)
        value = F.lit(None).cast("string")
    return df.select(F.lit(0).alias("label"), key.alias("key"), value.alias("value"))


class DiscoJob:
    """Classic-API job over DataFrames.

    ``input`` rows become map entries: a single-column row passes the bare
    value, a (key, value) row passes the pair, anything else passes the
    row tuple (reference readers produce exactly these shapes;
    disco.util.kvify pads bare values — lib/disco/util.py:112-113).

    ``map_output`` / ``reduce_output`` are Spark DDL schema strings for
    the emitted (key, value) pairs — the compat layer is typed so results
    stay columnar (Parquet/Tungsten) instead of pickled blobs.
    """

    def __init__(
        self,
        *,
        map: Callable | None = None,
        map_init: Callable | None = None,
        combiner: Callable | None = None,
        reduce: Callable | None = None,
        reduce_init: Callable | None = None,
        partition: Callable | None = None,
        partitions: int | None = None,
        sort: bool = False,
        save: str | None = None,
        oob: bool = False,
        params=None,
        map_output: str = "key string, value bigint",
        reduce_output: str = "key string, value bigint",
    ):
        self.map = map
        self.map_init = map_init
        self.combiner = combiner
        self.reduce = reduce
        self.reduce_init = reduce_init
        self.partition = partition
        self.partitions = partitions
        self.sort = sort
        self.save = save
        self.oob = oob
        self._oob_acc = None
        self.params = params
        self.map_output = map_output
        self.reduce_output = reduce_output

    # -- split stage: map_init + map + combiner (+ custom label) ---------
    def _split_stage(self, width: int, n: int, output: str) -> Stage:
        user_map, params = self.map, self.params
        user_init, user_combiner = (self.map_init, self.combiner) if user_map else (None, None)
        label_of = self.partition if self.reduce is not None else None

        def process(iface, state, _label, inp):
            if user_map is None or width == 2:
                entries = inp
            elif width == 1:
                entries = (k for k, _v in inp)
            else:
                entries = (tuple(k.values()) for k, _v in inp)
            if user_init is not None:
                user_init(entries, params)  # may consume a stream prologue
            if label_of is None:
                emit = iface.output(0).add
            else:
                adds: dict = {}

                def emit(k, v):
                    label = int(label_of(k, n, params))
                    add = adds.get(label) or adds.setdefault(label, iface.output(label).add)
                    add(k, v)

            buf: dict = {}
            pending = 0

            def drain():
                for k, v in user_combiner(None, None, buf, True, params) or ():
                    emit(k, v)
                buf.clear()

            for entry in entries:
                for out in (entry,) if user_map is None else user_map(entry, params):
                    k, v = kvify(out)
                    if user_combiner is None:
                        emit(k, v)
                        continue
                    user_combiner(k, v, buf, False, params)
                    pending += 1
                    if pending >= COMBINER_FLUSH_EVERY:
                        drain()
                        pending = 0
                yield
            if user_combiner is not None:
                drain()

        return Stage("map", process=process, output=output)

    # -- reduce stage: one call per label --------------------------------
    def _reduce_stage(self) -> Stage:
        user_reduce, user_init, params = self.reduce, self.reduce_init, self.params
        # reduce2 variant (iter, params) returns an iterable of pairs
        # (reference func.py:93-114); reduce (iter, out, params) uses out.add.
        is_reduce2 = len(inspect.signature(user_reduce).parameters) == 2

        def process(iface, state, label, inp):
            if user_init is not None:
                user_init(inp, params)
            out = iface.output(label)
            if not is_reduce2:
                user_reduce(inp, out, params)
                return
            for pair in user_reduce(inp, params):
                out.add(*kvify(pair))
                yield

        return Stage(
            "reduce", process=process, combine=True, sort=self.sort, output=self.reduce_output
        )

    def _lower(self, input: DataFrame) -> DataFrame:
        """The job as pipeline stages over (label, key, value) records."""
        n = self.partitions or int(input.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        df = _labeled(input if self.map is None else fan_out(input))
        if self.map is not None:
            output = self.map_output
        elif self.partition is not None:
            # a reduce-only job with a custom partitioner: the split stage
            # only labels the input pairs, which keep their types
            output = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema[1:])
        else:
            output = None
        if output is not None:
            df = Pipeline([(SPLIT, self._split_stage(len(input.columns), n, output))]).run(df)
        if self.reduce is not None:
            if self.partition is None:
                df = df.withColumn("label", F.pmod(F.hash("key"), F.lit(n)))
            stages = [(GROUP_LABEL, self._reduce_stage())]
            df = Pipeline(stages, label_partitions=self.partitions).run(df)
        return df.drop("label")

    def run(self, input: DataFrame) -> DataFrame:
        """Execute the job plan lazily; returns the result DataFrame
        (the reference's ``job.wait()`` + ``result_iterator`` collapse to
        ordinary DataFrame actions — SURVEY §3.1 steps 7-8).
        """
        df = input
        if self.oob:
            self._attach_oob(input.sparkSession)
        if self.map is not None or self.reduce is not None:
            df = self._lower(input)
        if self.save:
            # save=True in the reference persists results under a
            # `disco:results:<job>` DDFS tag (job_coordinator.erl:370-407);
            # here `save='tag'` publishes to the tag catalog.
            from disco_spark.sources.catalog import TagCatalog

            TagCatalog(df.sparkSession).push(self.save, df, mode="overwrite")
            return df.sparkSession.table(self.save)
        return df

    # -- OOB side-channel --------------------------------------------------
    # Reference tasks call the globals put(key, blob)/get(key) and clients
    # call job.oob_get/oob_list over HTTP (lib/disco/task.py:122-145,
    # lib/disco/util.py:301-311; tests/test_oob.py). Spark mapping:
    # executor-side puts flow through a dict-merge accumulator (the one
    # sanctioned executor->driver side-channel that doesn't shuffle or
    # collect data rows); within-job cross-stage get is subsumed by the
    # shuffle itself — reduce already receives the mapped records, so
    # the OOBJob1-style `assert v == get(k)` contract is the shuffle's
    # delivery guarantee. Cross-JOB get (load_oob) is `other_job.oob_get`
    # after that job's action, same as the reference's completed-job read.
    def _attach_oob(self, spark) -> None:
        from disco_spark.functions.library import Params

        acc = spark.sparkContext.accumulator({}, _OOBDictParam())
        self._oob_acc = acc
        # copy the caller's params bag: rebinding oob_put on a SHARED
        # Params would cross-wire puts between jobs (last run() wins)
        self.params = Params(**(self.params.__dict__ if self.params else {}))
        self.params.oob_put = lambda k, v: acc.add({k: v})

    def oob_list(self) -> list:
        """OOB keys put so far (valid after an action on the result —
        accumulators materialize on job completion, like the reference's
        results-ready barrier)."""
        return sorted(self._oob_acc.value) if self._oob_acc is not None else []

    def oob_get(self, key):
        return self._oob_acc.value[key] if self._oob_acc is not None else None


def load_oob(job: "DiscoJob", key):
    """Read a completed job's OOB blob (reference lib/disco/util.py:301-311
    ``load_oob(master, jobname, key)`` — the cross-JOB read path used by
    tests/test_oob.py OOBJob2). Here the completed job object IS the
    handle; ship the returned value into a later job via Params or a
    broadcast, exactly as the reference ships it via the master URL."""
    return job.oob_get(key)


def disco_job(**kwargs) -> DiscoJob:
    """Convenience constructor mirroring ``disco.job.Job`` keyword style."""
    return DiscoJob(**kwargs)


class JobChain(dict):
    """Dependency-ordered multi-job execution, mirroring the reference's
    ``JobChain`` (lib/disco/job.py:155-190: a dict {job: inputs} where an
    input may be another job, run with ``.run().wait()``).

    Here inputs are DataFrames or other ``DiscoJob`` keys of the same
    chain; multiple inputs are unioned (the reference concatenates input
    URL lists). An intermediate consumed by more than one downstream job
    is ``persist()``-ed so the chain computes it once — the Spark analog
    of each reference job materializing results to DDFS.

        chain = JobChain({
            j1: [df_a],
            j2: [df_b],
            j3: [j1, j2],
        })
        result = chain.run()[j3]   # DataFrame of the sink job
    """

    def run(self) -> dict[DiscoJob, DataFrame]:
        results: dict[DiscoJob, DataFrame] = {}
        fanout: dict[DiscoJob, int] = {}
        for inputs in self.values():
            for dep in inputs:
                if isinstance(dep, DiscoJob):
                    fanout[dep] = fanout.get(dep, 0) + 1

        def resolve(job: DiscoJob, seen: tuple) -> DataFrame:
            if job in results:
                return results[job]
            if job in seen:
                raise ValueError("cycle in JobChain")
            dfs = [
                resolve(d, seen + (job,)) if isinstance(d, DiscoJob) else d
                for d in self[job]
            ]
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionAll(other)
            out = job.run(df)
            if fanout.get(job, 0) > 1:
                out = out.persist()
            results[job] = out
            return out

        for job in self:
            resolve(job, ())
        return results

    def wait(self) -> dict[DiscoJob, DataFrame]:
        """Reference API parity: run() is already lazy-DataFrame cheap;
        wait() just returns the same mapping."""
        return self.run()
