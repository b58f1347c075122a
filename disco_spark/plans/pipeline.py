"""Pipeline dataflow model: ``Pipeline([(grouping, Stage), ...])``.

Re-expresses the reference's five grouping operators and stage entry
points (reference doc/howto/pipeline.rst:9-47; Stage contract
lib/disco/worker/pipeline/worker.py:44-120; execution order
run_stage worker.py:263-280; grouping semantics
master/src/pipeline_utils.erl:106-181) on Spark:

| grouping          | exchange                | task granularity        |
|-------------------|-------------------------|-------------------------|
| split             | none                    | one task per partition  |
| group_label       | repartition(n, label)   | label groups co-located |
| group_all         | repartition(1)          | single global task      |
| group_node        | none (pre-shuffle)      | per-partition combine   |
| group_node_label  | none (pre-shuffle)      | per (partition, label)  |

``group_node(_label)`` have no host-placement analog in Spark by design
(SURVEY §7 risks): we guarantee the *algebraic* contract — a combining
stage runs before any exchange — which is what the reference uses them
for (node-local pre-reduce, doc/howto/pipeline.rst:135-168).

Stage entry points run per task (= Spark partition), streaming over
Arrow batches: rows are ordered by label (and by key when
``stage.sort``), consecutive-label runs form the per-label input
streams, so a task never materializes its whole input. One process()
call per label group (``combine=True`` semantics); per-input-file calls
(``combine=False``) collapse to per-label calls post-shuffle because
Spark consolidates shuffle inputs — only side-effect granularity
differs, not data semantics.

Records are (label: int, key, value) rows — the label IS the
reference's non-negative output label (master/include/pipeline.hrl:8-10),
carried as an ordinary column so Catalyst can prune/push around it.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from itertools import chain, groupby
from operator import itemgetter

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_BATCH = 10_000

SPLIT = "split"
GROUP_LABEL = "group_label"
GROUP_ALL = "group_all"
GROUP_NODE = "group_node"
GROUP_NODE_LABEL = "group_node_label"
GROUPINGS = (SPLIT, GROUP_LABEL, GROUP_ALL, GROUP_NODE, GROUP_NODE_LABEL)


def default_input_hook(state, labels):
    """Default label-order hook: no reordering (reference worker.py:40-42)."""
    return labels


class Stage:
    """Task entry points: init -> process (per label) -> done.

    ``process(interface, state, label, inp)`` consumes ``inp`` — an
    iterator of (key, value) — and emits via
    ``interface.output(label).add(k, v)``; a generator ``process``
    streams its output in batches each time it yields. ``output`` is the
    Spark DDL schema of emitted (key, value) pairs.
    """

    def __init__(
        self,
        name: str = "",
        init: Callable | None = None,
        process: Callable | None = None,
        done: Callable | None = None,
        input_hook: Callable = default_input_hook,
        combine: bool = False,
        sort: bool = False,
        output: str = "key string, value bigint",
    ):
        self.name = name
        self.init = init
        self.process = process
        self.done = done
        self.input_hook = input_hook
        self.combine = combine
        self.sort = sort
        self.output = output


class _LabeledOutput:
    __slots__ = ("_rows", "_label")

    def __init__(self, rows: list, label: int):
        self._rows = rows
        self._label = label

    def add(self, k, v):
        self._rows.append((self._label, k, v))


class Interface:
    """What a stage sees: ``interface.output(label).add(k, v)``
    (reference make_interface, worker.py:230-236)."""

    __slots__ = ("_rows",)

    def __init__(self):
        self._rows: list[tuple] = []

    def output(self, label: int) -> _LabeledOutput:
        return _LabeledOutput(self._rows, int(label))


def _stage_runner(stage: Stage, params):
    """Build the mapInPandas function executing one stage task."""
    init, process, done = stage.init, stage.process, stage.done
    input_hook = stage.input_hook
    buffered = input_hook is not default_input_hook

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iface = Interface()

        def flush():
            # emptied in place: outputs a process holds keep appending here
            rows = iface._rows
            for i in range(0, len(rows), OUT_BATCH):
                yield pd.DataFrame(
                    rows[i : i + OUT_BATCH], columns=["label", "key", "value"]
                )
            rows.clear()

        def label_runs():
            # (label, (key, value) pairs) per stretch of equal labels in
            # a batch, cut with numpy so no Python code runs per row
            for pdf in batches:
                labels = pdf["label"].to_numpy()
                keys, values = pdf["key"].tolist(), pdf["value"].tolist()
                cuts = [0, *(np.flatnonzero(np.diff(labels)) + 1).tolist(), len(labels)]
                for a, b in zip(cuts, cuts[1:]):
                    if a < b:
                        yield int(labels[a]), zip(keys[a:b], values[a:b])

        def call(label, inp):
            # output leaves in full batches (a batch costs a DataFrame and
            # an Arrow conversion); a generator process streams, each
            # yield a chance to flush
            for _ in process(iface, state, label, inp) or ():
                if len(iface._rows) >= OUT_BATCH:
                    yield from flush()
            if len(iface._rows) >= OUT_BATCH:
                yield from flush()

        state = init(iface, params) if callable(init) else None

        if callable(process):
            if buffered:
                # custom input_hook needs the label set upfront; buffer
                # label groups (the reference equivalently holds one
                # file handle per label — worker.py:249-256).
                by_label: dict[int, list] = {}
                for label, run in label_runs():
                    by_label.setdefault(label, []).extend(run)
                for label in input_hook(state, sorted(by_label)):
                    yield from call(label, iter(by_label[label]))
            else:
                # streaming: rows arrive ordered by label, consecutive
                # runs are the per-label input streams.
                for label, runs in groupby(label_runs(), key=itemgetter(0)):
                    yield from call(label, chain.from_iterable(run for _l, run in runs))

        if callable(done):
            done(iface, state)
        yield from flush()

    return run


class Pipeline:
    """A linear pipeline of (grouping, Stage) pairs over DataFrames.

    ``label_partitions`` bounds the exchange width for group_label
    stages (the reference's label space is data-driven and sparse —
    SURVEY §7 maps labels through a dense partitioning).
    """

    def __init__(self, stages: list[tuple[str, Stage]], *, label_partitions: int | None = None, params=None):
        for g, _s in stages:
            if g not in GROUPINGS:
                raise ValueError(f"unknown grouping {g!r}; expected one of {GROUPINGS}")
        self.stages = stages
        self.label_partitions = label_partitions
        self.params = params

    def run(self, df: DataFrame) -> DataFrame:
        if "label" not in df.columns:
            cols = [F.lit(0).alias("label")] + [F.col(c) for c in df.columns]
            df = df.select(*cols)
        if len(df.columns) == 2:  # bare values: kvify pads (entry, None)
            df = df.select(
                "label", F.col(df.columns[1]).alias("key"), F.lit(None).cast("string").alias("value")
            )
        elif len(df.columns) == 3:
            df = df.toDF("label", "key", "value")
        else:
            raise ValueError(
                f"pipeline input must be (label?, key, value?) shaped, got {df.columns}"
            )
        for grouping, stage in self.stages:
            if grouping == GROUP_LABEL:
                n = self.label_partitions
                df = df.repartition(n, "label") if n else df.repartition("label")
            elif grouping == GROUP_ALL:
                df = df.repartition(1)
            # split / group_node / group_node_label: no exchange.
            # Sort only when semantics demand it (mirrors the reference,
            # which only disk-sorts for sort=True and only concatenates
            # per label group): sort=True needs (label, key) order;
            # combine=True needs label-grouped runs. combine=False
            # tolerates label interleaving — one process() call per run
            # is the reference's one-call-per-input (worker.py:274-276),
            # so no sort is spent on it at scale.
            if stage.sort:
                df = df.sortWithinPartitions("label", "key")
            elif stage.combine:
                df = df.sortWithinPartitions("label")
            df = df.mapInPandas(
                _stage_runner(stage, self.params), schema=f"label int, {stage.output}"
            )
        return df
