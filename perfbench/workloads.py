"""The benchmark's workloads: what each one generates, sets up, runs and
checks.

A workload hands the runner one operation at a time (closed loop, one
client, one outstanding request). ``Op.run`` is the timed part: calls
into the program's public functions, each wrapped in a tracer span, plus
the action on the result. It returns a check that the runner calls
outside the timed window; a check that fails or raises counts the
operation as failed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench import jobs


@dataclass
class Op:
    name: str
    kind: str  # "job", "read" or "write"
    rows: int  # input rows the operation processes
    run: Callable[[], Callable[[], bool]]


@dataclass
class Stats:
    """Workload-specific numbers beyond the runner's latency bookkeeping."""

    recall: list[float] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.extra[key] = self.extra.get(key, 0.0) + value


class Workload:
    """Subclasses implement generate, warm_tracks, setup, cycle and
    layer_extras."""

    name = ""

    def __init__(self, bench):
        self.b = bench
        self.stats = Stats()

    @property
    def spark(self):
        return self.b.spark

    @property
    def tr(self):
        return self.b.tracer

    def load(self, data_dir: str) -> dict:
        from disco_spark.session import load_tables

        t0 = time.perf_counter()
        tables = load_tables(self.spark, data_dir)
        self.b.timings["session.load_tables_ms"].append((time.perf_counter() - t0) * 1e3)
        return tables

    def generate(self, data_dir: str) -> None:
        """Write the inputs and truth files; keep the truth in memory."""
        raise NotImplementedError

    def warm_tracks(
        self, data_dir: str
    ) -> list[tuple[Callable[[], None] | None, Callable[[], list[Op]]]]:
        """Set-up work that runs once, in parallel threads: each track is a
        store build (or None) and a maker of the operations to run, in
        order, once the build is done. Every operation type runs once, so
        first-call costs (Python workers, code generation) land in set-up
        and stay out of the measured loop."""
        raise NotImplementedError

    def setup(self, data_dir: str, round_no: int) -> None:
        """One set-up round, after the warm-up: register the inputs (and
        open the stores)."""
        raise NotImplementedError

    def cycle(self) -> list[Callable[[], Op]]:
        """Operation factories of one cycle of the fixed mix."""
        raise NotImplementedError

    def recall(self) -> float:
        return float(np.mean(self.stats.recall)) if self.stats.recall else 1.0


def _write_truth(data_dir: str, truth: dict) -> None:
    with open(os.path.join(data_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)


# ---------------------------------------------------------------------------
# batch: Disco-style user programs, a full-corpus MinHash dedup pass and
# star-schema SQL, each result saved or collected and checked
# ---------------------------------------------------------------------------
# Registered queries and the tables each one reads: a grouped aggregate,
# a join + top-k, a six-table star join and a window. The other star
# queries repeat these shapes; each query's first-call cost lands in every
# run's set-up, so the mix stays small.
STAR_QUERIES = (
    ("q1_pricing_summary", ("lineitem",)),
    ("q3_shipping_priority", ("customer", "orders", "lineitem")),
    ("q5_local_supplier", ("lineitem", "orders", "customer", "supplier", "nation", "region")),
    ("window_top_order_per_customer", ("orders",)),
)
# Warm-up runs the MR jobs and the dedup on a slice of the corpus: the
# first-call costs (Python workers, code generation) do not depend on the
# input size, and the slice keeps them out of the measured loop cheaply.
WARM_DOCS, WARM_CLUSTERS = 300, 20


@dataclass
class CorpusTruth:
    """What the MR jobs and the dedup must produce on one document set."""

    counts: dict[str, int]  # token -> occurrences
    freq: dict[str, int]  # occurrences (as text) -> tokens with that count
    identical: list[list[int]]  # groups of documents with the same text
    planted: list[tuple[int, int]]  # planted near-duplicate pairs
    n_docs: int
    n_tokens: int

    @classmethod
    def of(cls, docs: dict[int, list[str]], planted: list[tuple[int, int]]) -> "CorpusTruth":
        counts: Counter = Counter()
        same: dict[str, list[int]] = {}
        for doc_id, toks in docs.items():
            counts.update(toks)
            same.setdefault(" ".join(toks), []).append(doc_id)
        return cls(
            counts=dict(counts),
            freq={str(k): v for k, v in Counter(counts.values()).items()},
            identical=[ids for ids in same.values() if len(ids) > 1],
            planted=planted,
            n_docs=len(docs),
            n_tokens=sum(counts.values()),
        )


class Batch(Workload):
    name = "batch"

    def generate(self, data_dir: str) -> None:
        self._generate_corpus(data_dir)
        self._generate_star(data_dir)
        _write_truth(
            data_dir,
            {
                "token_counts": self.truth.counts,
                "planted_pairs": self.truth.planted,
                "docs": self.truth.n_docs,
                "rows": self.table_rows,
                "oracle_rows": {k: len(v) for k, v in self.expected.items()},
            },
        )

    def _generate_corpus(self, data_dir: str) -> None:
        corpus = gen.corpus_for(self.b.seed)
        self.truth = CorpusTruth.of(corpus.docs, corpus.planted_pairs())
        gen.write_parquet(corpus.frame(), os.path.join(data_dir, "documents.parquet"))
        # the warm-up slice: leading base documents plus whole planted clusters
        ids = sorted(corpus.docs)[:WARM_DOCS]
        clusters = corpus.clusters[:WARM_CLUSTERS]
        ids = sorted(set(ids) | {d for members in clusters for d in members})
        self.warm_truth = CorpusTruth.of({i: corpus.docs[i] for i in ids}, corpus.planted_pairs(clusters))
        self.warm_path = os.path.join(data_dir, "warm", "documents.parquet")
        os.makedirs(os.path.dirname(self.warm_path))
        gen.write_parquet(corpus.frame(ids), self.warm_path)

    def _generate_star(self, data_dir: str) -> None:
        from disco_spark.registry import ORACLES, QUERIES, load_all
        from disco_spark.testing import duckdb_connect

        load_all()
        tables = gen.star_schema(gen.stream(self.b.seed, "star"))
        for name, df in tables.items():
            gen.write_parquet(df, os.path.join(data_dir, f"{name}.parquet"))
        self.table_rows = {k: len(v) for k, v in tables.items()}
        self.expected = {}
        con = duckdb_connect(data_dir)
        try:
            for name, _ in STAR_QUERIES:
                res = con.execute(ORACLES[name])
                self.expected[name] = _answer([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        self.fns = {name: QUERIES[name] for name, _ in STAR_QUERIES}

    def setup(self, data_dir: str, round_no: int) -> None:
        self.data_dir = data_dir
        self.docs = self.load(data_dir)["documents"]

    def warm_tracks(self, data_dir: str) -> list[tuple[None, Callable[[], list[Op]]]]:
        # Three threads: the dedup, the other MR jobs and the SQL queries.
        # Warm-up keeps every core busy, so jobs that share code run one
        # after another: the later ones find it compiled.
        self.data_dir = data_dir
        docs = self.spark.read.parquet(self.warm_path)
        truth = self.warm_truth
        return [
            (None, lambda: [self._dedup(docs, truth)]),
            (None, lambda: [make(docs, truth) for make in (self._wordcount, self._job_chain, self._pipeline)]),
            (None, lambda: [self._query(name, tables) for name, tables in STAR_QUERIES]),
        ]

    def cycle(self) -> list[Callable[[], Op]]:
        return [
            *(partial(make, self.docs, self.truth) for make in (self._wordcount, self._job_chain, self._pipeline, self._dedup)),
            *(partial(self._query, name, tables) for name, tables in STAR_QUERIES),
        ]

    def _saved_equals(self, tag: str, want: dict) -> Callable[[], bool]:
        def check() -> bool:
            got = {r[0]: r[1] for r in self.spark.table(tag).collect()}
            return got == want

        return check

    def _wordcount(self, docs, truth: CorpusTruth) -> Op:
        from disco_spark.functions.library import sum_combiner, sum_reduce
        from disco_spark.operators.classic import DiscoJob

        def run():
            job = DiscoJob(
                map=jobs.word_map, combiner=sum_combiner, reduce=sum_reduce, save="mr_wordcount"
            )
            with self.tr.plan("operators.classic"):
                out = job.run(docs.select("text"))
            with self.tr.exec("operators.classic"):
                out.count()
            return self._saved_equals("mr_wordcount", truth.counts)

        return Op("wordcount", "job", truth.n_docs, run)

    def _pipeline(self, docs, truth: CorpusTruth) -> Op:
        from disco_spark.plans.pipeline import (
            GROUP_LABEL,
            GROUP_NODE_LABEL,
            SPLIT,
            Pipeline,
            Stage,
        )

        def run():
            with self.tr.plan("plans.pipeline"):
                out = Pipeline(
                    [
                        (SPLIT, Stage("map", process=jobs.tokenize_stage)),
                        (GROUP_NODE_LABEL, Stage("condense", process=jobs.sum_stage, combine=True)),
                        (GROUP_LABEL, Stage("reduce", process=jobs.sum_stage, combine=True)),
                    ],
                    label_partitions=jobs.N_LABELS,
                ).run(docs.select("text"))
            with self.tr.exec("plans.pipeline"):
                out.select("key", "value").write.mode("overwrite").saveAsTable("mr_pipeline")
            return self._saved_equals("mr_pipeline", truth.counts)

        return Op("pipeline", "job", truth.n_docs, run)

    def _job_chain(self, docs, truth: CorpusTruth) -> Op:
        from disco_spark.functions.library import sum_combiner, sum_reduce
        from disco_spark.operators.classic import DiscoJob, JobChain

        def run():
            counts = DiscoJob(map=jobs.word_map, combiner=sum_combiner, reduce=sum_reduce)
            # count-of-counts, byte-sorted within custom partitions
            hist = DiscoJob(
                map=jobs.frequency_map,
                reduce=jobs.count_sorted,
                partition=jobs.first_digit_partition,
                partitions=8,
                sort=True,
                save="mr_chain",
            )
            with self.tr.plan("operators.classic"):
                out = JobChain({counts: [docs.select("text")], hist: [counts]}).run()[hist]
            with self.tr.exec("operators.classic"):
                out.count()
            return self._saved_equals("mr_chain", truth.freq)

        return Op("job_chain", "job", truth.n_docs, run)

    def _dedup(self, docs_df, truth: CorpusTruth) -> Op:
        from disco_spark.dedup.cc import cluster_map
        from disco_spark.dedup.dedup import band_candidates, lsh_jaccard_pairs, minhash_from_toks
        from disco_spark.session import release_deferred
        from disco_spark.textops.analysis import with_toks

        def run():
            docs = with_toks(docs_df)
            with self.tr.plan("dedup.dedup"):
                pairs = lsh_jaccard_pairs(docs)
            with self.tr.exec("dedup.dedup"):
                verified = pairs.collect()
            pairs_df = self.spark.createDataFrame(verified, pairs.schema)
            with self.tr.plan("dedup.cc"):
                clusters = cluster_map(docs_df, pair_fn=lambda _docs: pairs_df)
            with self.tr.exec("dedup.cc"):
                rows = clusters.collect()
            release_deferred()

            def check() -> bool:
                if self.b.traced and not self.tr.tag:
                    # candidate volume is a count, taken outside the timed
                    # operation (and the warm-up) so the traced run times
                    # the same work
                    self.stats.add("dedup.candidates", band_candidates(minhash_from_toks(docs)).count())
                    self.stats.add("dedup.verified", len(verified))
                    release_deferred()
                cluster = {r.doc_id: r.cluster_id for r in rows}
                if len(rows) != truth.n_docs or len(cluster) != truth.n_docs:
                    return False
                found = sum(cluster[a] == cluster[b] for a, b in truth.planted)
                self.stats.recall.append(found / len(truth.planted))
                # identical texts share a signature, so they must cluster
                return all(len({cluster[i] for i in ids}) == 1 for ids in truth.identical)

            return check

        return Op("dedup", "job", truth.n_docs, run)

    def _query(self, name: str, tables: tuple[str, ...]) -> Op:
        def run():
            with self.tr.plan("operators.relational"):
                df = self.fns[name](self.spark, self.data_dir)
            with self.tr.exec("operators.relational"):
                rows = df.collect()
            cols = df.columns

            return lambda: _answer(cols, [tuple(r) for r in rows]) == self.expected[name]

        return Op(name, "job", sum(self.table_rows[t] for t in tables), run)

    def layer_extras(self, counters) -> dict[str, float]:
        classic = counters.get("operators.classic", {})
        pipe = counters.get("plans.pipeline", {})
        wc_calls = sum(
            1
            for s in self.tr.spans
            if s["layer"] == "operators.classic" and s["phase"] == "plan" and s["op"].startswith("wordcount#")
        )
        cand = self.stats.extra.get("dedup.candidates", 0.0)
        return {
            "operators.classic.combine_ratio": _ratio(
                classic.get("wordcount.map_rows", 0.0), wc_calls * self.truth.n_tokens
            ),
            "plans.pipeline.condense_ratio": _ratio(
                sum(v for k, v in pipe.items() if k.endswith(".stage2_rows")),
                sum(v for k, v in pipe.items() if k.endswith(".map_rows")),
            ),
            "dedup.dedup.candidate_pairs": cand,
            "dedup.dedup.candidate_precision": _ratio(self.stats.extra.get("dedup.verified", 0.0), cand),
        }


def _answer(cols: list[str], rows: list[tuple]) -> Counter:
    """A query's rows as the multiset they are compared as, normalised as
    the oracle helpers do."""
    from disco_spark.testing import rows_to_multiset

    return Counter(rows_to_multiset(cols, rows))


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


# ---------------------------------------------------------------------------
# index_serve: one client against a DiscoDB index, an IVF-PQ store and a
# signature store, mostly reads with a minority of writes
# ---------------------------------------------------------------------------
SHAPES = ("single", "and", "or", "and_not")
# Lookup terms by Zipf rank among the corpus's terms: narrow head, torso
# and tail rank windows keep result sizes alike across seeds. Within a
# window a term is drawn with its Zipf weight, so the head terms recur,
# as hot terms do.
TERM_RANKS = ((2, 6), (250, 350), (4_000, 6_000))
TIER_PAIRS = ((0, 1), (1, 2))  # (head, torso), (torso, tail)
ANN_READS = 1  # per block, next to len(SHAPES) * len(TIER_PAIRS) CNF reads
ANN_K, NPROBE, ANN_QUERIES = 10, 3, 16
ADD_BATCH, DELETE_BATCH = 40, 20
INGEST_COPIES, INGEST_FRESH = 15, 15


class IndexServe(Workload):
    """Requests come in blocks of fixed composition and order (8 CNF
    lookups, one 16-query ANN search, one add, one delete, one ingest
    dedup, one compaction), so every run measures the same mix."""

    name = "index_serve"

    def generate(self, data_dir: str) -> None:
        corpus = gen.corpus_for(self.b.seed)
        self.corpus = corpus
        self.postings = corpus.postings()
        # terms by Zipf rank, restricted to those present in the corpus
        present = [w for w in corpus.spelling if w in self.postings]
        self.tiers = [present[lo:hi] for lo, hi in TERM_RANKS]
        self.tier_p = []
        for (lo, _hi), terms in zip(TERM_RANKS, self.tiers):
            weights = np.arange(lo + 1, lo + 1 + len(terms), dtype=np.float64) ** -gen.ZIPF_S
            self.tier_p.append(weights / weights.sum())
        self.emb = gen.Embeddings(gen.stream(self.b.seed, "embeddings"))
        self.base_ids = sorted(self.emb.vecs)
        gen.write_parquet(corpus.frame(), os.path.join(data_dir, "documents.parquet"))
        gen.write_parquet(self.emb.frame(self.base_ids), os.path.join(data_dir, "embeddings.parquet"))
        self.same_text: dict[str, set[int]] = {}
        for doc_id, toks in corpus.docs.items():
            self.same_text.setdefault(" ".join(toks), set()).add(doc_id)
        self.rng = gen.stream(self.b.seed, "requests")
        self.batch = 0
        _write_truth(data_dir, {"docs": len(corpus.docs), "vectors": len(self.base_ids)})

    def warm_tracks(self, data_dir: str) -> list[tuple[Callable[[], None], Callable[[], list[Op]]]]:
        """The build jobs a server loads from (DiscoDB table, IVF-PQ store,
        signature store), one per thread, each followed by the operations
        that read or write what it built. Overlapping the threads' first-
        call costs takes about a third off their sequential time."""
        from disco_spark.dedup.incremental import signature_store_save
        from disco_spark.index.discodb import InvertedIndex
        from disco_spark.session import load_tables
        from disco_spark.similarity.index_store import ann_index_save

        t = load_tables(self.spark, data_dir)
        self.table = "discodb_index"
        self.ann_path = os.path.join(self.b.work, "ann_store")
        self.sig_path = os.path.join(self.b.work, "sig_store")
        self.raw_dir = os.path.join(self.b.work, "vectors")
        os.makedirs(self.raw_dir)
        shutil.copy(os.path.join(data_dir, "embeddings.parquet"), os.path.join(self.raw_dir, "base.parquet"))
        self.live = set(self.base_ids)
        self.vectors = None
        self.input_bytes = os.path.getsize(os.path.join(data_dir, "documents.parquet"))

        def timed(layer: str, build: Callable[[], None]) -> Callable[[], None]:
            def run() -> None:
                t0 = time.perf_counter()
                with self.tr.plan(layer):
                    build()
                self.b.timings[f"{layer}.build_s"].append(time.perf_counter() - t0)

            return run

        # The ANN writes change the ANN store, so the ANN read runs before
        # them in their thread. That thread takes longest; the other two
        # run each operation type once (one lookup per CNF shape), so they
        # take little CPU from it.
        return [
            (
                timed("index.discodb", lambda: InvertedIndex.from_tokens(t["documents"], "text", "doc_id").save(self.spark, self.table)),
                lambda: [self._cnf(s, TIER_PAIRS[0]) for s in SHAPES],
            ),
            (
                timed("similarity.index_store", lambda: ann_index_save(t["embeddings"], self.ann_path)),
                lambda: [self._ann(), self._ann_add(), self._ann_delete(), self._compact()],
            ),
            (
                timed("dedup.incremental", lambda: signature_store_save(t["documents"], self.sig_path)),
                lambda: [self._ingest()],
            ),
        ]

    def setup(self, data_dir: str, round_no: int) -> None:
        """Server start: register inputs and open the stores."""
        from disco_spark.index.discodb import InvertedIndex
        from disco_spark.similarity.index_store import ann_index_load

        self.load(data_dir)
        InvertedIndex.load(self.spark, self.table)
        ann_index_load(self.spark, self.ann_path)

    def _vectors(self):
        if self.vectors is None:
            self.vectors = self.spark.read.parquet(self.raw_dir)
        return self.vectors

    def cycle(self) -> list[Callable[[], Op]]:
        # A fixed order, the same in every run: where an operation falls
        # in the block moves its latency, and a seeded order would add
        # that to the spread between seeds. The ANN search reads through
        # the delta files the add and the delete wrote; the compaction
        # closes the block.
        cnf = [partial(self._cnf, s, tp) for tp in TIER_PAIRS for s in SHAPES]
        return [
            *cnf[:2], self._ann_add, *cnf[2:4], self._ann_delete, cnf[4],
            *[self._ann] * ANN_READS, cnf[5], self._ingest, *cnf[6:], self._compact,
        ]

    # -- reads -----------------------------------------------------------
    def _term(self, tier: int) -> str:
        return self.tiers[tier][int(self.rng.choice(len(self.tier_p[tier]), p=self.tier_p[tier]))]

    def _cnf(self, shape: str, tiers: tuple[int, int]) -> Op:
        from disco_spark.index.discodb import InvertedIndex

        a, b = self._term(tiers[0]), self._term(tiers[1])
        pa, pb = self.postings[a], self.postings[b]
        text, want = {
            "single": (a, pa),
            "and": (f"{a} & {b}", pa & pb),
            "or": (f"{a} | {b}", pa | pb),
            "and_not": (f"{a} & ~{b}", pa - pb),
        }[shape]

        def run():
            with self.tr.plan("index.discodb"):
                df = InvertedIndex.load(self.spark, self.table).query(text)
            with self.tr.exec("index.discodb"):
                rows = df.collect()
            self.stats.add("discodb.results", len(rows))
            return lambda: len(rows) == len(want) and {r.value for r in rows} == want

        return Op(f"cnf_{shape}", "read", 1, run)

    def _ann(self) -> Op:
        from disco_spark.similarity.index_store import ann_index_load, ann_index_serveable_codes
        from disco_spark.similarity.pq import ivfpq_search

        live = np.array(sorted(self.live))
        qids = [int(q) for q in self.rng.choice(live, ANN_QUERIES, replace=False)]
        queries = [(q, self.emb.vecs[q]) for q in qids]

        def run():
            with self.tr.plan("similarity.index_store"):
                cents, _, books = ann_index_load(self.spark, self.ann_path)
                codes = ann_index_serveable_codes(self.spark, self.ann_path)
            with self.tr.plan("similarity.pq"):
                df = ivfpq_search(
                    self._vectors(), codes, queries, books, self.spark,
                    k=ANN_K, nprobe=NPROBE, cents=cents,
                )
            with self.tr.exec("similarity.pq"):
                rows = df.collect()

            def check() -> bool:
                got: dict[int, list[int]] = {q: [] for q in qids}
                for r in rows:
                    got[r.query_id].append(r.neighbor_id)
                mat = np.stack([self.emb.vecs[i] for i in live]).astype(np.float64)
                mat /= np.linalg.norm(mat, axis=1, keepdims=True)
                ok = True
                for q, vec in queries:
                    v = vec.astype(np.float64)
                    cos = np.round(mat @ (v / np.linalg.norm(v)), 6)
                    order = [i for i in np.lexsort((live, -cos)) if live[i] != q][:ANN_K]
                    truth = set(live[order].tolist())
                    ids = got[q]
                    self.stats.recall.append(len(truth & set(ids)) / ANN_K)
                    ok &= len(ids) == ANN_K == len(set(ids)) and q not in ids
                    ok &= set(ids) <= set(live.tolist())
                return ok

            return check

        return Op("ann_topk", "read", ANN_QUERIES, run)

    # -- writes ----------------------------------------------------------
    def _batch_id(self) -> str:
        self.batch += 1
        return str(self.batch)

    def _ann_add(self) -> Op:
        from disco_spark.similarity.index_store import ann_index_add

        batch = self._batch_id()
        ids = self.emb.add(ADD_BATCH)
        path = os.path.join(self.raw_dir, f"add_{batch}.parquet")
        gen.write_parquet(self.emb.frame(ids), path)
        new = self.spark.read.parquet(path)

        def run():
            with self.tr.plan("similarity.index_store"):
                ann_index_add(new, self.ann_path, batch_id=batch)
            self.live.update(ids)
            self.vectors = None
            return lambda: True

        return Op("ann_add", "write", ADD_BATCH, run)

    def _ann_delete(self) -> Op:
        from disco_spark.similarity.index_store import ann_index_delete

        batch = self._batch_id()
        live = sorted(self.live)
        ids = [live[int(i)] for i in self.rng.choice(len(live), DELETE_BATCH, replace=False)]
        frame = self.spark.createDataFrame([(i,) for i in ids], "vec_id bigint")

        def run():
            with self.tr.plan("similarity.index_store"):
                ann_index_delete(frame, self.ann_path, batch_id=batch)
            self.live.difference_update(ids)
            return lambda: True

        return Op("ann_delete", "write", DELETE_BATCH, run)

    def _compact(self) -> Op:
        from disco_spark.similarity.index_store import ann_index_compact

        # delta files the reads before this compaction had to union
        self.stats.extra["delta_files"] = float(
            sum(
                sum(1 for f in files if f.endswith(".parquet"))
                for sub in ("codes_delta", "tombstones")
                for _root, _dirs, files in os.walk(os.path.join(self.ann_path, sub))
            )
        )

        def run():
            with self.tr.plan("similarity.index_store"):
                ann_index_compact(self.spark, self.ann_path)
            return lambda: True

        return Op("ann_compact", "write", 1, run)

    def _ingest(self) -> Op:
        from disco_spark.dedup.incremental import dedup_against_store
        from disco_spark.session import release_deferred

        batch = self._batch_id()
        corpus = self.corpus
        sources = sorted(corpus.docs)
        picks = [sources[int(i)] for i in self.rng.choice(len(sources), INGEST_COPIES, replace=False)]
        first = corpus.next_id + 1_000_000 * int(batch)
        texts = {first + j: " ".join(corpus.docs[s]) for j, s in enumerate(picks)}
        for j, toks in enumerate(corpus.fresh_docs(INGEST_FRESH)):
            texts[first + INGEST_COPIES + j] = " ".join(toks)
        path = os.path.join(self.b.work, f"ingest_{batch}.parquet")
        gen.write_parquet(
            pd.DataFrame({"doc_id": np.array(list(texts), dtype=np.int64), "text": list(texts.values())}),
            path,
        )
        incoming = self.spark.read.parquet(path)
        same_text = self.same_text

        def run():
            with self.tr.plan("dedup.incremental"):
                df = dedup_against_store(incoming, self.spark, self.sig_path)
            with self.tr.exec("dedup.incremental"):
                rows = df.collect()
            release_deferred()

            def check() -> bool:
                pairs: dict[int, set[int]] = {}
                for r in rows:
                    pairs.setdefault(r.incoming_doc, set()).add(r.corpus_doc)
                # an exact copy shares its source's signature, so it must
                # meet every corpus document with the same text
                return all(
                    same_text[texts[first + j]] <= pairs.get(first + j, set())
                    for j in range(INGEST_COPIES)
                )

            return check

        return Op("ingest_dedup", "write", len(texts), run)

    def layer_extras(self, counters) -> dict[str, float]:
        disco = counters.get("index.discodb", {})
        table_dir = os.path.join(self.b.warehouse, self.table)
        builds = {k: v[0] for k, v in self.b.timings.items() if k.endswith(".build_s")}
        return {
            **builds,
            "index.discodb.bytes_per_input_byte": _ratio(_du(table_dir), self.input_bytes),
            "index.discodb.rows_examined_per_result": _ratio(
                disco.get("rows_scanned", 0.0), self.stats.extra.get("discodb.results", 0.0)
            ),
            "similarity.index_store.delta_files": self.stats.extra.get("delta_files", 0.0),
        }


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith("."))
    return total


WORKLOADS = {w.name: w for w in (Batch, IndexServe)}
