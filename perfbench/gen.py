"""Seeded input generator for every benchmark workload.

Everything is derived from one integer seed with numpy's PCG64, so the
same seed writes byte-identical parquet files and truth files. The
program under test only ever sees the generated files; the truth
(token counts, postings, planted duplicate pairs, star-schema oracle
inputs, embedding clusters) stays on the benchmark's side. Each
workload writes its inputs and a ``truth.json`` into the run's data
directory (``perfbench/.work/<run>/data``).
"""

from __future__ import annotations

import datetime as dt
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Seed kept out of every tuning run; later performance claims must also
# hold on it (see perfbench/README.md).
HELD_OUT_SEED = 9001

# -- corpus ----------------------------------------------------------------
VOCAB = 30_000  # token types the Zipf law draws from
ZIPF_S = 1.05
N_DOCS = 4_000  # base documents, before planted copies
DOC_LEN = (20, 60)
N_CLUSTERS = 200  # planted near-duplicate clusters
COPIES = (1, 3)  # copies per cluster source (inclusive)
EXACT_SHARE = 0.25  # copies that repeat the source verbatim
EDITS = 2  # token substitutions in a near copy

# -- star schema (testdata's column schema and value domains) ------------
N_CUSTOMER = 1_500
N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
LINES_PER_ORDER = (1, 7)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "new", "red", "large", "hot", "cold", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
ORDER_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DAYS = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))

# -- embeddings --------------------------------------------------------------
DIM = 32  # divisible by the PQ subspace count (16)
N_VECS = 1_200
N_CELLS = 12  # planted clusters; the label column is the IVF cell
SPREAD = 0.35


def word(i: int) -> str:
    """Letters-only token spelling of a type id (never a query operator)."""
    out = []
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out.append(chr(97 + r))
    return "".join(reversed(out))


class Corpus:
    """A Zipf corpus with planted near-duplicate clusters.

    ``docs`` maps doc_id -> token list; ``clusters`` lists the doc_ids
    of each planted cluster (source first)."""

    def __init__(self, rng: np.random.Generator, n_docs: int = N_DOCS, first_id: int = 0):
        ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_S)
        self._cdf = cdf / cdf[-1]
        # a seeded spelling per rank: rank order is not alphabetical order
        self.spelling = [word(int(i)) for i in rng.permutation(VOCAB)]
        self.rng = rng
        self.docs: dict[int, list[str]] = {
            first_id + i: toks for i, toks in enumerate(self.fresh_docs(n_docs))
        }
        self.next_id = first_id + n_docs
        self.clusters: list[list[int]] = []

    def fresh_docs(self, n: int) -> list[list[str]]:
        """New documents from the same Zipf law (not added to ``docs``)."""
        lengths = self.rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n)
        flat = self.draw(int(lengths.sum()))
        bounds = np.concatenate([[0], np.cumsum(lengths)])
        return [[self.spelling[t] for t in flat[bounds[i] : bounds[i + 1]]] for i in range(n)]

    def draw(self, n: int) -> np.ndarray:
        return np.searchsorted(self._cdf, self.rng.random(n))

    def copy_of(self, src: list[str], exact: bool) -> list[str]:
        toks = list(src)
        if not exact:
            pos = self.rng.choice(len(toks), size=EDITS, replace=False)
            for p, t in zip(pos, self.draw(EDITS)):
                toks[int(p)] = self.spelling[int(t)]
        return toks

    def plant_clusters(self, n_clusters: int = N_CLUSTERS) -> None:
        sources = self.rng.choice(sorted(self.docs), size=n_clusters, replace=False)
        for src in sources:
            members = [int(src)]
            for _ in range(int(self.rng.integers(COPIES[0], COPIES[1] + 1))):
                exact = bool(self.rng.random() < EXACT_SHARE)
                self.docs[self.next_id] = self.copy_of(self.docs[int(src)], exact)
                members.append(self.next_id)
                self.next_id += 1
            self.clusters.append(members)

    def planted_pairs(self, clusters: list[list[int]] | None = None) -> list[tuple[int, int]]:
        return [
            (a, b)
            for members in (self.clusters if clusters is None else clusters)
            for i, a in enumerate(members)
            for b in members[i + 1 :]
        ]

    def frame(self, ids=None) -> pd.DataFrame:
        ids = sorted(self.docs) if ids is None else ids
        return pd.DataFrame(
            {
                "doc_id": np.array(ids, dtype=np.int64),
                "text": [" ".join(self.docs[i]) for i in ids],
            }
        )

    def token_counts(self) -> Counter:
        c: Counter = Counter()
        for toks in self.docs.values():
            c.update(toks)
        return c

    def postings(self) -> dict[str, set[int]]:
        out: dict[str, set[int]] = {}
        for doc_id, toks in self.docs.items():
            for t in set(toks):
                out.setdefault(t, set()).add(doc_id)
        return out


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span + 1, size=n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def star_schema(rng: np.random.Generator) -> dict[str, pd.DataFrame]:
    """TPC-H-shaped tables with testdata's columns, dtypes and domains."""
    i32, i64 = np.int32, np.int64
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS})
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    part = pd.DataFrame(
        {
            "p_partkey": np.arange(N_PART, dtype=i64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
            "p_type": rng.choice(PART_TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(i32),
            "p_retailprice": _money(rng, 900.0, 999.9, N_PART),
        }
    )
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=i64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(i64),
            "o_orderstatus": rng.choice(ORDER_STATUS, N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, *ORDER_DAYS, N_ORDERS),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    per_order = rng.integers(LINES_PER_ORDER[0], LINES_PER_ORDER[1] + 1, N_ORDERS)
    n_lines = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": np.repeat(np.arange(N_ORDERS, dtype=i64), per_order),
            "l_partkey": rng.integers(0, N_PART, n_lines).astype(i64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_lines).astype(i64),
            "l_linenumber": (np.arange(n_lines) - starts + 1).astype(i32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": rng.choice(RETURN_FLAGS, n_lines),
            "l_linestatus": rng.choice(LINE_STATUS, n_lines),
            "l_shipdate": _days(rng, *SHIP_DAYS, n_lines),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


class Embeddings:
    """Vectors around N_CELLS planted centres; ``label`` is the centre."""

    def __init__(self, rng: np.random.Generator, n: int = N_VECS):
        self.rng = rng
        self.centres = rng.normal(size=(N_CELLS, DIM))
        self.next_id = 0
        self.vecs: dict[int, np.ndarray] = {}
        self.labels: dict[int, int] = {}
        self.add(n)

    def add(self, n: int) -> list[int]:
        labels = self.rng.integers(0, N_CELLS, size=n)
        vecs = (self.centres[labels] + SPREAD * self.rng.normal(size=(n, DIM))).astype(np.float32)
        ids = list(range(self.next_id, self.next_id + n))
        for i, v, lab in zip(ids, vecs, labels):
            self.vecs[i] = v
            self.labels[i] = int(lab)
        self.next_id += n
        return ids

    def frame(self, ids) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "vec_id": np.array(ids, dtype=np.int64),
                "embedding": [self.vecs[i].tolist() for i in ids],
                "label": np.array([self.labels[i] for i in ids], dtype=np.int32),
            }
        )


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One deterministic parquet file (no pandas index, fixed row group)."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    if "embedding" in df.columns:
        fields = [
            pa.field("embedding", pa.list_(pa.float32())) if f.name == "embedding" else f
            for f in table.schema
        ]
        table = table.cast(pa.schema(fields))
    pq.write_table(table, path, row_group_size=1 << 20)


def stream(seed: int, part: str) -> np.random.Generator:
    """Independent generator per input family, so a workload that needs
    only the corpus draws exactly the corpus every other workload sees."""
    return np.random.default_rng([seed, FAMILIES.index(part)])


FAMILIES = ("corpus", "star", "embeddings", "requests")


def corpus_for(seed: int) -> Corpus:
    corpus = Corpus(stream(seed, "corpus"))
    corpus.plant_clusters()
    return corpus
