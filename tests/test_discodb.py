"""DiscoDB-parity tests: Q parser, CNF evaluation against a Python
model, plan shape and bucketed persistence, and oracle matches."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException

from disco_spark import registry
from disco_spark.index.discodb import And, InvertedIndex, Lit, Not, Or, Q
from disco_spark.testing import compare_query
from tests.conftest import SF_SMOKE
from tests.test_properties import _asts
from tests.test_properties import _eval as _py_eval

registry.load_all()

DISCODB = [
    "discodb_query_and",
    "discodb_query_or_not",
    "discodb_unique_keys",
    "discodb_metaquery",
    "discodb_metaquery_recursive",
    "discodb_items",
    "discodb_unique_values",
]


@pytest.mark.parametrize("name", DISCODB)
def test_discodb_oracle(spark, name):
    compare_query(spark, name, SF_SMOKE)


def test_q_parser_shapes():
    assert Q.parse("word").ast == Lit("word")
    assert Q.parse("this | word").ast == Or(Lit("this"), Lit("word"))
    assert Q.parse("a & b | c").ast == Or(And(Lit("a"), Lit("b")), Lit("c"))  # & binds tighter
    assert Q.parse("a & (b | ~c)").ast == And(Lit("a"), Or(Lit("b"), Not(Lit("c"))))
    assert Q.urlscan("a/b|c").ast == And(Lit("a"), Or(Lit("b"), Lit("c")))


def test_q_parser_errors():
    for bad in ("", "a &", "(a", "a )", "& a"):
        with pytest.raises(ValueError):
            Q.parse(bad)


@pytest.fixture()
def tiny_index(spark):
    rows = [
        ("this", 1), ("this", 2), ("word", 2), ("word", 3),
        ("other", 3), ("other", 4),
    ]
    return InvertedIndex(spark.createDataFrame(rows, "key string, value bigint"))


def test_query_set_algebra(tiny_index):
    got = lambda q: sorted(r.value for r in tiny_index.query(q).collect())
    assert got("this") == [1, 2]
    assert got("this & word") == [2]
    assert got("this | word") == [1, 2, 3]
    assert got("~this") == [3, 4]
    assert got("(this | word) & ~other") == [1, 2]


def test_enumeration_ops(tiny_index):
    assert sorted(r.key for r in tiny_index.keys().collect()) == ["other", "this", "word"]
    assert sorted(r.value for r in tiny_index.unique_values().collect()) == [1, 2, 3, 4]
    assert tiny_index.items().count() == 6


def _run_with_plan(df) -> tuple[list, str, int]:
    """Collect ``df``; return its sorted values, its final plan's file-scan
    line and its number of shuffle exchanges (the adaptive plan's initial
    plan is left out)."""
    values = sorted(r.value for r in df.collect())
    plan = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    scan = next(line for line in plan.splitlines() if "FileScan" in line)
    return values, scan, plan.count("Exchange hashpartitioning")


# query -> the key predicate its scan must push down ("" = none: the
# formula holds for values with none of its keys, so it reads everything)
_SAVED_PLANS = {
    "k3": "EqualTo(key,k3)",  # Spark rewrites a one-item IN to equality
    "k1 & k3": "In(key, [k1,k3])",
    "k1 | k3": "In(key, [k1,k3])",
    "k1 & ~k3": "In(key, [k1,k3])",
    "(k0 | k1) & (k2 | ~k3) & ~k4 & ~k1": "In(key, [k0,k1,k2,k3,k4])",
    "~k3": "",
    "k1 | ~k3": "",
}


def test_save_load_bucketed_roundtrip(spark):
    """A saved index answers every formula shape with one scan and one
    shuffle: the scan carries the formula's literals as ``key IN``, and
    only the per-value aggregate exchanges rows."""
    rows = [(f"k{i % 5}", i) for i in range(100)]
    idx = InvertedIndex(spark.createDataFrame(rows, "key string, value bigint"))
    spark.sql("DROP TABLE IF EXISTS t_idx_roundtrip")
    idx.save(spark, "t_idx_roundtrip", buckets=4)
    try:
        loaded = InvertedIndex.load(spark, "t_idx_roundtrip")
        assert loaded.df.count() == 100
        for text, pushed in _SAVED_PLANS.items():
            ast = Q.parse(text).ast
            want = sorted(v for k, v in rows if _py_eval(ast, frozenset([k])))
            values, scan, exchanges = _run_with_plan(loaded.query(text))
            assert values == want, text
            assert exchanges == 1, (text, exchanges)
            if pushed:
                assert pushed in scan, (text, scan)
            else:
                assert "PushedFilters: []" in scan, (text, scan)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_idx_roundtrip")


# A small fixed index: a null key, a duplicated (key, value) row, and a
# key ("unused") that no generated query names. Query terms include one
# ("gone") that is absent from the index.
_PROP_ROWS = [
    ("a", 1), ("a", 1), ("b", 1), ("a", 2), ("c", 2), ("b", 3), ("b", 3),
    ("c", 4), (None, 5), ("a", 6), (None, 6), ("unused", 7), ("c", 8),
    ("unused", 8), ("a", 9), ("b", 9), ("c", 9),
]
_PROP_TERMS = st.sampled_from(["a", "b", "c", "gone"])


@pytest.mark.parametrize("unique_items", [True, False])
@settings(max_examples=30, deadline=None)
@given(ast=_asts(3, _PROP_TERMS))
@example(ast=And(Lit("a"), Not(Lit("a"))))
@example(ast=Not(Lit("a")))
@example(ast=Not(Lit("gone")))
@example(ast=Or(Lit("gone"), Not(Lit("b"))))
def test_query_matches_python_evaluation(spark, unique_items, ast):
    """query() returns exactly the values whose key set satisfies the
    formula, evaluated in Python over each value's keys."""
    idx = InvertedIndex(
        spark.createDataFrame(_PROP_ROWS, "key string, value bigint"), unique_items=unique_items
    )
    keys: dict[int, set] = {}
    for k, v in _PROP_ROWS:
        keys.setdefault(v, set()).add(k)
    want = sorted(v for v, ks in keys.items() if _py_eval(ast, frozenset(ks)))
    got = [r.value for r in idx.query(Q(ast)).collect()]
    assert sorted(got) == want


def test_url_fragment_dispatch(tiny_index, spark):
    """discodb://host/table!method/arg parity (scheme_discodb.py:5-28):
    URL-embedded CNF queries round-trip through Q.urlscan, enumeration
    methods dispatch argless, and a fragment-free URL yields the index."""
    from disco_spark.index.discodb import open_url

    loader = lambda _s, table: tiny_index if table == "tiny" else None

    def vals(url):
        return sorted(r.value for r in open_url(spark, url, loader=loader).collect())

    # '/'-separated clauses AND together; %7C is an escaped '|'
    assert vals("discodb://node1/tiny!query/this/word") == [2]
    assert vals("discodb://node1/tiny!query/this%7Cword") == [1, 2, 3]
    assert vals("discodb://node1/tiny!query/%7Ethis") == [3, 4]
    assert vals("discodb://node1/tiny!unique_values") == [1, 2, 3, 4]
    # metaquery dispatch needs a key->key metadata index (string values)
    meta = InvertedIndex(
        spark.createDataFrame(
            [("this", "word"), ("word", "deep")], "key string, value string"
        )
    )
    meta_loader = lambda _s, table: meta
    got = sorted(
        r.value
        for r in open_url(
            spark, "discodb://n/meta!metaquery/this", loader=meta_loader
        ).collect()
    )
    assert got == ["deep"]  # one-hop expansion: this -> word -> deep
    keys = sorted(r.key for r in open_url(spark, "discodb://n/tiny!keys", loader=loader).collect())
    assert keys == ["other", "this", "word"]
    assert open_url(spark, "discodb://n/tiny", loader=loader) is tiny_index
    with pytest.raises(ValueError):
        open_url(spark, "discodb://n/tiny!frobnicate")
    with pytest.raises(ValueError):
        open_url(spark, "discodb://n/tiny!query/")


def test_list_valued_multimap_preserves_duplicates(spark):
    """unique_items=False parity (scheme_discodb.py:31-49): duplicates
    survive in get()/value_counts(); unique_items=True collapses them."""
    docs = spark.createDataFrame(
        [("d1", "a a b"), ("d2", "a b b")], "doc_id string, text string"
    )
    multi = InvertedIndex.from_tokens(docs, "text", "doc_id", unique_items=False)
    uniq = InvertedIndex.from_tokens(docs, "text", "doc_id", unique_items=True)

    assert sorted(r.value for r in multi.get("a").collect()) == ["d1", "d1", "d2"]
    assert sorted(r.value for r in uniq.get("a").collect()) == ["d1", "d2"]

    counts = {r.key: r.cnt for r in multi.value_counts().collect()}
    assert counts == {"a": 3, "b": 3}
    ucounts = {r.key: r.cnt for r in uniq.value_counts().collect()}
    assert ucounts == {"a": 2, "b": 2}

    # CNF queries stay set-algebraic on both kinds of index
    assert sorted(r.value for r in multi.query("a & b").collect()) == ["d1", "d2"]


def test_save_disable_compression(spark):
    """disable_compression maps to the parquet codec: the table reads
    back intact and its data files carry no compression codec."""
    import os
    from urllib.parse import urlparse

    idx = InvertedIndex(
        spark.createDataFrame(
            [(f"k{i%7}", f"v{i}" * 20) for i in range(500)], "key string, value string"
        )
    )
    try:
        idx.save(spark, "ddb_plain", buckets=2, disable_compression=True)
        idx.save(spark, "ddb_snappy", buckets=2)
        back = InvertedIndex.load(spark, "ddb_plain")
        assert back.df.count() == 500

        def tbl_bytes(name):
            files = [urlparse(f).path for f in spark.table(name).inputFiles()]
            return sum(os.path.getsize(f) for f in files)

        assert tbl_bytes("ddb_plain") >= tbl_bytes("ddb_snappy")
    finally:
        spark.sql("DROP TABLE IF EXISTS ddb_plain")
        spark.sql("DROP TABLE IF EXISTS ddb_snappy")


def test_multimap_semantics_survive_save_load(spark, tmp_path):
    """unique_items=False must survive a save/load round-trip — the
    saved parquet keeps duplicate (key, value) entries, and load() must
    restore the flag so get() does not re-apply distinct()."""
    from disco_spark.index.discodb import InvertedIndex

    docs = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "cat")], "doc_id bigint, text string"
    )
    idx = InvertedIndex.from_tokens(docs, "text", "doc_id", unique_items=False)
    before = sorted(r["value"] for r in idx.get("cat").collect())
    assert before == [1, 1, 2]  # duplicates preserved in-memory
    idx.save(spark, "t_multimap_roundtrip", buckets=2)
    loaded = InvertedIndex.load(spark, "t_multimap_roundtrip")
    assert loaded.unique_items is False
    after = sorted(r["value"] for r in loaded.get("cat").collect())
    assert after == [1, 1, 2]  # and across persistence
    spark.sql("DROP TABLE IF EXISTS t_multimap_roundtrip")


def test_load_reads_unique_items_on_first_use(spark):
    """load() only opens the table: the multimap flag is read when get()
    or save() first needs it, so it reflects the table at that moment.
    A list-valued index keeps its duplicates and its flag through
    load() -> save() -> load(); a missing table still fails load()."""
    rows = [("cat", 1), ("cat", 1), ("cat", 2), ("dog", 1)]
    idx = InvertedIndex(spark.createDataFrame(rows, "key string, value bigint"))
    try:
        idx.save(spark, "t_lazy_src", buckets=2)
        loaded = InvertedIndex.load(spark, "t_lazy_src")
        spark.sql("ALTER TABLE t_lazy_src SET TBLPROPERTIES ('disco.unique_items' = 'false')")
        assert sorted(r.value for r in loaded.get("cat").collect()) == [1, 1, 2]
        assert sorted(r.value for r in loaded.query("cat & ~dog").collect()) == [2]
        loaded.save(spark, "t_lazy_copy", buckets=2)
        copy = InvertedIndex.load(spark, "t_lazy_copy")
        assert copy.unique_items is False
        assert sorted(r.value for r in copy.get("cat").collect()) == [1, 1, 2]
    finally:
        spark.sql("DROP TABLE IF EXISTS t_lazy_src")
        spark.sql("DROP TABLE IF EXISTS t_lazy_copy")
    with pytest.raises(AnalysisException):
        InvertedIndex.load(spark, "t_no_such_index")
