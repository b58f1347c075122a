"""Property-based tests (hypothesis) — the analog of the reference's
triq property tests (master/test/ddfs_tag_test.erl; SURVEY §5.3).
Driver-free: these exercise pure-Python engine components."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from disco_spark.functions.library import (
    kvgroup,
    kvify,
    make_range_partition,
    persistent_hash,
)
from disco_spark.index.discodb import And, Lit, Not, Or, Q

# ---------------------------------------------------------------------------
# Q CNF parser: render(ast) -> parse -> same ast, and evaluation sanity
# ---------------------------------------------------------------------------
_terms = st.text(alphabet="abcdefgh", min_size=1, max_size=4)


def _asts(depth=3, terms=_terms):
    if depth == 0:
        return terms.map(Lit)
    sub = _asts(depth - 1, terms)
    return st.one_of(
        terms.map(Lit),
        sub.map(Not),
        st.tuples(sub, sub).map(lambda t: And(*t)),
        st.tuples(sub, sub).map(lambda t: Or(*t)),
    )


def _render(ast) -> str:
    if isinstance(ast, Lit):
        return ast.term
    if isinstance(ast, Not):
        return f"~({_render(ast.child)})"
    if isinstance(ast, And):
        return f"({_render(ast.left)}) & ({_render(ast.right)})"
    return f"({_render(ast.left)}) | ({_render(ast.right)})"


def _eval(ast, keys: frozenset) -> bool:
    if isinstance(ast, Lit):
        return ast.term in keys
    if isinstance(ast, Not):
        return not _eval(ast.child, keys)
    if isinstance(ast, And):
        return _eval(ast.left, keys) and _eval(ast.right, keys)
    return _eval(ast.left, keys) or _eval(ast.right, keys)


@settings(max_examples=200)
@given(_asts())
def test_q_parse_render_roundtrip(ast):
    assert Q.parse(_render(ast)).ast == ast


@settings(max_examples=200)
@given(_asts(), st.frozensets(_terms, max_size=6))
def test_q_demorgan_equivalence(ast, keys):
    """~(a & b) evaluates as (~a | ~b) for every key universe."""
    neg = Not(ast)
    assert _eval(neg, keys) == (not _eval(ast, keys))


@settings(max_examples=100)
@given(st.lists(st.tuples(_terms, _terms), max_size=4))
def test_q_urlscan_is_and_of_clauses(clauses):
    if not clauses:
        return
    frag = "/".join(f"{a} | {b}" for a, b in clauses)
    ast = Q.urlscan(frag).ast
    # evaluation of the fragment == conjunction of its clause ORs
    for keys in (frozenset(), frozenset(t for pair in clauses for t in pair)):
        expect = all(_eval(Or(Lit(a), Lit(b)), keys) for a, b in clauses)
        assert _eval(ast, keys) == expect


# ---------------------------------------------------------------------------
# classic helpers
# ---------------------------------------------------------------------------
@settings(max_examples=200)
@given(st.lists(st.tuples(st.integers(0, 9), st.integers())))
def test_kvgroup_partition_of_sorted_input(pairs):
    pairs = sorted(pairs, key=lambda p: p[0])
    groups = [(k, list(vs)) for k, vs in kvgroup(iter(pairs))]
    # lossless: concatenating groups reproduces the input
    flat = [(k, v) for k, vs in groups for v in vs]
    assert flat == pairs
    # keys strictly increase across groups (each key appears once)
    keys = [k for k, _ in groups]
    assert keys == sorted(set(keys))


@settings(max_examples=200)
@given(st.one_of(st.text(), st.integers(), st.tuples(st.text(), st.integers())))
def test_persistent_hash_is_deterministic(v):
    assert persistent_hash(v) == persistent_hash(v)
    assert persistent_hash(v) >= 0


@settings(max_examples=200)
@given(st.floats(-1e6, 1e6), st.floats(1e-3, 1e6), st.integers(2, 64))
def test_range_partition_in_bounds(lo, width, n):
    hi = lo + width
    part = make_range_partition(lo, hi)
    for x in (lo, hi, lo + width / 2, lo - 1, hi + 1):
        p = part(x, n)
        assert 0 <= p < n


@given(st.one_of(st.integers(), st.tuples(st.integers(), st.integers())))
def test_kvify_pads_bare_values(v):
    k, val = kvify(v)
    if isinstance(v, tuple) and len(v) == 2:
        assert (k, val) == v
    else:
        assert (k, val) == (v, None)


# ---------------------------------------------------------------------------
# sequence-packing closed-form arithmetic (textops/packing.py): the same
# integer formulas run in Spark and DuckDB; this model-checks them.
# ---------------------------------------------------------------------------
@settings(max_examples=200)
@given(
    st.lists(st.integers(1, 500), min_size=1, max_size=200),
    st.integers(16, 512),
)
def test_packing_interval_invariants(n_toks, budget):
    """For any corpus of doc token counts and any budget: windows tile
    the stream exactly — every window except the last holds exactly
    `budget` tokens, per-doc contributions are in [1, budget], window
    ids are contiguous from 0, and totals conserve."""
    starts, total = [], 0
    for n in n_toks:
        starts.append(total)
        total += n
    per_seq: dict[int, int] = {}
    for s, n in zip(starts, n_toks):
        first, last = s // budget, (s + n - 1) // budget
        assert first <= last
        for q in range(first, last + 1):
            t = min(s + n, (q + 1) * budget) - max(s, q * budget)
            assert 1 <= t <= budget
            per_seq[q] = per_seq.get(q, 0) + t
    n_seqs = (total + budget - 1) // budget
    assert set(per_seq) == set(range(n_seqs))
    assert sum(per_seq.values()) == total
    for q in range(total // budget):  # all FULL windows
        assert per_seq[q] == budget
