"""Property-based cross-check: random pattern ASTs (shapes the string
fuzzers cannot reach — deep Not/star alternation, Contains of Concat,
Interleave of stars) evaluated over random JSON documents, and over random
decoded forests of all six label types, must agree between the memoized
derivative engine and the table-VPA walker.

Pure Python (no Spark): hypothesis shrinks any divergence to a minimal
pattern, which is the closest local analogue to running the upstream
katydid testsuite's 4-algorithm comparison (reference test/Suite.hs)."""

import json
import random

from hypothesis import given, settings, strategies as st

from katydid_haskell_spark.relapse import ast
from katydid_haskell_spark.relapse.derive import Validator
from katydid_haskell_spark.relapse.exprs import (
    BOOL,
    BYTES,
    DOUBLE,
    INT,
    STRING,
    UINT,
    Const,
    Var,
    mk_expr,
)
from katydid_haskell_spark.relapse.labels import Label, decode_json, node
from katydid_haskell_spark.relapse.smart import compile_grammar
from katydid_haskell_spark.relapse.vpa import TableValidator

# -- predicate pool (typed, mixed so error-as-false paths get exercised) --

PREDS = [
    Const(BOOL, True),
    mk_expr("eq", [Var(STRING), Const(STRING, "a")]),
    mk_expr("eq", [Var(STRING), Const(STRING, "b")]),
    mk_expr("hasPrefix", [Var(STRING), Const(STRING, "a")]),
    mk_expr("eq", [Var(INT), Const(INT, 1)]),
    mk_expr("gt", [Var(INT), Const(INT, 0)]),
    mk_expr("type", [Var(INT)]),
    mk_expr("not", [mk_expr("eq", [Var(STRING), Const(STRING, "a")])]),
    mk_expr("or", [mk_expr("eq", [Var(STRING), Const(STRING, "a")]),
                   mk_expr("eq", [Var(INT), Const(INT, 2)])]),
    Var(BOOL),
    mk_expr("eq", [Var(UINT), Const(UINT, 1)]),
    mk_expr("type", [Var(UINT)]),
    mk_expr("eq", [Var(DOUBLE), Const(DOUBLE, 2.0)]),
    mk_expr("gt", [Var(DOUBLE), Const(DOUBLE, 1.0)]),
    mk_expr("eq", [Var(BYTES), Const(BYTES, b"a")]),
    mk_expr("gt", [mk_expr("length", [Var(BYTES)]), Const(INT, 1)]),
]

pred_st = st.sampled_from(PREDS)


def patterns(depth: int):
    if depth == 0:
        return st.one_of(
            st.just(ast.Empty()),
            st.just(ast.ZAny()),
            pred_st.map(lambda e: ast.Node(e, ast.Empty())),
        )
    sub = patterns(depth - 1)
    return st.one_of(
        pred_st.flatmap(lambda e: sub.map(lambda p: ast.Node(e, p))),
        st.tuples(sub, sub).map(lambda t: ast.Or(*t)),
        st.tuples(sub, sub).map(lambda t: ast.And(*t)),
        sub.map(ast.Not),
        st.tuples(sub, sub).map(lambda t: ast.Concat(*t)),
        st.tuples(sub, sub).map(lambda t: ast.Interleave(*t)),
        sub.map(ast.ZeroOrMore),
        sub.map(ast.Optional),
        sub.map(ast.Contains),
    )


# -- fixed doc corpus: seeded, shape-diverse, shared across examples --

def _gen_doc(rng, depth=2):
    r = rng.random()
    if depth == 0 or r < 0.35:
        return rng.choice([None, True, 0, 1, 2, "a", "b", "ab", "x", 1.5])
    if r < 0.7:
        ks = rng.sample(["a", "b", "x", "k"], rng.randrange(1, 3))
        return {k: _gen_doc(rng, depth - 1) for k in ks}
    return [_gen_doc(rng, depth - 1) for _ in range(rng.randrange(0, 3))]


_rng = random.Random(21)
DOCS = [json.dumps(_gen_doc(_rng)) for _ in range(30)] + [
    "{}", "[]", "null", "1", '"a"', '["a","b"]', '{"a":null}',
]


@settings(max_examples=200, deadline=None)
@given(patterns(3))
def test_vpa_matches_engine_on_random_asts(p):
    g = compile_grammar({"main": p})
    v = Validator(g)
    tv = TableValidator(g)
    want = [v.validate(decode_json(d)) for d in DOCS]
    got = list(tv.validate_batch(DOCS))
    assert got == want, f"pattern {p}: vpa={got} engine={want}"


# -- decoded forests over all six label types (the XML / protobuf front
# end): integral doubles stay Double, Bool True sits beside Int 1 and
# Uint 1 — labels JSON text can never produce --

LABELS = (
    [Label(BOOL, b) for b in (True, False)]
    + [Label(INT, i) for i in (0, 1, 2, -1)]
    + [Label(UINT, u) for u in (0, 1, 2, 2**64 - 1)]
    + [Label(DOUBLE, d) for d in (2.0, 1.0, 0.5, 0.0, -0.0)]
    + [Label(STRING, t) for t in ("a", "b", "ab")]
    + [Label(BYTES, b) for b in (b"", b"a", b"ab")]
)

trees = st.recursive(
    st.sampled_from(LABELS).map(node),
    lambda kids: st.tuples(st.sampled_from(LABELS),
                           st.lists(kids, max_size=3)).map(
        lambda t: node(t[0], tuple(t[1]))),
    max_leaves=8,
)
forests = st.lists(trees, max_size=3).map(tuple)

FIXED_FORESTS = [(node(l),) for l in LABELS] + [
    (node(Label(BOOL, True)), node(Label(INT, 1))),
    (node(Label(INT, 1)), node(Label(BOOL, True)), node(Label(UINT, 1))),
    (node(Label(DOUBLE, 2.0)), node(Label(INT, 2))),
    (node(Label(STRING, "a"), (node(Label(BYTES, b"a")),)),),
    (),
]


@settings(max_examples=200, deadline=None)
@given(patterns(3), st.lists(forests, max_size=6))
def test_vpa_forests_match_engine_on_all_label_types(p, fs):
    g = compile_grammar({"main": p})
    v = Validator(g)
    batch = FIXED_FORESTS + fs
    want = [v.validate(f) for f in batch] + [False]
    got = list(TableValidator(g).validate_forests(batch + [None]))
    assert got == want, f"pattern {p}: vpa={got} engine={want}"
