"""Automaton-path depth: genuinely dynamic tree shapes (ordered Concat,
Interleave over unknown children, nested stars) through the pandas UDF,
cross-checked against the pure engine — the shapes the Catalyst fast path
correctly refuses (SURVEY.md §7.3 hard part #2)."""

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.relapse.automaton import (
    try_lower_json_spec,
    validate_json_column,
)
from katydid_haskell_spark.relapse.derive import Validator
from katydid_haskell_spark.relapse.labels import decode_json
from katydid_haskell_spark.relapse.parser import parse_grammar
from katydid_haskell_spark.relapse.smart import compile_grammar

SPECS = [
    # ordered sequence over dynamic object children
    "p: [a:*, b:*]",
    # unordered merge with optional + star branches
    "p: {a:*; (b:*)?; (c:*)*}",
    # contains within nested arrays (index-labeled children)
    "items: ._: .x == 1",
    # nested stars: array of objects, each with all-int values
    "rows: (_: (_: -> type($int))*)*",
    # deep ordered path
    "a: b: c: == 3",
    # complement over a subtree
    "!(p: {a:*; b:*})",
]

DOCS = [
    '{"p": {"a": 1, "b": 2}}',
    '{"p": {"b": 2, "a": 1}}',            # order matters for [a,b]
    '{"p": {"a": 1}}',
    '{"p": {"a": 1, "c": 3, "c2": 0}}',
    '{"items": [{"x": 1}, {"y": 2}]}',
    '{"items": [{"y": 2}]}',
    '{"rows": [[1, 2], [3]]}',
    '{"rows": [[1, "x"]]}',
    '{"a": {"b": {"c": 3}}}',
    '{"a": {"b": {"c": 4}}}',
    "{}",
]


@pytest.mark.parametrize("spec", SPECS)
def test_dynamic_shapes_udf_vs_engine(spark, spec):
    g = compile_grammar(parse_grammar(spec))
    v = Validator(g)
    want = [v.validate(decode_json(d)) for d in DOCS]
    df = spark.createDataFrame([(d,) for d in DOCS], "doc string")
    got = [r["m"] for r in df.select(
        validate_json_column(F.col("doc"), spec).alias("m")).collect()]
    assert got == want, f"{spec}: udf={got} engine={want}"
    # these shapes must NOT qualify for the flat fast path
    assert try_lower_json_spec(F.col("doc"), spec) is None


def test_order_sensitivity_concat():
    g = compile_grammar(parse_grammar("p: [a:*, b:*]"))
    v = Validator(g)
    assert v.validate(decode_json('{"p": {"a": 1, "b": 2}}'))
    assert not v.validate(decode_json('{"p": {"b": 2, "a": 1}}'))


def test_interleave_order_insensitivity():
    g = compile_grammar(parse_grammar("p: {a:*; b:*}"))
    v = Validator(g)
    assert v.validate(decode_json('{"p": {"a": 1, "b": 2}}'))
    assert v.validate(decode_json('{"p": {"b": 2, "a": 1}}'))
    assert not v.validate(decode_json('{"p": {"a": 1}}'))
    assert not v.validate(decode_json('{"p": {"a": 1, "b": 2, "c": 3}}'))


def test_decode_json_bigint_fallback():
    """orjson rejects >64-bit integers; decode_json must fall back to
    stdlib (the reference's Aeson JSRational is arbitrary-precision)."""
    from katydid_haskell_spark.relapse.labels import INT, decode_json

    big = 2**70
    (tree,) = decode_json('{"k": %d}' % big)
    (child,) = tree.children
    assert child.label.ty == INT and child.label.value == big


def test_udf_duplicated_docs_match_engine(spark):
    """The VPA UDF must agree with the pure engine on a column dominated
    by duplicate documents, nulls and malformed JSON."""
    docs = (['{"k": 60}'] * 5 + ['{"k": 10}'] * 4 + [None, "not json"]) * 3
    g = compile_grammar(parse_grammar(".k >= 50"))
    v = Validator(g)

    def eng(d):
        if d is None:
            return False
        try:
            return v.validate(decode_json(d))
        except Exception:
            return False

    want = [eng(d) for d in docs]
    df = spark.createDataFrame([(d,) for d in docs], "doc string")
    got = [r["m"] for r in df.select(
        validate_json_column(F.col("doc"), ".k >= 50").alias("m")).collect()]
    assert got == want


def test_validator_cache_key_is_content_stable():
    """The executor validator cache must key user libraries by CONTENT,
    not id(): after GC a new library can reuse the old address and would
    silently alias the cached validator (round-3 VERDICT nit)."""
    from katydid_haskell_spark.relapse.automaton import _lib_cache_key

    def make_lib(tag):
        def lib(name, args):
            return None if tag else None  # closure over tag
        return lib

    a, b = make_lib("A"), make_lib("B")
    assert _lib_cache_key(a) != _lib_cache_key(b)       # different content
    assert _lib_cache_key(a) == _lib_cache_key(make_lib("A"))  # same content
    assert _lib_cache_key(None) is None
    # keys survive the original object being GC'd: recreate at (likely)
    # the same address — equality is by content, never by id
    key_a = _lib_cache_key(a)
    del a
    a2 = make_lib("A")
    assert _lib_cache_key(a2) == key_a
