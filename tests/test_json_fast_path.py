"""VariantType fast path: agreement with the automaton UDF + fallback rules."""

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.relapse.automaton import (
    try_lower_json_spec,
    validate_json_column,
)

DOCS = [
    '{"k": 87}',
    '{"k": 10}',
    '{"k": 50}',
    '{"j": 87}',            # field absent
    '{"k": "x"}',           # wrong type → error-as-false
    '{"k": null}',          # null → absent value node
    "{}",
    "not json",
    None,
    '{"k": 87, "extra": 1}',  # unknown fields ignored by field anchoring
    '{"k": 87.0}',            # integral float → Int label (Json.hs:42-44)
    '{"k": 1e10}',            # integral exponent → Int label
    '{"k": 1.5}',             # non-integral → Double label
    '{"k": "87"}',            # string never coerces to number
    '{"k": true}',
    '{"name": "ann", "k": 87}',
    "[1,2]",                  # top-level array: no field nodes
]

FAST_SPECS = [
    '.k >= 50',
    '(.k >= 50 & .k < 90)',
    '!(.k == 87)',
    '(.k == 87 | .name == "ann")',
    '.name ^= "a"',
]


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame([(d,) for d in DOCS], "doc string").cache()


def assert_fast_matches_udf(df, docs, spec):
    """The spec lowers, and its verdict equals the VPA's on every doc;
    returns the VPA verdicts."""
    fast = try_lower_json_spec(F.col("doc"), spec)
    assert fast is not None, f"{spec} should qualify for the fast path"
    got = df.select(
        fast.alias("fast"),
        validate_json_column(F.col("doc"), spec, fast=False).alias("udf"),
    ).collect()
    for doc, row in zip(docs, got):
        assert row["fast"] == row["udf"], (
            f"spec={spec} doc={doc!r}: fast={row['fast']} udf={row['udf']}"
        )
    return [row["udf"] for row in got]


@pytest.mark.parametrize("spec", FAST_SPECS)
def test_fast_matches_udf(spark, df, spec):
    assert_fast_matches_udf(df, DOCS, spec)


@pytest.mark.parametrize(
    "spec",
    [
        "k: >= 50",           # bare node: exactly-one-field semantics
        ".k: *",              # nullable child (matches absent-value nodes)
        ".items: (_: >= 1)*",  # nested/dynamic shape
        "*",                  # no fields at all
    ],
)
def test_non_qualifying_falls_back(spark, spec):
    assert try_lower_json_spec(F.col("doc"), spec) is None


NESTED_DOCS = [
    '{"a": {"b": 1}}',
    '{"a": {"b": 2}}',
    '{"a": {"b": 1, "c": 9}}',
    '{"a": {"x": {"b": 1}}}',     # too deep: b not a direct child
    '{"a": [{"b": 1}]}',          # array step: index-labeled children
    '{"a": "b"}',                 # scalar: leaf child, not a field node
    '{"a": null}',                # childless a node
    '{"a": {"b": null}}',         # childless b node
    '{"a": {"b": {"c": 1}}}',     # b is an object, not an int leaf
    '{"b": 1}',                   # missing intermediate
    '{}', None, "not json",
    '{"a": {"b": 1.0}}',          # integral float → Int label
    '{"a": {"b": "1"}}',          # string never coerces
    '{"a": {"b": true}}',
]

NESTED_SPECS = [
    '.a: .b == 1',
    '(.a: .b >= 1 & .a: .b < 5)',
    '!(.a: .b == 1)',
    '.a: .b: .c == 1',
    '(.a: .b == 1 | .b == 1)',
]


@pytest.mark.parametrize("spec", NESTED_SPECS)
def test_nested_path_fast_matches_udf(spark, spec):
    """Round 4: Contains chains lower to one variant path ($.a.b) — must
    agree with the automaton on every intermediate-step shape (arrays,
    scalars, nulls, depth mismatches)."""
    df = spark.createDataFrame([(d,) for d in NESTED_DOCS], "doc string")
    assert_fast_matches_udf(df, NESTED_DOCS, spec)


# Every leaf lowers through lower.lower_pred_root once per JSON label type,
# under that type's guard.  Absent and null values are no node, so every
# leaf answers False there.  An object or array with one member whose value
# is null, {} or [] is one childless node labeled by the key or by Int 0
# (so a leaf can match it); any other object or array is not one childless
# node.
LEAF_DOCS = [
    "{}", '{"j": 5}', '{"k": null}', '{"k": {"x": 1}}', '{"k": [1]}',
    '{"k": {"x": null}}', '{"k": [null]}', '{"k": [{}]}', '{"k": {"x": []}}',
    '{"k": {"x": {}}}', '{"k": [[]]}', '{"k": {"xa": null}}',
    '{"k": {"5": null}}', '{"k": {"x": [null]}}', '{"k": [[null]]}',
    '{"k": {"x": null, "y": null}}', '{"k": [null, null]}',
    '{"k": {}}', '{"k": []}', '{"a": {"k": [null]}}',
    '{"k": 5}', '{"k": 5.0}', '{"k": 6}', '{"k": 1.5}',
    '{"k": true}', '{"k": false}',
    '{"k": "xa"}', '{"k": "abc"}', '{"k": "123"}',
    # non-ASCII case mappings: dotted I, final sigma, sharp s, titlecase
    # digraph, ligature, Kelvin sign
    '{"k": "\u0130"}', '{"k": "\u03a3\u0391\u03a3"}', '{"k": "\u00df"}',
    '{"k": "\u01c5"}', '{"k": "\ufb01"}', '{"k": "\u212a"}',
    '{"a": {"k": 5}}', '{"a": {"k": 6}}', '{"a": {"k": null}}',
    '{"a": [{"k": 6}]}', '{"a": 1}',
]

# A leaf `not` is False where k has no leaf; `$uint` is a type JSON never
# yields, so it never matches an Int label.
LEAF_SPECS = [
    ".k -> not(eq($int, 5))",
    ".k -> not(type($int))",
    ".k -> not($bool)",
    '.k -> not(hasPrefix($string, "x"))',
    ".a: .k -> not(eq($int, 5))",
    ".a: .k -> not(type($int))",
    ".k -> eq($uint, uint(5))",
    ".k -> type($uint)",
    ".k -> not(type($uint))",
    # the lone-member key or index is the label
    ".k == 0",
    '.k == "x"',
    '.k -> hasPrefix($string, "x")',
    ".k -> eq(length($string), 1)",
    ".k -> type($string)",
    ".k -> not(type($string))",
    ".k -> ne($int, 1)",
    ".a: .k == 0",
]

# length, toLower, toUpper and function-valued comparisons lower too; each
# spec matches at least one document.
WIDENED_SPECS = [
    ".k -> eq(length($string), 3)",
    ".k -> not(eq(length($string), 3))",
    '.k -> eq(toLower($string), "i\u0307")',
    '.k -> eq(toLower($string), "\u03c3\u03b1\u03c2")',
    '.k -> eq(toUpper($string), "SS")',
    '.k -> eq(toLower($string), "\u01c6")',
    '.k -> eq(toUpper($string), "FI")',
    '.k -> eq(toLower($string), "k")',
    ".k -> eq(length(toUpper($string)), 2)",
    ".k -> eq(toLower($string), toUpper($string))",
    '.k -> hasPrefix(toUpper($string), "X")',
]


@pytest.fixture(scope="module")
def leaf_df(spark):
    return spark.createDataFrame([(d,) for d in LEAF_DOCS], "doc string").cache()


@pytest.mark.parametrize("spec", LEAF_SPECS)
def test_leaf_predicates_match_udf(spark, leaf_df, spec):
    assert_fast_matches_udf(leaf_df, LEAF_DOCS, spec)


@pytest.mark.parametrize("spec", WIDENED_SPECS)
def test_widened_leaves_lower_and_match_udf(spark, leaf_df, spec):
    assert any(assert_fast_matches_udf(leaf_df, LEAF_DOCS, spec))


DUP_DOCS = ['{"k": 1, "k": 2}', '{"k": 1, "j": 2, "j": 3}',
            '{"a": {"k": 6, "k": 5}}']


@pytest.mark.parametrize("spec", [".k == 2", ".k == 1", ".a: .k == 5"])
def test_duplicate_keys_last_wins(spark, spec):
    """try_parse_json returns NULL on duplicate keys unless
    spark.sql.variant.allowDuplicateKeys is set (session.get_spark sets
    it); the last key wins, as in the automaton's decoder."""
    df = spark.createDataFrame([(d,) for d in DUP_DOCS], "doc string")
    assert any(assert_fast_matches_udf(df, DUP_DOCS, spec))


def test_session_without_duplicate_keys_setting_falls_back(spark):
    """Where try_parse_json would return NULL on a duplicate key, the spec
    does not lower and fast=True runs the automaton."""
    key = "spark.sql.variant.allowDuplicateKeys"
    df = spark.createDataFrame([(d,) for d in DUP_DOCS], "doc string")
    spark.conf.unset(key)
    try:
        assert spark.conf.get(key) == "false"
        assert try_lower_json_spec(F.col("doc"), ".k == 2") is None
        got = df.select(
            validate_json_column(F.col("doc"), ".k == 2", fast=True)).collect()
    finally:
        spark.conf.set(key, "true")
    assert [r[0] for r in got] == [True, False, False]
