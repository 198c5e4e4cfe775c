"""Automaton path: vectorized derivative validation for dynamic trees.

When a spec's shape cannot be unrolled against a fixed schema (regular
expressions over unbounded dynamic children — SURVEY.md §7.3), it runs as a
memoized derivative automaton inside an Arrow-batched pandas UDF.  This is
the only place the reference engine's *shape* survives, as the north star
requires: state = canonical pattern set, transitions built lazily and cached
(the ``MemDerive.hs:41-81`` / ``VpaDerive.hs:39-106`` lazy VPA), shared
across all rows an executor core processes.

The grammar travels to executors as its *source text* (small, picklable);
each executor compiles it once per spec (cached by source) — the moral
equivalent of broadcasting the transition table, with the table itself built
on first use and amortized across the partition, exactly like the
reference's shared ``State Mem`` across trees (``Relapse.hs:65-70``).

One engine for every encoding: JSON, XML and protobuf columns all run the
int-table VPA (:class:`~.vpa.TableValidator`) from one executor cache.
Its tables key on condition bitmasks, never on an encoding, so one spec
shares one automaton across all three.  Per Arrow batch:

- labels are interned once per distinct value and their condition masks
  evaluated in numpy lanes;
- documents factorize by (structure, symbol) signature, so each distinct
  walk runs once;
- every encoding decodes straight into the event buffer, with no forest
  built: JSON text through ``labels._loads`` (orjson when present, stdlib
  fallback for >64-bit ints) and the inline flattener, XML and protobuf
  through their one event decoder each (``xml_source.xml_verdicts``,
  ``protobuf_source.protobuf_verdicts``).

Every relapse batch enters through :func:`table_validator_for`, which also
drops the worker's cached zip importers (:func:`_drop_zip_importers`), so
the next task's ``importlib.invalidate_caches()`` does not re-read
``pyspark.zip``, the py4j zip and the spark-core jar.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Callable

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .exprs import (BOOL, DOUBLE, INT, STRING, Const, Func, Var,
                    eval_bool_or_false)
from .labels import Label
from .lower import (LoweringUnsupported, band, bnot, bor, lower_pred_root,
                    to_col)
from .parser import parse_grammar
from .smart import AND, CONTAINS, EMPTY, NODE, NOT, OR, REF, compile_grammar
from .vpa import TableValidator

# per-process (executor) cache: (spec source, user-lib key) → int-table
# VPA with warm tables, shared by the JSON, XML and protobuf columns
_TABLES: dict = {}


def _lib_cache_key(user_lib):
    """Stable content-derived cache key for a user-function library.

    ``id(user_lib)`` is NOT a valid key in a long-lived executor: after
    the original object is GC'd a different library can be allocated at
    the same address and silently alias the cached validator.  Key by the
    function's identity-bearing content instead: module/qualname, its
    bytecode, and the (repr'd) closure cell contents — two registries
    built from the same closure over different values get distinct keys.
    """
    if user_lib is None:
        return None
    parts = [getattr(user_lib, "__module__", ""),
             getattr(user_lib, "__qualname__", "")]
    code = getattr(user_lib, "__code__", None)
    if code is not None:
        parts.append(code.co_code)
        for cell in getattr(user_lib, "__closure__", None) or ():
            try:
                parts.append(repr(cell.cell_contents))
            except Exception:
                parts.append("<unreadable-cell>")
    else:
        # callable object (e.g. class instance): fall back to its repr,
        # which for registry-style objects should expose the content
        parts.append(repr(user_lib))
    return tuple(parts)


def _drop_zip_importers() -> None:
    """Remove the ``zipimport.zipimporter`` entries from
    ``sys.path_importer_cache``; ``FileFinder`` entries stay.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``).  On CPython
    3.10-3.12 that makes each cached zipimporter re-read its whole archive
    directory: a worker holds 16 of them (``pyspark.zip`` subpackages, the
    py4j zip, the spark-core jar; 26,672 directory entries in all),
    0.1-0.3 s of CPU per task before the UDF runs.  With them gone, the
    next task's invalidation touches only ``FileFinder``s, O(1) each.
    Imports keep working: a later import that needs a dropped importer
    makes ``PathFinder`` re-create it through ``sys.path_hooks``, and the
    new importer takes the archive directory from zipimport's
    module-level ``_zip_directory_cache``, so the archive is not read
    again.  CPython 3.13 made ``zipimporter.invalidate_caches`` lazy (it
    only evicts the cached directory), so there the drop is harmless and
    saves little.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def table_validator_for(source: str, user_lib=None) -> TableValidator:
    """The executor's cached VPA for a spec source (and user library).

    The one executor entry of every JSON, XML and protobuf batch, so it
    also drops the worker's zip importers (:func:`_drop_zip_importers`).
    """
    _drop_zip_importers()
    key = (source, _lib_cache_key(user_lib))
    tv = _TABLES.get(key)
    if tv is None:
        tv = TableValidator(compile_grammar(parse_grammar(source, user_lib)))
        _TABLES[key] = tv
    return tv


def json_matches_udf(spec_source: str, user_lib=None) -> Callable[[Column], Column]:
    """A vectorized (Arrow) boolean UDF: does each JSON document match.

    Compiles the spec on the driver first (fail fast), ships only the
    source.  NULL/invalid JSON → False (error-as-false at document level).
    """
    # driver-side compile: surface spec errors before the job runs
    compile_grammar(parse_grammar(spec_source, user_lib))

    @pandas_udf("boolean")
    def match(docs: pd.Series) -> pd.Series:
        # no demotion catch: a batch failure is a bug and must propagate
        tv = table_validator_for(spec_source, user_lib)
        return pd.Series(tv.validate_batch(docs.tolist()))

    return match


def validate_json_column(col: Column, spec_source: str, user_lib=None,
                         fast: bool = False) -> Column:
    """Boolean Column: JSON document column matches the Relapse spec.

    ``fast=True`` attempts the **VariantType fast path**: when the spec's
    shape allows it (see :func:`try_lower_json_spec`), the JSON column is
    read by ``try_parse_json`` and the spec evaluated as pure
    Catalyst expressions — no Python.  Falls back to the automaton UDF when
    the shape doesn't qualify.
    """
    if fast:
        lowered = try_lower_json_spec(col, spec_source, user_lib)
        if lowered is not None:
            return lowered
    return json_matches_udf(spec_source, user_lib)(col)


# the label types a JSON leaf can carry (Json.hs:39-52), each with the SQL
# type ``try_variant_get`` reads it as
_JSON_LEAF_TYPES = ((INT, "bigint"), (DOUBLE, "double"), (STRING, "string"),
                    (BOOL, "boolean"))


def _json_type_guard(fv: Column, ty: str) -> Column:
    """Does the variant value ``fv`` carry a JSON label of type ``ty``:
    integral numbers (including ``87.0`` and ``1e10``) are Int,
    non-integral are Double."""
    sv = F.schema_of_variant(fv)
    if ty == INT:
        dval = F.try_variant_get(fv, "$", "double")
        return (
            (sv == "BIGINT")
            | sv.rlike(r"^DECIMAL\(\d+,0\)$")
            | ((sv == "DOUBLE") & F.coalesce(dval == F.floor(dval), F.lit(False)))
        )
    if ty == DOUBLE:
        dval = F.try_variant_get(fv, "$", "double")
        return (
            sv.rlike(r"^DECIMAL\(\d+,[1-9]\d*\)$")
            | ((sv == "DOUBLE") & F.coalesce(dval != F.floor(dval), F.lit(False)))
        )
    if ty == STRING:
        return sv == "STRING"
    return sv == "BOOLEAN"


def _lower_json_leaf(e, fv: Column):
    """A leaf predicate over one variant field, as ``Node(P, Empty)`` sees
    the field's child forest in the JSON encoding (``Json.hs:39-58``).

    A scalar is one childless node labeled by its JSON type: one
    :func:`.lower.lower_pred_root` branch per label type, each guarded by
    that type.  An object or array is a forest of its members, and is one
    childless node only when it has exactly one member whose value is
    ``null``, ``{}`` or ``[]``; its label is then the member's String key
    (a second case of the String branch) or the Int index 0 (a constant,
    so the leaf is evaluated here by the VPA's own evaluator).  Absent and
    null values are no node, so every leaf is False there.

    The String branch is one CASE because Spark evaluates every
    ``try_parse_json`` occurrence again (no common-subexpression
    elimination inside these conditionals): as a CASE, a scalar string
    reads the variant no more often than without the key case."""
    out = False
    for ty, sql_ty in _JSON_LEAF_TYPES:
        pred = lower_pred_root(e, F.try_variant_get(fv, "$", sql_ty), ty)
        if pred is False:  # a leaf False for this type needs no guard
            continue
        guard = F.coalesce(_json_type_guard(fv, ty), F.lit(False))
        if ty != STRING:
            out = bor(out, band(guard, pred))
            continue
        members = F.try_variant_get(fv, "$", "map<string,variant>")
        lone_key = (F.size(members) == 1) & F.to_json(
            F.get(F.map_values(members), 0)).isin("null", "{}", "[]")
        key_pred = lower_pred_root(e, F.get(F.map_keys(members), 0), STRING)
        out = bor(out, F.coalesce(
            F.when(guard, to_col(pred)).when(lone_key, to_col(key_pred)),
            F.lit(False)))
    if eval_bool_or_false(e, Label(INT, 0)):
        out = bor(out, F.coalesce(
            F.to_json(fv).isin("[null]", "[{}]", "[[]]"), F.lit(False)))
    return out


def try_lower_json_spec(col: Column, spec_source: str, user_lib=None):
    """VariantType fast path for field-anchored specs.

    Qualifying shape: And/Or/Not compositions of
    ``Contains(Node(<const field name>, <non-nullable leaf predicate>))``
    — i.e. ``.field <op> value`` forms — including NESTED chains
    (``.a: .b == 1`` → variant path ``$.a.b``).  The document is read
    with ``try_parse_json`` (Spark 4 VariantType); each leaf predicate
    is lowered by :func:`.lower.lower_pred_root`, the same lowering as the
    Catalyst path, once per JSON label type under a **runtime type guard**
    derived from ``schema_of_variant`` (:func:`_lower_json_leaf`).  That
    reproduces the reference's JSON label rules (``Json.hs:39-52``):
    integral numbers are Int, non-integral are Double, strings never
    coerce to numbers, absent fields and JSON nulls never satisfy a
    non-nullable child, malformed documents match nothing.

    Duplicate object keys: ``try_parse_json`` returns NULL for them unless
    ``spark.sql.variant.allowDuplicateKeys`` is true, and then the last key
    wins, as in the automaton's JSON decoder.  ``session.get_spark`` sets
    it; in a session without it this returns None.

    Returns None when the spec doesn't qualify (the automaton UDF runs
    instead).
    """
    g = compile_grammar(parse_grammar(spec_source, user_lib))
    if SparkSession.active().conf.get(
            "spark.sql.variant.allowDuplicateKeys", "false").lower() != "true":
        return None

    def const_name(e):
        if (isinstance(e, Func) and e.name == "eq" and len(e.args) == 2
                and isinstance(e.args[0], Var) and e.args[0].ty == STRING
                and isinstance(e.args[1], Const)):
            return str(e.args[1].value)
        return None

    doc = F.try_parse_json(col)

    def field_variant(path):
        # escape not needed for plain identifiers; reject exotic names
        for name in path:
            if not name.replace("_", "a").isalnum():
                raise LoweringUnsupported(f"field name {name!r}")
        return F.try_variant_get(doc, "$." + ".".join(path), "variant")

    def lower_pattern(p):
        k = p.kind
        if k in (OR, AND):
            out = None
            for c in p.pats:
                lc = lower_pattern(c)
                out = lc if out is None else (
                    bor(out, lc) if k == OR else band(out, lc)
                )
            return out
        if k == NOT:
            return bnot(lower_pattern(p.pats[0]))
        if k == CONTAINS:
            # chain of Contains(Node(const name, ...)) → one variant path:
            # `.a: .b == 1` lowers to try_variant_get(doc, '$.a.b').
            # Equivalence holds because a variant path only resolves
            # through OBJECT steps — arrays (index-labeled children),
            # scalars (leaf child), nulls (childless node) and missing
            # intermediate fields all yield NULL exactly where the
            # Contains chain fails to match.
            path = []
            cur = p
            while True:
                inner = cur.pats[0]
                name = const_name(inner.expr) if inner.kind == NODE else None
                if name is None:
                    raise LoweringUnsupported("Contains of a non-field node")
                path.append(name)
                child = inner.pats[0]
                if child.kind == CONTAINS:
                    cur = child
                    continue
                if (child.kind != NODE or child.nullable
                        or child.pats[0].kind != EMPTY):
                    raise LoweringUnsupported("field child is not one leaf")
                return _lower_json_leaf(child.expr, field_variant(path))
        if k == REF:
            return lower_pattern(g.lookup(p.ref))
        raise LoweringUnsupported(f"JSON pattern shape: {k}")

    try:
        cond = lower_pattern(g.main)
    except LoweringUnsupported:
        return None
    # malformed / NULL documents match nothing (the automaton returns False)
    return F.when(doc.isNull(), F.lit(False)).otherwise(to_col(cond))
