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
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .parser import parse_grammar
from .smart import compile_grammar
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

    ``fast=True`` attempts the **from_json fast path**: when the spec's
    shape allows it (see :func:`try_lower_json_spec`), the JSON column is
    parsed by Spark's native JSON reader and the spec evaluated as pure
    Catalyst expressions — no Python.  Falls back to the automaton UDF when
    the shape doesn't qualify.
    """
    if fast:
        lowered = try_lower_json_spec(col, spec_source, user_lib)
        if lowered is not None:
            return lowered
    return json_matches_udf(spec_source, user_lib)(col)


def try_lower_json_spec(col: Column, spec_source: str, user_lib=None):
    """VariantType fast path for field-anchored specs.

    Qualifying shape: And/Or/Not compositions of
    ``Contains(Node(<const field name>, <non-nullable leaf predicate>))``
    — i.e. ``.field <op> value`` forms — including NESTED chains
    (``.a: .b == 1`` → variant path ``$.a.b``).  The document is parsed
    once with
    ``try_parse_json`` (Spark 4 VariantType); each field predicate is
    lowered with **runtime type guards** derived from
    ``schema_of_variant``, reproducing the reference's JSON label rules
    exactly (``Json.hs:39-52``): integral numbers (including ``87.0`` and
    ``1e10``) are Int, non-integral are Double, strings never coerce to
    numbers, absent fields and JSON nulls never satisfy a non-nullable
    child, malformed documents match nothing.

    Returns None when the spec doesn't qualify (the automaton UDF runs
    instead).
    """
    from pyspark.sql import functions as F

    from .exprs import BOOL, DOUBLE, INT, STRING, UINT, Const, Func, Var
    from .lower import band, bnot, bor, to_col
    from .smart import AND, CONTAINS, EMPTY, NODE, NOT, OR, REF

    g = compile_grammar(parse_grammar(spec_source, user_lib))

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
                raise _NoFast()
        return F.try_variant_get(doc, "$." + ".".join(path), "variant")

    class _NoFast(Exception):
        pass

    def type_guard(fv, ty: str):
        sv = F.schema_of_variant(fv)
        if ty in (INT, UINT):
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
        if ty == BOOL:
            return sv == "BOOLEAN"
        raise _NoFast()

    def typed_value(fv, ty: str):
        if ty in (INT, UINT):
            return F.try_variant_get(fv, "$", "bigint")
        if ty == DOUBLE:
            return F.try_variant_get(fv, "$", "double")
        if ty == STRING:
            return F.try_variant_get(fv, "$", "string")
        if ty == BOOL:
            return F.try_variant_get(fv, "$", "boolean")
        raise _NoFast()

    def lower_leaf(e, fv):
        """Boolean expr over one variant field — mirrors exprs eval
        semantics with runtime type dispatch."""
        if isinstance(e, Const) and e.ty == BOOL:
            return bool(e.value)
        if isinstance(e, Var):
            if e.ty != BOOL:
                raise _NoFast()
            return band(
                F.coalesce(type_guard(fv, BOOL), F.lit(False)),
                F.coalesce(typed_value(fv, BOOL), F.lit(False)),
            )
        if not isinstance(e, Func):
            raise _NoFast()
        name = e.name
        if name == "not":
            return bnot(lower_leaf(e.args[0], fv))
        if name == "and":
            return band(lower_leaf(e.args[0], fv), lower_leaf(e.args[1], fv))
        if name == "or":
            return bor(lower_leaf(e.args[0], fv), lower_leaf(e.args[1], fv))
        if name == "type":
            ty = e.args[0].ty
            return F.coalesce(type_guard(fv, ty), F.lit(False))

        def var_const(args):
            if isinstance(args[0], Var) and isinstance(args[1], Const):
                return args[0], args[1], False
            if isinstance(args[1], Var) and isinstance(args[0], Const):
                return args[1], args[0], True
            raise _NoFast()

        if name in ("eq", "ne", "ge", "gt", "le", "lt"):
            var, cst, flipped = var_const(e.args)
            if var.ty != cst.ty:
                return False
            guard = F.coalesce(type_guard(fv, var.ty), F.lit(False))
            v = typed_value(fv, var.ty)
            c = F.lit(cst.value)
            a, b = (c, v) if flipped else (v, c)
            cmp = {"eq": a == b, "ne": a != b, "ge": a >= b,
                   "gt": a > b, "le": a <= b, "lt": a < b}[name]
            return band(guard, F.coalesce(cmp, F.lit(False)))
        if name in ("hasPrefix", "hasSuffix", "regex", "contains"):
            guard = F.coalesce(type_guard(fv, STRING), F.lit(False))
            v = typed_value(fv, STRING)
            if name == "contains" and e.args[1].ty.startswith("[]"):
                # membership: list of constants
                if not isinstance(e.args[1], Const):
                    raise _NoFast()
                elem_ty = e.args[1].ty[2:]
                if not isinstance(e.args[0], Var) or e.args[0].ty != elem_ty:
                    raise _NoFast()
                guard = F.coalesce(type_guard(fv, elem_ty), F.lit(False))
                vv = typed_value(fv, elem_ty)
                return band(guard,
                            F.coalesce(vv.isin(*list(e.args[1].value)),
                                       F.lit(False)))
            if not (isinstance(e.args[0], Var) and isinstance(e.args[1], Const)):
                if name == "regex" and isinstance(e.args[0], Const) and \
                        isinstance(e.args[1], Var):
                    return band(guard, F.coalesce(
                        v.rlike(str(e.args[0].value)), F.lit(False)))
                raise _NoFast()
            c = F.lit(e.args[1].value)
            op = {"hasPrefix": lambda: v.startswith(c),
                  "hasSuffix": lambda: v.endswith(c),
                  "contains": lambda: v.contains(c)}[name]()
            return band(guard, F.coalesce(op, F.lit(False)))
        raise _NoFast()

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
                if inner.kind != NODE:
                    raise _NoFast()
                name = const_name(inner.expr)
                if name is None:
                    raise _NoFast()
                path.append(name)
                child = inner.pats[0]
                if child.kind == CONTAINS:
                    cur = child
                    continue
                if (child.kind != NODE or child.nullable
                        or child.pats[0].kind != EMPTY):
                    raise _NoFast()
                return lower_leaf(child.expr, field_variant(path))
        if k == REF:
            return lower_pattern(g.lookup(p.ref))
        raise _NoFast()

    try:
        cond = lower_pattern(g.main)
    except _NoFast:
        return None
    # malformed / NULL documents match nothing (the automaton returns False)
    return F.when(doc.isNull(), F.lit(False)).otherwise(to_col(cond))
