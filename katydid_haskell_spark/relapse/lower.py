"""Catalyst lowering: compile a Relapse grammar against a fixed StructType.

This is the fast path mandated by the north star: the Brzozowski derivative
(the reference's execution algorithm, ``Derive.hs:121-138``) is **unrolled at
compile time** against the known record schema, producing one boolean
``pyspark.sql.Column`` — pure Catalyst expressions, whole-stage codegen, no
Python in the hot path.

How: a DataFrame row is encoded as a forest of field nodes exactly like the
reference's JSON encoding (``Json.hs:54-58``): one node per schema field,
labeled with the field name; a NULL value is a node with no children
(``Json.hs:40``); a scalar value is a single child leaf; a struct's children
are its own field nodes; an array's children are index-labeled element
nodes.  The derivative is folded over this forest symbolically:

- node-label conditions on *field names* are concrete → evaluated at compile
  time (the if-expression tree of ``Derive.hs:42-60`` collapses);
- conditions on *values* become Catalyst boolean Columns;
- the "return" step (``Derive.hs:67-110``) substitutes symbolic-nullability
  leaves (``SymEmpty``/``SymAny``) for Nodes, so the final pattern's
  nullability *is* the match Column.

Error-as-false discipline (``Exprs/Compare.hs:51-53``, ``Logic.hs:26-32``):
a statically type-mismatched variable raises :class:`StaticEvalError`, which
comparisons catch → ``lit(False)``, ``not`` catches → flip, and the node
root catches → no-match.  Every Column comparison is additionally wrapped
``coalesce(_, False)`` so SQL three-valued logic can never leak a NULL
verdict.

Shapes this path cannot express (regular expressions over *unbounded*
dynamic children, e.g. Concat over an array with non-positional patterns)
raise :class:`LoweringUnsupported`; callers fall back to the automaton
pandas UDF (:mod:`.automaton`).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import array_regex as RX
from .exprs import (
    BOOL,
    BYTES,
    DOUBLE,
    INT,
    STRING,
    UINT,
    Const,
    Expr,
    Func,
    Var,
    const_bool_value,
    eval_bool_or_false,
)
from .labels import Label
from .smart import (
    AND,
    CONCAT,
    CONTAINS,
    EMPTY,
    INTERLEAVE,
    NODE,
    NOT,
    OPTIONAL,
    OR,
    REF,
    ZANY,
    ZERO_OR_MORE,
    SGrammar,
    SPattern,
)


class LoweringUnsupported(Exception):
    """Spec shape needs the automaton UDF path."""


class StaticEvalError(Exception):
    """Compile-time analogue of a runtime EvalError (type mismatch)."""


# BExpr: a symbolic boolean — either a Python bool or a non-null Column.
BExpr = Union[bool, Column]


def band(a: BExpr, b: BExpr) -> BExpr:
    if a is True:
        return b
    if b is True:
        return a
    if a is False or b is False:
        return False
    return a & b


def bor(a: BExpr, b: BExpr) -> BExpr:
    if a is False:
        return b
    if b is False:
        return a
    if a is True or b is True:
        return True
    return a | b


def bnot(a: BExpr) -> BExpr:
    if isinstance(a, bool):
        return not a
    return ~a


def bite(c: BExpr, t: BExpr, e: BExpr) -> BExpr:
    if c is True:
        return t
    if c is False:
        return e
    return bor(band(c, t), band(bnot(c), e))


def to_col(b: BExpr) -> Column:
    return F.lit(b) if isinstance(b, bool) else b


# ---------------------------------------------------------------------------
# Spark type → label type mapping
# ---------------------------------------------------------------------------

_ATOMIC: Dict[type, str] = {
    T.BooleanType: BOOL,
    T.ByteType: INT,
    T.ShortType: INT,
    T.IntegerType: INT,
    T.LongType: INT,
    T.FloatType: DOUBLE,
    T.DoubleType: DOUBLE,
    T.StringType: STRING,
    T.BinaryType: BYTES,
}


def label_type_of(dt: T.DataType) -> Optional[str]:
    """Label type for a Spark scalar type; None for nested/unsupported."""
    ty = _ATOMIC.get(type(dt))
    if ty is not None:
        return ty
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return INT  # exposed as epoch seconds ($int)
    if isinstance(dt, T.DateType):
        return STRING  # exposed as ISO yyyy-MM-dd ($string)
    if isinstance(dt, T.DecimalType):
        return DOUBLE
    return None


def scalar_column(col: Column, dt: T.DataType) -> Column:
    """The column as its label-typed value."""
    if isinstance(dt, T.TimestampType):
        return col.cast("long")
    if isinstance(dt, T.TimestampNTZType):
        # NTZ has no direct long cast; via TIMESTAMP under the UTC
        # session (session.py) the wall clock becomes epoch seconds —
        # the same value rows.py computes for a naive datetime
        return col.cast("timestamp").cast("long")
    if isinstance(dt, T.DateType):
        return col.cast("string")
    if isinstance(dt, T.DecimalType):
        return col.cast("double")
    return col


# ---------------------------------------------------------------------------
# Expression lowering (leaf predicates → Columns)
# ---------------------------------------------------------------------------

def _lower_val(e: Expr, col: Column, ty: str):
    """Lower a value expression. Returns (value, is_column). Raises
    StaticEvalError on a type mismatch (the compile-time EvalError)."""
    if isinstance(e, Const):
        return e.value, False
    if isinstance(e, Var):
        if e.ty != ty:
            raise StaticEvalError(f"expected {e.ty}, got {ty}")
        return col, True
    assert isinstance(e, Func)
    name = e.name
    if name == "toLower":
        v, is_col = _lower_val(e.args[0], col, ty)
        return (F.lower(v) if is_col else v.lower()), is_col
    if name == "toUpper":
        v, is_col = _lower_val(e.args[0], col, ty)
        return (F.upper(v) if is_col else v.upper()), is_col
    if name == "length":
        a = e.args[0]
        v, is_col = _lower_val(a, col, ty)
        if not is_col:
            return len(v), False
        if a.ty == STRING:
            return F.length(v), True
        if a.ty == BYTES:
            return F.octet_length(v), True
        raise LoweringUnsupported(f"length over column of type {a.ty}")
    if name == "elem":
        xs, xs_col = _lower_val(e.args[0], col, ty)
        i, i_col = _lower_val(e.args[1], col, ty)
        if xs_col or i_col:
            raise LoweringUnsupported("elem over non-constant arguments")
        if i < 0 or i >= len(xs):
            raise StaticEvalError("elem index out of range")
        return xs[i], False
    if name in ("eq", "ne", "ge", "gt", "le", "lt", "contains", "hasPrefix",
                "hasSuffix", "regex", "not", "and", "or", "type"):
        # bool-valued: lower as predicate
        return lower_pred(e, col, ty), True
    raise LoweringUnsupported(f"no Catalyst lowering for function {name}")


def _cmp_col(name: str, a, b, a_col: bool, b_col: bool) -> BExpr:
    if not a_col and not b_col:
        import operator as op

        return {"eq": op.eq, "ne": op.ne, "ge": op.ge, "gt": op.gt,
                "le": op.le, "lt": op.lt}[name](a, b)
    ac = a if a_col else F.lit(a)
    bc = b if b_col else F.lit(b)
    cmp = {"eq": ac == bc, "ne": ac != bc, "ge": ac >= bc,
           "gt": ac > bc, "le": ac <= bc, "lt": ac < bc}[name]
    return F.coalesce(cmp, F.lit(False))


def lower_pred(e: Expr, col: Column, ty: str) -> BExpr:
    """Lower a boolean expression against a scalar value column of label
    type ``ty``.  Error-as-false is enforced here: static type mismatches
    surface as ``False`` exactly where the reference's evaluator would
    (comparisons catch, ``not`` flips, others propagate)."""
    if isinstance(e, Const):
        return bool(e.value)
    if isinstance(e, Var):
        if e.ty != ty:
            raise StaticEvalError(f"expected {e.ty}, got {ty}")
        return F.coalesce(col, F.lit(False)) if ty == BOOL else col
    assert isinstance(e, Func)
    name = e.name
    if name in ("eq", "ne", "ge", "gt", "le", "lt"):
        # Compare.hs: evaluation errors → False
        try:
            a, a_col = _lower_val(e.args[0], col, ty)
            b, b_col = _lower_val(e.args[1], col, ty)
        except StaticEvalError:
            return False
        return _cmp_col(name, a, b, a_col, b_col)
    if name == "not":
        # Logic.hs:26-32: error → True
        try:
            return bnot(lower_pred(e.args[0], col, ty))
        except StaticEvalError:
            return True
    if name == "and":
        return band(lower_pred(e.args[0], col, ty), lower_pred(e.args[1], col, ty))
    if name == "or":
        # NB: Either-applicative short-circuit — an error in either side
        # propagates, so no special casing needed: we propagate too.
        return bor(lower_pred(e.args[0], col, ty), lower_pred(e.args[1], col, ty))
    if name == "contains":
        a, a_col = _lower_val(e.args[0], col, ty)
        b, b_col = _lower_val(e.args[1], col, ty)
        if e.args[1].ty == STRING:  # substring
            if a_col or b_col:
                ac = a if a_col else F.lit(a)
                bc = b if b_col else F.lit(b)
                return F.coalesce(ac.contains(bc), F.lit(False))
            return b in a
        # membership in a constant list
        if b_col:
            raise LoweringUnsupported("contains: non-constant list")
        if a_col:
            return F.coalesce(a.isin(*list(b)), F.lit(False))
        return a in b
    if name == "hasPrefix":
        a, a_col = _lower_val(e.args[0], col, ty)
        b, b_col = _lower_val(e.args[1], col, ty)
        if not a_col and not b_col:
            return a.startswith(b)
        ac = a if a_col else F.lit(a)
        bc = b if b_col else F.lit(b)
        return F.coalesce(ac.startswith(bc), F.lit(False))
    if name == "hasSuffix":
        a, a_col = _lower_val(e.args[0], col, ty)
        b, b_col = _lower_val(e.args[1], col, ty)
        if not a_col and not b_col:
            return a.endswith(b)
        ac = a if a_col else F.lit(a)
        bc = b if b_col else F.lit(b)
        return F.coalesce(ac.endswith(bc), F.lit(False))
    if name == "regex":
        # regex(pattern, subject); evaluated as Java rlike here but as
        # Python re in the derivative/automaton paths — safe because
        # constant patterns passed expression construction only if they are
        # in the portable Python/Java/RE2 common subset (regex_dialect.py
        # gate; divergent constructs are compile errors, never silent
        # path disagreement).  Both dialects are unanchored searches, like
        # the reference's POSIX TDFA.
        pat, pat_col = _lower_val(e.args[0], col, ty)
        subj, subj_col = _lower_val(e.args[1], col, ty)
        if pat_col:
            raise LoweringUnsupported("regex: non-constant pattern")
        if not subj_col:
            import re

            return re.search(pat, subj) is not None
        return F.coalesce(subj.rlike(pat), F.lit(False))
    if name == "type":
        # the value node exists (non-null guarded at field level), so this
        # is purely a static type check
        return e.args[0].ty == ty
    raise LoweringUnsupported(f"no Catalyst lowering for function {name}")


def lower_pred_root(e: Expr, col: Column, ty: str) -> BExpr:
    """Node-predicate root: a propagated static error means no-match."""
    try:
        return lower_pred(e, col, ty)
    except StaticEvalError:
        return False


# ---------------------------------------------------------------------------
# Lowered patterns (symbolic-nullability pattern algebra)
# ---------------------------------------------------------------------------

SYM_EMPTY = "symempty"  # Empty if cond else emptySet
SYM_ANY = "symany"  # ZAny  if cond else emptySet


class LP:
    """A lowered pattern: same algebra as SPattern plus symbolic leaves."""

    __slots__ = ("kind", "expr", "pats", "ref", "cond", "nullable", "src")

    def __init__(self, kind, expr=None, pats=(), ref=None, cond=None,
                 nullable: BExpr = False, src: Optional[SPattern] = None):
        self.kind = kind
        self.expr = expr
        self.pats = pats
        self.ref = ref
        self.cond = cond
        self.nullable = nullable
        self.src = src  # set when lifted 1:1 from an interned SPattern


L_EMPTY = LP(EMPTY, nullable=True)
L_ZANY = LP(ZANY, nullable=True)
L_EMPTY_SET = LP(NOT, pats=(L_ZANY,), nullable=False)


def _is_zany(p: LP) -> bool:
    return p.kind == ZANY


def _is_empty_set(p: LP) -> bool:
    return p.kind == NOT and p.pats[0].kind == ZANY


def _same(a: LP, b: LP) -> bool:
    if a is b:
        return True
    return a.src is not None and a.src is b.src


def lsym_empty(cond: BExpr) -> LP:
    if cond is True:
        return L_EMPTY
    if cond is False:
        return L_EMPTY_SET
    return LP(SYM_EMPTY, cond=cond, nullable=cond)


def lsym_any(cond: BExpr) -> LP:
    if cond is True:
        return L_ZANY
    if cond is False:
        return L_EMPTY_SET
    return LP(SYM_ANY, cond=cond, nullable=cond)


def lnot(p: LP) -> LP:
    if p.kind == NOT:
        return p.pats[0]
    if p.kind == SYM_EMPTY or p.kind == EMPTY:
        # not(Empty-if-c) matches everything except (empty forest when c):
        # still fine as a generic NOT node.
        pass
    return LP(NOT, pats=(p,), nullable=bnot(p.nullable))


def lor(a: LP, b: LP) -> LP:
    if _is_zany(a) or _is_zany(b):
        return L_ZANY
    if _is_empty_set(a):
        return b
    if _is_empty_set(b):
        return a
    if _same(a, b):
        return a
    if a.kind == SYM_EMPTY and b.kind == SYM_EMPTY:
        return lsym_empty(bor(a.cond, b.cond))
    if a.kind == SYM_ANY and b.kind == SYM_ANY:
        return lsym_any(bor(a.cond, b.cond))
    return LP(OR, pats=(a, b), nullable=bor(a.nullable, b.nullable))


def land(a: LP, b: LP) -> LP:
    if _is_empty_set(a) or _is_empty_set(b):
        return L_EMPTY_SET
    if _is_zany(a):
        return b
    if _is_zany(b):
        return a
    if _same(a, b):
        return a
    if a.kind == SYM_EMPTY and b.kind == SYM_EMPTY:
        return lsym_empty(band(a.cond, b.cond))
    if a.kind == SYM_ANY and b.kind == SYM_ANY:
        return lsym_any(band(a.cond, b.cond))
    # Empty & p: matches empty forest iff p nullable
    if a.kind in (EMPTY, SYM_EMPTY):
        return lsym_empty(band(a.nullable, b.nullable))
    if b.kind in (EMPTY, SYM_EMPTY):
        return lsym_empty(band(a.nullable, b.nullable))
    return LP(AND, pats=(a, b), nullable=band(a.nullable, b.nullable))


def lconcat(a: LP, b: LP) -> LP:
    if _is_empty_set(a) or _is_empty_set(b):
        return L_EMPTY_SET
    if a.kind == EMPTY:
        return b
    if b.kind == EMPTY:
        return a
    if a.kind == SYM_EMPTY:  # (Empty if c)·b
        return land(lsym_any(a.cond), b)
    if b.kind == SYM_EMPTY:
        return land(a, lsym_any(b.cond))
    return LP(CONCAT, pats=(a, b), nullable=band(a.nullable, b.nullable))


def linterleave(a: LP, b: LP) -> LP:
    if _is_empty_set(a) or _is_empty_set(b):
        return L_EMPTY_SET
    if a.kind == EMPTY:
        return b
    if b.kind == EMPTY:
        return a
    if a.kind == SYM_EMPTY:
        return land(lsym_any(a.cond), b)
    if b.kind == SYM_EMPTY:
        return land(a, lsym_any(b.cond))
    return LP(INTERLEAVE, pats=(a, b), nullable=band(a.nullable, b.nullable))


def lcontains(p: LP) -> LP:
    if p.kind == EMPTY:
        return L_ZANY
    if _is_zany(p) or _is_empty_set(p):
        return p
    if p.kind == SYM_EMPTY:
        return lsym_any(p.cond)
    return LP(CONTAINS, pats=(p,), nullable=p.nullable)


class _Lift:
    """Lift interned SPatterns to LPs, preserving identity for dedup."""

    def __init__(self, g: SGrammar):
        self.g = g
        self.memo: Dict[int, LP] = {}

    def __call__(self, sp: SPattern) -> LP:
        got = self.memo.get(id(sp))
        if got is None:
            got = LP(sp.kind, expr=sp.expr, ref=sp.ref, nullable=sp.nullable,
                     src=sp)
            self.memo[id(sp)] = got
            got.pats = tuple(self(c) for c in sp.pats)
        return got


# ---------------------------------------------------------------------------
# Symbolic derivative
# ---------------------------------------------------------------------------


class _SymNode:
    """A symbolic tree node: concrete name label, symbolic value children."""

    __slots__ = ("name", "col", "dtype")

    def __init__(self, name: str, col: Column, dtype: T.DataType):
        self.name = name
        self.col = col
        self.dtype = dtype


class Lowerer:
    def __init__(self, g: SGrammar):
        self.g = g
        self.lift = _Lift(g)

    # -- calls --------------------------------------------------------------

    def calls(self, ps: List[LP]) -> List[Tuple[Expr, LP, LP]]:
        out: List[Tuple[Expr, LP, LP]] = []
        for p in ps:
            self._calls(p, out)
        return out

    def _calls(self, p: LP, out) -> None:
        k = p.kind
        if k in (EMPTY, ZANY, SYM_EMPTY, SYM_ANY):
            return
        if k == NODE:
            out.append((p.expr, p.pats[0], L_EMPTY_SET))
            return
        if k == CONCAT:
            l, r = p.pats
            self._calls(l, out)
            if l.nullable is not False:  # True or symbolic
                self._calls(r, out)
            return
        if k in (OR, AND, INTERLEAVE):
            for c in p.pats:
                self._calls(c, out)
            return
        if k in (ZERO_OR_MORE, NOT, CONTAINS, OPTIONAL):
            self._calls(p.pats[0], out)
            return
        if k == REF:
            self._calls(self.lift(self.g.lookup(p.ref)), out)
            return
        raise AssertionError(k)

    # -- returns (symbolic nulls) --------------------------------------------

    def returns(self, ps: List[LP], nulls: List[BExpr]) -> List[LP]:
        out = []
        idx = 0
        for p in ps:
            dp, idx = self._returns(p, nulls, idx)
            out.append(dp)
        assert idx == len(nulls)
        return out

    def _returns(self, p: LP, ns: List[BExpr], i: int):
        k = p.kind
        if k in (EMPTY, SYM_EMPTY):
            return L_EMPTY_SET, i
        if k == ZANY:
            return L_ZANY, i
        if k == SYM_ANY:
            return p, i
        if k == NODE:
            return lsym_empty(ns[i]), i + 1
        if k == CONCAT:
            l, r = p.pats
            dl, i = self._returns(l, ns, i)
            if l.nullable is False:
                return lconcat(dl, r), i
            dr, i = self._returns(r, ns, i)
            guarded = land(lsym_any(l.nullable), dr)
            return lor(lconcat(dl, r), guarded), i
        if k == OR:
            dps, i = self._map_returns(p.pats, ns, i)
            out = dps[0]
            for dp in dps[1:]:
                out = lor(out, dp)
            return out, i
        if k == AND:
            dps, i = self._map_returns(p.pats, ns, i)
            out = dps[0]
            for dp in dps[1:]:
                out = land(out, dp)
            return out, i
        if k == INTERLEAVE:
            cs = p.pats
            dps, i = self._map_returns(cs, ns, i)
            ors = None
            for j, dp in enumerate(dps):
                alt = dp
                for m, c in enumerate(cs):
                    if m != j:
                        alt = linterleave(alt, c)
                ors = alt if ors is None else lor(ors, alt)
            return ors, i
        if k == ZERO_OR_MORE:
            dp, i = self._returns(p.pats[0], ns, i)
            return lconcat(dp, p), i
        if k == REF:
            return self._returns(self.lift(self.g.lookup(p.ref)), ns, i)
        if k == NOT:
            dp, i = self._returns(p.pats[0], ns, i)
            return lnot(dp), i
        if k == CONTAINS:
            dp, i = self._returns(p.pats[0], ns, i)
            return lor(p, lcontains(dp)), i
        if k == OPTIONAL:
            return self._returns(p.pats[0], ns, i)
        raise AssertionError(k)

    def _map_returns(self, ps, ns, i):
        dps = []
        for p in ps:
            dp, i = self._returns(p, ns, i)
            dps.append(dp)
        return dps, i

    # -- the symbolic fold ----------------------------------------------------

    def deriv_field(self, ps: List[LP], node: _SymNode) -> List[LP]:
        """Derivative of the pattern list w.r.t. one schema-field node."""
        ifs = self.calls(ps)
        # field-name labels are concrete → collapse the if-expressions
        name_label = Label(STRING, node.name)
        childps = [
            thn if eval_bool_or_false(cond, name_label) else els
            for (cond, thn, els) in ifs
        ]
        nulls = self.match_children(childps, node.col, node.dtype)
        return self.returns(ps, nulls)

    def match_children(self, childps: List[LP], col: Column,
                       dtype: T.DataType) -> List[BExpr]:
        """For each child pattern: does it match this value's child forest?

        A NULL value is an empty child forest (Json.hs:40)."""
        if not childps:
            return []
        isnull = col.isNull()
        empties = [p.nullable for p in childps]
        ty = label_type_of(dtype)
        if ty is not None:
            vals = self.match_scalar(childps, scalar_column(col, dtype), ty)
        elif isinstance(dtype, T.StructType):
            vals = self.match_struct(childps, col, dtype)
        elif isinstance(dtype, T.ArrayType):
            vals = self.match_array(childps, col, dtype)
        else:
            raise LoweringUnsupported(f"unsupported Spark type: {dtype}")
        return [
            bite(F.coalesce(isnull, F.lit(True)), e, v)
            for e, v in zip(empties, vals)
        ]

    def match_scalar(self, childps: List[LP], col: Column,
                     ty: str) -> List[BExpr]:
        """Derive each child pattern over a single symbolic leaf node."""
        ifs = self.calls(childps)
        leaf_nulls: List[BExpr] = []
        for cond, thn, els in ifs:
            c = lower_pred_root(cond, col, ty)
            # the leaf has no children: each branch pattern must be nullable
            leaf_nulls.append(bite(c, thn.nullable, els.nullable))
        derived = self.returns(childps, leaf_nulls)
        return [p.nullable for p in derived]

    def match_struct(self, childps: List[LP], col: Column,
                     dtype: T.StructType) -> List[BExpr]:
        """A struct value's children are its field nodes — recurse."""
        ps = childps
        for f in dtype.fields:
            ps = self.deriv_field(
                ps, _SymNode(f.name, col.getField(f.name), f.dataType)
            )
        return [p.nullable for p in ps]

    def match_array(self, childps: List[LP], col: Column,
                    dtype: T.ArrayType) -> List[BExpr]:
        """Template-match common array shapes to higher-order Catalyst ops.

        The forest of an array value is index-labeled element nodes
        (Json.hs:49-52).  Supported shapes per child pattern:

        - ``ZAny`` → True; ``Empty`` → size == 0; ``!(*)`` → False
        - ``(elem)*``  → ``F.forall``      (ZeroOrMore of a one-node pattern)
        - ``.elem``    → ``F.exists``      (Contains of a one-node pattern)
        - ``[e1,..,en]`` of one-node patterns → size == n ∧ positional checks

        Shapes beyond the templates (two star segments, variable-length
        interleave branches, star of a group, optional chains) fall back
        to :meth:`_match_array_dfa` — a compile-time Brzozowski DFA over
        the element alphabet, executed as a codegen'd transform+aggregate
        fold.  Only when THAT fails (atom/state caps, symbolic
        conditionals, recursion, unlowerable element predicates) does
        LoweringUnsupported propagate (→ automaton path).
        """
        elem_dt = dtype.elementType
        out: List[BExpr] = []
        for p in childps:
            try:
                out.append(self._match_array_pattern(p, col, elem_dt))
            except LoweringUnsupported:
                out.append(self._match_array_dfa(p, col, elem_dt))
        return out

    def _elem_cond(self, p: LP, elem: Column, elem_dt: T.DataType,
                   index: Union[int, Column, None]):
        """Does one element node match the one-node pattern ``p``?

        Element node label is its Int index; children are the value forest.
        ``index`` is a concrete position (collapse the name predicate at
        compile time), a symbolic index Column (lower it — the
        two-argument higher-order-function form), or None (only
        wildcard names are expressible).
        """
        if p.kind != NODE:
            if _is_zany(p):
                return True
            if _is_empty_set(p):
                return False
            raise LoweringUnsupported(
                f"array element pattern too complex: {p.kind}"
            )
        name_expr = p.expr
        name_sym: BExpr = True
        if isinstance(index, int):
            name_ok = eval_bool_or_false(name_expr, Label(INT, index))
            if not name_ok:
                return False
        elif const_bool_value(name_expr) is not True:
            if index is None:
                raise LoweringUnsupported(
                    "index-dependent element names need the automaton path"
                )
            name_sym = lower_pred_root(name_expr, index, INT)
        child = p.pats[0]
        nulls = self.match_children([child], elem, elem_dt)
        return band(name_sym, nulls[0])

    def _match_array_pattern(self, p: LP, col: Column,
                             elem_dt: T.DataType) -> BExpr:
        if _is_zany(p):
            return True
        if _is_empty_set(p):
            return False
        if p.kind == EMPTY:
            return F.coalesce(F.size(col) == 0, F.lit(False))
        if p.kind == SYM_EMPTY:
            return band(p.cond, F.coalesce(F.size(col) == 0, F.lit(False)))
        if p.kind == OR:
            r: BExpr = False
            for c in p.pats:
                r = bor(r, self._match_array_pattern(c, col, elem_dt))
            return r
        if p.kind == AND:
            r: BExpr = True
            for c in p.pats:
                r = band(r, self._match_array_pattern(c, col, elem_dt))
            return r
        if p.kind == NOT:
            return bnot(self._match_array_pattern(p.pats[0], col, elem_dt))
        if p.kind == OPTIONAL:
            return bor(
                F.coalesce(F.size(col) == 0, F.lit(False)),
                self._match_array_pattern(p.pats[0], col, elem_dt),
            )
        if p.kind == ZERO_OR_MORE:
            inner = p.pats[0]
            try:
                cond = F.forall(
                    col,
                    lambda e: to_col(self._elem_cond(inner, e, elem_dt, None)),
                )
            except LoweringUnsupported:
                # index-dependent element name: every element must match,
                # and an erroring/null element condition is a violation
                # (error-as-false), so count non-matches explicitly
                cond = F.size(F.filter(
                    col,
                    lambda e, i: ~F.coalesce(
                        to_col(self._elem_cond(inner, e, elem_dt, i)),
                        F.lit(False),
                    ),
                )) == 0
            return F.coalesce(cond, F.lit(False))
        if p.kind == CONTAINS:
            inner = p.pats[0]
            try:
                cond = F.exists(
                    col,
                    lambda e: to_col(self._elem_cond(inner, e, elem_dt, None)),
                )
            except LoweringUnsupported:
                # index-dependent element name (`.2 == "c"`, `.!(0)`,
                # `.(0|2)`): the two-argument filter lambda exposes the
                # 0-based index, which IS the element node's label
                cond = F.size(F.filter(
                    col,
                    lambda e, i: to_col(self._elem_cond(inner, e, elem_dt, i)),
                )) > 0
            return F.coalesce(cond, F.lit(False))
        if p.kind == NODE:
            # single element array (F.get: 0-based, NULL-safe out of bounds)
            c0 = self._elem_cond(p, F.get(col, 0), elem_dt, 0)
            return band(F.coalesce(F.size(col) == 1, F.lit(False)), c0)
        if p.kind == CONCAT:
            return self._match_array_concat(p, col, elem_dt)
        if p.kind == INTERLEAVE:
            return self._match_array_interleave(p, col, elem_dt)
        if p.kind == REF:
            return self._match_array_pattern(
                self.lift(self.g.lookup(p.ref)), col, elem_dt
            )
        raise LoweringUnsupported(f"array pattern shape: {p.kind}")

    # expression-size guard for the interleave lowering: OR over at most
    # this many branch→position assignments (4! = 24, the old ≤4-branch
    # bound — kept so name-feasibility pruning can only WIDEN coverage,
    # never emit a bigger expression than before)
    _INTERLEAVE_MATCHING_CAP = 24

    def _match_array_interleave(self, p: LP, col: Column,
                                elem_dt: T.DataType):
        """Interleave of one-node branches over an array: every branch
        consumes exactly one element, in any order — size == n and SOME
        assignment maps each branch to a distinct position with name and
        child both matching.  Lowered as an OR over the *name-feasible*
        branch→position matchings, all codegen'd.

        Array element labels are their Int indices, so each branch's name
        expression is statically decidable per position (error-as-false):
        the n×n feasibility matrix prunes the assignment space BEFORE any
        expression is built.  Branches with pairwise-disjoint constant
        index names collapse to exactly ONE matching regardless of n;
        wildcard-name interleaves keep their n! matchings and fall back to
        the automaton beyond the ≤24-term cap (the old ≤4-branch bound).
        Branches with stars/optionals (variable length) need the
        nondeterministic split → automaton path.
        """
        branches: List[LP] = []

        def flat(q: LP) -> None:
            if q.kind == INTERLEAVE:
                for c in q.pats:
                    flat(c)
            else:
                branches.append(q)

        flat(p)
        if not all(b.kind == NODE for b in branches):
            raise LoweringUnsupported(
                "array interleave branches must be one-node patterns "
                "(variable-length branches need the automaton path)"
            )
        n = len(branches)
        # static name-feasibility: may branch bi sit at position pos?
        feas = [[bool(eval_bool_or_false(b.expr, Label(INT, pos)))
                 for pos in range(n)]
                for b in branches]
        cap = self._INTERLEAVE_MATCHING_CAP
        matchings: List[Tuple[int, ...]] = []
        used = [False] * n
        assign: List[int] = []

        def backtrack(bi: int) -> None:
            if len(matchings) > cap:
                return
            if bi == n:
                matchings.append(tuple(assign))
                return
            for pos in range(n):
                if not used[pos] and feas[bi][pos]:
                    used[pos] = True
                    assign.append(pos)
                    backtrack(bi + 1)
                    assign.pop()
                    used[pos] = False

        backtrack(0)
        if len(matchings) > cap:
            raise LoweringUnsupported(
                f"array interleave with {len(matchings)}+ name-feasible "
                f"assignments (cap {cap}) needs the automaton path"
            )
        anyperm: BExpr = False
        for m in matchings:
            c: BExpr = True
            for bi, pos in enumerate(m):
                c = band(c, self._elem_cond(branches[bi], F.get(col, pos),
                                            elem_dt, pos))
            anyperm = bor(anyperm, c)
        return band(F.coalesce(F.size(col) == n, F.lit(False)), anyperm)

    def _match_array_concat(self, p: LP, col: Column, elem_dt: T.DataType):
        """Array concat with AT MOST ONE variable-length segment.

        Segments are one-node patterns plus up to one of: ``(node)*``,
        ``(node)?`` or ``*`` (ZAny).  Because a NODE consumes exactly one
        element, a single variable segment makes the split POSITIONAL
        (prefix at fixed indices from the front, suffix at fixed offsets
        from the back, the variable segment takes the remainder) — no
        backtracking, so it lowers to size checks + F.get + a forall over
        F.slice, all codegen'd.  Two or more variable segments would need
        a nondeterministic split → automaton path (LoweringUnsupported).
        """
        segs: List[LP] = []
        self._flatten_concat(p, segs)
        VAR_KINDS = (ZERO_OR_MORE, OPTIONAL)
        var_idx = [i for i, s in enumerate(segs)
                   if s.kind in VAR_KINDS or _is_zany(s)]
        if not var_idx:
            # fixed-length positional sequence of one-node patterns
            conds: BExpr = F.coalesce(F.size(col) == len(segs), F.lit(False))
            for i, ep in enumerate(segs):
                conds = band(
                    conds,
                    self._elem_cond(ep, F.get(col, i), elem_dt, i),
                )
            return conds
        if len(var_idx) > 1:
            raise LoweringUnsupported(
                "array concat with multiple variable segments needs the "
                "automaton path"
            )
        si = var_idx[0]
        prefix, mid, suffix = segs[:si], segs[si], segs[si + 1:]
        for s in prefix + suffix:
            if s.kind != NODE:
                raise LoweringUnsupported(
                    "array concat fixed segments must be one-node patterns"
                )
        k, j = len(prefix), len(suffix)
        size = F.size(col)
        if mid.kind == OPTIONAL and mid.pats[0].kind == ZERO_OR_MORE:
            mid = mid.pats[0]  # (p*)? ≡ p*
        if _is_zany(mid):
            size_ok: BExpr = F.coalesce(size >= k + j, F.lit(False))
            mid_ok: BExpr = True
        elif mid.kind == ZERO_OR_MORE:
            inner = mid.pats[0]
            size_ok = F.coalesce(size >= k + j, F.lit(False))
            middle = F.slice(col, k + 1,
                             F.greatest(size - k - j, F.lit(0)))
            mid_ok = F.coalesce(
                F.forall(middle, lambda e: to_col(
                    self._elem_cond(inner, e, elem_dt, None))),
                F.lit(False))
        elif mid.kind == OPTIONAL:
            inner = mid.pats[0]
            if inner.kind != NODE:
                raise LoweringUnsupported(
                    "optional array segment must be a one-node pattern"
                )
            size_ok = F.coalesce((size == k + j) | (size == k + j + 1),
                                 F.lit(False))
            # when the optional element is present (size == k+j+1) its
            # position is statically k — pass the concrete index so
            # index-specific name expressions lower instead of demoting
            # the whole spec to the automaton path
            mid_ok = bor(
                F.coalesce(size == k + j, F.lit(False)),
                self._elem_cond(inner, F.get(col, k), elem_dt, k),
            )
        else:  # pragma: no cover - guarded by var_idx construction
            raise LoweringUnsupported(f"array segment shape: {mid.kind}")
        conds = band(size_ok, mid_ok)
        for i, ep in enumerate(prefix):
            conds = band(conds,
                         self._elem_cond(ep, F.get(col, i), elem_dt, i))
        for t, ep in enumerate(suffix):
            # position depends on the runtime length → index label must be
            # wildcard (elem_cond(None) enforces; else automaton path)
            conds = band(
                conds,
                self._elem_cond(ep, F.get(col, size - j + t), elem_dt,
                                None))
        return conds

    def _flatten_concat(self, p: LP, out: List[LP]) -> None:
        if p.kind == CONCAT:
            self._flatten_concat(p.pats[0], out)
            self._flatten_concat(p.pats[1], out)
        elif p.kind in (NODE, ZERO_OR_MORE, OPTIONAL) or _is_zany(p):
            out.append(p)
        else:
            raise LoweringUnsupported(
                f"concat over arrays must be a sequence of nodes or "
                f"star/optional/ZAny segments, got {p.kind}"
            )

    # DFA fallback caps: the literal transition table has
    # 2**atoms × states int entries — bound the TABLE, not the state
    # count, so few-atom shuffles (32 symbols) may spend more states
    # (a 5-way distinct-atom interleave needs 407) while wide-alphabet
    # patterns stay small.  16384 ints ≈ 64 KiB plan literal.
    _DFA_MAX_ATOMS = 6
    _DFA_MAX_TABLE = 16384

    def _match_array_dfa(self, p: LP, col: Column,
                         elem_dt: T.DataType) -> BExpr:
        """General array-content match as a compile-time Brzozowski DFA.

        Array content is a regular language over element nodes
        (Json.hs:49-52: index-labeled, value-children), so any
        concat/star/optional/interleave/not/and/or combination of
        one-node patterns — including the nondeterministic shapes the
        positional templates refuse (two star segments, variable-length
        interleave branches, star of a group) — compiles to a DFA whose
        alphabet is the truth vector of the distinct element-atom
        predicates.  Execution is pure Catalyst:

        - ``F.transform(col, (e, i) -> sym)`` evaluates each atom's
          predicate once per element (error-as-false coalesced) and packs
          them into an int bitvector; the two-arg lambda exposes the
          element index, which IS the node's label, so index-dependent
          names lower too;
        - ``F.aggregate(syms, 0, (s, v) -> element_at(table, ...))`` runs
          the DFA over one flat literal int array;
        - accept ⟺ final state is nullable.

        Caps (atoms, states) and non-static symbolic conditionals raise
        LoweringUnsupported → automaton path.
        """
        atoms: List[LP] = []

        def atom_id(node: LP) -> int:
            for i, a in enumerate(atoms):
                if _same(a, node):
                    return i
            if len(atoms) >= self._DFA_MAX_ATOMS:
                raise LoweringUnsupported(
                    f"array DFA needs more than {self._DFA_MAX_ATOMS} "
                    f"distinct element atoms")
            atoms.append(node)
            return len(atoms) - 1

        def rx(q: LP, depth: int) -> RX.Rx:
            if _is_zany(q):
                return RX.star(RX.ANY)
            if _is_empty_set(q):
                return RX.NULL
            if q.kind == EMPTY:
                return RX.EPS
            if q.kind == NODE:
                if (const_bool_value(q.expr) is True
                        and _is_zany(q.pats[0])):
                    return RX.ANY  # wildcard element: no predicate bit
                return ("atom", atom_id(q))
            if q.kind == CONCAT:
                return RX.cat(rx(q.pats[0], depth), rx(q.pats[1], depth))
            if q.kind == INTERLEAVE:
                return RX.shuf(*[rx(c, depth) for c in q.pats])
            if q.kind == ZERO_OR_MORE:
                return RX.star(rx(q.pats[0], depth))
            if q.kind == OPTIONAL:
                return RX.alt(RX.EPS, rx(q.pats[0], depth))
            if q.kind == OR:
                return RX.alt(*[rx(c, depth) for c in q.pats])
            if q.kind == AND:
                return RX.rand(*[rx(c, depth) for c in q.pats])
            if q.kind == NOT:
                return RX.rnot(rx(q.pats[0], depth))
            if q.kind == CONTAINS:
                # Contains(p) ≡ ZAny · p · ZAny (Smart.hs contains)
                return RX.cat(RX.star(RX.ANY),
                              RX.cat(rx(q.pats[0], depth),
                                     RX.star(RX.ANY)))
            if q.kind == REF:
                if depth > 8:
                    raise LoweringUnsupported(
                        "recursive array pattern needs the automaton path")
                return rx(self.lift(self.g.lookup(q.ref)), depth + 1)
            # SYM_EMPTY / SYM_ANY with a non-static condition: the regex
            # alphabet is element-level, a row-level symbolic conditional
            # doesn't fit the table
            raise LoweringUnsupported(
                f"array DFA pattern shape: {q.kind}")

        r = rx(p, 0)
        max_states = self._DFA_MAX_TABLE >> len(atoms)
        try:
            table, accepting, n_sym = RX.build_dfa(
                r, len(atoms), max_states)
        except RX.DfaTooBig as e:
            raise LoweringUnsupported(str(e)) from None
        n_states = len(table) // n_sym
        if not accepting:
            return False
        if len(accepting) == n_states:
            return True

        def sym_expr(e: Column, i: Column) -> Column:
            s: Column = F.lit(0)
            for b, a in enumerate(atoms):
                c = F.coalesce(
                    to_col(self._elem_cond(a, e, elem_dt, i)),
                    F.lit(False))
                s = s + F.when(c, F.lit(1 << b)).otherwise(F.lit(0))
            return s

        syms = F.transform(col, lambda e, i: sym_expr(e, i))
        tbl = F.lit(table)
        final = F.aggregate(
            syms, F.lit(0),
            lambda s, v: F.element_at(tbl, s * n_sym + v + 1))
        return F.coalesce(final.isin(accepting), F.lit(False))


def compile_to_column(g: SGrammar, schema: T.StructType,
                      col_of=None) -> Column:
    """Compile a grammar against a record schema into a boolean Column.

    ``col_of(name) -> Column`` customizes field access (defaults to
    ``F.col``).  The row is the forest of its schema fields in order.
    """
    if col_of is None:
        col_of = F.col
    lw = Lowerer(g)
    ps: List[LP] = [lw.lift(g.main)]
    for f in schema.fields:
        ps = lw.deriv_field(ps, _SymNode(f.name, col_of(f.name), f.dataType))
    assert len(ps) == 1
    return to_col(ps[0].nullable)
