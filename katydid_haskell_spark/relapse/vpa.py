"""Eager-table VPA: vectorized derivative validation for unique-doc corpora.

The memoized :class:`~.derive.Validator` walk re-manipulates pattern objects
per node (tuple keys over patterns, smart-constructor rebuilds on memo
misses).  This module factors the same visibly-pushdown automaton
(``MemDerive.hs:41-81`` / ``VpaDerive.hs:39-106``) through THREE discrete
observations, making every per-node step an integer table lookup and every
per-label step a vectorized batch operation:

1. **The label alphabet is finite up to conditions.**  A derivative step
   only inspects a label through the boolean verdicts of the grammar's node
   conditions — and derivatives never invent new expressions, so the global
   condition set is exactly the NODE exprs reachable in the compiled
   grammar.  Each distinct label in an Arrow batch therefore collapses to a
   **symbol bitmask**, computed once per distinct label with vectorized
   numpy/pandas ops (:class:`CondBatch`) — an int64 for ≤63 conditions
   (the hot layout), an unbounded Python int beyond (each 63-bit word
   still vectorized; production grammars with 100+ rules stay on the
   table path).

2. **Transitions key on integers.**  State = interned canonical pattern
   tuple → int id.  Call transition: ``(state, bitmask & state_cond_mask) →
   (child_state, return_site)``.  Return transition: ``(return_site,
   child_final_state) → next_state`` — the nullability vector the "return"
   step needs is a property of the child's final state, so the stack frame
   is a single int.  Tables build lazily (first document with a new shape
   pays the derive; the rest replay integers), exactly the reference's
   shared ``State Mem`` — but with O(1) int keys instead of pattern walks.

3. **Documents collapse by signature.**  A document's walk depends only on
   its event structure + per-node symbol sequence, so an Arrow batch is
   factorized by that signature and each distinct signature is walked ONCE
   — corpora with all-unique text but shared shape validate in
   O(distinct shapes).

Every front end fills the same event buffer and ends in
:meth:`TableValidator.verdicts`: :meth:`TableValidator.validate_batch`
flattens JSON text inline; the XML and protobuf decoders append their
events straight into it through :func:`batch_events` (no forest is built
on any column path); :meth:`TableValidator.validate_forests` flattens
forests that callers decoded themselves.  All of them intern labels
through :meth:`_LabelIntern.label_id`, and :func:`events_to_forest`
turns one document's events back into a forest for the reference API.

Fallback: user libs whose conditions the vectorizer cannot batch run the
scalar per-distinct-label fallback inside the table path.  There is no
grammar-shape fallback anymore: the former ``VpaUnsupported`` escape was
retired in round 6 after a 10k-case soak (``scripts/vpa_soak.py``) found
zero construction or batch failures across random ASTs, recursive
references and >63-condition grammars (the word ceiling was lifted in
round 5 — masks widen to multi-word int64 lanes).
"""

from __future__ import annotations

import math as _math
from typing import Dict, List, Optional, Tuple

import numpy as np

from .derive import derive_calls, derive_returns, unzip_nulls, zippy
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
    eval_bool_or_false,
)
from .labels import Label, TreeNode, _loads
from .smart import (
    CONCAT,
    CONTAINS,
    INTERLEAVE,
    NODE,
    NOT,
    OPTIONAL,
    OR,
    AND,
    REF,
    ZERO_OR_MORE,
    SGrammar,
    SPattern,
    unescapable,
)


class _CondsChanged(Exception):
    """Internal: a derivative step minted a condition expression not yet
    registered (``_merge_nodes`` combines leaf-node exprs under or/and —
    ``Smart.hs:318-332``), so the batch's label bitmasks are stale.  The
    new condition has already been assigned the next bit; the batch loop
    recomputes masks and restarts (bit positions are append-only, so every
    cached state/transition stays valid)."""


# ---------------------------------------------------------------------------
# condition collection
# ---------------------------------------------------------------------------


def collect_conds(g: SGrammar) -> List[Expr]:
    """All NODE condition exprs statically reachable in the grammar, in
    stable order.

    NOT a closed set: the smart constructors can mint NEW exprs during
    derivation — ``_merge_nodes`` merges leaf nodes under Or/And by
    combining their exprs with the applicative or/and (``Smart.hs:
    318-332``), e.g. ``Node(e1,ε) | Node(e2,ε) → Node(or(e1,e2),ε)``.
    Those register dynamically (see :class:`_CondsChanged`); this eager
    pass just seeds the common case so most batches run mask-stable.
    """
    out: List[Expr] = []
    seen: Dict[Expr, None] = {}
    visited: set = set()

    def walk(p: SPattern) -> None:
        if id(p) in visited:
            return
        visited.add(id(p))
        if p.kind == NODE:
            e = p.expr
            if e not in seen:
                seen[e] = None
                out.append(e)
            walk(p.pats[0])
            return
        if p.kind == REF:
            walk(g.lookup(p.ref))
            return
        if p.kind in (CONCAT, OR, AND, INTERLEAVE, ZERO_OR_MORE, NOT,
                      CONTAINS, OPTIONAL):
            for c in p.pats:
                walk(c)

    for p in g.refs.values():
        walk(p)
    return out


# ---------------------------------------------------------------------------
# vectorized condition evaluation over distinct labels
# ---------------------------------------------------------------------------

# label type codes: the decoders intern labels by these
C_BOOL, C_INT, C_UINT, C_DOUBLE, C_STRING, C_BYTES = range(6)
_TY_CODE = {BOOL: C_BOOL, INT: C_INT, UINT: C_UINT, DOUBLE: C_DOUBLE,
            STRING: C_STRING, BYTES: C_BYTES}
_TY_NAME = tuple(sorted(_TY_CODE, key=_TY_CODE.get))


class CondBatch:
    """Evaluate every grammar condition over a batch of DISTINCT labels,
    producing one symbol bitmask per label (int64 for ≤63 conditions,
    Python int beyond — see :meth:`_masks`).

    Vectorized paths (numpy object-array ops, C-level loops) cover the
    stdlib's var/const comparisons, string prefix/suffix/contains, regex,
    type checks and applicative not/and/or with exact error-as-false /
    error-as-true parity (``Exprs/Compare.hs:51-53``, ``Logic.hs:26-32``);
    anything else (user functions, nested value exprs) falls back to the
    scalar :func:`eval_bool_or_false` per distinct label — same verdicts,
    just unvectorized.
    """

    def __init__(self, conds: List[Expr]):
        self.conds = conds
        self._fns = []
        self.needs_fallback = False
        for c in conds:
            fn, is_fallback = self._compile_top(c)
            self._fns.append(fn)
            self.needs_fallback |= is_fallback

    # -- public --

    def masks(self, labels: List[Label]) -> np.ndarray:
        """int64 bitmask per distinct label."""
        n = len(labels)
        tys = np.fromiter((_TY_CODE[l.ty] for l in labels), np.int8, count=n)
        vals = np.empty(n, dtype=object)
        for i, l in enumerate(labels):
            vals[i] = l.value
        return self._masks(tys, vals, labels)

    def masks_arrays(self, tys_list: List[int], vals_list: List[object],
                     labels: Optional[List[Label]]) -> np.ndarray:
        """Bitmasks from raw (type-code, value) arrays; ``labels`` (the
        Label views) only needed when a condition uses the scalar
        fallback (see :attr:`needs_fallback`)."""
        n = len(tys_list)
        tys = np.asarray(tys_list, dtype=np.int8)
        vals = np.empty(n, dtype=object)
        vals[:] = vals_list
        return self._masks(tys, vals, labels)

    def _masks(self, tys, vals, labels) -> np.ndarray:
        """≤63 conditions: 1D int64 bitmask per label (the hot layout —
        signature arrays stay int64 and hash via tobytes).  Beyond one
        machine word: a 2D int64 array [n_labels, n_words], word w
        holding condition bits 63w..63w+62 — every word evaluates in
        numpy lanes, NOTHING drops to Python-int object arrays here
        (round-6 fix: the object layout cost ~3x).  Rows combine into
        the walker's unbounded Python-int masks only at signature-cache
        MISSES (:func:`_combine_words`), so the per-label cost stays
        vectorized.  The walker is mask-width agnostic (``&``/``>>``)."""
        n = len(tys)
        if len(self._fns) <= 63:
            out = np.zeros(n, dtype=np.int64)
            for bit, fn in enumerate(self._fns):
                b = fn(tys, vals, labels)
                out |= b.astype(np.int64) << bit
            return out
        k = (len(self._fns) + 62) // 63
        out = np.zeros((n, k), dtype=np.int64)
        for wi in range(k):
            col = out[:, wi]
            for bit, fn in enumerate(self._fns[wi * 63:(wi + 1) * 63]):
                b = fn(tys, vals, labels)
                col |= b.astype(np.int64) << bit
        return out

    # -- compilation --

    def _compile_top(self, e: Expr):
        """Top-level bool position: eval errors → False.  Returns
        (fn, uses_scalar_fallback)."""
        ve = self._compile(e)
        if ve is None:
            def fallback(tys, vals, labels, _e=e):
                return np.fromiter(
                    (eval_bool_or_false(_e, l) for l in labels),
                    np.bool_, count=len(labels))
            return fallback, True

        def run(tys, vals, labels, _ve=ve):
            val, err = _ve(tys, vals)
            return val & ~err
        return run, False

    def _compile(self, e: Expr):
        """Bool-typed vector compiler → fn(tys, vals) -> (val, err) bool
        arrays, or None (caller falls back to scalar eval)."""
        if isinstance(e, Const) and e.ty == BOOL:
            v = bool(e.value)

            def const_fn(tys, vals, _v=v):
                n = len(tys)
                return (np.full(n, _v, dtype=bool),
                        np.zeros(n, dtype=bool))
            return const_fn
        if isinstance(e, Var):
            if e.ty != BOOL:
                return None

            def var_fn(tys, vals):
                ok = tys == _TY_CODE[BOOL]
                val = np.zeros(len(tys), dtype=bool)
                sel = np.nonzero(ok)[0]
                for i in sel:
                    val[i] = bool(vals[i])
                return val, ~ok
            return var_fn
        if not isinstance(e, Func):
            return None
        name = e.name
        if name == "not":
            inner = self._compile(e.args[0])
            if inner is None:
                return None

            def not_fn(tys, vals, _i=inner):
                val, err = _i(tys, vals)
                # Logic.hs:26-32 — inner error → True, never errs itself
                return np.where(err, True, ~val), np.zeros(len(tys), bool)
            return not_fn
        if name in ("and", "or"):
            a = self._compile(e.args[0])
            b = self._compile(e.args[1])
            if a is None or b is None:
                return None
            is_and = name == "and"

            def logic_fn(tys, vals, _a=a, _b=b, _and=is_and):
                av, ae = _a(tys, vals)
                bv, be = _b(tys, vals)
                # applicative: error on EITHER side propagates
                return (av & bv) if _and else (av | bv), ae | be
            return logic_fn
        if name == "type":
            arg = e.args[0]
            if not isinstance(arg, Var):
                return None
            code = _TY_CODE.get(arg.ty)
            if code is None:
                return None

            def type_fn(tys, vals, _c=code):
                return tys == _c, np.zeros(len(tys), bool)
            return type_fn
        if name in ("eq", "ne", "ge", "gt", "le", "lt"):
            return self._compile_cmp(e)
        if name in ("hasPrefix", "hasSuffix"):
            var, cst = self._var_const(e.args, STRING)
            if var is None:
                return None
            pre = name == "hasPrefix"

            def fix_fn(tys, vals, _c=cst, _pre=pre):
                ok = tys == _TY_CODE[STRING]
                val = np.zeros(len(tys), dtype=bool)
                for i in np.nonzero(ok)[0]:
                    s = vals[i]
                    val[i] = s.startswith(_c) if _pre else s.endswith(_c)
                # hasPrefix propagates type errors; top level makes False
                return val, ~ok
            return fix_fn
        if name == "regex":
            # regexExpr(pattern, subject)
            if not (isinstance(e.args[0], Const)
                    and isinstance(e.args[1], Var)
                    and e.args[1].ty == STRING):
                return None
            import re as _re

            rx = _re.compile(str(e.args[0].value))

            def rx_fn(tys, vals, _rx=rx):
                ok = tys == _TY_CODE[STRING]
                val = np.zeros(len(tys), dtype=bool)
                for i in np.nonzero(ok)[0]:
                    val[i] = _rx.search(vals[i]) is not None
                return val, ~ok
            return rx_fn
        if name == "contains":
            # substring form: contains($string, "needle")
            if (e.args[1].ty == STRING and isinstance(e.args[1], Const)
                    and isinstance(e.args[0], Var)
                    and e.args[0].ty == STRING):
                needle = str(e.args[1].value)

                def sub_fn(tys, vals, _n=needle):
                    ok = tys == _TY_CODE[STRING]
                    val = np.zeros(len(tys), dtype=bool)
                    for i in np.nonzero(ok)[0]:
                        val[i] = _n in vals[i]
                    return val, ~ok
                return sub_fn
            # membership form: contains($t, []t{...})
            if (isinstance(e.args[1], Const) and e.args[1].ty.startswith("[]")
                    and isinstance(e.args[0], Var)
                    and e.args[0].ty == e.args[1].ty[2:]):
                members = set(e.args[1].value)
                code = _TY_CODE.get(e.args[0].ty)
                if code is None:
                    return None

                def mem_fn(tys, vals, _m=members, _c=code):
                    ok = tys == _c
                    val = np.zeros(len(tys), dtype=bool)
                    for i in np.nonzero(ok)[0]:
                        val[i] = vals[i] in _m
                    return val, ~ok
                return mem_fn
            return None
        return None

    @staticmethod
    def _var_const(args, ty: str):
        if (isinstance(args[0], Var) and args[0].ty == ty
                and isinstance(args[1], Const) and args[1].ty == ty):
            return args[0], args[1].value
        return None, None

    @staticmethod
    def _var_chain(e: Expr):
        """A Var or a unary value chain over one Var → (label_type_code,
        per-value transform or None).  The chain's RESULT type is
        ``e.ty``; the code is the LABEL type the underlying Var needs."""
        if isinstance(e, Var):
            code = _TY_CODE.get(e.ty)
            return None if code is None else (code, None)
        if (isinstance(e, Func) and e.name in ("toLower", "toUpper")
                and isinstance(e.args[0], Var)
                and e.args[0].ty == STRING):
            return (_TY_CODE[STRING],
                    str.lower if e.name == "toLower" else str.upper)
        if (isinstance(e, Func) and e.name == "length"
                and isinstance(e.args[0], Var)
                and e.args[0].ty in (STRING, BYTES)):
            return (_TY_CODE[e.args[0].ty], len)
        return None

    def _compile_cmp(self, e: Func):
        """(Var-chain)-vs-Const comparison, either side, any scalar type:
        the vectorized analogue of ``_eval_cmp`` (errors → False).  The
        var side may be a bare Var or a toLower/toUpper/length chain."""
        import operator as op

        a, b = e.args
        if isinstance(b, Const):
            var, cst, flipped = a, b, False
        elif isinstance(a, Const):
            var, cst, flipped = b, a, True
        else:
            return None
        chain = self._var_chain(var)
        if chain is None or var.ty != cst.ty:
            # result-type mismatches can't come from the parser; scalar
            # eval handles any programmatic construction exactly
            return None
        code, tf = chain
        fn = {"eq": op.eq, "ne": op.ne, "ge": op.ge,
              "gt": op.gt, "le": op.le, "lt": op.lt}[e.name]
        c = cst.value

        def cmp_fn(tys, vals, _fn=fn, _c=c, _code=code, _flip=flipped,
                   _tf=tf):
            ok = tys == _code
            val = np.zeros(len(tys), dtype=bool)
            sel = np.nonzero(ok)[0]
            if len(sel):
                sub = vals[sel]
                if _tf is not None:
                    out = np.empty(len(sub), dtype=object)
                    for i, v in enumerate(sub):
                        out[i] = _tf(v)
                    sub = out
                res = _fn(_c, sub) if _flip else _fn(sub, _c)
                # object-array comparison yields an object array of bools
                val[sel] = np.asarray(res, dtype=bool)
            # comparison swallows errors → never errs (False outside type)
            return val, np.zeros(len(tys), dtype=bool)
        return cmp_fn


# ---------------------------------------------------------------------------
# the event buffer: documents → one event stream per batch
# ---------------------------------------------------------------------------
#
# One int32 list per document: a CALL is the distinct-label index (>= 0), a
# RETURN is -1 — the bracket structure fully determines the tree shape.
# Labels are interned through PER-TYPE dicts keyed on the raw Python value
# (no Label tuple construction on any column path; separate dicts also
# keep bool True distinct from int 1, and Int 1 distinct from Uint 1).

RET_EV = -1

# Label / TreeNode built without the namedtuple ``__new__`` frame: the
# forest rebuild makes one of each per node, and the plain constructors
# are measurably slower there
_new = tuple.__new__


class _LabelIntern:
    """Per-type value→index intern maps plus the distinct-label arrays the
    condition evaluator consumes.  :meth:`label_id` holds the interning
    rules every decoder shares; :func:`_flatten_json` inlines the same
    lookups on its STRING and INT maps."""

    __slots__ = ("maps", "strs", "ints", "tys", "vals")

    def __init__(self):
        # one map per type code (_TY_CODE order): bool True stays apart
        # from Int 1, Uint 1 from Int 1, Bytes b"a" from String "a"
        self.maps: Tuple[dict, ...] = tuple({} for _ in _TY_CODE)
        self.ints: Dict[int, int] = self.maps[C_INT]
        self.strs: Dict[str, int] = self.maps[C_STRING]
        self.tys: List[int] = []    # _TY_CODE per distinct label
        self.vals: List[object] = []

    def label_id(self, code: int, v) -> int:
        """The distinct-label index of ``(code, v)``, interned as decoded:
        no coercion between types (an integral Double stays a Double), and
        zero doubles key by sign, so ``-0.0`` and ``0.0`` stay distinct
        labels as they are to a user function."""
        ids = self.maps[code]
        if code == C_DOUBLE and v == 0:
            key = (v, _math.copysign(1.0, v))
        else:
            key = v
        li = ids.get(key)
        if li is None:
            li = len(self.tys)
            ids[key] = li
            self.tys.append(code)
            self.vals.append(v)
        return li

    def labels(self) -> List[Label]:
        return [_new(Label, (_TY_NAME[t], v))
                for t, v in zip(self.tys, self.vals)]


def _flatten_forest(forest, ev: list, it: _LabelIntern) -> None:
    """Flatten a decoded forest into the event list ``ev``, interning each
    ``(label.ty, label.value)`` exactly as given."""
    label_id = it.label_id
    for t in forest:
        ty, v = t.label
        ev.append(label_id(_TY_CODE[ty], v))
        if t.children:
            _flatten_forest(t.children, ev, it)
        ev.append(RET_EV)


def events_to_forest(ev: list, labels: List[Label]) -> tuple:
    """The forest an event list encodes (``labels[i]`` is distinct label
    ``i``): the inverse of :func:`_flatten_forest`, built with an explicit
    stack so document depth is not bounded by Python recursion."""
    kids: list = []
    stack: list = []
    for x in ev:
        if x >= 0:
            stack.append((labels[x], kids))
            kids = []
        else:
            label, parent = stack.pop()
            parent.append(_new(TreeNode, (label, tuple(kids))))
            kids = parent
    return tuple(kids)


def batch_events(docs, emit, errors) -> Tuple[_LabelIntern, list, list]:
    """One Arrow batch → (interned labels, event buffer, spans) for
    :meth:`TableValidator.verdicts`.  ``emit(doc, ev, it)`` appends one
    document's events to ``ev``; a ``None`` document, or one whose decode
    raises ``errors``, gets no span (False) and its partial events are
    rolled back, so they never reach a neighbour's slice."""
    it = _LabelIntern()
    buf: list = []
    spans = []
    for di in range(len(docs)):
        d = docs[di]
        if d is None:
            continue
        start = len(buf)
        try:
            emit(d, buf, it)
        except errors:
            del buf[start:]
            continue
        spans.append((di, start, len(buf)))
    return it, buf, spans


def _flatten_json(v, ev: list, it: _LabelIntern) -> None:
    """Flatten a parsed JSON value into the event list ``ev``, with the
    semantics of ``json_value_to_forest`` / ``Json.hs:39-58``: field →
    String node, array element → Int index node, integral number → Int,
    ``null`` → NO node.

    The two overwhelmingly common leaf types under a field (str, int)
    are interned INLINE in the dict/list loops — on web-doc shapes the
    recursion-per-leaf call overhead was the single largest cost of the
    whole batch path (profiled: ~40% of validate_batch)."""
    if v is None:
        return
    t = type(v)
    if t is dict:
        strs, ints = it.strs, it.ints
        tys, vals = it.tys, it.vals
        for k, val in v.items():
            li = strs.get(k)
            if li is None:
                li = len(tys)
                strs[k] = li
                tys.append(4)  # STRING
                vals.append(k)
            ev.append(li)
            vt = type(val)
            if vt is str:
                lv = strs.get(val)
                if lv is None:
                    lv = len(tys)
                    strs[val] = lv
                    tys.append(4)
                    vals.append(val)
                ev.append(lv)
                ev.append(RET_EV)
            elif vt is int:  # type() is exact: bools do NOT land here
                lv = ints.get(val)
                if lv is None:
                    lv = len(tys)
                    ints[val] = lv
                    tys.append(1)
                    vals.append(val)
                ev.append(lv)
                ev.append(RET_EV)
            elif val is not None:
                _flatten_json(val, ev, it)
            ev.append(RET_EV)
        return
    if t is list:
        ids = it.ints
        for i, el in enumerate(v):
            li = ids.get(i)
            if li is None:
                li = len(it.tys)
                ids[i] = li
                it.tys.append(1)  # INT
                it.vals.append(i)
            ev.append(li)
            if el is not None:
                _flatten_json(el, ev, it)
            ev.append(RET_EV)
        return
    # scalar leaf
    if t is bool:
        code = 0
    elif t is int:
        code = 1
    elif t is float:
        if _math.isfinite(v) and v.is_integer():
            v = int(v)
            code = 1
        else:
            code = 3  # never zero: integral doubles are Int above
    elif t is str:
        code = 4
    else:
        raise TypeError(f"cannot encode {t} as a label")
    ids = it.maps[code]
    li = ids.get(v)
    if li is None:
        li = len(it.tys)
        ids[v] = li
        it.tys.append(code)
        it.vals.append(v)
    ev.append(li)
    ev.append(RET_EV)


def _combine_words(m: np.ndarray) -> List[int]:
    """(n_events, k) int64 word rows → the walker's Python-int masks.

    Word w carries condition bits 63w..63w+62, so every word is ≥ 0 for
    a label row; the RETURN sentinel row is all -1 words, and Python's
    arbitrary-precision ``-1 | x == -1`` keeps it exactly -1 through the
    combine — the walker's marker.  Called only on signature-cache
    misses (distinct walks), never per document."""
    cols = m.T.tolist()
    out = cols[0]
    for wi in range(1, len(cols)):
        shift = 63 * wi
        col = cols[wi]
        for j, w in enumerate(col):
            if w:
                out[j] |= w << shift
    return out


def _compute_skips(m: List[int]) -> List[int]:
    """For each CALL event index, the event index just past its matching
    RETURN (used only to skip subtrees under inert states; computed once
    per distinct signature, on demand)."""
    skips = [0] * len(m)
    stack: List[int] = []
    for i, x in enumerate(m):
        if x >= 0:
            stack.append(i)
        else:
            skips[stack.pop()] = i + 1
    return skips


# ---------------------------------------------------------------------------
# the table walker
# ---------------------------------------------------------------------------


class _StateInfo:
    __slots__ = ("ifs", "cond_mask", "inert", "accept", "nullvec")

    def __init__(self, ifs, cond_mask, inert, accept, nullvec):
        self.ifs = ifs
        self.cond_mask = cond_mask
        self.inert = inert
        self.accept = accept
        self.nullvec = nullvec


class TableValidator:
    """Int-table VPA over a compiled grammar (see module docstring).

    Tables grow lazily per process and are shared across batches — the
    executor-cached analogue of the reference's ``State Mem`` shared
    across trees (``Relapse.hs:65-70``).
    """

    def __init__(self, g: SGrammar):
        self.g = g
        self.conds = collect_conds(g)
        self.cond_bit: Dict[Expr, int] = {c: i for i, c in
                                          enumerate(self.conds)}
        self.batch = CondBatch(self.conds)
        self.states: List[Tuple[SPattern, ...]] = []
        self.state_ids: Dict[tuple, int] = {}
        self.info: List[_StateInfo] = []
        self.call_cache: Dict[Tuple[int, int], Tuple[int, int]] = {}
        self.ret_defs: List[Tuple[int, tuple]] = []
        self.ret_ids: Dict[Tuple[int, tuple], int] = {}
        self.ret_cache: Dict[Tuple[int, int], int] = {}
        try:
            self.start = self._intern((g.main,))
        except _CondsChanged:
            # no batch masks exist yet — nothing to restart
            self.start = self.state_ids[tuple(id(p) for p in (g.main,))]

    # -- table construction --

    def _intern(self, ps: Tuple[SPattern, ...]) -> int:
        key = tuple(id(p) for p in ps)
        sid = self.state_ids.get(key)
        if sid is not None:
            return sid
        ifs = derive_calls(self.g, ps)
        mask = 0
        minted = False
        for cond, _t, _e in ifs:
            bit = self.cond_bit.get(cond)
            if bit is None:
                # a derivative step minted this expr (leaf-node or/and
                # merge): register it on the next bit and flag a restart
                bit = len(self.conds)
                self.conds.append(cond)
                self.cond_bit[cond] = bit
                minted = True
            mask |= 1 << bit
        sid = len(self.states)
        self.states.append(ps)
        self.state_ids[key] = sid
        self.info.append(_StateInfo(
            ifs=ifs,
            cond_mask=mask,
            inert=all(unescapable(p) for p in ps),
            accept=len(ps) == 1 and ps[0].nullable,
            nullvec=tuple(p.nullable for p in ps),
        ))
        if minted:
            # the state itself is complete (mask uses the new bits), but
            # the CALLER's batch masks are stale — recompute and restart
            self.batch = CondBatch(self.conds)
            raise _CondsChanged()
        return sid

    def _build_call(self, state: int, msym: int) -> Tuple[int, int]:
        info = self.info[state]
        childps = tuple(
            thn if (msym >> self.cond_bit[cond]) & 1 else els
            for cond, thn, els in info.ifs
        )
        zps, zipper = zippy(childps)
        child = self._intern(zps)
        # key zippers with bool entries disambiguated from ints: True==1 /
        # False==0 hash identically in Python, but unzip_nulls treats a
        # bool (constant verdict) and an index completely differently
        zkey = tuple(-1 if z is True else -2 if z is False else z
                     for z in zipper)
        rkey = (state, zkey)
        ret_id = self.ret_ids.get(rkey)
        if ret_id is None:
            ret_id = len(self.ret_defs)
            self.ret_defs.append((state, zipper))
            self.ret_ids[rkey] = ret_id
        tr = (child, ret_id)
        self.call_cache[(state, msym)] = tr
        return tr

    def _build_return(self, ret_id: int, child_final: int) -> int:
        state, zipper = self.ret_defs[ret_id]
        nulls = unzip_nulls(zipper, self.info[child_final].nullvec)
        ret = derive_returns(self.g, self.states[state], nulls)
        nxt = self._intern(ret)
        self.ret_cache[(ret_id, child_final)] = nxt
        return nxt

    # -- walking --

    def _walk(self, m: List[int]) -> bool:
        """One signature walk: ``m`` is the event list — a CALL carries
        its symbol bitmask (>= 0), a RETURN is -1."""
        state = self.start
        info = self.info
        call_cache = self.call_cache
        ret_cache = self.ret_cache
        stack: List[int] = []
        skips = None
        i, n = 0, len(m)
        while i < n:
            x = m[i]
            if x >= 0:
                st = info[state]
                if st.inert:
                    if skips is None:
                        skips = _compute_skips(m)
                    i = skips[i]
                    continue
                key = (state, x & st.cond_mask)
                tr = call_cache.get(key)
                if tr is None:
                    tr = self._build_call(state, key[1])
                stack.append(tr[1])
                state = tr[0]
                i += 1
            else:
                ret_id = stack.pop()
                nxt = ret_cache.get((ret_id, state))
                if nxt is None:
                    nxt = self._build_return(ret_id, state)
                state = nxt
                i += 1
        return info[state].accept

    # -- batch API --

    def validate_batch(self, docs) -> np.ndarray:
        """Verdicts for an iterable of JSON document strings (None /
        malformed → False), factorized by walk signature."""
        it = _LabelIntern()
        loads = _loads
        # ONE growing event buffer + (doc, start, end) spans: the label
        # gather in :meth:`verdicts` is a single fancy-index over the
        # whole batch instead of one small gather per document (round-6
        # hot-loop fix)
        buf: list = []
        spans = []
        for di in range(len(docs)):
            s = docs[di]
            if s is None:
                continue
            try:
                v = loads(s)
            except Exception:
                continue
            start = len(buf)
            try:
                _flatten_json(v, buf, it)
            except TypeError:
                del buf[start:]
                continue
            spans.append((di, start, len(buf)))
        return self.verdicts(len(docs), it, buf, spans)

    def validate_forests(self, forests) -> np.ndarray:
        """Verdicts for a sequence of forests the caller decoded itself
        (``None`` = undecodable → False), factorized by walk signature."""
        return self.verdicts(len(forests),
                             *batch_events(forests, _flatten_forest, ()))

    def verdicts(self, n: int, it: _LabelIntern, buf: list,
                 spans: list) -> np.ndarray:
        """The batch entry every front end ends in: label masks → one
        gathered signature array → one walk per distinct signature.
        ``spans`` holds ``(doc, start, end)`` slices of the event buffer
        ``buf`` (see :func:`batch_events`); documents without a span are
        False."""
        out = np.zeros(n, dtype=bool)
        if not spans:
            return out
        all_ev = np.asarray(buf, dtype=np.int32)
        # mask-stability retry: a walk can mint a new condition (leaf
        # or/and merge), which re-bits the label masks — recompute and
        # restart.  Bounded: each restart adds ≥1 condition, and the
        # reachable mint set is finite (merges of reachable leaf exprs).
        while True:
            labels = it.labels() if self.batch.needs_fallback else None
            label_masks = self.batch.masks_arrays(it.tys, it.vals, labels)
            # sentinel: RETURN events (-1) gather the trailing all-ones
            # mask, so one fancy-indexing pass yields the complete
            # signature array.  Wide (>63 conds) masks are 2D int64
            # [label, word] — tobytes() works on both layouts, and the
            # word→Python-int combine happens only on cache MISSES.
            wide = label_masks.ndim == 2
            if wide:
                lm_ext = np.vstack([
                    label_masks,
                    np.full((1, label_masks.shape[1]), -1, np.int64)])
            else:
                lm_ext = np.append(label_masks, np.int64(-1))
            gathered = lm_ext[all_ev]
            sig_verdict: Dict[bytes, bool] = {}
            try:
                for di, s0, s1 in spans:
                    m = gathered[s0:s1]
                    sig = m.tobytes()
                    v = sig_verdict.get(sig)
                    if v is None:
                        ml = _combine_words(m) if wide else m.tolist()
                        v = self._walk(ml)
                        sig_verdict[sig] = v
                    out[di] = v
                return out
            except _CondsChanged:
                continue
