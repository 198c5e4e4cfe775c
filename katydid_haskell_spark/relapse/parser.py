"""Relapse concrete-syntax parser (recursive descent with backtracking).

Re-implements the grammar of
``/root/reference/src/Data/Katydid/Relapse/Parser.hs:438-463`` (patterns,
``#ref =`` declarations, builtin symbols ``== != < > <= >= ~= *= ^= $= ::``,
literals including octal/hex ints, ``uint(...)``/``double(...)``/``int(...)``
casts, interpreted + raw strings, ``[]byte{...}`` and typed list literals),
producing the plain AST of :mod:`.ast`.

Expression type checking happens *during* parse, exactly like the reference
(e.g. ``eq($bool, 1)`` is a parse error — ``test/ParserSpec.hs:136``).
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from . import ast
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
    RelapseError,
    TRUE,
    Var,
    mk_builtin,
    mk_expr,
    or_expr,
)

# user-defined function library: name -> (args -> Expr)
UserLib = Optional[Callable[[str, list], Expr]]


class ParseFailure(Exception):
    """Internal backtracking signal."""

    def __init__(self, pos: int, msg: str):
        super().__init__(msg)
        self.pos = pos
        self.msg = msg


_ID_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# ASCII digits only, as Parsec's ``digit``: ``\d`` and ``str.isdigit``
# also accept other Unicode digits (``١٢``, ``²``)
_DEC_RE = re.compile(r"[0-9]+")
_FLOAT_RE = re.compile(r"[0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?")
_ESCAPES = {
    "a": "\a", "b": "\b", "n": "\n", "f": "\f", "r": "\r", "t": "\t",
    "v": "\v", "'": "'", "\\": "\\", '"': '"', "/": "/",
}


class _P:
    def __init__(self, s: str, user_lib: UserLib = None):
        self.s = s
        self.n = len(s)
        self.pos = 0
        self.user_lib = user_lib
        self._furthest: tuple = (-1, "")

    # -- machinery ----------------------------------------------------------

    def fail(self, msg: str):
        # track the furthest failure: backtracking alternatives otherwise
        # replace a precise semantic error (type mismatch, regex dialect)
        # with a generic shallow one from an earlier branch point
        if self.pos >= self._furthest[0]:
            self._furthest = (self.pos, msg)
        raise ParseFailure(self.pos, msg)

    def peek(self) -> str:
        return self.s[self.pos] if self.pos < self.n else ""

    def eat(self, lit: str) -> None:
        if not self.s.startswith(lit, self.pos):
            self.fail(f"expected {lit!r}")
        self.pos += len(lit)

    def try_eat(self, lit: str) -> bool:
        if self.s.startswith(lit, self.pos):
            self.pos += len(lit)
            return True
        return False

    def attempt(self, fn: Callable, *args):
        """Parsec ``try``: run fn, restoring position on failure."""
        save = self.pos
        try:
            return fn(*args)
        except ParseFailure:
            self.pos = save
            return _NOPE

    def one_of(self, *fns):
        for fn in fns:
            r = self.attempt(fn)
            if r is not _NOPE:
                return r
        self.fail("no alternative matched")

    def ws(self) -> None:
        while self.pos < self.n:
            c = self.s[self.pos]
            if c.isspace():
                self.pos += 1
            elif self.s.startswith("//", self.pos):
                nl = self.s.find("\n", self.pos)
                self.pos = self.n if nl < 0 else nl + 1
            elif self.s.startswith("/*", self.pos):
                end = self.s.find("*/", self.pos + 2)
                if end < 0:
                    self.fail("unterminated block comment")
                self.pos = end + 2
            else:
                return

    # -- literals -----------------------------------------------------------

    def id_lit(self) -> str:
        m = _ID_RE.match(self.s, self.pos)
        if not m:
            self.fail("expected identifier")
        self.pos = m.end()
        return m.group()

    def _unsigned_int(self) -> int:
        c = self.peek()
        if c == "0":
            self.pos += 1
            if self.peek() in ("x", "X"):
                self.pos += 1
                m = re.match(r"[0-9a-fA-F]+", self.s[self.pos:])
                if not m:
                    self.fail("expected hex digits")
                self.pos += m.end()
                return int(m.group(), 16)
            m = re.match(r"[0-7]+", self.s[self.pos:])
            if m:
                self.pos += m.end()
                return int(m.group(), 8)
            return 0
        m = _DEC_RE.match(self.s, self.pos)
        if not m:
            self.fail("expected int")
        self.pos = m.end()
        return int(m.group(), 10)

    def _signed_int(self) -> int:
        neg = self.try_eat("-")
        v = self._unsigned_int()
        return -v if neg else v

    def int_lit(self) -> int:
        if self.try_eat("int("):
            v = self._signed_int()
            self.eat(")")
            return v
        return self._signed_int()

    def uint_cast_lit(self) -> int:
        self.eat("uint(")
        v = self.int_lit()
        if v < 0:
            self.fail("negative uint")
        self.eat(")")
        return v

    def double_cast_lit(self) -> float:
        self.eat("double(")
        neg = self.try_eat("-")
        m = _FLOAT_RE.match(self.s, self.pos)
        if not m:
            self.fail("expected float")
        self.pos = m.end()
        self.eat(")")
        v = float(m.group())
        return -v if neg else v

    def _escaped_char(self) -> str:
        # after the backslash
        c = self.peek()
        if c == "U":
            self.pos += 1
            return self._hex_chars(8)
        if c == "u":
            self.pos += 1
            return self._hex_chars(4)
        if c == "x":
            self.pos += 1
            return self._hex_chars(2)
        if c in _ESCAPES:
            self.pos += 1
            return _ESCAPES[c]
        m = re.match(r"[0-7]{3}", self.s[self.pos:])
        if m:
            self.pos += 3
            return chr(int(m.group(), 8))
        self.fail(f"bad escape: {c!r}")

    def _hex_chars(self, k: int) -> str:
        h = self.s[self.pos : self.pos + k]
        if len(h) != k or not re.fullmatch(r"[0-9a-fA-F]+", h):
            self.fail(f"expected {k} hex digits")
        self.pos += k
        return chr(int(h, 16))

    def string_lit(self) -> str:
        if self.try_eat("`"):
            end = self.s.find("`", self.pos)
            if end < 0:
                self.fail("unterminated raw string")
            out = self.s[self.pos : end]
            self.pos = end + 1
            return out
        self.eat('"')
        out = []
        while True:
            c = self.peek()
            if c == "":
                self.fail("unterminated string")
            if c == '"':
                self.pos += 1
                return "".join(out)
            if c == "\\":
                self.pos += 1
                out.append(self._escaped_char())
            else:
                out.append(c)
                self.pos += 1

    def _byte_elem(self) -> int:
        if self.try_eat("'"):
            if self.try_eat("\\"):
                ch = self._escaped_char()
            else:
                ch = self.peek()
                self.pos += 1
            self.eat("'")
            return ord(ch) & 0xFF
        v = self._unsigned_int()
        if v > 255:
            self.fail(f"too large for byte: {v}")
        return v

    def bytes_cast_lit(self) -> bytes:
        self.eat("[]byte{")
        vals = []
        self.ws()
        if not self.s.startswith("}", self.pos):
            vals.append(self._byte_elem())
            self.ws()
            while self.try_eat(","):
                self.ws()
                vals.append(self._byte_elem())
                self.ws()
        self.eat("}")
        return bytes(vals)

    def _bool(self) -> bool:
        # word-boundary check so identifiers like `trueish` are not eaten
        for word, val in (("true", True), ("false", False)):
            if self.s.startswith(word, self.pos):
                nxt = self.pos + len(word)
                if nxt >= self.n or not (self.s[nxt].isalnum() or self.s[nxt] == "_"):
                    self.pos = nxt
                    return val
        self.fail("expected bool")

    def literal(self) -> Const:
        r = self.attempt(self._bool)
        if r is not _NOPE:
            return Const(BOOL, r)
        r = self.attempt(self.uint_cast_lit)
        if r is not _NOPE:
            return Const(UINT, r)
        r = self.attempt(self.double_cast_lit)
        if r is not _NOPE:
            return Const(DOUBLE, r)
        r = self.attempt(self.int_lit)
        if r is not _NOPE:
            return Const(INT, r)
        r = self.attempt(self.string_lit)
        if r is not _NOPE:
            return Const(STRING, r)
        r = self.attempt(self.bytes_cast_lit)
        if r is not _NOPE:
            return Const(BYTES, r)
        self.fail("expected literal")

    # -- expressions --------------------------------------------------------

    def _var(self) -> Var:
        self.eat("$")
        for name, ty in (
            ("bool", BOOL), ("int", INT), ("uint", UINT),
            ("double", DOUBLE), ("string", STRING), ("[]byte", BYTES),
        ):
            if self.try_eat(name):
                return Var(ty)
        self.fail("expected variable type")

    def terminal(self) -> Expr:
        if self.peek() == "$":
            return self._var()
        return self.literal()

    def _list_expr(self) -> Const:
        for name, ty in (
            ("[]bool", BOOL), ("[]int", INT), ("[]uint", UINT),
            ("[]double", DOUBLE), ("[]string", STRING), ("[][]byte", BYTES),
        ):
            if self.try_eat(name):
                self.ws()
                self.eat("{")
                vals = []
                self.ws()
                if not self.s.startswith("}", self.pos):
                    vals.append(self._list_elem(ty))
                    self.ws()
                    while self.try_eat(","):
                        self.ws()
                        vals.append(self._list_elem(ty))
                        self.ws()
                self.eat("}")
                return Const("[]" + ty, tuple(vals))
        self.fail("expected list literal")

    def _list_elem(self, ty: str):
        e = self.any_expr()
        if not isinstance(e, Const) or e.ty != ty:
            self.fail(f"list element must be a {ty} constant")
        return e.value

    def _function(self) -> Expr:
        name = self.id_lit()
        self.eat("(")
        args = []
        self.ws()
        if not self.s.startswith(")", self.pos):
            args.append(self.any_expr())
            self.ws()
            while self.try_eat(","):
                self.ws()
                args.append(self.any_expr())
                self.ws()
        self.eat(")")
        return self._mk_func(name, args)

    def _mk_func(self, name: str, args: list) -> Expr:
        try:
            return mk_expr(name, args)
        except RelapseError as std_err:
            if self.user_lib is not None:
                try:
                    return self.user_lib(name, args)
                except RelapseError:
                    pass
            self.fail(str(std_err))

    def any_expr(self) -> Expr:
        r = self.attempt(self.terminal)
        if r is not _NOPE:
            return r
        r = self.attempt(self._list_expr)
        if r is not _NOPE:
            return r
        return self._function()

    def _builtin_symbol(self) -> str:
        for sym in ("==", "!=", "<=", ">=", "~=", "*=", "^=", "$=", "::", "<", ">"):
            if self.try_eat(sym):
                return sym
        self.fail("expected builtin symbol")

    def builtin(self) -> Expr:
        sym = self._builtin_symbol()
        self.ws()
        e = self.any_expr()
        try:
            return mk_builtin(sym, e)
        except RelapseError as err:
            self.fail(str(err))

    def bool_expr(self) -> Expr:
        """An ``expr`` production result asserted to be boolean."""
        r = self.attempt(self.terminal)
        if r is _NOPE:
            r = self.attempt(self.builtin)
        if r is _NOPE:
            r = self._function()
        if r.ty != BOOL:
            self.fail(f"expected bool expression, got {r.ty}")
        return r

    # -- name expressions ---------------------------------------------------

    def name_expr(self) -> Expr:
        if self.try_eat("_"):
            return TRUE
        if self.peek() == "!":
            self.eat("!")
            self.ws()
            self.eat("(")
            self.ws()
            inner = self.name_expr()
            self.ws()
            self.eat(")")
            return mk_expr("not", [inner])
        if self.peek() == "(":
            self.eat("(")
            self.ws()
            choices = [self.name_expr()]
            self.ws()
            while self.try_eat("|"):
                self.ws()
                choices.append(self.name_expr())
                self.ws()
            self.eat(")")
            if len(choices) < 2:
                self.fail("name choice needs at least two alternatives")
            out = choices[0]
            for c in choices[1:]:
                out = or_expr(out, c)
            return out
        return self._name_string()

    def _name_string(self) -> Expr:
        r = self.attempt(self.literal)
        if r is _NOPE:
            ident = self.id_lit()
            r = Const(STRING, ident)
        try:
            return mk_builtin("==", r)
        except RelapseError as err:
            self.fail(str(err))

    # -- patterns -----------------------------------------------------------

    def pattern(self) -> ast.Pattern:
        c = self.peek()
        if c == "*":
            self.pos += 1
            if self.try_eat("="):
                self.ws()
                e = self.any_expr()
                try:
                    return ast.Node(mk_builtin("*=", e), ast.Empty())
                except RelapseError as err:
                    self.fail(str(err))
            return ast.ZAny()
        if c == "(":
            # name-choice treenode `(a|b):pat` — in the reference grammar
            # this production is unreachable (the un-try'd '(' commits to a
            # paren pattern, ParserSpec has no case for it) but the language
            # clearly intends it (nameChoice exists in the AST); we support
            # it, falling back to the paren pattern on backtrack.
            r = self.attempt(self._name_choice_treenode)
            if r is not _NOPE:
                return r
            return self._paren_pattern()
        if c == "@":
            self.pos += 1
            self.ws()
            return ast.Reference(self.id_lit())
        r = self.attempt(self._empty_pattern)
        if r is not _NOPE:
            return r
        r = self.attempt(self._treenode_pattern)
        if r is not _NOPE:
            return r
        r = self.attempt(self._depth_pattern)
        if r is not _NOPE:
            return r
        if c == "!":
            self.eat("!")
            self.ws()
            self.eat("(")
            self.ws()
            p = self.pattern()
            self.ws()
            self.eat(")")
            return ast.Not(p)
        self.fail("expected pattern")

    def _empty_pattern(self) -> ast.Pattern:
        self.eat("<empty>")
        return ast.Empty()

    def _paren_pattern(self) -> ast.Pattern:
        self.eat("(")
        self.ws()
        first = self.pattern()
        self.ws()
        if self.try_eat(")"):
            self.ws()
            if self.try_eat("*"):
                return ast.ZeroOrMore(first)
            if self.try_eat("?"):
                return ast.Optional(first)
            self.fail("expected '*' or '?' after '(pattern)'")
        if self.try_eat("|"):
            pats = [first]
            while True:
                self.ws()
                pats.append(self.pattern())
                self.ws()
                if not self.try_eat("|"):
                    break
            self.eat(")")
            out = pats[0]
            for p in pats[1:]:
                out = ast.Or(out, p)
            return out
        if self.try_eat("&"):
            pats = [first]
            while True:
                self.ws()
                pats.append(self.pattern())
                self.ws()
                if not self.try_eat("&"):
                    break
            self.eat(")")
            out = pats[0]
            for p in pats[1:]:
                out = ast.And(out, p)
            return out
        self.fail("expected ')', '|' or '&'")

    def _name_choice_treenode(self) -> ast.Pattern:
        """`(n1|n2|…): pat` — a treenode whose name is a choice.  Only
        entered on '('; name_expr requires ≥2 alternatives inside parens,
        so `(pat)` / `(p | q)` pattern groups backtrack to _paren_pattern."""
        if self.peek() != "(":
            self.fail("not a name choice")
        name = self.name_expr()
        self.ws()
        save = self.pos
        if self.try_eat(":"):
            self.ws()
            r = self.attempt(self.pattern)
            if r is not _NOPE:
                return ast.Node(name, r)
            self.pos = save
        return ast.Node(name, self._depth_only())

    def _treenode_pattern(self) -> ast.Pattern:
        name = self.name_expr()
        self.ws()
        save = self.pos
        if self.try_eat(":"):
            self.ws()
            r = self.attempt(self.pattern)
            if r is not _NOPE:
                return ast.Node(name, r)
            self.pos = save
        child = self._depth_only()
        return ast.Node(name, child)

    def _depth_only(self) -> ast.Pattern:
        """The child part of a depth pattern: [..] {..} .p ->expr or builtin."""
        c = self.peek()
        if c == "[":
            return self._concat_pattern()
        if c == "{":
            return self._interleave_pattern()
        if c == ".":
            self.pos += 1
            return ast.Contains(self.pattern())
        if self.try_eat("->"):
            self.ws()
            e = self.bool_expr()
            return ast.Node(e, ast.Empty())
        e = self.builtin()
        if e.ty != BOOL:
            self.fail("expected bool builtin")
        return ast.Node(e, ast.Empty())

    def _depth_pattern(self) -> ast.Pattern:
        return self._depth_only()

    def _concat_pattern(self) -> ast.Pattern:
        self.eat("[")
        pats = []
        self.ws()
        pats.append(self.pattern())
        self.ws()
        self.eat(",")
        self.ws()
        pats.append(self.pattern())
        self.ws()
        while self.try_eat(","):
            self.ws()
            if self.s.startswith("]", self.pos):  # trailing comma
                break
            pats.append(self.pattern())
            self.ws()
        self.eat("]")
        out = pats[0]
        for p in pats[1:]:
            out = ast.Concat(out, p)
        return out

    def _interleave_pattern(self) -> ast.Pattern:
        self.eat("{")
        pats = []
        self.ws()
        pats.append(self.pattern())
        self.ws()
        self.eat(";")
        self.ws()
        pats.append(self.pattern())
        self.ws()
        while self.try_eat(";"):
            self.ws()
            if self.s.startswith("}", self.pos):  # trailing semicolon
                break
            pats.append(self.pattern())
            self.ws()
        self.eat("}")
        out = pats[0]
        for p in pats[1:]:
            out = ast.Interleave(out, p)
        return out

    # -- grammar ------------------------------------------------------------

    def _pattern_decl(self) -> tuple:
        self.eat("#")
        self.ws()
        name = self.id_lit()
        self.ws()
        self.eat("=")
        self.ws()
        return name, self.pattern()

    def grammar(self) -> ast.Grammar:
        self.ws()
        refs: ast.Grammar = {}
        if self.peek() == "#":
            while True:
                name, p = self._pattern_decl()
                refs.setdefault(name, p)  # left-biased union
                self.ws()
                if self.peek() != "#":
                    break
        else:
            refs["main"] = self.pattern()
            self.ws()
            while self.peek() == "#":
                name, p = self._pattern_decl()
                refs.setdefault(name, p)
                self.ws()
        return refs


class _Nope:
    __slots__ = ()

    def __bool__(self):  # pragma: no cover
        raise TypeError("check against _NOPE with `is`")


_NOPE = _Nope()


def parse_grammar(s: str, user_lib: UserLib = None) -> ast.Grammar:
    """Parse a Relapse grammar string into an AST grammar (reference map)."""
    p = _P(s, user_lib)
    try:
        g = p.grammar()
        p.ws()
        if p.pos != p.n:
            p.fail("unexpected trailing input")
    except ParseFailure as f:
        pos, msg = f.pos, f.msg
        if p._furthest[0] > pos:
            pos, msg = p._furthest
        line = s.count("\n", 0, pos) + 1
        col = pos - (s.rfind("\n", 0, pos) + 1) + 1
        raise RelapseError(f"parse error at line {line} col {col}: {msg}") from None
    return g
