"""Parser unit tests — ports of /root/reference/test/ParserSpec.hs cases."""

import pytest

from katydid_haskell_spark.relapse import ast
from katydid_haskell_spark.relapse.exprs import (
    BOOL,
    BYTES,
    DOUBLE,
    INT,
    STRING,
    UINT,
    Const,
    Func,
    RelapseError,
    TRUE,
    Var,
    mk_expr,
)
from katydid_haskell_spark.relapse.parser import _P, ParseFailure, parse_grammar


def run(method, s):
    """Run one sub-parser against the full input (Parsec `p <* eof`)."""
    p = _P(s)
    r = getattr(p, method)()
    if p.pos != p.n:
        raise ParseFailure(p.pos, "trailing input")
    return r


def fails(method, s):
    with pytest.raises(ParseFailure):
        run(method, s)


def eq_name(s):  # eq($string, "s") — the desugared name form
    return Func("eq", BOOL, (Var(STRING), Const(STRING, s)))


# --- literals (ParserSpec.hs:66-116) ---------------------------------------

@pytest.mark.parametrize(
    "inp,want",
    [
        ("0", 0), ("1", 1), ("1230", 1230), ("01", 1), ("017", 15),
        ("0xf", 15), ("0Xff", 255), ("-0xff", -255), ("int(0114)", 76),
        ("int(-114)", -114),
    ],
)
def test_int_lit(inp, want):
    assert run("int_lit", inp) == want


@pytest.mark.parametrize("inp", ["09", "01f", "int(-114", "int-114)"])
def test_int_lit_fail(inp):
    fails("int_lit", inp)


def test_uint_lit():
    assert run("uint_cast_lit", "uint(114)") == 114
    assert run("uint_cast_lit", "uint(025)") == 21
    fails("uint_cast_lit", "uint(-12)")


@pytest.mark.parametrize(
    "inp,want",
    [
        ("double(2.1)", 2.1), ("double(2)", 2.0), ("double(2E+2)", 200.0),
        ("double(2E2)", 200.0), ("double(2E-2)", 0.02),
        ("double(2.1E-2)", 0.021),
    ],
)
def test_double_lit(inp, want):
    assert run("double_cast_lit", inp) == pytest.approx(want)


def test_double_fail():
    fails("double_cast_lit", "double(1/2)")


@pytest.mark.parametrize("inp", [
    ".a == \u00b2",                      # superscript two: isdigit() only
    ".a == \u0661\u0662",                # Arabic-Indic 12: \d matches
    ".a == double(\u0663.5)",            # Arabic-Indic 3 in a double
])
def test_non_ascii_digits_fail(inp):
    # Parsec's `digit` is ASCII-only; no other Unicode digit is a number
    with pytest.raises(RelapseError):
        parse_grammar(inp)


@pytest.mark.parametrize(
    "inp,want",
    [
        ('"abc"', "abc"), ('"\\u002E"', "."), ('"\\U0000002E"', "."),
        ('"\\x2E"', "."), ('"\\056"', "."), ('"\\t"', "\t"),
        ('"\\u002Eabc\\x2E"', ".abc."), ("`abc`", "abc"), ('`ab"c`', 'ab"c'),
    ],
)
def test_string_lit(inp, want):
    assert run("string_lit", inp) == want


def test_string_fail():
    fails("string_lit", "`a`b`")
    fails("string_lit", "\\/")


@pytest.mark.parametrize(
    "inp,want",
    [
        ("[]byte{'a'}", b"a"), ("[]byte{'a', 'b', 'c'}", b"abc"),
        ("[]byte{'\\u002E'}", b"."), ("[]byte{'\\x2E'}", b"."),
        ("[]byte{'\\056'}", b"."), ("[]byte{46}", b"."),
        ("[]byte{ 46 }", b"."), ("[]byte{ 46 , 46 }", b".."),
    ],
)
def test_bytes_lit(inp, want):
    assert run("bytes_cast_lit", inp) == want


def test_bytes_fail():
    fails("bytes_cast_lit", "[]byte{1000000}")


def test_id_lit():
    assert run("id_lit", "abc") == "abc"
    assert run("id_lit", "abc123") == "abc123"
    assert run("id_lit", "abc_123") == "abc_123"
    fails("id_lit", "123abc")


# --- expressions (ParserSpec.hs:117-141) -----------------------------------

def test_exprs():
    assert run("bool_expr", "$bool") == Var(BOOL)
    assert run("bool_expr", "true") == TRUE
    assert run("bool_expr", "== \"a\"") == eq_name("a")
    assert run("bool_expr", "not(true)") == Const(BOOL, False)  # const-folded
    assert run("bool_expr", "eq($bool, true)") == Func(
        "eq", BOOL, (Var(BOOL), Const(BOOL, True))
    )
    assert run("bool_expr", "eq($int, 1)") == Func(
        "eq", BOOL, (Var(INT), Const(INT, 1))
    )
    # const-folded: length of const list
    assert run("bool_expr", "eq($int, length([]int{1,2}))") == Func(
        "eq", BOOL, (Var(INT), Const(INT, 2))
    )


def test_expr_type_mismatch():
    fails("bool_expr", "eq($bool, 1)")


# --- name expressions (ParserSpec.hs:142-160) ------------------------------

def test_name_exprs():
    assert run("name_expr", "true") == Func(
        "eq", BOOL, (Var(BOOL), Const(BOOL, True))
    )
    assert run("name_expr", "a") == eq_name("a")
    assert run("name_expr", '"a"') == eq_name("a")
    assert run("name_expr", "!(a)") == Func("not", BOOL, (eq_name("a"),))
    assert run("name_expr", "_") == TRUE
    assert run("name_expr", "(a|b)") == Func("or", BOOL, (eq_name("a"), eq_name("b")))
    fails("name_expr", "((a))")


# --- patterns (ParserSpec.hs:161-285) --------------------------------------

Z = ast.ZAny()
E = ast.Empty()


def pat(s):
    return run("pattern", s)


def test_patterns_basic():
    assert pat("<empty>") == E
    assert pat("*") == Z
    assert pat("(*|*)") == ast.Or(Z, Z)
    assert pat("(*|*|*)") == ast.Or(ast.Or(Z, Z), Z)
    assert pat("(*&*)") == ast.And(Z, Z)
    assert pat("(*&*&*)") == ast.And(ast.And(Z, Z), Z)
    assert pat("(*)*") == ast.ZeroOrMore(Z)
    assert pat("(*)?") == ast.Optional(Z)
    assert pat("!(*)") == ast.Not(Z)
    assert pat("@name") == ast.Reference("name")
    assert pat("[*,*]") == ast.Concat(Z, Z)
    assert pat("[*,*,*]") == ast.Concat(ast.Concat(Z, Z), Z)
    assert pat("{*;*}") == ast.Interleave(Z, Z)
    assert pat("{*;*;*}") == ast.Interleave(ast.Interleave(Z, Z), Z)
    assert pat(".*") == ast.Contains(Z)


@pytest.mark.parametrize(
    "inp", ["(*|*&*)", "(*)", "()", "[*]", "[]", "{}", "{*}"]
)
def test_patterns_fail(inp):
    fails("pattern", inp)


def test_treenodes():
    assert pat("a:*") == ast.Node(eq_name("a"), Z)
    assert pat("_:*") == ast.Node(TRUE, Z)
    assert pat("_[*,*]") == ast.Node(TRUE, ast.Concat(Z, Z))
    contains_b = ast.Node(
        Func("contains", BOOL, (Var(STRING), Const(STRING, "b"))), E
    )
    assert pat('a:*="b"') == ast.Node(eq_name("a"), contains_b)
    assert pat('_:*="b"') == ast.Node(TRUE, contains_b)
    assert pat('._:*="b"') == ast.Contains(ast.Node(TRUE, contains_b))
    assert pat('(._:*="b"|*)') == ast.Or(
        ast.Contains(ast.Node(TRUE, contains_b)), Z
    )


def test_person_interleave():
    # ParserSpec.hs:245-258
    got = pat("Person:{Name:*;(Addr:*)?;(Email:*)*}")
    want = ast.Node(
        eq_name("Person"),
        ast.Interleave(
            ast.Interleave(
                ast.Node(eq_name("Name"), Z),
                ast.Optional(ast.Node(eq_name("Addr"), Z)),
            ),
            ast.ZeroOrMore(ast.Node(eq_name("Email"), Z)),
        ),
    )
    assert got == want


def test_whitespace_regex():
    got = pat('(~="^([ \t\r\n\v\f])+$")*')
    want = ast.ZeroOrMore(
        ast.Node(
            Func(
                "regex",
                BOOL,
                (Const(STRING, "^([ \t\r\n\v\f])+$"), Var(STRING)),
            ),
            E,
        )
    )
    assert got == want


# --- grammars (ParserSpec.hs:286-348) --------------------------------------

def test_grammars():
    assert parse_grammar("*") == {"main": Z}
    assert parse_grammar("#main = *") == {"main": Z}
    assert parse_grammar("#main = * #a = *") == {"main": Z, "a": Z}
    assert parse_grammar("* #a = *") == {"main": Z, "a": Z}
    assert parse_grammar("* #a = * #b = *") == {"main": Z, "a": Z, "b": Z}
    with pytest.raises(RelapseError):
        parse_grammar("* *")


def test_grammar_conflicts():
    # "not pattern, not name and != conflicts without not enough lookahead"
    assert parse_grammar("!(A):*") == {
        "main": ast.Node(Func("not", BOOL, (eq_name("A"),)), Z)
    }
    assert parse_grammar("->type($string)") == {
        "main": ast.Node(Func("type", BOOL, (Var(STRING),)), E)
    }
    assert parse_grammar("<= 0") == {
        "main": ast.Node(Func("le", BOOL, (Var(INT), Const(INT, 0))), E)
    }
    assert parse_grammar('A == "F"') == {
        "main": ast.Node(eq_name("A"), ast.Node(eq_name("F"), E))
    }
    assert parse_grammar("(* & */*spaces*/ )") == {"main": ast.And(Z, Z)}
    assert parse_grammar("A :: $string") == {
        "main": ast.Node(
            eq_name("A"), ast.Node(Func("type", BOOL, (Var(STRING),)), E)
        )
    }
    assert parse_grammar("{*;*;}") == {"main": ast.Interleave(Z, Z)}


def test_comments():
    assert parse_grammar("//bla\n*") == {"main": Z}
    assert parse_grammar("/*bla\nbla*/ *") == {"main": Z}
    assert parse_grammar("/*bla//bla*/ *") == {"main": Z}


def test_udf_unknown_fails():
    with pytest.raises(RelapseError):
        parse_grammar("->isPrime($int)")


def test_name_choice_treenode():
    """`(a|b):pat` at pattern level — beyond the reference, whose Parsec
    grammar can never reach nameChoice from a pattern (un-try'd '(');
    the AST production exists there, so the language intends it."""
    got = parse_grammar("(a|b): == 5")
    want = {
        "main": ast.Node(
            Func("or", BOOL, (eq_name("a"), eq_name("b"))),
            ast.Node(Func("eq", BOOL, (Var(INT), Const(INT, 5))), E),
        )
    }
    assert got == want
    # not-name inside a choice
    g2 = parse_grammar("(a|b|c): *")
    assert isinstance(g2["main"], ast.Node)
    # plain paren groups still parse as pattern alternation / conjunction
    assert parse_grammar("(* | *)") == {"main": ast.Or(Z, Z)}
    assert parse_grammar("(* & *)") == {"main": ast.And(Z, Z)}
