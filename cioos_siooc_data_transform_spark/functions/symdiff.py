"""Symbolic differentiation of the portable-SQL scalar expressions.

The TEOS-10 surfaces in this package are emitted as portable SQL
strings (identical literal trees on Spark and DuckDB — the parity
contract). Several GSW quantities are TEMPERATURE DERIVATIVES of
surfaces we already ship (isobaric heat capacity cp = (T0+t)·η_t from
the entropy polynomial, adiabatic lapse via −η_p/η_t, ...). Rather
than hand-transcribing differentiated coefficient tables (error-prone)
or finite-differencing (not parity-exact), this module differentiates
the expression STRING symbolically: parse → d/dvar with standard
rules → constant-fold/zero-prune → re-emit SQL. The output is again an
identical literal tree on both engines, so oracle parity is exact by
construction; correctness of the derivative itself is pinned by
finite-difference tests (tests/test_oceanography_checkvalues.py), the
same contract as the cabbeling/thermobaric analytic stages.

Grammar covered (everything the teos10/ice emitters produce):
numbers (incl. 1.2e0 / 1e-4), identifiers, + - * / unary-, ( ),
sqrt(e), ln(e), exp(e), pow(e, const).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


# --- tokenizer -------------------------------------------------------------
def _tokens(src: str) -> list[str]:
    out: list[str] = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c.isspace():
            i += 1
            continue
        if c.isdigit() or (c == "." and i + 1 < n and src[i + 1].isdigit()):
            j = i
            while j < n and (src[j].isdigit() or src[j] == "."):
                j += 1
            if j < n and src[j] in "eE":
                k = j + 1
                if k < n and src[k] in "+-":
                    k += 1
                if k < n and src[k].isdigit():
                    j = k
                    while j < n and src[j].isdigit():
                        j += 1
            out.append(src[i:j])
            i = j
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (src[j].isalnum() or src[j] == "_"):
                j += 1
            out.append(src[i:j])
            i = j
            continue
        if c in "+-*/(),":
            out.append(c)
            i += 1
            continue
        raise ValueError(f"symdiff: unexpected character {c!r} at {i}")
    return out


# --- AST -------------------------------------------------------------------
@dataclass(frozen=True)
class Node:
    op: str  # 'num' | 'var' | '+' | '-' | '*' | '/' | 'neg' | fn name
    args: tuple
    val: float = 0.0
    name: str = ""


def _num(v: float) -> Node:
    return Node("num", (), val=v)


_ZERO = _num(0.0)
_ONE = _num(1.0)


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def eat(self, tok: str | None = None) -> str:
        t = self.toks[self.i]
        if tok is not None and t != tok:
            raise ValueError(f"symdiff: expected {tok!r}, got {t!r}")
        self.i += 1
        return t

    def parse(self) -> Node:
        e = self.expr()
        if self.i != len(self.toks):
            raise ValueError(f"symdiff: trailing tokens at {self.i}")
        return e

    def expr(self) -> Node:
        node = self.term()
        while self.peek() in ("+", "-"):
            op = self.eat()
            rhs = self.term()
            node = Node(op, (node, rhs))
        return node

    def term(self) -> Node:
        node = self.unary()
        while self.peek() in ("*", "/"):
            op = self.eat()
            rhs = self.unary()
            node = Node(op, (node, rhs))
        return node

    def unary(self) -> Node:
        if self.peek() == "-":
            self.eat()
            return Node("neg", (self.unary(),))
        if self.peek() == "+":
            self.eat()
            return self.unary()
        return self.atom()

    def atom(self) -> Node:
        t = self.peek()
        if t == "(":
            self.eat()
            e = self.expr()
            self.eat(")")
            return e
        if t is None:
            raise ValueError("symdiff: unexpected end of input")
        if t[0].isdigit() or t[0] == ".":
            self.eat()
            return _num(float(t))
        # identifier: function call or variable
        self.eat()
        if self.peek() == "(":
            self.eat("(")
            args = [self.expr()]
            while self.peek() == ",":
                self.eat(",")
                args.append(self.expr())
            self.eat(")")
            return Node(t, tuple(args))
        return Node("var", (), name=t)


# --- differentiation -------------------------------------------------------
def _is0(n: Node) -> bool:
    return n.op == "num" and n.val == 0.0


def _is1(n: Node) -> bool:
    return n.op == "num" and n.val == 1.0


def _add(a: Node, b: Node) -> Node:
    if _is0(a):
        return b
    if _is0(b):
        return a
    if a.op == "num" and b.op == "num":
        return _num(a.val + b.val)
    return Node("+", (a, b))


def _sub(a: Node, b: Node) -> Node:
    if _is0(b):
        return a
    if a.op == "num" and b.op == "num":
        return _num(a.val - b.val)
    if _is0(a):
        return Node("neg", (b,))
    return Node("-", (a, b))


def _mul(a: Node, b: Node) -> Node:
    if _is0(a) or _is0(b):
        return _ZERO
    if _is1(a):
        return b
    if _is1(b):
        return a
    if a.op == "num" and b.op == "num":
        return _num(a.val * b.val)
    return Node("*", (a, b))


def _div(a: Node, b: Node) -> Node:
    if _is0(a):
        return _ZERO
    if _is1(b):
        return a
    return Node("/", (a, b))


def _d(n: Node, var: str) -> Node:
    if n.op == "num":
        return _ZERO
    if n.op == "var":
        return _ONE if n.name == var else _ZERO
    if n.op == "+":
        return _add(_d(n.args[0], var), _d(n.args[1], var))
    if n.op == "-":
        return _sub(_d(n.args[0], var), _d(n.args[1], var))
    if n.op == "neg":
        da = _d(n.args[0], var)
        return _ZERO if _is0(da) else Node("neg", (da,))
    if n.op == "*":
        a, b = n.args
        return _add(_mul(_d(a, var), b), _mul(a, _d(b, var)))
    if n.op == "/":
        a, b = n.args
        da, db = _d(a, var), _d(b, var)
        if _is0(db):
            return _div(da, b)
        return _div(_sub(_mul(da, b), _mul(a, db)), _mul(b, b))
    if n.op == "sqrt":
        (a,) = n.args
        da = _d(a, var)
        if _is0(da):
            return _ZERO
        return _div(da, _mul(_num(2.0), n))
    if n.op == "ln":
        (a,) = n.args
        da = _d(a, var)
        if _is0(da):
            return _ZERO
        return _div(da, a)
    if n.op == "exp":
        (a,) = n.args
        da = _d(a, var)
        if _is0(da):
            return _ZERO
        return _mul(da, n)
    if n.op == "pow":
        a, b = n.args
        if b.op != "num":
            raise ValueError("symdiff: pow with non-constant exponent")
        da = _d(a, var)
        if _is0(da):
            return _ZERO
        return _mul(
            _mul(b, Node("pow", (a, _num(b.val - 1.0)))), da
        )
    raise ValueError(f"symdiff: cannot differentiate {n.op!r}")


# --- emission --------------------------------------------------------------
def _lit(v: float) -> str:
    if v == int(v) and abs(v) < 1e16:
        return f"{v:.1f}e0"
    return repr(v)


def _emit(n: Node) -> str:
    if n.op == "num":
        return _lit(n.val)
    if n.op == "var":
        return n.name
    if n.op == "neg":
        return f"(-{_emit(n.args[0])})"
    if n.op in ("+", "-", "*", "/"):
        return f"({_emit(n.args[0])} {n.op} {_emit(n.args[1])})"
    return f"{n.op}({', '.join(_emit(a) for a in n.args)})"


def diff_sql(expr: str, var: str) -> str:
    """d(expr)/d(var) as a new portable-SQL string.

    ``expr`` must use plain identifiers for variables; differentiate
    against a sentinel name, then substitute real sub-expressions into
    the RESULT (substituting first would differentiate the
    sub-expression text too).
    """
    ast = _Parser(_tokens(expr)).parse()
    return _emit(_d(ast, var))


#: (surface, orders) -> derivative text over the placeholder names. A
#: cold derivative costs 0.5-20 ms to parse, differentiate and emit, a
#: memo hit 0.01-0.2 ms (4-vCPU VM); building all 640 registered
#: queries asks 142 times for 60 distinct derivatives.
_DERIVATIVES: dict[tuple[Callable[..., str], tuple[int, ...]], str] = {}


def _placeholder(i: int) -> str:
    return f"__symdiff_arg{i}__"


def derivative_sql(
    surface: Callable[..., str], args: tuple[str, ...], orders: tuple[int, ...]
) -> str:
    """∂^(Σ orders) surface / ∂arg_0^orders[0] ∂arg_1^orders[1] ... at
    ``args``, as portable SQL.

    ``surface`` builds the expression text from one name per argument.
    It is differentiated once per ``orders`` against placeholder names,
    in argument order, and each real argument is substituted into the
    result wrapped in parentheses. The text does not depend on the
    placeholder names.
    """
    key = (surface, orders)
    template = _DERIVATIVES.get(key)
    if template is None:
        names = [_placeholder(i) for i in range(len(orders))]
        template = surface(*names)
        for name, order in zip(names, orders):
            for _ in range(order):
                template = diff_sql(template, name)
        _DERIVATIVES[key] = template
    for i, arg in enumerate(args):
        template = template.replace(_placeholder(i), f"({arg})")
    return template
