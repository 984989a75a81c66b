"""Recursive-descent PromQL parser for the engine's supported subset.

Grammar and precedence follow prometheus/promql/parser (operator
precedence low→high: or | unless/and | comparisons | +- | */% | ^, with ^
right-associative and unary +/- binding tighter than ^'s left operand).
The AST is deliberately plain dataclasses — promql/engine.py compiles it
to DataFrame plans.

Supported surface: number literals; vector selectors with {=, !=, =~, !~}
matchers; range selectors [5m]; offset modifiers; function calls;
aggregations with by/without (prefix or postfix grouping clause, topk/
bottomk/quantile_over_time parameters); binary operations with
on/ignoring + group_left/group_right vector matching, bool modifier, and
the set operators and/or/unless.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# ---- AST ------------------------------------------------------------------


@dataclass
class NumberLiteral:
    value: float


@dataclass
class StringLiteral:
    value: str


@dataclass
class Matcher:
    name: str
    op: str  # = != =~ !~
    value: str


@dataclass
class VectorSelector:
    name: str | None
    matchers: list[Matcher] = field(default_factory=list)
    offset_ms: int = 0
    # @ modifier: a pinned unix-ms timestamp, or the literal strings
    # "start"/"end" (resolved against the query range at compile time)
    at_ms: int | str | None = None


@dataclass
class RangeSelector:
    selector: VectorSelector
    range_ms: int


@dataclass
class Subquery:
    expr: object
    range_ms: int
    step_ms: int | None  # None: the engine's default resolution
    offset_ms: int = 0
    at_ms: int | str | None = None  # like VectorSelector.at_ms


@dataclass
class Call:
    func: str
    args: list  # mixed NumberLiteral / expressions


@dataclass
class Aggregation:
    op: str
    expr: object
    by: list[str] | None = None
    without: list[str] | None = None
    param: object | None = None  # k for topk/bottomk, q for quantile


@dataclass
class BinaryOp:
    op: str
    lhs: object
    rhs: object
    on: list[str] | None = None
    ignoring: list[str] | None = None
    card: str = "one_to_one"  # many_to_one (group_left) / one_to_many
    include: list[str] = field(default_factory=list)
    bool_mode: bool = False


@dataclass
class Unary:
    op: str  # - only (+ is identity)
    expr: object


AGG_OPS = {
    "sum", "avg", "min", "max", "count", "group", "stddev", "stdvar",
    "topk", "bottomk", "quantile", "count_values", "limitk", "limit_ratio",
}
_PARAM_AGGS = {"topk", "bottomk", "quantile", "count_values", "limitk", "limit_ratio"}

_DUR_UNITS = {
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
    "d": 86_400_000, "w": 604_800_000, "y": 31_536_000_000,
}


def parse_duration_ms(s: str) -> int:
    total, pos = 0, 0
    pat = re.compile(r"(\d+)(ms|s|m|h|d|w|y)")
    while pos < len(s):
        m = pat.match(s, pos)
        if not m:
            raise ValueError(f"bad duration: {s!r}")
        total += int(m.group(1)) * _DUR_UNITS[m.group(2)]
        pos = m.end()
    if total == 0 and s != "0":
        raise ValueError(f"bad duration: {s!r}")
    return total


# ---- Lexer ----------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
      (?P<WS>\s+)
    | (?P<DURATION>\d+(?:ms|s|m|h|d|w|y)(?:\d+(?:ms|s|m|h|d|w|y))*)
    | (?P<NUMBER>0[xX][0-9a-fA-F]+|(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)
    | (?P<STRING>"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
    | (?P<OP>=~|!~|==|!=|>=|<=|[-+*/%^(){}\[\],=<>:@])
    | (?P<IDENT>[a-zA-Z_:][a-zA-Z0-9_:]*)
    """,
    re.VERBOSE,
)

# the escapes of Go's strconv.Unquote, which Prometheus's lexer decodes in
# quoted strings
_ESCAPE_RE = re.compile(r"\\(x[0-9a-fA-F]{2}|u[0-9a-fA-F]{4}|U[0-9a-fA-F]{8}|[0-7]{3}|.)")
_SIMPLE_ESCAPES = {
    "a": "\a", "b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t",
    "v": "\v", "\\": "\\", "'": "'", '"': '"',
}


def _unquote(token: str) -> str:
    """The text of a quoted string token with its escapes decoded. Every
    other character stays as written, non-ASCII ones included; an escape Go
    does not define stays as written too."""

    def decode(m: re.Match) -> str:
        e = m.group(1)
        if len(e) == 1:
            return _SIMPLE_ESCAPES.get(e, m.group(0))
        return chr(int(e[1:], 16) if e[0] in "xuU" else int(e, 8))

    return _ESCAPE_RE.sub(decode, token[1:-1])


KEYWORDS = {
    "by", "without", "on", "ignoring", "group_left", "group_right",
    "offset", "bool", "and", "or", "unless", "atan2",
}


@dataclass
class Token:
    kind: str
    text: str


def lex(src: str) -> list[Token]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise ValueError(f"PromQL lex error at {src[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "WS":
            continue
        out.append(Token(kind, m.group()))
    out.append(Token("EOF", ""))
    return out


# ---- Parser ---------------------------------------------------------------

# precedence low → high (prometheus/promql/parser: or < and/unless <
# comparisons < +- < */% < ^)
_PRECEDENCE = [
    {"or"},
    {"and", "unless"},
    {"==", "!=", ">", "<", ">=", "<="},
    {"+", "-"},
    {"*", "/", "%", "atan2"},  # atan2 is a BINARY OPERATOR in PromQL
]
_RIGHT_ASSOC = {"^"}
SET_OPS = {"and", "or", "unless"}


class Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> Token:
        return self.toks[self.i]

    def next(self) -> Token:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str) -> Token:
        t = self.next()
        if t.text != text:
            raise ValueError(f"expected {text!r}, got {t.text!r}")
        return t

    # -- entry --

    def parse_expr(self) -> object:
        return self._binary(0)

    def _binary(self, level: int) -> object:
        if level >= len(_PRECEDENCE):
            return self._unary()
        lhs = self._binary(level + 1)
        while True:
            t = self.peek()
            if t.text not in _PRECEDENCE[level]:
                return lhs
            op = self.next().text
            bool_mode, on, ignoring, card, include = self._modifiers()
            rhs = self._binary(level + 1)
            lhs = BinaryOp(
                op, lhs, rhs, on=on, ignoring=ignoring, card=card,
                include=include, bool_mode=bool_mode,
            )

    def _unary(self) -> object:
        # unary binds tighter than * / % but LOOSER than ^:
        # -2^2 == -(2^2) == -4, while 2^-2 == 0.25
        t = self.peek()
        if t.text in ("-", "+"):
            self.next()
            inner = self._unary()
            return inner if t.text == "+" else Unary("-", inner)
        return self._power()

    def _power(self) -> object:
        lhs = self._postfix(self._atom())
        if self.peek().text == "^":
            self.next()
            bool_mode, on, ignoring, card, include = self._modifiers()
            rhs = self._unary()  # right-assoc via the unary→power recursion
            return BinaryOp(
                "^", lhs, rhs, on=on, ignoring=ignoring, card=card,
                include=include, bool_mode=bool_mode,
            )
        return lhs

    def _modifiers(self):
        bool_mode = False
        on = ignoring = None
        card = "one_to_one"
        include: list[str] = []
        if self.peek().text == "bool":
            self.next()
            bool_mode = True
        if self.peek().text in ("on", "ignoring"):
            which = self.next().text
            names = self._grouping_names()
            if which == "on":
                on = names
            else:
                ignoring = names
            if self.peek().text in ("group_left", "group_right"):
                g = self.next().text
                card = "many_to_one" if g == "group_left" else "one_to_many"
                if self.peek().text == "(":
                    include = self._grouping_names()
        return bool_mode, on, ignoring, card, include

    def _grouping_names(self) -> list[str]:
        self.expect("(")
        names = []
        while self.peek().text != ")":
            t = self.next()
            if t.kind == "STRING":  # Prometheus 3 UTF-8 grouping labels
                names.append(_unquote(t.text))
            elif t.kind == "IDENT":
                names.append(t.text)
            else:
                raise ValueError(f"expected label name, got {t.text!r}")
            if self.peek().text == ",":
                self.next()
        self.expect(")")
        return names

    def _postfix(self, expr: object) -> object:
        while True:
            t = self.peek()
            if t.text == "[":
                self.next()
                d = self.next()
                if d.kind not in ("DURATION", "NUMBER"):
                    raise ValueError(f"expected duration, got {d.text!r}")
                rng = parse_duration_ms(d.text)
                if self.peek().text == ":":
                    # subquery [range:step] over any expression
                    self.next()
                    step = None
                    if self.peek().text != "]":
                        s = self.next()
                        if s.kind not in ("DURATION", "NUMBER"):
                            raise ValueError(f"expected step, got {s.text!r}")
                        step = parse_duration_ms(s.text)
                    self.expect("]")
                    expr = Subquery(expr, rng, step)
                else:
                    self.expect("]")
                    if not isinstance(expr, VectorSelector):
                        raise ValueError(
                            "range selector requires a vector selector"
                        )
                    expr = RangeSelector(expr, rng)
            elif t.text == "offset":
                self.next()
                sign = 1
                if self.peek().text == "-":  # negative offset (Prometheus 2.x+)
                    self.next()
                    sign = -1
                d = self.next()
                off = sign * parse_duration_ms(d.text)
                target = expr.selector if isinstance(expr, RangeSelector) else expr
                if not isinstance(target, (VectorSelector, Subquery)):
                    raise ValueError("offset requires a selector or subquery")
                target.offset_ms = off
            elif t.text == "@":
                self.next()
                ts = self.next()
                target = expr.selector if isinstance(expr, RangeSelector) else expr
                if not isinstance(target, (VectorSelector, Subquery)):
                    raise ValueError("@ requires a selector or subquery")
                if ts.kind == "IDENT" and ts.text in ("start", "end"):
                    # @ start() / @ end(): resolved against the query range
                    # at compile time (promql @ modifier preprocessing)
                    self.expect("(")
                    self.expect(")")
                    target.at_ms = ts.text
                elif ts.kind == "NUMBER":
                    target.at_ms = int(float(ts.text) * 1000)
                else:
                    raise ValueError(
                        f"@ expects a unix timestamp or start()/end(), got {ts.text!r}"
                    )
            else:
                return expr

    def _atom(self) -> object:
        t = self.peek()
        if t.text == "(":
            self.next()
            e = self.parse_expr()
            self.expect(")")
            return e
        if t.kind == "NUMBER":
            self.next()
            return NumberLiteral(
                float(int(t.text, 16))
                if t.text[:2].lower() == "0x"
                else float(t.text)
            )
        if t.kind == "STRING":
            self.next()
            return StringLiteral(_unquote(t.text))
        if t.kind == "IDENT":
            name = self.next().text
            if name.lower() in ("inf", "nan"):
                # Prometheus lexes inf/nan (any case) as number literals
                return NumberLiteral(float(name))
            if name in AGG_OPS:
                return self._aggregation(name)
            if self.peek().text == "(":
                return self._call(name)
            matchers = self._matchers() if self.peek().text == "{" else []
            return VectorSelector(name, matchers)
        if t.text == "{":
            return VectorSelector(None, self._matchers())
        raise ValueError(f"unexpected token {t.text!r}")

    def _aggregation(self, op: str) -> Aggregation:
        by = without = None
        if self.peek().text in ("by", "without"):
            which = self.next().text
            names = self._grouping_names()
            by, without = (names, None) if which == "by" else (None, names)
        self.expect("(")
        param = None
        first = self.parse_expr()
        if self.peek().text == ",":
            self.next()
            param, first = first, self.parse_expr()
        elif op in _PARAM_AGGS:
            raise ValueError(f"{op} requires a parameter")
        self.expect(")")
        if self.peek().text in ("by", "without"):
            which = self.next().text
            names = self._grouping_names()
            by, without = (names, None) if which == "by" else (None, names)
        return Aggregation(op, first, by=by, without=without, param=param)

    def _call(self, func: str) -> Call:
        # commas between arguments are REQUIRED (prometheus/promql/parser
        # grammar) — a comma-optional loop would silently mis-parse a
        # malformed call like f(a b) as two arguments
        self.expect("(")
        args = []
        if self.peek().text != ")":
            args.append(self.parse_expr())
            while self.peek().text == ",":
                self.next()
                args.append(self.parse_expr())
        self.expect(")")
        return Call(func, args)

    def _matchers(self) -> list[Matcher]:
        self.expect("{")
        out = []
        while self.peek().text != "}":
            name_t = self.next()
            if name_t.kind == "STRING":
                # Prometheus 3 UTF-8 names: quoted label names in
                # matchers, and the bare-quoted sugar {"my.metric"} ≡
                # {__name__="my.metric"}
                name = _unquote(name_t.text)
                if self.peek().text in (",", "}"):
                    out.append(Matcher("__name__", "=", name))
                    if self.peek().text == ",":
                        self.next()
                    continue
            elif name_t.kind == "IDENT":
                name = name_t.text
            else:
                raise ValueError(f"expected label name, got {name_t.text!r}")
            op_t = self.next()
            if op_t.text not in ("=", "!=", "=~", "!~"):
                raise ValueError(f"bad matcher op {op_t.text!r}")
            val_t = self.next()
            if val_t.kind != "STRING":
                raise ValueError(f"expected quoted value, got {val_t.text!r}")
            value = _unquote(val_t.text)
            out.append(Matcher(name, op_t.text, value))
            if self.peek().text == ",":
                self.next()
        self.expect("}")
        return out


def parse(src: str) -> object:
    p = Parser(lex(src))
    expr = p.parse_expr()
    if p.peek().kind != "EOF":
        raise ValueError(f"trailing input at {p.peek().text!r}")
    return expr


def find_min_max_time(
    node, start_ms: int, end_ms: int, lookback_ms: int = 300_000
) -> tuple[int, int]:
    """The absolute sample-time window a query can touch — the
    promql engine.go ``FindMinMaxTime`` analog. Walks the AST carrying the
    evaluation context [s, e] (shifted by subquery range/offset exactly as
    evaluation will shift it), so a layout that can prune on time (the
    chunked tier) scans only this window. Conservative: lookback pads
    range selectors too. ``@ start()/end()`` must be resolved to literal
    timestamps first (the engine preprocesses them before calling this).
    """
    lo: list[int | None] = [None]
    hi: list[int | None] = [None]

    def upd(a: int, b: int) -> None:
        lo[0] = a if lo[0] is None else min(lo[0], a)
        hi[0] = b if hi[0] is None else max(hi[0], b)

    def walk(n, s: int, e: int) -> None:
        if isinstance(n, VectorSelector):
            at = n.at_ms
            s2, e2 = (at, at) if isinstance(at, int) else (s, e)
            off = n.offset_ms or 0
            upd(s2 - off - lookback_ms, e2 - off)
        elif isinstance(n, RangeSelector):
            sel = n.selector
            at = sel.at_ms
            s2, e2 = (at, at) if isinstance(at, int) else (s, e)
            off = sel.offset_ms or 0
            upd(s2 - off - n.range_ms - lookback_ms, e2 - off)
        elif isinstance(n, Subquery):
            at = n.at_ms
            s2, e2 = (at, at) if isinstance(at, int) else (s, e)
            off = n.offset_ms or 0
            walk(n.expr, s2 - off - n.range_ms, e2 - off)
        elif isinstance(n, Call):
            for a in n.args:
                walk(a, s, e)
        elif isinstance(n, Aggregation):
            walk(n.expr, s, e)
            if n.param is not None:
                walk(n.param, s, e)
        elif isinstance(n, BinaryOp):
            walk(n.lhs, s, e)
            walk(n.rhs, s, e)
        elif isinstance(n, Unary):
            walk(n.expr, s, e)
        # literals contribute nothing

    walk(node, start_ms, end_ms)
    if lo[0] is None:  # selector-free expression (pure scalar math)
        return start_ms - lookback_ms, end_ms
    return lo[0], hi[0]


def collect_selectors(node) -> list[VectorSelector]:
    """All VectorSelectors anywhere in the expression, in source order —
    the selector set Prometheus's exemplar API extracts from a query
    (web/api/v1: extractSelectors). Subquery/range/offset context is
    irrelevant to exemplar lookup; only the matchers matter."""
    out: list[VectorSelector] = []

    def walk(n) -> None:
        if isinstance(n, VectorSelector):
            out.append(n)
        elif isinstance(n, RangeSelector):
            walk(n.selector)
        elif isinstance(n, Subquery):
            walk(n.expr)
        elif isinstance(n, Unary):
            walk(n.expr)
        elif isinstance(n, Call):
            for a in n.args:
                walk(a)
        elif isinstance(n, Aggregation):
            walk(n.expr)
            if n.param is not None:
                walk(n.param)
        elif isinstance(n, BinaryOp):
            walk(n.lhs)
            walk(n.rhs)

    walk(node)
    return out
