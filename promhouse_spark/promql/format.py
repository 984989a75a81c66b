"""Canonical PromQL expression rendering (prometheus/promql/parser
printer.go String() semantics): parse(format(parse(x))) ≡ parse(x).

Backs ``/api/v1/format_query`` (Prometheus 3.x serves the prettified
expression; we serve the canonical single-line String() form) and gives
the AST a faithful String() renderer alongside the model renderers in
``promhouse_spark/models.py`` (SURVEY §2 X7).

Parenthesization is precedence-aware, mirroring the parser's table:
``or < and/unless < comparisons < +- < */%/atan2 < unary < ^`` with ^
right-associative — a child binary expression is wrapped exactly when
re-parsing flat would bind it differently.
"""

from __future__ import annotations

import re

from promhouse_spark.promql.parser import (
    _PRECEDENCE,
    Aggregation,
    BinaryOp,
    Call,
    NumberLiteral,
    RangeSelector,
    StringLiteral,
    Subquery,
    Unary,
    VectorSelector,
)

# op → precedence level (higher binds tighter); ^ above unary above */%
_PREC = {op: i for i, ops in enumerate(_PRECEDENCE) for op in ops}
_PREC["^"] = len(_PRECEDENCE) + 1
_UNARY_PREC = len(_PRECEDENCE)

_DURATION_UNITS = [
    ("y", 365 * 24 * 3600 * 1000),
    ("w", 7 * 24 * 3600 * 1000),
    ("d", 24 * 3600 * 1000),
    ("h", 3600 * 1000),
    ("m", 60 * 1000),
    ("s", 1000),
    ("ms", 1),
]


def format_duration_ms(ms: int) -> str:
    """Compact PromQL duration: 5400000 → "1h30m" (model.Duration.String)."""
    if ms == 0:
        return "0s"
    sign = "-" if ms < 0 else ""
    ms = abs(ms)
    parts = []
    for unit, scale in _DURATION_UNITS:
        if ms >= scale:
            n, ms = divmod(ms, scale)
            parts.append(f"{n}{unit}")
    return sign + "".join(parts)


def _number(v: float) -> str:
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "Inf"
    if v == float("-inf"):
        return "-Inf"
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _quote(s: str) -> str:
    out = s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
    return f'"{out}"'


_CLASSIC_LABEL = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*\Z")
_CLASSIC_METRIC = re.compile(r"[a-zA-Z_:][a-zA-Z0-9_:]*\Z")


def _label_key(name: str) -> str:
    """Quote UTF-8 label names (Prometheus 3 syntax); classic names bare."""
    return name if _CLASSIC_LABEL.match(name) else _quote(name)


def _matchers(sel: VectorSelector) -> str:
    ms = [f"{_label_key(m.name)}{m.type.value}{_quote(m.value)}" for m in sel.matchers]
    if sel.name is not None and not _CLASSIC_METRIC.match(sel.name):
        # UTF-8 metric name: the quoted in-braces form {"my.metric", ...}
        ms.insert(0, _quote(sel.name))
        return "{" + ",".join(ms) + "}"
    body = ",".join(ms)
    if sel.name is not None:
        return sel.name + (f"{{{body}}}" if ms else "")
    return f"{{{body}}}"


def _selector_suffix(sel: VectorSelector) -> str:
    out = ""
    if sel.offset_ms:
        out += f" offset {format_duration_ms(sel.offset_ms)}"
    if sel.at_ms is not None:
        if sel.at_ms in ("start", "end"):
            out += f" @ {sel.at_ms}()"
        else:
            out += f" @ {sel.at_ms / 1000:.3f}"
    return out


def _prec_of(node) -> int | None:
    """The binding strength of this node as a binary-expression operand,
    or None for atoms that never need parentheses."""
    if isinstance(node, BinaryOp):
        return _PREC[node.op]
    if isinstance(node, Unary):
        return _UNARY_PREC
    return None


def _operand(node, parent_prec: int, right: bool) -> str:
    s = format_expr(node)
    child = _prec_of(node)
    if child is None:
        return s
    right_assoc = parent_prec == _PREC["^"]
    need = child < parent_prec or (
        child == parent_prec and (right != right_assoc)
    )
    return f"({s})" if need else s


def format_expr(node) -> str:
    if isinstance(node, NumberLiteral):
        return _number(node.value)
    if isinstance(node, StringLiteral):
        return _quote(node.value)
    if isinstance(node, VectorSelector):
        return _matchers(node) + _selector_suffix(node)
    if isinstance(node, RangeSelector):
        sel = node.selector
        return (
            _matchers(sel)
            + f"[{format_duration_ms(node.range_ms)}]"
            + _selector_suffix(sel)
        )
    if isinstance(node, Subquery):
        step = format_duration_ms(node.step_ms) if node.step_ms else ""
        inner = format_expr(node.expr)
        if isinstance(node.expr, (BinaryOp, Unary)):
            # "-m[5m:1m]" would re-parse as Unary(Subquery): [ binds
            # tighter than unary minus
            inner = f"({inner})"
        return (
            f"{inner}[{format_duration_ms(node.range_ms)}:{step}]"
            + _selector_suffix(node)  # offset/@ (duck-typed fields)
        )
    if isinstance(node, Unary):
        inner = format_expr(node.expr)
        child = _prec_of(node.expr)
        if child is not None and child < _UNARY_PREC:
            inner = f"({inner})"
        return f"-{inner}"
    if isinstance(node, Call):
        return f"{node.func}({', '.join(format_expr(a) for a in node.args)})"
    if isinstance(node, Aggregation):
        grouping = ""
        if node.by is not None:
            grouping = f" by ({', '.join(_label_key(n) for n in node.by)})"
        elif node.without is not None:
            grouping = f" without ({', '.join(_label_key(n) for n in node.without)})"
        args = []
        if node.param is not None:
            args.append(format_expr(node.param))
        args.append(format_expr(node.expr))
        sep = " " if grouping else ""
        return f"{node.op}{grouping}{sep}({', '.join(args)})"
    if isinstance(node, BinaryOp):
        prec = _PREC[node.op]
        mods = ""
        if node.bool_mode:
            mods += " bool"
        if node.on is not None:
            mods += f" on({', '.join(_label_key(n) for n in node.on)})"
        elif node.ignoring is not None:
            mods += f" ignoring({', '.join(_label_key(n) for n in node.ignoring)})"
        # Go's printer always renders the include parens ("group_left()"):
        # a bare "group_left" followed by a parenthesized operand would
        # re-parse the operand's "(" as the include-label list
        if node.card == "many_to_one":
            mods += f" group_left({', '.join(node.include)})"
        elif node.card == "one_to_many":
            mods += f" group_right({', '.join(node.include)})"
        lhs = _operand(node.lhs, prec, right=False)
        rhs = _operand(node.rhs, prec, right=True)
        return f"{lhs} {node.op}{mods} {rhs}"
    raise ValueError(f"cannot format {type(node).__name__}")


def ast_json(node) -> dict:
    """Structural JSON of the AST for /api/v1/parse_query (the engine's
    own node shapes; Prometheus's experimental endpoint similarly exposes
    its parser's AST)."""
    if isinstance(node, NumberLiteral):
        return {"type": "numberLiteral", "val": _number(node.value)}
    if isinstance(node, StringLiteral):
        return {"type": "stringLiteral", "val": node.value}
    if isinstance(node, VectorSelector):
        return {
            "type": "vectorSelector",
            "name": node.name or "",
            "matchers": [
                {"name": m.name, "type": m.type.value, "value": m.value}
                for m in node.matchers
            ],
            "offset": node.offset_ms,
            "timestamp": None if node.at_ms in ("start", "end") else node.at_ms,
            "startOrEnd": node.at_ms if node.at_ms in ("start", "end") else None,
        }
    if isinstance(node, RangeSelector):
        out = ast_json(node.selector)
        return {"type": "matrixSelector", "range": node.range_ms, "vectorSelector": out}
    if isinstance(node, Subquery):
        return {
            "type": "subquery",
            "expr": ast_json(node.expr),
            "range": node.range_ms,
            "step": node.step_ms or 0,
            "offset": node.offset_ms,
            "timestamp": None if node.at_ms in ("start", "end") else node.at_ms,
            "startOrEnd": node.at_ms if node.at_ms in ("start", "end") else None,
        }
    if isinstance(node, Unary):
        return {"type": "unaryExpr", "op": "-", "expr": ast_json(node.expr)}
    if isinstance(node, Call):
        return {
            "type": "call",
            "func": {"name": node.func},
            "args": [ast_json(a) for a in node.args],
        }
    if isinstance(node, Aggregation):
        return {
            "type": "aggregation",
            "op": node.op,
            "expr": ast_json(node.expr),
            "param": ast_json(node.param) if node.param is not None else None,
            "grouping": node.by or node.without or [],
            "without": node.without is not None,
        }
    if isinstance(node, BinaryOp):
        return {
            "type": "binaryExpr",
            "op": node.op,
            "lhs": ast_json(node.lhs),
            "rhs": ast_json(node.rhs),
            "bool": node.bool_mode,
            "matching": {
                "card": node.card,
                "labels": node.on or node.ignoring or [],
                "on": node.on is not None,
                "include": node.include,
            },
        }
    raise ValueError(f"cannot serialize {type(node).__name__}")
