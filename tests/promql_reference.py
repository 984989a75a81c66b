"""Independent pure-Python PromQL reference evaluator for differential
testing of promhouse_spark/promql/engine.py.

Implements prometheus/promql engine.go + functions.go semantics directly
from the public algorithm descriptions — instant-selector lookback,
(t-range, t] range windows, extrapolatedRate with the counter
zero-crossing clamp, vector matching with on/ignoring and group_left,
IEEE float semantics (x/0 → ±Inf, 0/0 → NaN, NaN-false comparisons) —
over plain Python lists, with none of the engine's Spark machinery, so a
disagreement localizes a bug in the compiled plan (or here; either way a
real finding).

The evaluator consumes the SAME parsed AST as the engine
(promhouse_spark/promql/parser.py) — the parser itself is covered by the
property-based formatter round-trip — and produces
{(sorted labelitems, eval_ms): value} for vector-typed expressions.
"""

from __future__ import annotations

import math
import re

from promhouse_spark.promql.parser import (
    Aggregation,
    BinaryOp,
    Call,
    NumberLiteral,
    RangeSelector,
    StringLiteral,
    Subquery,
    Unary,
    VectorSelector,
    parse,
)

NAME = "__name__"


class RefSeries:
    def __init__(self, labels: dict, samples: list[tuple[int, float]]):
        self.labels = dict(labels)
        self.samples = sorted(samples)  # [(ts_ms, value)]


# ---------------------------------------------------------------- helpers


def _ieee_div(l: float, r: float) -> float:
    if r == 0:
        if l == 0 or math.isnan(l):
            return math.nan
        return math.inf if (l > 0) == (math.copysign(1.0, r) > 0) else -math.inf
    return l / r


def _ieee_mod(l: float, r: float) -> float:
    if r == 0 or math.isnan(l) or math.isnan(r) or math.isinf(l):
        return math.nan
    if math.isinf(r):
        return l
    return math.fmod(l, r)  # Go math.Mod truncates toward zero, like fmod


_ARITH = {
    "+": lambda l, r: l + r,
    "-": lambda l, r: l - r,
    "*": lambda l, r: l * r,
    "/": _ieee_div,
    "%": _ieee_mod,
    "^": lambda l, r: _go_pow(l, r),
    "atan2": math.atan2,
}

_CMP = {
    "==": lambda l, r: l == r,
    "!=": lambda l, r: l != r,
    ">": lambda l, r: l > r,
    "<": lambda l, r: l < r,
    ">=": lambda l, r: l >= r,
    "<=": lambda l, r: l <= r,
}


def _go_pow(l: float, r: float) -> float:
    # Go math.Pow: 1^y = 1 and x^0 = 1 even for NaN operands
    if l == 1 or r == 0:
        return 1.0
    if math.isnan(l) or math.isnan(r):
        return math.nan
    try:
        v = math.pow(l, r)
    except (OverflowError, ValueError):
        if l < 0 and not float(r).is_integer():
            return math.nan
        v = math.inf
    return v


def _quantile(q: float, vals: list[float]) -> float:
    """promql/quantile.go quantile(): linear interpolation on sorted
    values; q outside [0,1] → ±Inf, NaN → NaN."""
    if math.isnan(q):
        return math.nan
    if not vals:
        return math.nan
    if q < 0:
        return -math.inf
    if q > 1:
        return math.inf
    s = sorted(vals)
    n = len(s)
    rank = q * (n - 1)
    lo = int(math.floor(rank))
    hi = min(n - 1, lo + 1)
    weight = rank - lo
    return s[lo] * (1 - weight) + s[hi] * weight


def _fmt_f(v: float) -> str:
    """strconv.FormatFloat(v, 'f', -1, 64) — count_values label values."""
    if math.isnan(v):
        return "NaN"
    if v == math.inf:
        return "+Inf"
    if v == -math.inf:
        return "-Inf"
    if v == 0:
        return "-0" if math.copysign(1.0, v) < 0 else "0"
    if v == int(v) and abs(v) < 2**53:
        return str(int(v))
    from decimal import Decimal

    out = format(Decimal(repr(v)), "f")
    return out[:-2] if out.endswith(".0") else out


# ------------------------------------------------------------- evaluator


class RefEval:
    def __init__(
        self,
        series: list[RefSeries],
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int = 300_000,
    ):
        self.series = series
        self.grid = list(range(start_ms, end_ms + 1, step_ms))
        self.start_ms, self.end_ms, self.step_ms = start_ms, end_ms, step_ms
        self.lookback_ms = lookback_ms

    # --- selectors

    def _match(self, sel: VectorSelector) -> list[RefSeries]:
        out = []
        for s in self.series:
            ok = True
            if sel.name is not None and s.labels.get(NAME) != sel.name:
                continue
            for m in sel.matchers:
                v = s.labels.get(m.name, "")
                if m.type.value == "=":
                    ok = v == m.value
                elif m.type.value == "!=":
                    ok = v != m.value
                elif m.type.value == "=~":
                    ok = re.fullmatch(m.value, v) is not None
                elif m.type.value == "!~":
                    ok = re.fullmatch(m.value, v) is None
                if not ok:
                    break
            if ok:
                out.append(s)
        return out

    def _sel_time(self, t: int, offset_ms: int, at_ms) -> int:
        if at_ms == "start":
            at_ms = self.start_ms
        elif at_ms == "end":
            at_ms = self.end_ms
        base = t if at_ms is None else int(at_ms)
        return base - (offset_ms or 0)

    def _instant(self, sel: VectorSelector) -> dict:
        """(labelitems, eval_ms) → value with the lookback window."""
        out = {}
        for s in self._match(sel):
            key = tuple(sorted(s.labels.items()))
            for t in self.grid:
                te = self._sel_time(t, sel.offset_ms, sel.at_ms)
                best = None
                for ts, v in s.samples:
                    if te - self.lookback_ms <= ts <= te:
                        best = v
                    elif ts > te:
                        break
                if best is not None:
                    out[(key, t)] = best
        return out

    def _range_points(self, node: RangeSelector):
        """Per (labelitems, eval_ms): list of (ts, value) in (t-r, t]."""
        sel = node.selector
        out = {}
        for s in self._match(sel):
            key = tuple(sorted(s.labels.items()))
            for t in self.grid:
                te = self._sel_time(t, sel.offset_ms, sel.at_ms)
                pts = [
                    (ts, v)
                    for ts, v in s.samples
                    if te - node.range_ms < ts <= te
                ]
                if pts:
                    out[(key, t)] = pts
        return out

    def _subquery_points(self, node: Subquery):
        """Evaluate the inner expression on the epoch-aligned inner grid,
        then slice (t-r, t] per outer eval — promql subquery semantics."""
        step = node.step_ms or 60_000
        inner_times: set[int] = set()
        windows = {}
        for t in self.grid:
            te = self._sel_time(t, node.offset_ms, node.at_ms)
            last = (te // step) * step
            first = ((te - node.range_ms) // step) * step
            while first <= te - node.range_ms:
                first += step
            ts_list = list(range(first, last + 1, step)) if first <= last else []
            windows[t] = ts_list
            inner_times.update(ts_list)
        if not inner_times:
            return {}
        inner_sorted = sorted(inner_times)
        sub = RefEval(
            self.series,
            inner_sorted[0],
            inner_sorted[0],
            1,
            self.lookback_ms,
        )
        sub.grid = inner_sorted
        sub.step_ms = step
        inner = sub.eval_vector(node.expr)
        out = {}
        for (key, its), v in inner.items():
            for t, ts_list in windows.items():
                if its in ts_list:
                    out.setdefault((key, t), []).append((its, v))
        for pts in out.values():
            pts.sort()
        return out

    # --- range functions (functions.go)

    def _extrapolated(self, pts, range_ms, te, is_counter, is_rate):
        if len(pts) < 2:
            return None
        range_start, range_end = te - range_ms, te
        first_ts, first_v = pts[0]
        last_ts, last_v = pts[-1]
        result = last_v - first_v
        if is_counter:
            prev = first_v
            for _, v in pts:
                if v < prev:
                    result += prev
                prev = v
        duration_to_start = (first_ts - range_start) / 1000.0
        duration_to_end = (range_end - last_ts) / 1000.0
        sampled = (last_ts - first_ts) / 1000.0
        avg_between = sampled / (len(pts) - 1)
        if is_counter and result > 0 and first_v >= 0:
            duration_to_zero = sampled * (first_v / result)
            if duration_to_zero < duration_to_start:
                duration_to_start = duration_to_zero
        threshold = avg_between * 1.1
        extrap = sampled
        extrap += duration_to_start if duration_to_start < threshold else avg_between / 2
        extrap += duration_to_end if duration_to_end < threshold else avg_between / 2
        factor = extrap / sampled
        if is_rate:
            factor /= range_ms / 1000.0
        return result * factor

    def _linreg(self, pts, intercept_ts_ms):
        n = float(len(pts))
        sx = sy = sxy = sx2 = 0.0
        for ts, v in pts:
            x = (ts - intercept_ts_ms) / 1000.0
            sx += x
            sy += v
            sxy += x * v
            sx2 += x * x
        cov = sxy - sx * sy / n
        var = sx2 - sx * sx / n
        if var == 0:
            return None, None
        slope = cov / var
        return slope, sy / n - slope * sx / n

    def _range_func(self, func: str, node, param=None):
        if isinstance(node, RangeSelector):
            windows = self._range_points(node)
            range_ms = node.range_ms
            sel_off, sel_at = node.selector.offset_ms, node.selector.at_ms
        else:
            windows = self._subquery_points(node)
            range_ms = node.range_ms
            sel_off, sel_at = node.offset_ms, node.at_ms
        out = {}
        for (key, t), pts in windows.items():
            te = self._sel_time(t, sel_off, sel_at)
            vals = [v for _, v in pts]
            v = None
            if func in ("rate", "increase", "delta"):
                v = self._extrapolated(
                    pts, range_ms, te,
                    is_counter=func != "delta",
                    is_rate=func == "rate",
                )
            elif func in ("irate", "idelta"):
                if len(pts) >= 2:
                    (t0, v0), (t1, v1) = pts[-2], pts[-1]
                    d = v1 - v0
                    if func == "irate":
                        if v1 < v0:
                            d = v1
                        v = _ieee_div(d, (t1 - t0) / 1000.0)
                    else:
                        v = d
            elif func == "resets":
                v = float(
                    sum(1 for a, b in zip(vals, vals[1:]) if b < a)
                )
            elif func == "changes":
                v = float(
                    sum(
                        1
                        for a, b in zip(vals, vals[1:])
                        if b != a and not (math.isnan(a) and math.isnan(b))
                    )
                )
            elif func == "deriv":
                if len(pts) >= 2:
                    v, _ = self._linreg(pts, pts[0][0])
            elif func == "predict_linear":
                if len(pts) >= 2:
                    slope, intercept = self._linreg(pts, te)
                    if slope is not None:
                        v = intercept + slope * param
            elif func == "avg_over_time":
                v = _nan_or(vals, lambda xs: sum(xs) / len(xs))
            elif func == "sum_over_time":
                v = _nan_or(vals, sum)
            elif func == "min_over_time":
                v = _nan_or(vals, min_ieee)
            elif func == "max_over_time":
                v = _nan_or(vals, max_ieee)
            elif func == "count_over_time":
                v = float(len(vals))
            elif func == "last_over_time":
                v = vals[-1]
            elif func == "present_over_time":
                v = 1.0
            elif func == "stddev_over_time":
                v = _popstd(vals)
            elif func == "stdvar_over_time":
                v = _popvar(vals)
            elif func == "quantile_over_time":
                v = _quantile(param, vals)
            elif func == "mad_over_time":
                med = _quantile(0.5, vals)
                v = _quantile(0.5, [abs(x - med) for x in vals])
            elif func == "timestamp":  # handled elsewhere; not a range fn
                raise AssertionError
            else:
                raise ValueError(f"reference: unsupported range fn {func}")
            if v is None:
                continue
            out[(key, t)] = v
        if func != "last_over_time":
            out = _drop_name_keys(out)
        return out

    # --- vector evaluation

    def eval_vector(self, node) -> dict:
        if isinstance(node, str):
            node = parse(node)
        if isinstance(node, VectorSelector):
            return self._instant(node)
        if isinstance(node, Unary):
            if self._is_scalar(node.expr):
                raise ValueError("reference: scalar-typed; use eval_scalar")
            inner = self.eval_vector(node.expr)
            return _drop_name_keys(
                {k: (-v if node.op == "-" else v) for k, v in inner.items()}
            )
        if isinstance(node, Call):
            return self._call(node)
        if isinstance(node, Aggregation):
            return self._agg(node)
        if isinstance(node, BinaryOp):
            return self._binop(node)
        raise ValueError(f"reference: cannot evaluate {type(node).__name__}")

    def _is_scalar(self, node) -> bool:
        if isinstance(node, NumberLiteral):
            return True
        if isinstance(node, Unary):
            return self._is_scalar(node.expr)
        if isinstance(node, Call):
            return node.func in ("scalar", "pi", "time")
        if isinstance(node, BinaryOp):
            return self._is_scalar(node.lhs) and self._is_scalar(node.rhs)
        return False

    def eval_scalar(self, node) -> dict[int, float]:
        """eval_ms → value for a scalar-typed expression."""
        if isinstance(node, str):
            node = parse(node)
        if isinstance(node, NumberLiteral):
            return {t: float(node.value) for t in self.grid}
        if isinstance(node, Unary):
            return {
                t: (-v if node.op == "-" else v)
                for t, v in self.eval_scalar(node.expr).items()
            }
        if isinstance(node, Call):
            if node.func == "pi":
                return {t: math.pi for t in self.grid}
            if node.func == "time":
                return {t: t / 1000.0 for t in self.grid}
            if node.func == "scalar":
                vec = self.eval_vector(node.args[0])
                by_t: dict[int, list[float]] = {}
                for (_, t), v in vec.items():
                    by_t.setdefault(t, []).append(v)
                return {
                    t: (by_t[t][0] if len(by_t.get(t, [])) == 1 else math.nan)
                    for t in self.grid
                }
        if isinstance(node, BinaryOp):
            l = self.eval_scalar(node.lhs)
            r = self.eval_scalar(node.rhs)
            if node.op in _CMP:
                if not node.bool_mode:
                    raise ValueError("scalar comparison needs bool")
                return {
                    t: float(_cmp_ieee(node.op, l[t], r[t]))
                    for t in self.grid
                }
            return {t: _ARITH[node.op](l[t], r[t]) for t in self.grid}
        raise ValueError("reference: not scalar-typed")

    _SIMPLE_FNS = {
        "abs": abs,
        "ceil": math.ceil,
        "floor": math.floor,
        "exp": math.exp,
        "sqrt": lambda v: math.sqrt(v) if v >= 0 else math.nan,
        "ln": lambda v: math.log(v) if v > 0 else (-math.inf if v == 0 else math.nan),
        "log2": lambda v: math.log2(v) if v > 0 else (-math.inf if v == 0 else math.nan),
        "log10": lambda v: math.log10(v) if v > 0 else (-math.inf if v == 0 else math.nan),
        "sgn": lambda v: math.nan if math.isnan(v) else float((v > 0) - (v < 0)),
        "deg": math.degrees,
        "rad": math.radians,
        "sin": math.sin,
        "cos": math.cos,
        "tan": math.tan,
        "asin": lambda v: math.asin(v) if -1 <= v <= 1 else math.nan,
        "acos": lambda v: math.acos(v) if -1 <= v <= 1 else math.nan,
        "atan": math.atan,
        "sinh": math.sinh,
        "cosh": math.cosh,
        "tanh": math.tanh,
    }

    def _call(self, node: Call) -> dict:
        f = node.func
        if f in self._SIMPLE_FNS:
            fn = self._SIMPLE_FNS[f]
            inner = self.eval_vector(node.args[0])
            out = {}
            for k, v in inner.items():
                if math.isnan(v) and f in ("ceil", "floor", "abs"):
                    out[k] = math.nan
                    continue
                try:
                    out[k] = float(fn(v))
                except (ValueError, OverflowError):
                    out[k] = math.nan
            return _drop_name_keys(out)
        if f in ("clamp", "clamp_min", "clamp_max"):
            inner = self.eval_vector(node.args[0])
            if f == "clamp":
                lo = float(node.args[1].value)
                hi = float(node.args[2].value)
                if lo > hi:
                    return {}
                return _drop_name_keys(
                    {k: min(max(v, lo), hi) for k, v in inner.items()}
                )
            bound = float(node.args[1].value)
            op = max if f == "clamp_min" else min
            return _drop_name_keys(
                {k: op(v, bound) for k, v in inner.items()}
            )
        if f == "round":
            inner = self.eval_vector(node.args[0])
            to = float(node.args[1].value) if len(node.args) > 1 else 1.0
            out = {}
            for k, v in inner.items():
                if math.isnan(v) or math.isinf(v):
                    out[k] = v
                else:
                    # functions.go: math.Floor(v/to + 0.5) * to
                    out[k] = math.floor(v / to + 0.5) * to
            return _drop_name_keys(out)
        if f == "vector":
            sc = self.eval_scalar(node.args[0])
            return {((), t): v for t, v in sc.items()}
        if f == "timestamp":
            sel = node.args[0]
            if not isinstance(sel, VectorSelector):
                raise ValueError("reference: timestamp needs a selector")
            out = {}
            for s in self._match(sel):
                key = tuple(sorted(s.labels.items()))
                for t in self.grid:
                    te = self._sel_time(t, sel.offset_ms, sel.at_ms)
                    best = None
                    for ts, _v in s.samples:
                        if te - self.lookback_ms <= ts <= te:
                            best = ts
                        elif ts > te:
                            break
                    if best is not None:
                        out[(key, t)] = best / 1000.0
            return _drop_name_keys(out)
        if f in (
            "rate", "increase", "delta", "irate", "idelta", "resets",
            "changes", "deriv", "avg_over_time", "sum_over_time",
            "min_over_time", "max_over_time", "count_over_time",
            "last_over_time", "present_over_time", "stddev_over_time",
            "stdvar_over_time", "mad_over_time",
        ):
            return self._range_func(f, node.args[0])
        if f == "quantile_over_time":
            return self._range_func(
                f, node.args[1], param=float(node.args[0].value)
            )
        if f == "predict_linear":
            return self._range_func(
                f, node.args[0], param=float(node.args[1].value)
            )
        if f in ("label_replace", "label_join"):
            inner = self.eval_vector(node.args[0])
            out = {}
            if f == "label_replace":
                dst, repl, src, regex = [a.value for a in node.args[1:5]]
                pat = re.compile(regex)
                for (key, t), v in inner.items():
                    labels = dict(key)
                    m = pat.fullmatch(labels.get(src, ""))
                    if m:
                        val = m.expand(
                            re.sub(r"\$(\d+|\{\d+\})", _dollar_to_backslash, repl)
                        ) if "$" in repl else repl
                        if val:
                            labels[dst] = val
                        else:
                            labels.pop(dst, None)
                    out[(tuple(sorted(labels.items())), t)] = v
            else:
                dst, sep = node.args[1].value, node.args[2].value
                srcs = [a.value for a in node.args[3:]]
                for (key, t), v in inner.items():
                    labels = dict(key)
                    val = sep.join(labels.get(s, "") for s in srcs)
                    if val:
                        labels[dst] = val
                    else:
                        labels.pop(dst, None)
                    out[(tuple(sorted(labels.items())), t)] = v
            return out
        if f in ("sort", "sort_desc"):
            return self.eval_vector(node.args[0])  # order-insensitive compare
        if f == "absent":
            sel = node.args[0]
            inner = self.eval_vector(sel)
            key = _absent_labels(sel)
            present = {t for (_, t) in inner}
            return {(key, t): 1.0 for t in self.grid if t not in present}
        if f == "absent_over_time":
            rng_node = node.args[0]
            sel = (
                rng_node.selector
                if isinstance(rng_node, RangeSelector)
                else rng_node.expr
            )
            windows = (
                self._range_points(rng_node)
                if isinstance(rng_node, RangeSelector)
                else self._subquery_points(rng_node)
            )
            key = _absent_labels(sel) if isinstance(sel, VectorSelector) else ()
            present = {t for (_, t) in windows}
            return {(key, t): 1.0 for t in self.grid if t not in present}
        if f == "histogram_quantile":
            q = float(node.args[0].value)
            inner = self.eval_vector(node.args[1])
            groups: dict[tuple, list[tuple[float, float]]] = {}
            for (key, t), v in inner.items():
                labels = dict(key)
                le_s = labels.pop("le", None)
                labels.pop(NAME, None)
                if le_s is None:
                    continue
                try:
                    le = float(le_s.replace("+Inf", "inf"))
                except ValueError:
                    continue
                gk = tuple(sorted(labels.items()))
                groups.setdefault((gk, t), []).append((le, v))
            return {
                kt: _bucket_quantile(q, buckets)
                for kt, buckets in groups.items()
                if _bucket_quantile(q, buckets) is not None
            }
        raise ValueError(f"reference: unsupported function {f}")

    def _agg(self, node: Aggregation) -> dict:
        inner = self.eval_vector(node.expr)
        op = node.op

        def group_key(key: tuple) -> tuple:
            labels = dict(key)
            if node.by is not None:
                kept = {k: labels[k] for k in node.by if k in labels}
            elif node.without is not None:
                kept = {
                    k: v
                    for k, v in labels.items()
                    if k not in node.without and k != NAME
                }
            else:
                kept = {}
            return tuple(sorted(kept.items()))

        groups: dict[tuple, list[tuple[tuple, float]]] = {}
        for (key, t), v in inner.items():
            groups.setdefault((group_key(key), t), []).append((key, v))

        out = {}
        if op in ("topk", "bottomk"):
            k = int(self.eval_scalar(node.param)[self.grid[0]])
            for (_gk, t), members in groups.items():
                # NaN sorts last in both directions (promql heap)
                def rank(item):
                    v = item[1]
                    return (math.isnan(v), -v if op == "topk" else v)

                for key, v in sorted(members, key=rank)[: max(k, 0)]:
                    out[(key, t)] = v
            return out
        if op == "count_values":
            label = node.param.value
            counts: dict[tuple, int] = {}
            for (key, t), v in inner.items():
                labels = dict(group_key(key))
                labels[label] = _fmt_f(v)
                counts[(tuple(sorted(labels.items())), t)] = (
                    counts.get((tuple(sorted(labels.items())), t), 0) + 1
                )
            return {k: float(c) for k, c in counts.items()}
        q = (
            self.eval_scalar(node.param)[self.grid[0]]
            if op == "quantile"
            else None
        )
        for (gk, t), members in groups.items():
            vals = [v for _, v in members]
            if op == "sum":
                v = sum(vals)
            elif op == "avg":
                v = sum(vals) / len(vals)
            elif op == "min":
                v = min_ieee(vals)
            elif op == "max":
                v = max_ieee(vals)
            elif op == "count":
                v = float(len(vals))
            elif op == "group":
                v = 1.0
            elif op == "stddev":
                v = _popstd(vals)
            elif op == "stdvar":
                v = _popvar(vals)
            elif op == "quantile":
                v = _quantile(q, vals)
            else:
                raise ValueError(f"reference: unsupported aggregation {op}")
            out[(gk, t)] = v
        return out

    def _binop(self, node: BinaryOp) -> dict:
        l_scalar = self._is_scalar(node.lhs)
        r_scalar = self._is_scalar(node.rhs)
        is_cmp = node.op in _CMP
        if node.op in ("and", "or", "unless"):
            lhs = self.eval_vector(node.lhs)
            rhs = self.eval_vector(node.rhs)
            lk = {
                (self._mkey(key, node), t)
                for (key, t) in lhs
            }
            rk = {
                (self._mkey(key, node), t)
                for (key, t) in rhs
            }
            if node.op == "and":
                return {
                    kt: v
                    for kt, v in lhs.items()
                    if (self._mkey(kt[0], node), kt[1]) in rk
                }
            if node.op == "unless":
                return {
                    kt: v
                    for kt, v in lhs.items()
                    if (self._mkey(kt[0], node), kt[1]) not in rk
                }
            out = dict(lhs)
            for kt, v in rhs.items():
                if (self._mkey(kt[0], node), kt[1]) not in lk:
                    out[kt] = v
            return out
        if l_scalar and r_scalar:
            raise ValueError("reference: scalar-typed; use eval_scalar")
        if l_scalar or r_scalar:
            sc = self.eval_scalar(node.lhs if l_scalar else node.rhs)
            vec = self.eval_vector(node.rhs if l_scalar else node.lhs)
            out = {}
            for (key, t), v in vec.items():
                s = sc.get(t)
                if s is None:
                    continue
                l, r = (s, v) if l_scalar else (v, s)
                if is_cmp:
                    keep = _cmp_ieee(node.op, l, r)
                    if node.bool_mode:
                        out[(_drop_name(key), t)] = float(keep)
                    elif keep:
                        out[(key, t)] = v
                else:
                    out[(_drop_name(key), t)] = _ARITH[node.op](l, r)
            return out
        lhs = self.eval_vector(node.lhs)
        rhs = self.eval_vector(node.rhs)
        # engine.go VectorBinop: for one_to_many, swap sides so "lhs" is
        # always the many side; operand order is un-swapped for the op
        swapped = node.card == "one_to_many"
        if swapped:
            lhs, rhs = rhs, lhs
        # the "one" side indexed by match key; duplicates error
        rindex: dict[tuple, tuple[tuple, float]] = {}
        for (key, t), v in rhs.items():
            mk = (self._mkey(key, node), t)
            if mk in rindex:
                raise ValueError(
                    "found duplicate series for the match group"
                )
            rindex[mk] = (key, v)
        out = {}
        matched_sigs: dict[tuple, set] = {}
        for (key, t), v in lhs.items():
            mk = (self._mkey(key, node), t)
            if mk not in rindex:
                continue
            okey, ov = rindex[mk]
            l, r = (ov, v) if swapped else (v, ov)  # original operand order
            if is_cmp:
                keep = _cmp_ieee(node.op, l, r)
                if node.bool_mode:
                    value = float(keep)
                elif not keep:
                    continue
                else:
                    value = l  # vectorElemBinop returns the LEFT operand
            else:
                value = _ARITH[node.op](l, r)
            result_key = self._result_labels(key, okey, node, is_cmp)
            # duplicate detection AFTER the filter drop (engine.go order)
            if node.card == "one_to_one":
                if mk in matched_sigs:
                    raise ValueError(
                        "multiple matches for labels: many-to-one matching "
                        "must be explicit (group_left/group_right)"
                    )
                matched_sigs[mk] = set()
            else:
                inserted = matched_sigs.setdefault(mk, set())
                if result_key in inserted:
                    raise ValueError(
                        "multiple matches for labels: grouping labels must "
                        "ensure unique matches"
                    )
                inserted.add(result_key)
                if (result_key, t) in out:
                    # cross-group result collision: Prometheus catches this
                    # at the evaluation level
                    raise ValueError(
                        "vector cannot contain metrics with the same labelset"
                    )
            out[(result_key, t)] = value
        return out

    def _mkey(self, key: tuple, node) -> tuple:
        labels = dict(key)
        if node.on is not None:
            kept = {k: labels[k] for k in node.on if k in labels}
        else:
            ign = set(node.ignoring or ()) | {NAME}
            kept = {k: v for k, v in labels.items() if k not in ign}
        return tuple(sorted(kept.items()))

    def _result_labels(self, many_key, one_key, node, is_cmp) -> tuple:
        """engine.go resultMetric: start from the many side's labels; drop
        __name__ for arithmetic ops and bool comparisons; one_to_one
        reduces to on() / drops ignoring(); grouped matches copy include
        labels from the one side (absent → deleted)."""
        labels = dict(many_key)
        if (not is_cmp) or node.bool_mode:
            labels.pop(NAME, None)
        if node.card == "one_to_one":
            if node.on is not None:
                labels = {k: labels[k] for k in node.on if k in labels}
            else:
                for k in node.ignoring or ():
                    labels.pop(k, None)
        else:
            one = dict(one_key)
            for k in node.include or ():
                if k in one:
                    labels[k] = one[k]
                else:
                    labels.pop(k, None)
        return tuple(sorted(labels.items()))


def _cmp_ieee(op: str, l: float, r: float) -> bool:
    if math.isnan(l) or math.isnan(r):
        return op == "!="  # NaN != x is true; every other comparison false
    return _CMP[op](l, r)


def _drop_name(key: tuple) -> tuple:
    return tuple((k, v) for k, v in key if k != NAME)


def _drop_name_keys(d: dict) -> dict:
    return {(_drop_name(k), t): v for (k, t), v in d.items()}


def _nan_or(vals, fn):
    return fn(vals)


def min_ieee(vals):
    # Go fold: NaN never wins unless every sample is NaN
    nums = [v for v in vals if not math.isnan(v)]
    return min(nums) if nums else math.nan


def max_ieee(vals):
    nums = [v for v in vals if not math.isnan(v)]
    return max(nums) if nums else math.nan


def _popvar(vals):
    mean = sum(vals) / len(vals)
    return sum((v - mean) ** 2 for v in vals) / len(vals)


def _popstd(vals):
    return math.sqrt(_popvar(vals))


def _dollar_to_backslash(m: re.Match) -> str:
    g = m.group(1)
    return "\\" + g.strip("{}")


def _absent_labels(sel) -> tuple:
    """createLabelsForAbsentFunction: equality matchers (except __name__,
    except empty values) become the absent vector's labels."""
    if not isinstance(sel, VectorSelector):
        return ()
    return tuple(
        sorted(
            (m.name, m.value)
            for m in sel.matchers
            if m.type.value == "=" and m.name != NAME and m.value != ""
        )
    )


def _bucket_quantile(q: float, buckets: list[tuple[float, float]]):
    """promql/quantile.go bucketQuantile over classic cumulative buckets
    [(le, count)]; returns None when the series should be skipped (no
    buckets), NaN/±Inf per the Go code otherwise."""
    if not buckets:
        return None
    if math.isnan(q):
        return math.nan
    if q < 0:
        return -math.inf
    if q > 1:
        return math.inf
    b = sorted(buckets)
    if not math.isinf(b[-1][0]):
        return math.nan
    # ensureMonotonic: clamp cumulative counts upward
    fixed, prev = [], -math.inf
    for le, c in b:
        if c < prev:
            c = prev
        fixed.append((le, c))
        prev = c
    b = fixed
    if len(b) < 2:
        return math.nan
    observations = b[-1][1]
    if observations == 0:
        return math.nan
    rank = q * observations
    idx = len(b) - 1
    for i in range(len(b) - 1):
        if b[i][1] >= rank:
            idx = i
            break
    if idx == len(b) - 1:
        return b[-2][0]
    if idx == 0 and b[0][0] <= 0:
        return b[0][0]
    bucket_start, bucket_end, count = 0.0, b[idx][0], b[idx][1]
    if idx > 0:
        bucket_start = b[idx - 1][0]
        count -= b[idx - 1][1]
        rank -= b[idx - 1][1]
    return bucket_start + (bucket_end - bucket_start) * (rank / count)
