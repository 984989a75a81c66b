"""Prometheus rules unit testing — the ``promtool test rules`` workflow
run against the Spark PromQL engine (beyond-reference; semantics follow
prometheus/cmd/promtool/unittest.go).

A test file declares synthetic series with promtool's expanding-notation
values, then asserts instant-query results (``promql_expr_test``) and
firing alerts (``alert_rule_test``) at given evaluation times. Series
start at epoch 0 and advance by the test group's ``interval``.

Supported value notation (promtool's): literal numbers (``Inf``/``-Inf``/
``NaN`` included), ``_`` for a missing scrape, ``a+bxn`` / ``a-bxn``
expanding to the n+1 samples a, a±b, …, a±n·b, and ``axn`` repeating a
for n+1 samples. ``stale`` is treated as a missing scrape (the engine
models staleness by lookback, not marker samples). Native-histogram
literals ``{{schema:… sum:… count:… z_bucket:… z_bucket_w:…
buckets:[…] offset:… n_buckets:[…] n_offset:…}}`` are supported with
plain ``x n`` repetition (promtool's additive ``{{…}}+{{…}}xn`` form is
not).

Alert annotations expand ``{{ $labels.<name> }}`` and ``{{ $value }}``
(promql/templates.py) against each firing alert; other Go-template
constructs (pipelines, humanize, printf) stay verbatim — the documented
divergence.
"""

from __future__ import annotations

import math
import os

from promhouse_spark.models import MatchType
from promhouse_spark.promql.templates import (
    expand_annotations,
    format_template_value,
)
from promhouse_spark.promql.parser import (
    VectorSelector,
    parse,
    parse_duration_ms,
)

_DEFAULT_INTERVAL = "1m"
_LOOKBACK_MS = 300_000


def _parse_hist_literal(tok: str):
    """One promtool native-histogram literal ``{{schema:0 sum:10 count:6
    z_bucket:1 z_bucket_w:0.25 buckets:[2 3] offset:1 n_buckets:[...]
    n_offset:...}}`` → models.NativeHistogram. Bucket position k carries
    absolute index offset+k (the single-span convention, matching the
    prompb span expansion)."""
    import re as _re

    from promhouse_spark.models import NativeHistogram

    body = tok[2:-2].strip()
    fields = dict(_re.findall(r"(\w+):(\[[^\]]*\]|\S+)", body))

    def arr(key: str) -> list[float]:
        raw = fields.get(key, "[]").strip("[]")
        return [float(x) for x in raw.split()] if raw else []

    pos_off = int(fields.get("offset", 0))
    neg_off = int(fields.get("n_offset", 0))
    return NativeHistogram(
        timestamp_ms=0,
        count=float(fields.get("count", 0)),
        sum=float(fields.get("sum", 0)),
        schema=int(fields.get("schema", 0)),
        zero_threshold=float(fields.get("z_bucket_w", 0)),
        zero_count=float(fields.get("z_bucket", 0)),
        positive=[
            (pos_off + k, c) for k, c in enumerate(arr("buckets")) if c
        ],
        negative=[
            (neg_off + k, c) for k, c in enumerate(arr("n_buckets")) if c
        ],
    )


def _value_tokens(spec: str) -> list[str]:
    """Split a values spec into tokens, keeping ``{{…}}`` histogram
    literals (which contain spaces) intact, with optional ``x n``
    repetition suffix."""
    import re as _re

    return _re.findall(r"\{\{[^}]*\}\}(?:x\d+)?|\S+", spec)


def parse_series_values(spec: str) -> list:
    """Expand promtool value notation into one slot per scrape interval
    (None = no sample; floats for scalar samples; NativeHistogram for
    ``{{…}}`` literals)."""
    out: list = []
    for tok in _value_tokens(spec):
        if tok.startswith("{{"):
            body, _, n_s = tok.rpartition("}}")
            reps = 1
            if n_s.startswith("x"):
                reps = int(n_s[1:]) + 1
            h = _parse_hist_literal(body + "}}")
            out.extend(h for _ in range(reps))
            continue
        if tok == "_":
            out.append(None)
            continue
        if tok == "stale":
            out.append(None)
            continue
        if "x" in tok and tok.lstrip("-+").startswith(("Inf", "NaN")):
            # Infx3 / -Infx2 / NaNx1 — plain repetition of a special
            head, _, n_s = tok.rpartition("x")
            out.extend(float(head) for _ in range(int(n_s) + 1))
            continue
        if "x" in tok:
            head, _, n_s = tok.rpartition("x")
            n = int(n_s)
            # a+bxn / a-bxn / axn — find the LAST +/- that splits base
            # and increment (not a leading sign)
            base, inc = head, 0.0
            for i in range(len(head) - 1, 0, -1):
                if head[i] in "+-" and head[i - 1] not in "eE":
                    base, inc = head[:i], float(head[i:])
                    break
            a = float(base)
            out.extend(a + k * inc for k in range(n + 1))
            continue
        out.append(float(tok))
    return out


def _series_frames(spark, input_series: list[dict], interval_ms: int):
    """(samples, series, histograms) engine frames from promtool
    input_series — histograms is None unless some series used the
    ``{{…}}`` native-histogram literal notation."""
    from promhouse_spark.models import NativeHistogram
    from promhouse_spark.schemas import HISTOGRAMS_SCHEMA

    samples, series, hists, fp = [], [], [], 0
    for s in input_series:
        fp += 1
        series.append((fp, _expected_labels(s["series"])))
        for i, v in enumerate(parse_series_values(str(s["values"]))):
            if v is None:
                continue
            if isinstance(v, NativeHistogram):
                hists.append(
                    (
                        fp,
                        i * interval_ms,
                        int(v.schema),
                        float(v.zero_threshold),
                        float(v.zero_count),
                        float(v.count),
                        float(v.sum),
                        [(int(i2), float(c)) for i2, c in sorted(v.positive)],
                        [(int(i2), float(c)) for i2, c in sorted(v.negative)],
                    )
                )
                continue
            samples.append((fp, i * interval_ms, float(v)))
    sdf = spark.createDataFrame(
        samples or [(0, 0, 0.0)],
        "fingerprint long, timestamp_ms long, value double",
    )
    if not samples:
        sdf = sdf.filter("1=0")
    ser = spark.createDataFrame(
        series or [(0, {})], "fingerprint long, labels map<string,string>"
    )
    if not series:
        ser = ser.filter("1=0")
    hdf = spark.createDataFrame(hists, HISTOGRAMS_SCHEMA) if hists else None
    return sdf, ser, hdf


def _expected_labels(spec: str) -> dict:
    """The labels a promtool series spec (an input series or an expected
    sample) names: its equality matchers and its metric name."""
    sel = parse(spec)
    if not isinstance(sel, VectorSelector):
        raise ValueError(f"series labels must be a selector: {spec!r}")
    labels = {m.name: m.value for m in sel.matchers if m.type is MatchType.EQ}
    if sel.name:
        labels["__name__"] = sel.name
    return labels


def _value_eq(a: float, b: float) -> bool:
    if math.isnan(a) and math.isnan(b):
        return True
    return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def run_rule_tests(spark, doc: dict, base_dir: str = ".") -> list[str]:
    """Run one promtool test file (parsed YAML/JSON dict); returns a list
    of human-readable failures (empty = all tests pass)."""
    from promhouse_spark.promql import PromQLEngine
    from promhouse_spark.promql.alerts import alert_intervals_promql
    from promhouse_spark.server import load_rule_groups

    failures: list[str] = []
    groups: list[dict] = []
    for rf in doc.get("rule_files", []) or []:
        groups.extend(load_rule_groups(os.path.join(base_dir, rf)))
    default_interval = doc.get("evaluation_interval", _DEFAULT_INTERVAL)

    for ti, test in enumerate(doc.get("tests", []) or []):
        interval_ms = parse_duration_ms(
            str(test.get("interval", default_interval))
        )
        samples, series, hdf = _series_frames(
            spark, test.get("input_series", []) or [], interval_ms
        )

        for et in test.get("promql_expr_test", []) or []:
            expr = et["expr"]
            t_ms = parse_duration_ms(str(et["eval_time"]))
            eng = PromQLEngine(
                samples, series, t_ms, t_ms, max(interval_ms, 1), _LOOKBACK_MS,
                histograms_df=hdf,
            )
            try:
                rows = eng.eval(expr).filter("value IS NOT NULL").collect()
            except ValueError as e:
                failures.append(f"test {ti}: expr {expr!r}: {e}")
                continue
            got = {
                tuple(sorted((r["labels"] or {}).items())): r["value"]
                for r in rows
            }
            want = {
                tuple(sorted(_expected_labels(s.get("labels", "{}")).items())):
                float(s.get("value", 0))
                for s in et.get("exp_samples", []) or []
            }
            if set(got) != set(want):
                failures.append(
                    f"test {ti}: expr {expr!r} @ {et['eval_time']}: "
                    f"series mismatch: got {sorted(got)}, want {sorted(want)}"
                )
                continue
            for key, wv in want.items():
                if not _value_eq(got[key], wv):
                    failures.append(
                        f"test {ti}: expr {expr!r} @ {et['eval_time']}: "
                        f"{dict(key)}: got {got[key]}, want {wv}"
                    )

        for at in test.get("alert_rule_test", []) or []:
            name = at["alertname"]
            t_ms = parse_duration_ms(str(at["eval_time"]))
            rule = next(
                (
                    r
                    for g in groups
                    for r in g.get("rules", [])
                    if r.get("alert") == name
                ),
                None,
            )
            if rule is None:
                failures.append(f"test {ti}: unknown alert {name!r}")
                continue
            for_ms = (
                parse_duration_ms(str(rule["for"])) if rule.get("for") else 0
            )
            # the rule group evaluates at interval-aligned times; the
            # alert state AT eval_time is the state established by the
            # last evaluation at or before it
            t_chk = (t_ms // interval_ms) * interval_ms
            eng = PromQLEngine(
                samples, series, 0, t_chk, interval_ms, _LOOKBACK_MS,
                histograms_df=hdf,
            )
            runs = alert_intervals_promql(eng, rule["expr"], for_ms=0).collect()
            active = [
                r
                for r in runs
                # firing AT eval_time: the run covers the last aligned
                # evaluation and has lasted the for-duration by then
                # (pending rows excluded — promtool's exp_alerts are the
                # FIRING set)
                if r["start_ms"] <= t_chk <= r["end_ms"]
                and t_chk - r["start_ms"] >= for_ms
            ]
            val_by: dict[tuple, float] = {}
            if active:
                # expression value at the checked evaluation, per series —
                # feeds {{ $value }} in annotation templates
                from promhouse_spark.promql.alerts import instant_values

                veng = PromQLEngine(
                    samples, series, t_chk, t_chk, max(interval_ms, 1),
                    _LOOKBACK_MS, histograms_df=hdf,
                )
                val_by = instant_values(veng, rule["expr"])
            from promhouse_spark.promql.alerts import materialize_alerts

            firing = materialize_alerts(active, val_by, rule, name)
            want_alerts = [
                {
                    **{
                        str(k): str(v)
                        for k, v in (a.get("exp_labels") or {}).items()
                    },
                    "alertname": name,
                }
                for a in at.get("exp_alerts", []) or []
            ]
            key = lambda d: tuple(sorted(d.items()))  # noqa: E731
            got_keys = sorted(key(lbls) for lbls, _, _ in firing)
            if got_keys != sorted(map(key, want_alerts)):
                failures.append(
                    f"test {ti}: alert {name!r} @ {at['eval_time']}: "
                    f"got {got_keys}, "
                    f"want {sorted(map(key, want_alerts))}"
                )
                continue
            # annotations: {{ $labels.x }} / {{ $value }} expand against
            # each firing alert's RAW series labels (promql/templates.py
            # — other template constructs stay verbatim, the documented
            # divergence). Greedy per-expected matching CONSUMES firing
            # candidates so duplicate label sets (rule labels overwriting
            # a distinguishing series label) each verify independently.
            remaining = list(firing)
            for a in at.get("exp_alerts", []) or []:
                want_ann = {
                    str(k): str(v)
                    for k, v in (a.get("exp_annotations") or {}).items()
                }
                if not want_ann:
                    continue
                wl = {
                    **{
                        str(k): str(v)
                        for k, v in (a.get("exp_labels") or {}).items()
                    },
                    "alertname": name,
                }
                match_i, seen_ann = None, []
                for i, (lbls, slbls, val) in enumerate(remaining):
                    if key(lbls) != key(wl):
                        continue
                    got_ann = expand_annotations(
                        rule.get("annotations") or {},
                        slbls,
                        format_template_value(val),
                    )
                    if got_ann == want_ann:
                        match_i = i
                        break
                    seen_ann.append(got_ann)
                if match_i is not None:
                    remaining.pop(match_i)
                else:
                    failures.append(
                        f"test {ti}: alert {name!r} @ {at['eval_time']}: "
                        f"annotations: got {[sorted(x.items()) for x in seen_ann]}, "
                        f"want {sorted(want_ann.items())}"
                    )
    return failures
