"""Logical data model: Label / Sample / TimeSeries / Matcher / Query.

Mirrors the reference's engine-internal model (``storages/base/base.go:43-138``
and ``prompb/prompb.proto:17-30``) as plain Python dataclasses. These are the
in-flight row-oriented shapes; the at-rest shape is the two-table columnar
model in :mod:`promhouse_spark.schemas`.
"""

from __future__ import annotations

import enum
import functools
import re
import warnings
from dataclasses import dataclass, field
from typing import Mapping, Sequence


@dataclass(frozen=True, order=True)
class Label:
    """A single label pair (``prompb/prompb.proto:17-20``)."""

    name: str
    value: str


@dataclass(frozen=True)
class Sample:
    """One sample: float64 value at int64 epoch-milliseconds
    (``prompb/prompb.proto:22-25``)."""

    value: float
    timestamp_ms: int


@dataclass
class Exemplar:
    """One exemplar (public prometheus/prompb types.proto ``Exemplar``,
    remote-write ≥ Prometheus 2.27): a sampled observation annotated with
    trace-correlation labels (canonically ``trace_id``). Attached to a
    TimeSeries (prompb TimeSeries field 3 — beyond the reference's
    2017-era proto, which predates exemplars)."""

    labels: list[Label] = field(default_factory=list)
    value: float = 0.0
    timestamp_ms: int = 0

    def labels_map(self) -> dict[str, str]:
        return {l.name: l.value for l in self.labels}


@dataclass
class NativeHistogram:
    """One native-histogram sample (public prometheus/prompb types.proto
    ``Histogram``, remote-write ≥ Prometheus 2.40), with the sparse
    span/delta wire encoding EXPANDED to explicit (bucket index, absolute
    count) pairs — the shape the analytics tier consumes
    (:mod:`promhouse_spark.operators.nativehist`).

    Bucket ``idx`` at ``schema`` s covers ``(2^((idx-1)·2^-s),
    2^(idx·2^-s)]`` for positive buckets (mirrored for negative); the
    zero bucket covers ``[-zero_threshold, zero_threshold]``. Counts are
    floats so both integer and float histograms fit one model."""

    timestamp_ms: int = 0
    count: float = 0.0
    sum: float = 0.0
    schema: int = 0
    zero_threshold: float = 0.0
    zero_count: float = 0.0
    positive: list[tuple[int, float]] = field(default_factory=list)
    negative: list[tuple[int, float]] = field(default_factory=list)
    is_float: bool = False  # wire used the *_float/absolute-counts form
    # Remote-Write 2.0 custom-bucket (NHCB) boundaries (write.v2 Histogram
    # field 16). Non-empty ⇒ ``positive`` indexes buckets BETWEEN these
    # boundaries instead of the exponential grid; the exponential
    # analytics tier rejects such histograms explicitly.
    custom_values: list[float] = field(default_factory=list)


@dataclass
class TimeSeries:
    """A labelled series of samples (``prompb/prompb.proto:27-30``).

    ``labels`` are canonically kept sorted by name (see
    :func:`promhouse_spark.functions.labels.sort_labels`); samples sorted by
    timestamp in query results (``prompb/prompb.proto:60``).
    ``histograms`` carries native-histogram samples (prompb TimeSeries
    field 4) and ``exemplars`` trace-annotated observations (field 3) —
    both beyond the reference's 2017-era proto, which predates them."""

    labels: list[Label] = field(default_factory=list)
    samples: list[Sample] = field(default_factory=list)
    histograms: list[NativeHistogram] = field(default_factory=list)
    exemplars: list[Exemplar] = field(default_factory=list)

    def labels_map(self) -> dict[str, str]:
        return {l.name: l.value for l in self.labels}


class MatchType(enum.Enum):
    """Matcher comparison type (``storages/base/base.go:53-60``)."""

    EQ = "="
    NEQ = "!="
    RE = "=~"
    NRE = "!~"


# The reference anchors regexes exactly like Prometheus does:
# ``regexp.MustCompile("^(?:" + value + ")$")`` (``storages/base/base.go:102-104``).
def anchored(pattern: str) -> str:
    return f"^(?:{pattern})$"


# Java's line terminators (java.util.regex without UNIX_LINES): what "."
# does not match, and what the closing "$" may stand before at the end
_JAVA_DOT = r"[^\n\r\x85\u2028\u2029]"
_JAVA_END = r"(?:\r\n|(?<!\r)\n|[\r\x85\u2028\u2029])?"
_JAVA_FLAGS = re.compile(r"\(\?([is]+)\)")
_QUANTIFIER = re.compile(r"\{\d+(?:,\d*)?\}")
_CLASS_ESCAPES = frozenset("dDwWsS")


def _escape(pattern: str, i: int) -> str | None:
    """The escape at ``pattern[i]`` if both dialects read it alike: an
    escaped ASCII punctuation literal, \\t \\n \\r \\f, or an ASCII class
    \\d \\w \\s (and their negations)."""
    e = pattern[i + 1 : i + 2]
    if e and (e in _CLASS_ESCAPES or e in "tnrf" or (e.isascii() and not e.isalnum())):
        return "\\" + e
    return None


def _class_end(pattern: str, i: int) -> int | None:
    """The index past the character class opening at ``pattern[i]`` if
    both dialects read it alike: no nested ``[`` (Java's union, RE2's POSIX
    class), no ``&&`` (Java's intersection), no leading ``]``, and a ``-``
    only at either end or between two plain characters."""
    j = i + 2 if pattern.startswith("[^", i) else i + 1
    atoms: list[str | None] = []  # plain characters; None for an escape
    while j < len(pattern):
        c = pattern[j]
        if c == "]" and atoms:
            return j + 1
        if c == "[" or c == "]" or pattern.startswith("&&", j):
            return None
        if c == "\\":
            if _escape(pattern, j) is None:
                return None
            atoms.append(None)
            j += 2
            continue
        if c == "-" and atoms and pattern[j + 1 : j + 2] != "]":
            lo, hi = atoms[-1], pattern[j + 1 : j + 2]
            if lo is None or lo.startswith("-") or hi in ("", "\\", "[", "-"):
                return None
            atoms.append("-" + hi)  # the range's end, not an endpoint
            j += 2
            continue
        atoms.append(c)
        j += 1
    return None


@functools.lru_cache(maxsize=1024)
def regex(pattern: str) -> re.Pattern | None:
    """A matcher pattern as Python's ``re`` must read it to answer exactly
    what the distributed matcher answers — Java's regex running ``rlike``
    over ``^(?:pattern)$`` (``operators/matchers.py``) — or None for a
    pattern outside the subset translated here. The translation: ASCII ``\\d \\w \\s`` and case folding,
    ``.`` stops at every Java line terminator, and the closing ``$`` may
    stand before one final terminator. Outside the subset are ``\\p{..}``,
    ``\\Q..\\E``, ``\\z``, POSIX and nested classes, inner ``^``/``$``,
    groups other than ``(..)``/``(?:..)``, and flags other than a leading
    ``(?i)``/``(?s)``; a pattern Python does not compile is outside too.
    Callers that can run Java's matcher resolve those selections there."""
    flags = _JAVA_FLAGS.match(pattern)
    dotall = flags is not None and "s" in flags.group(1)
    i = flags.end() if flags else 0
    out: list[str] = []
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            esc = _escape(pattern, i)
            if esc is None:
                return None
            out.append(esc)
            i += 2
        elif c == "[":
            j = _class_end(pattern, i)
            if j is None:
                return None
            out.append(pattern[i:j])
            i = j
        elif c == "{":
            q = _QUANTIFIER.match(pattern, i)
            if q is None:
                return None
            out.append(q.group())
            i = q.end()
        elif c in "^$]}" or (
            pattern.startswith("(?", i) and not pattern.startswith("(?:", i)
        ):
            return None
        else:
            out.append(_JAVA_DOT if c == "." and not dotall else c)
            i += 1
    prefix = flags.group() if flags else ""
    with warnings.catch_warnings():
        # Python warns where it may read a class differently some day
        # ("possible set union" on [a||b]): not exact, so outside too
        warnings.simplefilter("error", FutureWarning)
        try:
            return re.compile(f"{prefix}(?:{''.join(out)}){_JAVA_END}", re.ASCII)
        except (re.error, FutureWarning):
            return None


@functools.lru_cache(maxsize=1024)
def _python_regex(pattern: str) -> re.Pattern:
    """A pattern outside :func:`regex`'s subset, read by Python's ``re``
    alone (``re.error`` if it does not compile) — the matcher of storages
    with no Java side. Python warns "possible nested set" on RE2 POSIX
    classes such as ``[[:alpha:]]``; that parse is a pinned dialect
    divergence (tests/test_regex_dialect.py), so the warning is silenced."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)
        return re.compile(pattern)


@dataclass(frozen=True)
class Matcher:
    """A single label matcher (``storages/base/base.go:62-82``).

    Semantics (``storages/base/base.go:100-138``):
      - an absent label is equivalent to an empty-string value
        (the shared ``emptyLabel`` at ``base.go:90``);
      - regexes are fully anchored (``base.go:103``).
    """

    name: str
    type: MatchType
    value: str

    def matches(self, labels: Mapping[str, str]) -> bool:
        v = labels.get(self.name, "")
        if self.type is MatchType.EQ:
            return v == self.value
        if self.type is MatchType.NEQ:
            return v != self.value
        # fullmatch over the translated pattern ≡ Java's ^(?:p)$; it keeps
        # a leading (?i)/(?s) legal, which Python 3.11 rejects mid-pattern
        ok = (regex(self.value) or _python_regex(self.value)).fullmatch(v) is not None
        if self.type is MatchType.RE:
            return ok
        return not ok

    def __repr__(self) -> str:  # debug render, base.go:62-75
        return f'{{{self.name}{self.type.value}"{self.value}"}}'


@dataclass(frozen=True)
class Query:
    """A selection query: inclusive time range + conjunctive matchers
    (``storages/base/base.go:43-47``)."""

    start_ms: int
    end_ms: int
    matchers: tuple[Matcher, ...] = ()

    def matches(self, labels: Mapping[str, str]) -> bool:
        """Conjunction over all matchers; empty list selects all
        (``storages/storages_test.go:264-326``)."""
        return all(m.matches(labels) for m in self.matchers)

    def java_exact(self) -> bool:
        """Do Python's matches equal Java's for every regex here
        (:func:`regex`)? Only such a query resolves against a hot dict where
        the distributed matcher could also serve it."""
        return all(
            m.type in (MatchType.EQ, MatchType.NEQ) or regex(m.value) is not None
            for m in self.matchers
        )

    def __repr__(self) -> str:
        ms = ",".join(repr(m) for m in self.matchers)
        return f"[{self.start_ms},{self.end_ms},[{ms}]]"


def make_matchers(*specs: tuple[str, str, str] | Matcher) -> tuple[Matcher, ...]:
    """Convenience: ``make_matchers(("__name__", "=", "up"))``."""
    out: list[Matcher] = []
    for s in specs:
        if isinstance(s, Matcher):
            out.append(s)
        else:
            name, op, value = s
            out.append(Matcher(name, MatchType(op), value))
    return tuple(out)
