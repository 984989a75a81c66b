"""Matcher → Catalyst Column compiler (F1/F3).

Reference semantics (``storages/base/base.go:100-138``):

- conjunctive AND over all matchers of a query;
- per matcher ``=``, ``!=``, ``=~``, ``!~``;
- an **absent label is equivalent to an empty string** (``base.go:90,106-111``)
  — hence the ``coalesce(labels[name], '')`` before every comparison (plain
  SQL NULL semantics would silently drop absent-label rows);
- regexes are **fully anchored**: ``^(?:value)$`` (``base.go:103``). The
  reference uses Go RE2; Spark uses Java regex — aligned for PromQL-style
  patterns (RE2 has no lookarounds, so any valid reference pattern parses in
  Java too; dialect corners are documented in tests).
- an empty matcher list selects **all** series — deliberately laxer than
  PromQL (``storages/storages_test.go:264-326``).

Compiling matchers to a Column (instead of evaluating them driver-side like
the reference's in-memory map) lets Catalyst push the work into the registry
scan and keeps series resolution distributed — the property that survives a
100 TB registry.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable

from py4j.protocol import Py4JJavaError
from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column, SparkSession, functions as F

from promhouse_spark.models import MatchType, Matcher, anchored


def label_value(labels_col: Column | str, name: str) -> Column:
    """``labels[name]`` with absent ≡ empty string (base.go:90)."""
    c = F.col(labels_col) if isinstance(labels_col, str) else labels_col
    return F.coalesce(c.getItem(name), F.lit(""))


def matcher_to_column(m: Matcher, labels_col: Column | str = "labels") -> Column:
    v = label_value(labels_col, m.name)
    if m.type is MatchType.EQ:
        return v == m.value
    if m.type is MatchType.NEQ:
        return v != m.value
    if m.type is MatchType.RE:
        return v.rlike(anchored(m.value))
    if m.type is MatchType.NRE:
        return ~v.rlike(anchored(m.value))
    raise ValueError(f"unknown match type: {m.type}")


def matchers_to_column(
    matchers: Iterable[Matcher], labels_col: Column | str = "labels"
) -> Column:
    cols = [matcher_to_column(m, labels_col) for m in matchers]
    if not cols:
        return F.lit(True)  # empty matcher list → select all (F3)
    return reduce(lambda a, b: a & b, cols)


def check_regex(spark: SparkSession, pattern: str) -> None:
    """ValueError for a matcher pattern Java's regex rejects, raised before
    any plan runs it: ``rlike`` would only fail once a job runs. PromQL
    and every HTTP selector endpoint check here, so a pattern is legal on
    all of them or on none."""
    try:
        spark._jvm.java.util.regex.Pattern.compile(anchored(pattern))
        return
    except IllegalArgumentException as e:
        # PySpark's converted PatternSyntaxException, once a session has
        # installed its py4j exception capture
        msg = str(e)
    except Py4JJavaError as e:
        msg = e.java_exception.getMessage()
    raise ValueError(f"invalid matcher regex {pattern!r}: {msg}")
