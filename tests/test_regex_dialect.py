"""Regex dialect parity (SURVEY §7 risk 2): the reference anchors Go RE2
patterns; we anchor Java regex. For PromQL-style patterns the dialects agree
— these tests pin the agreement surface and document the known corners.

RE2 has no lookarounds/backreferences, so every reference-legal pattern
parses in Java. The divergent corner is POSIX character classes
(``[[:alpha:]]`` — RE2 supports them, Java parses them as a literal class),
documented below rather than silently wrong."""

import pytest

from promhouse_spark.models import Matcher, MatchType, regex
from promhouse_spark.operators.matchers import matchers_to_column

LABELS = [
    {"__name__": "http_requests_total", "code": "200"},
    {"__name__": "node_cpu_seconds_total", "mode": "idle"},
    {"__name__": "up"},
    {"path": "/api/v1/query_range"},
    {"val": "1.5e3"},
    {"val": "a\nb"},
]

# (pattern, label, expected match-set indices) — agreement surface
AGREE = [
    ("http_requests_total|up", "__name__", {0, 2}),
    ("node_.*", "__name__", {1}),
    (".*_total", "__name__", {0, 1}),
    ("[a-z]+_cpu_[a-z_]+", "__name__", {1}),
    ("(?i)UP", "__name__", {2}),  # inline case-insensitive flag: both dialects
    ("/api/v\\d/.+", "path", {3}),
    ("\\d+\\.\\d+e\\d+", "val", {4}),
    ("(?s)a.b", "val", {5}),  # dotall flag needed for \n in both dialects
    ("a.b", "val", set()),  # . does not match \n in either dialect
    ("", "nonexistent", {0, 1, 2, 3, 4, 5}),  # empty pattern ≡ absent label
]


@pytest.mark.parametrize("pattern,name,expected", AGREE)
def test_python_and_spark_agree(spark, pattern, name, expected):
    m = Matcher(name, MatchType.RE, pattern)
    py = {i for i, ls in enumerate(LABELS) if m.matches(ls)}
    assert py == expected, f"python eval disagrees for {pattern!r}"
    df = spark.createDataFrame(
        [(i, ls) for i, ls in enumerate(LABELS)], "id long, labels map<string,string>"
    )
    got = {r["id"] for r in df.filter(matchers_to_column([m])).collect()}
    assert got == expected, f"spark eval disagrees for {pattern!r}"


def test_posix_class_divergence_documented(spark):
    """RE2 ``[[:alpha:]]+`` matches alphabetic runs; Java and Python both
    parse the inner ``[:alpha:]`` as a literal character class instead, so
    the pattern parses without error but matches nothing here. The
    divergence is symmetric (our two evaluators agree with each other, both
    differ from RE2) — callers migrating PromQL configs with POSIX classes
    must rewrite to ``\\p{Alpha}`` / ``[a-zA-Z]``."""
    import warnings

    df = spark.createDataFrame([(0, {"x": "abc"})], "id long, labels map<string,string>")
    m = Matcher("x", MatchType.RE, "[[:alpha:]]+")
    rows = df.filter(matchers_to_column([m])).collect()
    assert len(rows) == 0  # RE2 would match 'abc'; Java does not
    with warnings.catch_warnings():
        # the "Possible nested set" FutureWarning IS the documented
        # divergence this probe pins — Python sees a literal [[...]] class
        warnings.simplefilter("ignore", FutureWarning)
        assert m.matches({"x": "abc"}) is False  # python agrees with Java
    # the RE2-equivalent spelling works in both evaluators:
    m2 = Matcher("x", MatchType.RE, "[a-zA-Z]+")
    assert m2.matches({"x": "abc"})
    assert len(df.filter(matchers_to_column([m2])).collect()) == 1


# values that separate the dialects: Java's line terminators (which "."
# skips and the closing "$" may stand before), Unicode digits and letters,
# and case-folding corners (the Kelvin sign folds to "k" only in Unicode)
VALUES = [
    "", "a", "A", "ab", "a\n", "a\r", "a\r\n", "a\n\n", "a\x85", "a\u2028",
    "\n", "a\nb", "a\rb", "é", "É", "\u0663", "K", "k", "\u212a", "ß", "12",
    "x y", "a-b", "[", ":", "\t", "\x0b",
]
# patterns Python reads exactly as Java (models.regex translates them) ...
JAVA_EXACT = [
    "a", "a.", ".*", ".+", "(?s).*", "(?s)a.b", "a.b", "\\d+", "\\w+", "\\s",
    "a\\s*", "\\S+", "(?i)k", "(?i)é", "(?i)[a-z]+", "[^a]", "a\\r", "a\\n",
    "(a|b)+", "[\\w.-]+", "[a-]+", "a{2}", "a*+", "(?:a|ab)(?:c|bcd)?", "",
]
# ... and patterns it does not, which resolve through Java's own matcher
JAVA_ONLY = [
    "[[:alpha:]]+", "\\p{L}+", "\\pL+", "\\p{Alpha}+", "\\Qa.b\\E", "a\\z",
    "a$", "^a", "(?P<n>a)", "[a-z&&[^b]]", "a{,2}",
]


def test_python_reads_the_translated_subset_as_java(spark):
    """One dialect: wherever a matcher resolves in Python (the hot registry
    dict), it answers what Java's ``rlike`` answers on the distributed
    path, line terminators and Unicode included; a pattern outside the
    translated subset has no Python reading to resolve with."""
    df = spark.createDataFrame(
        [(i, {"v": v}) for i, v in enumerate(VALUES)],
        "id long, labels map<string,string>",
    )
    ms = [Matcher("v", MatchType.RE, p) for p in JAVA_EXACT]
    rows = df.select(
        "id", *(matchers_to_column([m]).alias(f"p{k}") for k, m in enumerate(ms))
    ).collect()
    for k, m in enumerate(ms):
        assert regex(m.value) is not None, m.value
        java = {r["id"] for r in rows if r[f"p{k}"]}
        py = {i for i, v in enumerate(VALUES) if m.matches({"v": v})}
        assert py == java, m.value
    assert [p for p in JAVA_ONLY if regex(p) is not None] == []
