"""Focused tests for the round-6 session-3 rewrites: the instr-guarded
PII scrub (guards must be sound — never skip a text that can match) and
the regex-free <a>-tag parse (must equal the regex groups on every tag
the regex can produce, including a URL that begins with '>')."""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pdxbldgimport_spark.queries_crawl import (
    PII_EMAIL,
    PII_IP,
    PII_LAYERS,
    PII_PHONE,
    _pii_guarded_scrub,
)
from pdxbldgimport_spark.queries_web import LINK_TAG_RE, link_tag_parts


@pytest.fixture(scope="module")
def spark():
    from pdxbldgimport_spark.session import get_spark

    return get_spark(app_name="test_r6_guards", cores=4)


PII_CASES = [
    "plain text no pii at all",
    "contact user1@mail.example.com or admin2@ops.example.net",
    "call (503) 555-1234 now",
    "peer 10.1.2.3 up",
    "a(b unbalanced paren no phone",
    "x@y not an email (503) 555-0000 and 10.0.0.1",
    "dots. every. where. but no ip",
    "trailing @ sign",
    "(1) numbered list item",
    "255.255.255.255",
    "user@sub.domain.example.co.uk mixed with (999) 123-4567",
    "",
    "@.(",
]


def test_pii_guard_soundness_vs_python_re(spark):
    # every crafted string through the guarded engine expression must
    # equal Python re (the unguarded reference) — incl. strings where a
    # guard char appears WITHOUT a match and where PII appears without
    # the other classes' guard chars.
    df = spark.createDataFrame([(t,) for t in PII_CASES], ["text"])
    got = [
        r["s"]
        for r in df.select(_pii_guarded_scrub().alias("s")).collect()
    ]
    A = re.ASCII
    for text, g in zip(PII_CASES, got):
        s = re.sub(PII_EMAIL, "<EMAIL>", text, flags=A)
        s = re.sub(PII_PHONE, "<PHONE>", s, flags=A)
        s = re.sub(PII_IP, "<IP>", s, flags=A)
        assert g == s, text


def test_pii_tokens_carry_no_later_guard():
    # a guard is checked on the ORIGINAL text, so it is sound only if no
    # earlier layer's replacement token introduces a later layer's guard
    for i, (_, _, token) in enumerate(PII_LAYERS):
        for guard, _, _ in PII_LAYERS[i + 1:]:
            assert guard not in token, (token, guard)


TAG_CASES = [
    '<a href="https://h1.example.com/p/1">anchor text</a>',
    '<a href="https://h1.example.com/">x</a>',
    '<a href="/relative">r</a>',
    '<a href=">starts-with-gt">a</a>',          # URL may begin with '>'
    '<a href="has>gt/inside">b</a>',            # and contain '>'
    '<a href="u"></a>',                          # empty anchor
    '<a href="https://h0.example.com:443/p/9?utm_source=feed#s2">z</a>',
]


URL_CASES = [
    "https://h1.example.com/p/1",
    "https://h1.example.com",                       # pathless
    "HTTPS://H0.EXAMPLE.COM:443/p/1?utm_source=feed#s2",
    "https://h.example.com:80/x/",
    "https://h.example.com:8080/x",                  # port NOT stripped
    "https://h.example.com/?utm_a=1&utm_b=2",
    "https://h.example.com/p?a=1&utm_x=2&b=3#frag",
    "https://h.example.com/p?utm_only=1",
    "https://h.example.com/p//",                     # one '/$' strip only
    "https://h/p#f?x=1",                             # '?' inside fragment
    "https://h/p?a=1#f",
    "ftp://x/y?&&a=1",
    "not-a-url",
    "",
    "x://",
    "https://h/p?xutm_y=1",                          # utm_ not at param start
]


def _canon_old(url_col):
    # the pre-r6 regex spelling, kept here as the equality reference
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    auth_raw = F.regexp_extract(url, "^[A-Za-z]+://[^/?#]*", 0)
    rest = url.substr(F.length(auth_raw) + F.lit(1), F.length(url))
    auth = F.lower(F.regexp_replace(auth_raw, ":(443|80)$", ""))
    rest = F.regexp_replace(rest, "#.*", "")
    path = F.regexp_replace(F.regexp_replace(rest, r"\?.*", ""), "/$", "")
    q = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract(rest, r"\?(.*)", 1), "(^|&)utm_[^&]*", ""
        ),
        "^&+",
        "",
    )
    return F.concat(
        auth, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


def test_canonical_url_stringops_equals_regex_spelling(spark):
    from pdxbldgimport_spark.queries_web import canonical_url_expr

    df = spark.createDataFrame([(u,) for u in URL_CASES], ["url"])
    rows = df.select(
        _canon_old("url").alias("old"),
        canonical_url_expr("url").alias("new"),
    ).collect()
    for u, r in zip(URL_CASES, rows):
        assert r["old"] == r["new"], (u, r["old"], r["new"])


def test_tag_parse_equals_regex_groups(spark):
    pat = re.compile(LINK_TAG_RE)
    rows = [(t,) for t in TAG_CASES]
    assert all(pat.fullmatch(t) for (t,) in rows), "fixture must match"
    df = spark.createDataFrame(rows, ["tag"])
    url, anchor = link_tag_parts()
    got = df.select(url.alias("url"), anchor.alias("anchor")).collect()
    for (t,), r in zip(rows, got):
        m = pat.fullmatch(t)
        assert r["url"] == m.group(1), t
        assert r["anchor"] == m.group(2), t
