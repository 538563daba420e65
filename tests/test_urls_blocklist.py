"""URL canonicalization / URL dedup / domain + word blocklists
(operators/urls.py, curation.badword_stats): canonical-form goldens,
idempotence property, subdomain blocklist semantics, the C4 any-hit
word gate, and DuckDB parity for the badword accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_pinot_spark.operators import urls as U
from apache_pinot_spark.operators.curation import badword_stats, blocklist_filter

_GOLDENS = [
    ("HTTP://WWW.Example.COM:80/path?utm_source=x&b=2&a=1#frag",
     "http://example.com/path?a=1&b=2"),
    ("https://example.com:443/", "https://example.com/"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://example.com", "http://example.com/"),
    ("http://sub.example.com./p", "http://sub.example.com/p"),
    # bare ref is NOT in the default strip list (GitHub-style ?ref=branch
    # selects different content); ref_src (Twitter) is
    ("http://example.com/p?ref=abc&reference=keep",
     "http://example.com/p?ref=abc&reference=keep"),
    ("http://example.com/p?ref_src=twsrc&a=1", "http://example.com/p?a=1"),
    ("http://example.com/p?utm_campaign=z", "http://example.com/p"),
    ("not a url", None),
    ("ftp://files.example.com/a/b", "ftp://files.example.com/a/b"),
    ("http://example.com/p?a=1&a=0", "http://example.com/p?a=0&a=1"),
]


def test_canonical_url_goldens(spark):
    df = spark.createDataFrame([(u,) for u, _ in _GOLDENS], "url string")
    got = [r.c for r in
           df.select(U.canonical_url_expr("url").alias("c")).collect()]
    assert got == [want for _, want in _GOLDENS]


def test_ref_strippable_by_optin(spark):
    # corpora whose origins use ?ref= as a referrer tag opt back in
    df = spark.createDataFrame([("http://example.com/p?ref=rss&a=1",)],
                               "url string")
    got = df.select(U.canonical_url_expr(
        "url", tracking_params=U.DEFAULT_TRACKING_PARAMS + ("ref",)
    ).alias("c")).collect()[0].c
    assert got == "http://example.com/p?a=1"


def test_host_suffixes_include_full_host_past_cap(spark):
    # an exact blocklist entry naming a (> max_labels)-label host must
    # still match: the full host is always element 0 of the suffix list
    deep = "a.b.c.d.e.f.g.h.i.example.com"  # 11 labels
    df = spark.createDataFrame([(deep,), ("x.y",), ("localhost",)],
                               "h string")
    rows = df.select(U.host_suffixes_expr("h", max_labels=4)
                     .alias("s")).collect()
    deep_sfx = rows[0].s
    assert deep_sfx[0] == deep            # full host present
    assert len(deep_sfx) == 4             # cap holds (1 full + 3 parents)
    assert deep_sfx[-1] == "example.com"  # shortest parent kept
    assert rows[1].s == ["x.y"]
    assert rows[2].s == ["localhost"]


def test_url_dedup_preserves_existing_canonical_url(spark):
    # an upstream rel=canonical signal must survive url_dedup
    rows = [(1, "http://example.com/a", "http://orig/canon1"),
            (2, "http://example.com/b", "http://orig/canon2")]
    df = spark.createDataFrame(rows,
                               "doc_id bigint, url string, canonical_url string")
    out = U.url_dedup(df)
    got = {r.doc_id: r.canonical_url for r in out.collect()}
    assert got == {1: "http://orig/canon1", 2: "http://orig/canon2"}


def test_canonicalization_is_idempotent(spark):
    df = spark.createDataFrame(
        [(u,) for u, want in _GOLDENS if want is not None], "url string")
    once = df.select(U.canonical_url_expr("url").alias("url"))
    twice = once.select(U.canonical_url_expr("url").alias("url"))
    assert [r.url for r in once.collect()] == [r.url for r in twice.collect()]


def test_url_dedup_keeps_earliest(spark):
    rows = [
        (1, "http://www.example.com/a?utm_source=tw"),
        (2, "http://example.com/a"),           # same canonical as 1
        (3, "HTTP://EXAMPLE.COM:80/a#sec"),     # same canonical as 1
        (4, "http://example.com/b"),
        (5, "::garbage::"),                     # NULL canonical, kept
        (6, "::garbage::"),                     # NULL canonical, kept too
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    out = U.url_dedup(df)
    assert sorted(r.doc_id for r in out.collect()) == [1, 4, 5, 6]
    assert "canonical_url" in out.columns


def test_blocked_domain_filter_subdomains(spark):
    docs = spark.createDataFrame(
        [(1, "spam.blocked.example"), (2, "blocked.example"),
         (3, "notblocked.example"), (4, "deep.a.b.blocked.example"),
         (5, None), (6, "blocked.example.evil.com")],
        "doc_id bigint, source string")
    bl = spark.createDataFrame([("Blocked.example",)], "domain string")
    kept = sorted(r.doc_id for r in
                  U.blocked_domain_filter(docs, bl).collect())
    # 6 survives: blocked.example is a PREFIX there, not a suffix
    assert kept == [3, 5, 6]


def test_blocklist_filter_c4_any_hit_and_fraction(spark):
    docs = spark.createDataFrame(
        [(1, "a perfectly clean sentence about history"),
         (2, "one badword inside an otherwise clean long sentence here"),
         (3, "badword badword badword clean")],
        "doc_id bigint, text string")
    bl = spark.createDataFrame([("BADWORD",)], "word string")
    stats = {r.doc_id: (r.total_tokens, r.bad_tokens, r.bad_frac)
             for r in badword_stats(docs, bl).collect()}
    assert stats[1] == (6, 0, 0.0)
    assert stats[2][1] == 1
    assert stats[3] == (4, 3, 0.75)
    # C4 rule: any hit drops
    assert sorted(r.doc_id for r in
                  blocklist_filter(docs, bl).collect()) == [1]
    # fraction gate at 0.5 keeps the single-hit doc
    assert sorted(r.doc_id for r in
                  blocklist_filter(docs, bl, max_bad_frac=0.5).collect()) == [1, 2]


def test_badword_stats_duckdb_parity(spark):
    import duckdb

    docs = spark.createDataFrame(
        [(1, "The Quick! brown-fox, JUMPS over 2 lazy dogs"),
         (2, "fox fox FOX"), (3, "!!!")],
        "doc_id bigint, text string")
    bl = spark.createDataFrame([("fox",), ("dogs",)], "word string")
    ours = sorted((r.doc_id, r.total_tokens, r.bad_tokens, r.bad_frac)
                  for r in badword_stats(docs, bl).collect())
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    con.register("bl", bl.toPandas())
    got = con.sql("""
      WITH toks AS (
        SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        FROM docs
      ), j AS (
        SELECT doc_id, tok, (tok IN (SELECT lower(word) FROM bl)) AS hit
        FROM toks
      )
      SELECT d.doc_id,
             COALESCE(COUNT(j.tok), 0) AS total_tokens,
             COALESCE(SUM(CASE WHEN j.hit THEN 1 ELSE 0 END), 0) AS bad,
             CASE WHEN COUNT(j.tok) > 0
                  THEN SUM(CASE WHEN j.hit THEN 1 ELSE 0 END)::DOUBLE / COUNT(j.tok)
                  ELSE 0.0 END AS frac
      FROM docs d LEFT JOIN j USING (doc_id)
      GROUP BY d.doc_id ORDER BY d.doc_id
    """).fetchall()
    assert ours == [tuple(r) for r in got]


def test_crawl_url_column_survives_garbage_uri(spark):
    # try_parse_url regression guard: a malformed crawl URL must not fail
    # the URL-curation stages — it lands with a NULL canonical_url and
    # passes the blocklist (no host to block on)
    rows = [(1, "ht!tp://%%bad uri%%", None),
            (2, "http://blocked.example/a", "blocked.example")]
    df = spark.createDataFrame(rows,
                               "doc_id bigint, url string, source string")
    bl = spark.createDataFrame([("blocked.example",)], "domain string")
    out = U.blocked_domain_filter(U.url_dedup(df), bl).collect()
    assert [(r.doc_id, r.canonical_url, r.source) for r in out] == [
        (1, None, None)]
