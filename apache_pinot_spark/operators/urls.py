"""URL canonicalization, URL-level dedup, and domain blocklists — the
crawl-side curation components that run BEFORE text ever parses: a
recrawled page under a tracking-param variant URL is the cheapest
duplicate to kill (no shingles, no text), and domain blocklists
(UT1-style) are the standard first safety gate of web-corpus recipes
(C4, RefinedWeb, FineWeb all apply one).

Everything is JVM expressions (parse_url + higher-order array
functions) in the scan stage — zero Python, canonicalization itself is
shuffle-free; dedup is the one groupBy a URL dedup inherently needs.

Canonical form (the common-crawl-style normalization):
  * scheme and host lowercased; a leading ``www.`` and a trailing dot
    on the host dropped
  * default ports stripped (http:80, https:443); other ports kept
  * fragment dropped
  * tracking query parameters dropped (utm_*, fbclid, gclid, msclkid,
    mc_cid/mc_eid, igshid, ref/ref_src — the configurable default),
    remaining parameters SORTED (param order is transport noise)
  * empty path → "/"
Percent-decoding is deliberately NOT performed: %41 vs A is a real
semantic distinction on some origins, and a canonicalizer that only
ever merges distinct spellings of the SAME resource never creates a
false duplicate. Idempotence (canon(canon(u)) = canon(u)) is
property-tested.

Scale shape: canonicalization is a per-row projection; `url_dedup` is
one groupBy(canonical_url) keyed shuffle; `blocked_domain_filter`
explodes each host's ≤``max_labels`` registrable suffixes and
broadcast-joins the blocklist (UT1 lists are ~1M rows — comfortably
broadcastable), so subdomain evasion (spam.blocked.example under
blocked.example) is caught without regex scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default tracking parameters, matched against the full "k=v" pair by
#: key; utm_* is a prefix family. Bare ``ref`` is deliberately NOT in
#: the default: on some origins it is transport noise (?ref=rss), but
#: GitHub-style ``?ref=branch`` SELECTS different content, and a
#: canonicalizer must never merge two distinct pages — add "ref" back
#: per-corpus when the origins are known to use it as a referrer tag.
DEFAULT_TRACKING_PARAMS = (
    "utm_", "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid",
    "igshid", "ref_src",
)


def canonical_url_oracle_sql(
    col: str,
    tracking_params=DEFAULT_TRACKING_PARAMS,
    strip_www: bool = True,
) -> str:
    """DuckDB SQL expression replaying ``canonical_url_expr`` — the
    portable oracle the driver's correctness gate runs side-by-side with
    the Spark expression (tests/test_urls_blocklist.py pins parity on
    the golden list). DuckDB has no parse_url, so the replay parses with
    regexps under the RFC 3986 generic-URI grammar; inputs Java's URI
    parser rejects entirely (e.g. embedded spaces) can diverge — the
    gate's synthesized URLs are well-formed, and garbage without a
    scheme://host canonicalizes to NULL on BOTH engines."""
    u = col
    preds = []
    for p in tracking_params:
        if p.endswith("_"):
            preds.append(f"starts_with(string_split(kv, '=')[1], '{p}')")
        else:
            preds.append(f"string_split(kv, '=')[1] = '{p}'")
    tracking = " OR ".join(preds) if preds else "FALSE"
    scheme = f"lower(nullif(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1), ''))"
    auth = f"nullif(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1), '')"
    host = f"lower(regexp_replace(regexp_replace({auth}, '^[^@]*@', ''), ':[0-9]+$', ''))"
    host = f"regexp_replace({host}, '\\.$', '')"
    if strip_www:
        host = f"regexp_replace({host}, '^www\\.', '')"
    port = f"regexp_extract({auth}, ':([0-9]+)$', 1)"
    path = (f"regexp_extract({u}, "
            f"'^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1)")
    path = f"(CASE WHEN coalesce({path}, '') = '' THEN '/' ELSE {path} END)"
    query = f"regexp_extract({u}, '\\?([^#]*)', 1)"
    kept = (f"array_to_string(list_sort(list_filter("
            f"string_split(coalesce({query}, ''), '&'), "
            f"kv -> kv <> '' AND NOT ({tracking}))), '&')")
    portpart = (f"(CASE WHEN {port} <> '' AND NOT (({scheme} = 'http' AND {port} = '80') "
                f"OR ({scheme} = 'https' AND {port} = '443')) "
                f"THEN ':' || {port} ELSE '' END)")
    querypart = f"(CASE WHEN {kept} <> '' THEN '?' || {kept} ELSE '' END)"
    return (f"(CASE WHEN {scheme} IS NOT NULL AND coalesce({host}, '') <> '' "
            f"THEN {scheme} || '://' || {host} || {portpart} || {path} || {querypart} "
            f"END)")


def _tracking_pred(kv: Column, prefixes) -> Column:
    key = F.split(kv, "=", 2)[0]
    cond = F.lit(False)
    for p in prefixes:
        if p.endswith("_"):
            cond = cond | key.startswith(p)
        else:
            cond = cond | (key == F.lit(p))
    return cond


def canonical_url_expr(
    url: Column | str,
    tracking_params=DEFAULT_TRACKING_PARAMS,
    strip_www: bool = True,
) -> Column:
    """Canonical form of ``url`` as one JVM expression tree; NULL for
    inputs parse_url cannot parse a host from (garbage stays visibly
    distinct from a canonicalized URL, never silently merges)."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    host = F.lower(F.try_parse_url(u, F.lit("HOST")))
    host = F.regexp_replace(host, r"\.$", "")
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    authority = F.try_parse_url(u, F.lit("AUTHORITY"))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when(F.coalesce(path, F.lit("")) == "", F.lit("/")).otherwise(path)
    query = F.try_parse_url(u, F.lit("QUERY"))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.coalesce(query, F.lit("")), "&"),
                lambda kv: (kv != F.lit(""))
                & ~_tracking_pred(kv, tracking_params),
            )
        ),
        "&",
    )
    out = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit("")),
    )
    return F.when(scheme.isNotNull() & host.isNotNull() & (host != ""),
                  out)


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    tracking_params=DEFAULT_TRACKING_PARAMS,
) -> DataFrame:
    """Keep ONE row per canonical URL — the earliest by ``id_col`` (the
    deterministic-survivor convention of operators/dedup.py). Rows whose
    URL does not canonicalize (NULL) are kept as their own stratum.
    One keyed shuffle; survivors keep all input columns plus
    ``canonical_url``. If the input ALREADY carries a ``canonical_url``
    column (e.g. a rel=canonical signal from HTML extraction), it is
    preserved untouched — the dedup key is computed under a private
    name so the caller's signal is never clobbered."""
    cu = canonical_url_expr(url_col, tracking_params)
    had_canonical = "canonical_url" in df.columns
    with_cu = df.withColumn("_canon_url", cu)
    from pyspark.sql import Window

    w = Window.partitionBy(
        F.coalesce(F.col("_canon_url"),
                   F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")))
    ).orderBy(F.col(id_col))
    out = (
        with_cu.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if had_canonical:
        return out.drop("_canon_url")
    return out.withColumnRenamed("_canon_url", "canonical_url")


def host_suffixes_expr(host: Column | str, max_labels: int = 8) -> Column:
    """All dot-suffixes of a host with ≥2 labels, longest first
    ("a.b.example.com" → [a.b.example.com, b.example.com, example.com]),
    capped at ``max_labels`` labels (an attacker-crafted 1000-label host
    cannot explode the row). One JVM expression."""
    h = F.lower(F.col(host) if isinstance(host, str) else host)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    # The full host is ALWAYS element 0 — even past the label cap — so a
    # blocklist entry naming an (n > max_labels)-label host exactly still
    # matches (no subdomain-depth evasion of exact-host entries). The cap
    # only bounds how many PARENT suffixes we enumerate.
    start = F.greatest(n - F.lit(max_labels) + 1, F.lit(2))
    # guard start > n-1: F.sequence would generate a DESCENDING range
    # (e.g. 2-label hosts, or max_labels < 2)
    parents = F.when(
        (n >= 3) & (start <= n - 1),
        F.transform(
            F.sequence(start, n - 1),  # suffix starting positions (1-based)
            lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sfx = F.concat(F.array(h), parents)
    return F.filter(sfx, lambda s: s != F.lit(""))


def blocked_domain_filter(
    df: DataFrame,
    blocked: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    blocked_col: str = "domain",
    max_labels: int = 8,
) -> DataFrame:
    """Drop rows whose host — or ANY registrable parent domain of it —
    appears in ``blocked`` (the UT1-blocklist contract: blocking
    example.com blocks spam.example.com). Rows with a NULL host pass
    (no evidence to block on). Output schema = input schema.

    Plan: explode the ≤``max_labels`` suffixes keyed by ``id_col``,
    BROADCAST left-semi join against the blocklist (UT1 lists are ~1M
    rows — comfortably broadcastable) to get the hit-id set, then one
    keyed anti join back — the hit set is at most the blocked rows, so
    the only corpus-wide cost is the id-keyed anti join."""
    bl = blocked.select(
        F.lower(F.col(blocked_col)).alias("_bl_domain")).distinct()
    hit_ids = (
        df.select(F.col(id_col), F.explode(
            host_suffixes_expr(host_col, max_labels)).alias("_sfx"))
        .join(F.broadcast(bl), F.col("_sfx") == F.col("_bl_domain"),
              "left_semi")
        .select(id_col)
        .distinct()
    )
    return df.join(hit_ids, on=id_col, how="left_anti")
