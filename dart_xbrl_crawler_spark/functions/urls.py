"""URL canonicalization + hashing for the frontier.

The reference assembles URLs by hand (query-param dicts at
/root/reference/dart_api_manager.py:235-244,341-344) and dedups work by
directory existence (dart_api_manager.py:388-389).  Here the URL is the
key: ``url_canon`` is the canonical spelling, ``url_hash =
xxhash64(url_canon)`` (built-in, JVM-side) keys the seen-set and every
frontier partition.

Canonicalization is the one parse-heavy step → an Arrow-batched pandas
UDF returning a struct (url_canon, host).  Everything downstream stays
in Catalyst.

Spec (idempotent — property-tested):
  * scheme + host lowercased; default ports (:80 http, :443 https) dropped
  * fragment dropped
  * query params sorted by (key, value), empty trailing separators dropped
  * empty path → '/'
"""

from __future__ import annotations

from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CANON_SCHEMA = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
    ]
)


def _canonicalize_general(url: str) -> tuple[str, str]:
    """urllib-based canonicalizer: handles %-escapes, userinfo, ipv6 —
    the slow general path."""
    try:
        parts = urlsplit(url.strip())
        scheme = parts.scheme.lower()
        host = (parts.hostname or "").lower()
        port = parts.port
    except ValueError:
        return url, ""
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        netloc = f"{host}:{port}"
    else:
        netloc = host
    q = sorted(parse_qsl(parts.query, keep_blank_values=True))
    path = parts.path or "/"
    canon = urlunsplit((scheme, netloc, path, urlencode(q), ""))
    return canon, host


import re as _re

# query strings of plain tokens round-trip parse_qsl+urlencode as-is
# (modulo 'k' → 'k='); anything needing %-quoting takes the slow path
_SAFE_QUERY = _re.compile(r"^[A-Za-z0-9_.~=&\-]*$").match
_SIMPLE_NETLOC = _re.compile(r"^[A-Za-z0-9.\-]+(:\d+)?$").match
_SIMPLE_SCHEME = _re.compile(r"^[a-z][a-z0-9+.\-]*$").match


def canonicalize_one(url: str) -> tuple[str, str]:
    """Canonicalizer spec (idempotent): lowercase scheme+host, drop
    default ports and fragments, sort query params, '/' for empty path.

    Fast path is hand-rolled string slicing — the urllib version
    allocates so many small objects that 32 parallel workers collapse
    to sub-8-worker throughput (measured); anything with %-escapes,
    userinfo, ipv6 or other oddities falls back to the general path.
    Equivalence fast↔general is property-tested."""
    u = url
    # strip only when an edge char is whitespace (str.isspace and
    # str.strip agree on the Unicode whitespace set) — the common URL
    # skips the copy
    if u and (u[0].isspace() or u[-1].isspace()):
        u = u.strip()
    i = u.find("#")
    if i >= 0:
        u = u[:i]
    # literal prefix test for the two dominant schemes skips the
    # lower()+regex scheme validation (~12% of the kernel, measured)
    if u.startswith("https://"):
        scheme, rest = "https", u[8:]
    elif u.startswith("http://"):
        scheme, rest = "http", u[7:]
    else:
        i = u.find("://")
        if i <= 0:
            return _canonicalize_general(url)
        scheme = u[:i].lower()
        if not _SIMPLE_SCHEME(scheme):
            return _canonicalize_general(url)
        rest = u[i + 3 :]
    j = rest.find("/")
    if j < 0:
        netloc, pathq = rest, "/"
    else:
        netloc, pathq = rest[:j], rest[j:]
    if not _SIMPLE_NETLOC(netloc):
        return _canonicalize_general(url)
    netloc = netloc.lower()
    k = netloc.find(":")
    if k >= 0:
        host, port = netloc[:k], netloc[k + 1 :]
        if (scheme == "http" and port == "80") or (
            scheme == "https" and port == "443"
        ):
            netloc = host
    else:
        host = netloc
    q = pathq.find("?")
    if q < 0:
        path, query = pathq, ""
    else:
        path, query = pathq[:q], pathq[q + 1 :]
    if "?" in path or "%" in path:
        return _canonicalize_general(url)
    if query:
        if not _SAFE_QUERY(query):
            return _canonicalize_general(url)
        pairs = []
        for kv in query.split("&"):
            if not kv:
                continue
            n_eq = kv.count("=")
            if n_eq > 1:  # '=' inside a value gets %-quoted by urlencode
                return _canonicalize_general(url)
            pairs.append(kv if n_eq else kv + "=")
        pairs.sort(key=_pair_key)
        query = "&".join(pairs)
    canon = f"{scheme}://{netloc}{path}?{query}" if query else f"{scheme}://{netloc}{path}"
    return canon, host


def _pair_key(kv: str) -> tuple[str, str]:
    k, _, v = kv.partition("=")
    return (k, v)


@F.pandas_udf(_CANON_SCHEMA)
def _canonicalize_udf(urls: pd.Series) -> pd.DataFrame:
    # single pass, two flat lists — not .map chains (each is another
    # full-batch python loop + temporary)
    canons: list[str] = []
    hosts: list[str] = []
    canon = canonicalize_one
    for u in urls:
        c, h = canon(u)
        canons.append(c)
        hosts.append(h)
    return pd.DataFrame({"url_canon": canons, "host": hosts})


def with_url_canon(df: DataFrame) -> DataFrame:
    """Add url_canon, host, url_hash columns for the ``url`` column.
    xxhash64 stays JVM-side.

    Single-pass pandas-UDF form: safe for any upstream (the input frame
    is scanned exactly once).  Hot paths whose upstream is cheap to
    rescan (generated batches, parquet scans) should prefer
    :func:`with_url_canon_split`, which canonicalizes the common URL
    shape entirely in Catalyst codegen and falls back to this UDF only
    for rows that need the general parser."""
    return (
        df.withColumn("_c", _canonicalize_udf(F.col("url")))
        .withColumn("url_canon", F.col("_c.url_canon"))
        .withColumn("host", F.col("_c.host"))
        .drop("_c")
        .withColumn("url_hash", F.xxhash64("url_canon"))
    )


# ---------------------------------------------------------------------
# Catalyst fast-path canonicalizer (guide §4.1: built-ins beat any UDF).
#
# _FAST_URL_RE is a CONSERVATIVE eligibility gate: any URL it matches is
# provably handled bit-identically by the Catalyst expressions below
# (property-tested against canonicalize_one); anything else — userinfo,
# %-escapes, ipv6, whitespace, multi-'=' pairs, query-without-path —
# takes the pandas-UDF fallback, whose kernel IS canonicalize_one, so
# the split can never change a value, only where it is computed.
# ---------------------------------------------------------------------
_FAST_URL_RE = (
    r"^[A-Za-z][A-Za-z0-9+.\-]*://"  # scheme (find('://') > 0 shape)
    r"[A-Za-z0-9.\-]+(:[0-9]+)?"  # _SIMPLE_NETLOC
    r"(/[^#?%\s]*"  # path: no %-escapes, one '?' max, no whitespace
    r"(\?([A-Za-z0-9_.~\-]*(=[A-Za-z0-9_.~\-]*)?"  # _SAFE_QUERY and
    r"(&[A-Za-z0-9_.~\-]*(=[A-Za-z0-9_.~\-]*)?)*)?)?)?"  # ≤1 '=' per kv
    r"(#\S*)?\z"  # fragment (dropped); \z: '$' would admit a final '\n'
)


def _canon_fast_exprs() -> tuple[F.Column, F.Column]:
    """(url_canon, host) as pure Catalyst expressions — valid ONLY for
    rows matching _FAST_URL_RE (whitespace-free, so strip is a no-op).

    Shape notes (guide §4.1/§7.2): every piece is extracted by ONE
    anchored regex over the raw url — a deep chain of nested
    substring_index/when expressions re-evaluates its whole subtree per
    reference once any non-codegen expression drags the projection into
    interpreted mode (measured 5× slower than the python UDF), and
    higher-order array functions (array_sort with a comparator lambda)
    are exactly such expressions.  The query sort therefore avoids
    lambdas entirely: each 'k=v' becomes 'k\\x01v' (\\x01 sorts below
    every character the safe-query charset allows, so plain binary
    sort_array orders exactly like python's (key, value) tuple sort),
    then the separator is translated back."""
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    netloc = F.lower(F.regexp_extract(u, r"^[^:]+://([^/#]+)", 1))
    host = F.substring_index(netloc, ":", 1)
    # default-port drop (python compares the port STRING: ':080' kept —
    # the $-anchored ':80' regex likewise leaves it alone)
    netloc2 = (
        F.when(scheme == "http", F.regexp_replace(netloc, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(netloc, ":443$", ""))
        .otherwise(netloc)
    )
    path_m = F.regexp_extract(u, r"^[^:]+://[^/#]+(/[^#?]*)", 1)
    path = F.when(path_m == "", F.lit("/")).otherwise(path_m)
    query = F.regexp_extract(u, r"^[^#?]*\?([^#]*)", 1)
    # normalize: drop empty segments, give every pair exactly one '=',
    # swap it for \x01, binary-sort, join, swap back
    q1 = F.regexp_replace(
        F.regexp_replace(query, "&&+", "&"), "^&+|&+$", ""
    )
    q2 = F.regexp_replace(q1, "(^|&)([^&=]*)(?=&|$)", "$1$2=")
    q3 = F.regexp_replace(q2, "(^|&)([^&=]*)=", "$1$2\x01")
    qsorted = F.translate(
        F.array_join(F.sort_array(F.split(q3, "&")), "&"), "\x01", "="
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        netloc2,
        path,
        F.when(q1 == "", F.lit("")).otherwise(F.concat(F.lit("?"), qsorted)),
    )
    return canon, host


def with_url_canon_split(df: DataFrame) -> DataFrame:
    """with_url_canon via a Catalyst fast path: rows matching
    _FAST_URL_RE are canonicalized in whole-stage codegen (no python
    worker, no Arrow transfer — the JVM path also scales past the
    python allocator knee); the rest take the pandas-UDF fallback.
    Identical values to with_url_canon on every input (property-tested).

    The filter-split scans the input frame twice, so use this where the
    upstream is cheap to recompute (generated batches, column-pruned
    scans); keep plain with_url_canon over expensive upstreams like
    link-extraction output."""
    eligible = F.col("url").rlike(_FAST_URL_RE)
    canon, host = _canon_fast_exprs()
    fast = (
        df.filter(eligible)
        .withColumn("url_canon", canon)
        .withColumn("host", host)
        .withColumn("url_hash", F.xxhash64("url_canon"))
    )
    # a NULL url is neither eligible nor ~eligible: send it to the UDF
    # so it fails or passes exactly as in with_url_canon
    slow = with_url_canon(df.filter(F.coalesce(~eligible, F.lit(True))))
    return fast.unionByName(slow)


def surt_key(url_canon: F.Column, host: F.Column) -> F.Column:
    """Sort-friendly URI Reordering Transform (SURT) key, pure
    Catalyst: ``com,example)/path?a=1&b=2``.

    The canonical key web archives (Common Crawl CDX, OpenWayback)
    index by — reversed host labels group every subdomain of a
    registrable domain into one contiguous key range, so a sort by
    surt_key co-locates a domain's pages in the same partition range.
    Rules (simplified SURT, documented contract): lowercase host, one
    leading ``www.`` label stripped, host labels reversed and
    comma-joined, ``)`` separator, path appended verbatim, query
    parameters sorted lexicographically.  No UDF — at 100 TB this is
    a codegen expression feeding a range partitioner."""
    h = F.regexp_replace(F.lower(host), r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(h, r"\.")), ",")
    path = F.coalesce(F.parse_url(url_canon, F.lit("PATH")), F.lit("/"))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.parse_url(url_canon, F.lit("QUERY"))
    qsorted = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(
            query.isNotNull() & (query != ""), F.concat(F.lit("?"), qsorted)
        ).otherwise(F.lit("")),
    )


# Two-level public suffixes common enough to matter for grouping; the
# full Mozilla PSL is a data file a deployment can swap in — this
# compact built-in covers the frequent ccTLD second-level registries.
_TWO_LEVEL_SUFFIXES = (
    "co.kr", "or.kr", "go.kr", "ne.kr", "re.kr", "ac.kr", "pe.kr",
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "co.jp", "or.jp", "ne.jp", "ac.jp", "go.jp",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "com.br", "net.br", "org.br", "gov.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.tw", "org.tw", "net.tw",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "co.za", "org.za", "net.za",
    "com.mx", "org.mx", "net.mx",
    "com.ar", "com.tr", "com.sg", "com.hk", "com.my",
)


def registered_domain(host: F.Column) -> F.Column:
    """eTLD+1-style registrable domain, pure Catalyst: the politeness /
    budget grouping key one level above host (every subdomain of
    ``dart.fss.or.kr`` shares ``fss.or.kr``'s budget).

    Rule: ≤2 labels → the host itself; else if the last TWO labels
    form a known two-level public suffix → last THREE labels, else
    last TWO.  The suffix table is the compact built-in above (swap in
    the full PSL as a broadcast dim for exactness at deployment); IP
    literals pass through unchanged (no dots-only-digits check needed:
    an IPv4 'suffix' never matches the table, so the last-two rule
    yields the IP's tail — callers group IPs by full host instead,
    documented contract)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    last3 = F.concat_ws(
        ".",
        F.element_at(labels, -3),
        F.element_at(labels, -2),
        F.element_at(labels, -1),
    )
    is_two_level = last2.isin(*_TWO_LEVEL_SUFFIXES)
    return (
        F.when(n <= 2, host)
        .when(is_two_level & (n >= 3), last3)
        .otherwise(last2)
    )
