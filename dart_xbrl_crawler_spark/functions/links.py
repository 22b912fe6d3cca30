"""Link extraction + resolution — the crawl loop's discovery edge.

The reference never discovers links (its frontier comes from the DART
disclosure API), but the north-star input is Common-Crawl-style pages
with an ``html`` column, and a web-scale frontier grows by extracting
``href``s from fetched pages.  Everything here is JVM-side Catalyst —
``regexp_extract_all`` + array transforms; no UDF, no python — so link
discovery over 100 TB of html rides whole-stage codegen and pushes
straight into the insert/dedup path.

Resolution follows the common-case RFC 3986 rules a crawler needs:
absolute http(s) kept, protocol-relative gets the base scheme,
root-relative gets scheme://host, fragments/js/mailto dropped, other
relative paths resolve against the base directory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# One pattern per HTML attribute-quoting style (double-quoted,
# single-quoted, unquoted) — regexp_extract_all pulls a single group
# index, so the three styles are separate passes concatenated below.
# Each excludes empty and fragment-only ('#…') values at the first char.
_HREF_RES = (
    r'(?i)href\s*=\s*"([^"#][^"]*)"',
    r"(?i)href\s*=\s*'([^'#][^']*)'",
    r"""(?i)href\s*=\s*([^\s>"'#][^\s>]*)""",
)

# hrefs inside an <a> whose rel contains the nofollow token, both
# attribute orders × both href quote styles (an unquoted-href anchor
# that ALSO carries rel="nofollow" is outside the regex-honesty
# contract, like nested-anchor markup is for extract_anchor_texts)
_NOFOLLOW_HREF_RES = (
    r'(?is)<a\b[^>]*rel\s*=\s*["\'][^"\']*nofollow[^"\']*["\'][^>]*href\s*=\s*"([^"#][^"]*)"',
    r"(?is)<a\b[^>]*rel\s*=\s*[\"'][^\"']*nofollow[^\"']*[\"'][^>]*href\s*=\s*'([^'#][^']*)'",
    r'(?is)<a\b[^>]*href\s*=\s*"([^"#][^"]*)"[^>]*rel\s*=\s*["\'][^"\']*nofollow[^"\']*["\']',
    r"(?is)<a\b[^>]*href\s*=\s*'([^'#][^']*)'[^>]*rel\s*=\s*[\"'][^\"']*nofollow[^\"']*[\"']",
)


def decode_permissive(html_col: Column) -> Column:
    """binary html → string without ever throwing: a crawl frontier
    carries NON-TEXT payloads (ZIP filings, images, truncated bodies),
    and Spark 4's ``decode(_, 'UTF-8')`` raises MALFORMED_CHARACTER_
    CODING on the first invalid byte — one bad page would kill a whole
    discovery round.  ``cast(binary as string)`` reinterprets the
    bytes; ``make_valid_utf8`` repairs invalid sequences to U+FFFD
    (browser behavior, same errors=replace contract as
    functions/charset.py) — binary payloads simply yield no href/meta
    matches.  Both stay in codegen."""
    return F.make_valid_utf8(html_col.cast("string"))


def meta_robots_flags(html_text: Column) -> dict[str, Column]:
    """Page-level ``<meta name="robots">`` directives (RFC 9309's html
    companion, the part CCBot/Nutch honor): ``nofollow`` — contribute
    no outlinks; ``noindex`` — crawl but keep out of content sinks.
    Either attribute order, any quote style, token anywhere in the
    comma list.  Pure ``rlike`` — stays in codegen."""

    def _has(tok: str) -> Column:
        name_first = (
            r'(?is)<meta\b[^>]*name\s*=\s*["\']?robots["\']?[^>]*'
            r'content\s*=\s*["\'][^"\']*' + tok + r'[^"\']*["\']'
        )
        content_first = (
            r'(?is)<meta\b[^>]*content\s*=\s*["\'][^"\']*' + tok +
            r'[^"\']*["\'][^>]*name\s*=\s*["\']?robots["\']?'
        )
        return html_text.rlike(name_first) | html_text.rlike(content_first)

    return {"nofollow": _has("nofollow"), "noindex": _has("noindex")}


_MAX_DOT_DEPTH = 8


def normalize_dot_segments(url: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal, bounded: '/./' collapses and
    'seg/../' pairs cancel up to ``_MAX_DOT_DEPTH`` nesting levels (a
    deeper chain is pathological input, not a real site's layout).
    Chained regexp_replace — stays inside codegen, no UDF."""
    # (?<!/)(?<!:) guards keep the '//' of the scheme and the authority
    # out of reach — only PATH segments ever collapse
    u = url
    for _ in range(_MAX_DOT_DEPTH):
        u = F.regexp_replace(u, r"(?<!/)(?<!:)/\./", "/")
    u = F.regexp_replace(u, r"(?<!/)(?<!:)/\.$", "/")
    for _ in range(_MAX_DOT_DEPTH):
        # a non-'..' path segment followed by '/../' cancels
        u = F.regexp_replace(u, r"(?<!/)(?<!:)/(?!\.\./)[^/]+/\.\./", "/")
    u = F.regexp_replace(u, r"(?<!/)(?<!:)/(?!\.\./)[^/]+/\.\.$", "/")
    return u


def resolve_href(href: Column, scheme: Column, host: Column, base_dir: Column):
    """One href → absolute url (or null to drop).  ``base_dir`` is the
    base path up to and including the last '/'."""
    lower = F.lower(href)
    return (
        F.when(lower.rlike("^https?://"), href)
        .when(lower.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(
            lower.startswith("/"),
            normalize_dot_segments(
                F.concat(scheme, F.lit("://"), host, href)
            ),
        )
        .when(
            lower.rlike("^(javascript:|mailto:|tel:|data:|#)"),
            F.lit(None).cast("string"),
        )
        .when(lower.rlike("^[a-z][a-z0-9+.-]*:"), F.lit(None).cast("string"))
        .otherwise(
            normalize_dot_segments(
                F.concat(scheme, F.lit("://"), host, base_dir, href)
            )
        )
    )


def _page_base(pages: DataFrame, carry: tuple[str, ...] = ()):
    """The page side of link resolution: (src, scheme, host, base_dir).
    ``src`` holds the page's url, url_canon, host, ``carry`` and html
    columns, canonicalized only when url_canon is missing; the others
    are the page url's scheme, host and base directory (its path up to
    and including the final '/'), the resolve_href inputs."""
    from .urls import with_url_canon

    keep = [c for c in ("url", "url_canon", "host") if c in pages.columns]
    src = pages.select(*keep, *carry, "html")
    if "url_canon" not in src.columns:
        # fetched pages already carry url_canon/host — don't re-run the
        # canonicalizer python stage over them
        src = with_url_canon(src)
    scheme = F.regexp_extract(F.col("url_canon"), r"^([a-z][a-z0-9+.-]*):", 1)
    path = F.coalesce(
        F.parse_url(F.col("url_canon"), F.lit("PATH")), F.lit("/")
    )
    base_dir = F.regexp_extract(path, r"^(.*/)", 1)
    base_dir = F.when(base_dir == "", F.lit("/")).otherwise(base_dir)
    return src, scheme, F.col("host"), base_dir


def extract_links(
    pages: DataFrame,
    carry: tuple[str, ...] = (),
    respect_nofollow: bool = False,
) -> DataFrame:
    """pages(url, html, …) → (src_url, link): distinct absolute links
    per page, resolved against the page url.  Pure expressions.

    Reads only (url, html) — column pruning keeps the 100 TB scan
    narrow; the href regex walk happens inside codegen.  ``carry``
    names extra page columns passed through per output row (e.g. the
    parent's priority for inheritance) — cheaper than a join-back on
    src_url after the explode.  ``respect_nofollow`` applies the
    robots html companion: a page whose ``<meta name="robots">``
    carries ``nofollow`` contributes no links, and an href whose
    anchor carries ``rel="…nofollow…"`` is dropped (every copy of
    that href string on the page — the conservative reading)."""
    src, scheme, host, base_dir = _page_base(pages, carry)
    html_text = decode_permissive(F.col("html"))

    hrefs = F.concat(
        *[
            F.regexp_extract_all(html_text, F.lit(p), F.lit(1))
            for p in _HREF_RES
        ]
    )
    if respect_nofollow:
        nofollow = F.concat(
            *[
                F.regexp_extract_all(html_text, F.lit(p), F.lit(1))
                for p in _NOFOLLOW_HREF_RES
            ]
        )
        hrefs = F.when(
            meta_robots_flags(html_text)["nofollow"],
            F.array().cast("array<string>"),
        ).otherwise(F.array_except(hrefs, nofollow))
    resolved = F.array_distinct(
        F.filter(
            F.transform(
                hrefs, lambda h: resolve_href(h, scheme, host, base_dir)
            ),
            lambda x: x.isNotNull(),
        )
    )
    return (
        src.select(
            F.col("url").alias("src_url"), *carry, resolved.alias("_links")
        )
        .select("src_url", *carry, F.explode("_links").alias("link"))
    )


def extract_sitemap_entries(
    pages: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """sitemap.xml urlset pages → (src_url, loc, lastmod): the per-url
    ``<lastmod>`` that sitemaps.org defines next to each ``<loc>`` — the
    freshness hint a crawler feeds straight into its recrawl policy
    (a stored frontier row older than the advertised lastmod re-queues;
    pairs with the q63 change-rate estimate when no hint exists).

    Pure Catalyst: one regexp pass pulls whole ``<url>``/``<sitemap>``
    blocks, per-block transforms pull loc and the OPTIONAL lastmod
    (null when absent — surfaced, never defaulted).  Sitemaps are flat;
    a full XML parse buys nothing over the block walk.  ``carry``
    passes extra page columns through per entry (extract_links'
    contract — cheaper than a join-back on src_url)."""
    body = decode_permissive(F.col("html"))
    blocks = F.regexp_extract_all(
        body, F.lit(r"(?is)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"), F.lit(1)
    )
    entries = F.transform(
        blocks,
        lambda b: F.struct(
            F.regexp_extract(b, r"(?is)<loc>\s*([^<]+?)\s*</loc>", 1).alias(
                "loc"
            ),
            F.nullif(
                F.regexp_extract(
                    b, r"(?is)<lastmod>\s*([^<]+?)\s*</lastmod>", 1
                ),
                F.lit(""),
            ).alias("lastmod"),
        ),
    )
    return (
        pages.select(
            F.col("url").alias("src_url"),
            *carry,
            F.explode(F.array_distinct(entries)).alias("e"),
        )
        .filter(F.col("e.loc") != "")
        .select("src_url", F.col("e.loc").alias("loc"),
                F.col("e.lastmod").alias("lastmod"), *carry)
    )


def extract_feed_entries(
    pages: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """RSS/Atom feed pages → (src_url, link, published): the OTHER
    standing discovery channel next to sitemaps — feeds advertise new
    urls with a publication timestamp, which seeds the frontier at
    high freshness priority.

    One regexp block-walk in codegen: RSS ``<item>`` blocks yield
    ``<link>text</link>`` + optional ``<pubDate>``; Atom ``<entry>``
    blocks yield ``<link href="…">`` (any quote style) + optional
    ``<updated>``/``<published>``.  Missing timestamps surface as
    null."""
    body = decode_permissive(F.col("html"))
    blocks = F.regexp_extract_all(
        body, F.lit(r"(?is)<(?:item|entry)[\s>](.*?)</(?:item|entry)>"),
        F.lit(1),
    )

    def _first(b, pats):
        out = F.lit("")
        for p in pats:
            v = F.regexp_extract(b, p, 1)
            out = F.when(out == "", v).otherwise(out)
        return out

    entries = F.transform(
        blocks,
        lambda b: F.struct(
            _first(
                b,
                (
                    r'(?is)<link[^>]*href\s*=\s*"([^"]+)"',
                    r"(?is)<link[^>]*href\s*=\s*'([^']+)'",
                    r"(?is)<link>\s*([^<]+?)\s*</link>",
                ),
            ).alias("link"),
            F.nullif(
                _first(
                    b,
                    (
                        r"(?is)<pubdate>\s*([^<]+?)\s*</pubdate>",
                        r"(?is)<updated>\s*([^<]+?)\s*</updated>",
                        r"(?is)<published>\s*([^<]+?)\s*</published>",
                    ),
                ),
                F.lit(""),
            ).alias("published"),
        ),
    )
    return (
        pages.select(
            F.col("url").alias("src_url"),
            *carry,
            F.explode(F.array_distinct(entries)).alias("e"),
        )
        .filter(F.col("e.link") != "")
        .select("src_url", F.col("e.link").alias("link"),
                F.col("e.published").alias("published"), *carry)
    )


def _rel_link_href(html_text: Column, rel_pat: str, extra: str = "") -> Column:
    """First ``<link>`` href whose rel matches ``rel_pat`` (both
    attribute orders, both quote styles); '' when absent."""
    pats = (
        rf'(?is)<link\b[^>]*rel\s*=\s*["\']{rel_pat}["\'][^>]*{extra}[^>]*href\s*=\s*["\']([^"\']+)["\']',
        rf'(?is)<link\b[^>]*href\s*=\s*["\']([^"\']+)["\'][^>]*rel\s*=\s*["\']{rel_pat}["\']{"" if not extra else "[^>]*" + extra}',
    )
    out = F.lit("")
    for p in pats:
        v = F.regexp_extract(html_text, p, 1)
        out = F.when(out == "", v).otherwise(out)
    return out


def extract_canonical(pages: DataFrame) -> DataFrame:
    """(url, canonical): the page's advertised ``<link rel="canonical">``
    target (RFC 6596) — the dedup/indexing key every crawler honors
    (parameterized and mirrored spellings of one page all point at one
    canonical url; group content by it before the sink, exactly like
    redirect resolution canonicalizes the fetch side).  Null when the
    page advertises none.  One regexp in codegen."""
    href = _rel_link_href(decode_permissive(F.col("html")), "canonical")
    return pages.select(
        "url", F.nullif(href, F.lit("")).alias("canonical")
    )


def extract_feed_links(pages: DataFrame) -> DataFrame:
    """(src_url, feed_url, feed_type): RSS/Atom AUTODISCOVERY — the
    ``<link rel="alternate" type="application/rss+xml|atom+xml">``
    head elements html pages use to advertise their feeds; the
    discovered feed urls then fetch through the normal loop and
    extract_feed_entries takes over.  Pure Catalyst."""
    body = decode_permissive(F.col("html"))
    rows = []
    for ftype, mime in (("rss", "rss"), ("atom", "atom")):
        href = _rel_link_href(
            body, "alternate",
            extra=rf'type\s*=\s*["\']application/{mime}\+xml["\']',
        )
        rows.append((ftype, href))
    out = F.filter(
        F.array(
            *[
                F.struct(F.lit(t).alias("feed_type"), h.alias("feed_url"))
                for t, h in rows
            ]
        ),
        lambda e: e["feed_url"] != "",
    )
    return (
        pages.select(
            F.col("url").alias("src_url"), F.explode(out).alias("e")
        )
        .select("src_url", F.col("e.feed_url").alias("feed_url"),
                F.col("e.feed_type").alias("feed_type"))
    )


# Whole <a> elements with flat (non-nested) inner text — enough to
# carry anchor text into a link-text index.  Nested markup inside the
# anchor falls back to href-only extraction via extract_links.
_ANCHOR_RE = r"(?is)(<a\s[^>]*>[^<]*</a>)"


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """pages(url, html, …) → (src_url, link, anchor): resolved absolute
    link + trimmed anchor text per <a> element.  Pure Catalyst (no
    UDF): one regexp_extract_all pass pulls whole anchor elements,
    per-element transforms pull the href and inner text, resolution
    reuses resolve_href.

    This is the anchor-text half of a link-text index (the signal
    web-search and LLM pretraining pipelines aggregate per TARGET url:
    what the web calls a page).  Downstream: groupBy(link) — an
    equality-keyed shuffle, never a cross join."""
    src, scheme, host, base_dir = _page_base(pages)
    html_text = decode_permissive(F.col("html"))

    elems = F.regexp_extract_all(html_text, F.lit(_ANCHOR_RE), F.lit(1))
    pairs = F.filter(
        F.transform(
            elems,
            lambda e: F.struct(
                resolve_href(
                    F.coalesce(
                        *[
                            F.nullif(
                                F.regexp_extract(e, p, 1), F.lit("")
                            )
                            for p in _HREF_RES
                        ]
                    ),
                    scheme,
                    host,
                    base_dir,
                ).alias("link"),
                F.trim(F.regexp_extract(e, r"(?s)>([^<]*)<", 1)).alias(
                    "anchor"
                ),
            ),
        ),
        lambda s: s["link"].isNotNull(),
    )
    return (
        src.select(F.col("url").alias("src_url"), pairs.alias("_p"))
        .select("src_url", F.explode("_p").alias("p"))
        .select("src_url", F.col("p.link").alias("link"),
                F.col("p.anchor").alias("anchor"))
    )
