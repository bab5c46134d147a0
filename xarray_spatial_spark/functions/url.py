"""URL structure functions for Common-Crawl-style corpora.

Everything here is plain Catalyst string expressions (codegen, no
Python): at 10^12 rows these run inside the scan stage, and host /
registered-domain keys feed groupBys whose shuffle carries short
strings only.

``registered_domain`` uses a compact heuristic for the public-suffix
rule (last two labels, or last three under common second-level
registries like ``co.uk``) — the full Mozilla public-suffix list is a
data file, not an algorithm; swap ``_SLD`` for a broadcast lookup to
get exact PSL semantics.  The heuristic is deterministic and
documented, which is what the dedup/stats pipelines need.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# second-level registry labels that pull a third label into the
# registered domain when the TLD is a 2-letter ccTLD (co.uk, com.au, ...)
_SLD = ("co", "com", "ac", "gov", "edu", "org", "net")

_AUTHORITY_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)"


def url_host(url: Column) -> Column:
    """Lower-cased host: authority minus userinfo and port.  Empty
    string when the value has no ``scheme://`` authority."""
    auth = F.regexp_extract(url, _AUTHORITY_RE, 1)
    no_user = F.regexp_replace(auth, "^.*@", "")
    return F.lower(F.regexp_replace(no_user, ":[0-9]+$", ""))


def url_path(url: Column) -> Column:
    """Path component ('' when absent); query/fragment excluded."""
    return F.regexp_extract(url, _PATH_RE, 1)


def path_depth(url: Column) -> Column:
    """Number of non-empty path segments: ``/a/b/c`` -> 3."""
    segs = F.split(url_path(url), "/")
    return F.size(F.filter(segs, lambda x: x != F.lit("")))


def registered_domain(host: Column) -> Column:
    """Heuristic eTLD+1: ``a.b.example.com`` -> ``example.com``,
    ``x.example.co.uk`` -> ``example.co.uk`` (see module docstring)."""
    parts = F.split(host, "\\.")
    n = F.size(parts)
    sld = F.element_at(parts, -2)
    tld = F.element_at(parts, -1)
    use3 = (
        (n >= 3)
        & sld.isin(*_SLD)
        & (F.length(tld) == 2)
    )
    take = F.when(use3, F.lit(3)).otherwise(F.least(n, F.lit(2)))
    return F.concat_ws(".", F.slice(parts, n - take + 1, take))


def url_normalize(url: Column) -> Column:
    """Canonical URL for dedup keys — the standard crawl-curation
    normalization, all Catalyst string ops (codegen, scan-stage):

    - scheme and host lower-cased; userinfo and default ports
      (``:80`` for http, ``:443`` for https) dropped;
    - fragment dropped;
    - tracking query parameters removed (``utm_*``, ``gclid``,
      ``fbclid``, ``ref``), remaining parameters SORTED for
      order-insensitive equality; an emptied query drops its ``?``;
    - trailing slash trimmed from non-root paths; empty path on an
      authority URL becomes ``/``.

    Two URLs that differ only in these dimensions normalize to the
    same string, so ``exact_duplicates`` on the normalized column
    collapses crawl re-fetches of the same resource."""
    scheme = F.lower(F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(url)
    port = F.regexp_extract(
        F.regexp_replace(F.regexp_extract(url, _AUTHORITY_RE, 1), "^.*@", ""),
        ":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = url_path(url)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = F.when(path == "/", path).otherwise(
        F.regexp_replace(path, "/$", ""))
    # fragment stripped FIRST: a '?' whose first occurrence is inside
    # the fragment (http://e.com/p#a?b=1) is not a query
    nofrag = F.regexp_replace(url, "#.*", "")
    query = F.regexp_extract(nofrag, r"\?(.*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.rlike("^(utm_[^=]*|gclid|fbclid|ref)(=|$)"),
    )
    sorted_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q))
        .otherwise(F.lit("")),
    )


def surt(url: Column) -> Column:
    """Sort-friendly URI Reordering Transform — the key form of every
    web-archive index (Internet Archive SURT; Common Crawl's CDX files
    are sorted by it): reversing the host labels makes one domain's
    captures LEXICALLY CONTIGUOUS, so a sorted index answers
    "everything under example.com/blog/" as a single key-range scan.

    ``https://User@WWW.Example.co.uk:8443/A/B?b=2&a=1#frag`` ->
    ``uk,co,example:8443)/a/b?a=1&b=2``

    Subset implemented (documented canonicalization, pure Catalyst):
    scheme and userinfo dropped; host lower-cased, leading ``www\\d*.``
    stripped, labels reversed and comma-joined; default ports (80
    http / 443 https) dropped, others kept before the ``)``; path
    lower-cased, empty path -> ``/``; fragment dropped; query params
    lower-cased and SORTED (order-insensitive equality), an emptied
    query drops its ``?``."""
    scheme = F.lower(
        F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = F.regexp_replace(url_host(url), "^www[0-9]*\\.", "")
    rev = F.array_join(F.reverse(F.split(host, "\\.")), ",")
    port = F.regexp_extract(
        F.regexp_replace(F.regexp_extract(url, _AUTHORITY_RE, 1), "^.*@", ""),
        ":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    path = F.lower(url_path(url))
    path = F.when(path == "", F.lit("/")).otherwise(path)
    nofrag = F.regexp_replace(url, "#.*", "")
    query = F.lower(F.regexp_extract(nofrag, r"\?(.*)", 1))
    params = F.filter(F.split(query, "&"), lambda p: p != "")
    sorted_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        rev,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        F.lit(")"), path,
        F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q))
        .otherwise(F.lit("")),
    )


def host_stats(
    df: DataFrame, url_col: str = "url", n_chars_col: str | None = None
) -> DataFrame:
    """Per-registered-domain corpus stats: page count, distinct hosts,
    (optional) total chars.  One hash aggregate; domain keys are short
    so the shuffle is a few bytes per map-side partial."""
    host = url_host(F.col(url_col)).alias("host")
    dom = registered_domain(url_host(F.col(url_col))).alias("domain")
    base = df.select(dom, host, *( [F.col(n_chars_col)] if n_chars_col else [] ))
    aggs = [
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("host").alias("n_hosts"),
    ]
    if n_chars_col:
        aggs.append(F.sum(n_chars_col).alias("sum_chars"))
    return base.groupBy("domain").agg(*aggs)


# ---------------------------------------------------------------------------
# Hyperlink extraction -> web-graph edges
# ---------------------------------------------------------------------------
#
# The bridge from crawl pages to the graph tier (functions/graph.py
# pagerank / connected_components): pull href targets out of stored
# HTML and resolve them to absolute URLs, all in Catalyst string
# expressions — at crawl scale this runs inside the scan stage and
# the exchange only ever carries (src, dst) short strings.
#
# Scope (documented, deliberate): quoted href attributes of <a> tags;
# RFC 3986 resolution for the cases that dominate real markup
# (absolute, protocol-relative, root-relative, path-relative with
# bounded ../ depth); javascript:/mailto:/data:/tel: and
# fragment-only targets are dropped.  Dot-segment removal unrolls a
# fixed 4 rounds — beyond 4 levels of ../ the residue is left intact
# rather than mis-resolved.

_HREF_RE = "(?i)<a\\s[^>]*href\\s*=\\s*[\"']([^\"'#][^\"']*)[\"']"
_SKIP_SCHEME_RE = "(?i)^(javascript|mailto|data|tel):"


def _resolve_link(href: Column, scheme: Column, host: Column,
                  base_dir: Column) -> Column:
    """One href -> absolute URL (null when dropped)."""
    absolute = href.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://")
    proto_rel = href.startswith("//")
    root_rel = href.startswith("/") & ~proto_rel
    resolved = (
        F.when(href.rlike(_SKIP_SCHEME_RE), F.lit(None))
        .when(absolute, href)
        .when(proto_rel, F.concat(scheme, F.lit(":"), href))
        .when(root_rel, F.concat(scheme, F.lit("://"), host, href))
        .otherwise(
            F.concat(scheme, F.lit("://"), host, base_dir, F.lit("/"), href)
        )
    )
    # strip fragment, then bounded dot-segment removal: each round
    # collapses one "seg/../" level; the lookbehind [:/] keeps the
    # match off "://host/../" (which would otherwise eat the host —
    # that residue is left intact, like a root-clamping browser)
    resolved = F.regexp_replace(resolved, "#.*", "")
    for _ in range(4):
        resolved = F.regexp_replace(resolved, "/\\./", "/")
        resolved = F.regexp_replace(
            resolved, "(?<![:/])/(?!\\.\\./)[^/]+/\\.\\./", "/")
    return resolved


def extract_links(html: Column, base_url: Column) -> Column:
    """array<string> of absolute link targets of one page.  ``html``
    may be a string or binary column; ``base_url`` anchors relative
    references."""
    page = F.when(
        html.cast("string").isNotNull(), html.cast("string")
    ).otherwise(F.lit(""))
    hrefs = F.regexp_extract_all(page, F.lit(_HREF_RE), F.lit(1))
    scheme = F.lower(
        F.regexp_extract(base_url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(base_url)
    path = url_path(base_url)
    base_dir = F.when(
        path.rlike("/"), F.regexp_replace(path, "/[^/]*$", "")
    ).otherwise(F.lit(""))
    out = F.transform(
        hrefs, lambda h: _resolve_link(h, scheme, host, base_dir))
    return F.filter(out, lambda u: u.isNotNull() & (u != ""))


def link_edges(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    normalize: bool = True,
    distinct: bool = True,
    followed_only: bool = False,
) -> DataFrame:
    """(src, dst) edge table of the page graph — the input of
    pagerank / connected_components.  ``normalize`` canonicalizes
    both endpoints (url_normalize) so re-fetch aliases collapse to
    one node; self-loops are dropped.  ``followed_only`` drops
    anchors whose rel carries nofollow/ugc/sponsored
    (:func:`extract_followed_links`) — the edge set link-based
    ranking should see."""
    from xarray_spatial_spark.functions.spread import spread

    src = F.col(url_col)
    extractor = extract_followed_links if followed_only else extract_links
    dst = F.explode(extractor(F.col(html_col), F.col(url_col)))
    # anchor extraction is regex-heavy scan-stage work (spread.py)
    edges = spread(df.select(url_col, html_col)).select(
        src.alias("_src"), dst.alias("_dst"))
    if normalize:
        edges = edges.select(
            url_normalize(F.col("_src")).alias("src"),
            url_normalize(F.col("_dst")).alias("dst"),
        )
    else:
        edges = edges.select(
            F.col("_src").alias("src"), F.col("_dst").alias("dst"))
    edges = edges.filter(F.col("src") != F.col("dst"))
    return edges.distinct() if distinct else edges


# ---------------------------------------------------------------------------
# anchor text
# ---------------------------------------------------------------------------

# Same scope as _HREF_RE but capturing the element body too, so the
# anchor TEXT rides along with the target.  Nested inline markup
# inside the body is stripped after capture.
_ANCHOR_RE = ("(?is)<a\\s[^>]*href\\s*=\\s*[\"']([^\"'#][^\"']*)[\"']"
              "[^>]*>(.*?)</a>")


def extract_anchors(html: Column, base_url: Column) -> Column:
    """array<struct<url,anchor>>: each link of the page with its
    visible anchor text (inline tags stripped, whitespace collapsed).
    Targets resolve exactly like :func:`extract_links`; links whose
    body renders empty (image links) keep ``anchor=''``.  Two
    ``regexp_extract_all`` passes over the SAME pattern (group 1 then
    group 2) stay index-aligned by construction, so ``arrays_zip``
    re-pairs them without a shuffle."""
    page = F.when(
        html.cast("string").isNotNull(), html.cast("string")
    ).otherwise(F.lit(""))
    hrefs = F.regexp_extract_all(page, F.lit(_ANCHOR_RE), F.lit(1))
    bodies = F.regexp_extract_all(page, F.lit(_ANCHOR_RE), F.lit(2))
    texts = F.transform(
        bodies,
        lambda b: F.trim(F.regexp_replace(
            F.regexp_replace(b, "<[^>]*>", " "), "\\s+", " ")))
    scheme = F.lower(
        F.regexp_extract(base_url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(base_url)
    path = url_path(base_url)
    base_dir = F.when(
        path.rlike("/"), F.regexp_replace(path, "/[^/]*$", "")
    ).otherwise(F.lit(""))
    zipped = F.zip_with(
        hrefs, texts,
        lambda h, t: F.struct(
            _resolve_link(h, scheme, host, base_dir).alias("url"),
            t.alias("anchor")))
    return F.filter(
        zipped, lambda s: s["url"].isNotNull() & (s["url"] != ""))


def anchor_text(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    k: int = 3,
    normalize: bool = True,
) -> DataFrame:
    """Incoming anchor-text profile per target URL — the classic
    web-search/page-quality signal (anchors describe the TARGET
    better than its own body; Brin & Page 1998 §2.2).  Returns
    (url, n_inlinks, n_source_hosts, top_anchors) where top_anchors
    is the k most frequent non-empty anchor strings, ties broken
    lexically for determinism.

    Scale shape: explode -> one groupBy (url, anchor) with map-side
    combine carrying a distinct-host sketch, then a per-url window
    over the DISTINCT anchor strings (bounded per url), never over
    raw inlinks — a megapage with 10^9 identical "click here" inlinks
    costs one combiner cell, not a window partition."""
    from pyspark.sql import Window

    src = F.col(url_col)
    pairs = df.select(
        url_host(src).alias("_shost"),
        F.explode(extract_anchors(F.col(html_col), src)).alias("_a"),
    ).select(
        "_shost",
        (url_normalize(F.col("_a.url")) if normalize
         else F.col("_a.url")).alias("_url"),
        F.col("_a.anchor").alias("_anchor"),
    )
    # distinct source hosts must merge ACROSS anchors of a url, so the
    # per-anchor combine carries a mergeable HLL sketch, not a count
    per_anchor = pairs.groupBy("_url", "_anchor").agg(
        F.count(F.lit(1)).alias("_n"),
        F.hll_sketch_agg("_shost").alias("_hs"),
    )
    w = Window.partitionBy("_url").orderBy(
        F.col("_n").desc(), F.col("_anchor").asc())
    ranked = per_anchor.withColumn(
        "_r",
        F.row_number().over(w) if k else F.lit(1))
    return (
        ranked.groupBy("_url")
        .agg(
            F.sum("_n").alias("n_inlinks"),
            F.hll_sketch_estimate(F.hll_union_agg("_hs"))
            .alias("n_source_hosts"),
            F.array_sort(F.collect_list(F.when(
                (F.col("_r") <= k) & (F.col("_anchor") != ""),
                F.struct("_r", "_anchor")))).alias("_top"),
        )
        .select(
            F.col("_url").alias("url"),
            "n_inlinks",
            "n_source_hosts",
            F.transform(F.col("_top"), lambda s: s["_anchor"])
            .alias("top_anchors"),
        )
    )


# ---------------------------------------------------------------------------
# redirect-chain resolution
# ---------------------------------------------------------------------------


def resolve_redirects(
    redirects: DataFrame,
    max_hops: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Collapse redirect chains to their final targets — the mapping
    that makes 301/302/canonical aliases share one dedup key.

    Input: one (src, dst) edge per redirecting URL (exact duplicate
    edges collapse; a src with CONFLICTING targets — crawl races —
    deterministically keeps the smallest dst).  Output: one row per
    redirecting url with ``final_url`` (first non-redirecting target
    within ``max_hops``), ``hops``, and ``unresolved`` (True for
    cycles and over-length chains, where final_url is NULL and hops
    -1 — a crawler treats both the same: stop following).

    POINTER DOUBLING, not per-hop walking: round k composes the
    mapping with itself (m'(u) = m(m(u)) where m(u) still points at a
    redirecting url), so ``ceil(log2(max_hops))`` self-joins resolve
    every chain up to max_hops — 3 exchanges for 8 hops, 5 for 32 —
    each join keyed on the (small) redirect table itself, never the
    corpus.  After the rounds, anything still pointing at a source is
    a cycle or an over-length chain.  An unrolled SQL twin replays
    the identical rounds (oracle ``redirects``)."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    edges = (
        redirects.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .groupBy("_u").agg(F.min("_v").alias("_v"))
        .localCheckpoint()
    )
    m = edges.select("_u", "_v", F.lit(1).cast("long").alias("_h"))
    rounds = max(1, math.ceil(math.log2(max_hops)))
    for _ in range(rounds):
        # materialize each generation (pagerank's localCheckpoint
        # pattern): the self-join must reference ONE computed copy of
        # the mapping — joining a lazy plan with itself doubles the
        # logical tree every round (2^rounds joins and the previous
        # generation computed twice per round; plan-pinned linear)
        m = m.localCheckpoint()
        nxt = m.select(F.col("_u").alias("_ju"),
                       F.col("_v").alias("_jv"),
                       F.col("_h").alias("_jh"))
        m = m.join(nxt, m["_v"] == nxt["_ju"], "left").select(
            "_u",
            F.coalesce("_jv", "_v").alias("_v"),
            (F.col("_h") + F.coalesce("_jh", F.lit(0))).alias("_h"),
        )
    # still pointing at a redirecting url => cycle / over-length
    srcs = edges.select(F.col("_u").alias("_v")).withColumn(
        "_is_src", F.lit(True))
    out = m.join(srcs, "_v", "left")
    bad = F.col("_is_src").isNotNull() | (F.col("_h") > max_hops)
    return out.select(
        F.col("_u").alias("url"),
        F.when(bad, F.lit(None)).otherwise(F.col("_v")).alias("final_url"),
        F.when(bad, F.lit(-1)).otherwise(F.col("_h")).alias("hops"),
        bad.alias("unresolved"),
    )


_A_TAG_RE = "(?is)<a\\s[^>]*>"
_NOFOLLOW_REL_RE = (
    "(?i)rel\\s*=\\s*[\"']?[^\"'>]*\\b(nofollow|ugc|sponsored)\\b")


def extract_followed_links(html: Column, base_url: Column) -> Column:
    """array<string> of absolute link targets EXCLUDING anchors whose
    rel carries nofollow/ugc/sponsored — the link set a ranking
    crawler feeds into PageRank (rel=nofollow exists precisely to
    keep comment/paid links out of link-based ranking).  Same RFC
    3986 resolution and scheme skip-list as :func:`extract_links`."""
    page = F.when(
        html.cast("string").isNotNull(), html.cast("string")
    ).otherwise(F.lit(""))
    tags = F.regexp_extract_all(page, F.lit(_A_TAG_RE), F.lit(0))
    followed = F.filter(tags, lambda t: ~t.rlike(_NOFOLLOW_REL_RE))
    hrefs = F.transform(
        followed,
        lambda t: F.regexp_extract(t, _HREF_RE, 1))
    hrefs = F.filter(hrefs, lambda h: h != "")
    scheme = F.lower(
        F.regexp_extract(base_url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(base_url)
    path = url_path(base_url)
    base_dir = F.when(
        path.rlike("/"), F.regexp_replace(path, "/[^/]*$", "")
    ).otherwise(F.lit(""))
    out = F.transform(
        hrefs, lambda h: _resolve_link(h, scheme, host, base_dir))
    return F.filter(out, lambda u: u.isNotNull() & (u != ""))


def url_template(url: Column) -> Column:
    """Generalized URL shape for trap mining: lowercase host + path
    with digit runs -> 'N', long hex runs (>= 8, the session-id /
    content-hash signature) -> 'H', and the query reduced to its
    sorted key set (values dropped — ?page=1/?page=2 share a
    template).  Pure Catalyst."""
    host = F.lower(url_host(url))
    raw_path = F.lower(F.coalesce(url_path(url), F.lit("")))
    path = F.when(raw_path == "", F.lit("/")).otherwise(raw_path)
    path = F.regexp_replace(path, "[0-9a-f]{8,}", "H")
    path = F.regexp_replace(path, "[0-9]+", "N")
    q = F.regexp_extract(F.regexp_replace(url, "#.*$", ""),
                         "\\?([^#]*)$", 1)
    keys = F.array_sort(F.filter(
        F.transform(
            F.split(q, "&"),
            lambda kv: F.lower(F.regexp_extract(kv, "^([^=]*)", 1))),
        lambda k: k != ""))
    qpart = F.when(F.size(keys) > 0,
                   F.concat(F.lit("?"), F.array_join(keys, "&"))
                   ).otherwise(F.lit(""))
    return F.concat(host, path, qpart)


def trap_candidates(
    df: DataFrame,
    url_col: str = "url",
    max_urls_per_template: int = 1000,
) -> DataFrame:
    """(host, template, n_urls) for URL templates whose DISTINCT-url
    cardinality exceeds ``max_urls_per_template`` — the crawler-trap
    signal (infinite calendars, faceted search, session ids): a
    template that generates unbounded URLs on one host is something a
    frontier caps or skips, long before per-page quality signals can
    help.

    Scale: one hash aggregate keyed by (host, template, url-hash
    distinct) — count(DISTINCT xxhash64(url)) keeps raw URLs out of
    the final exchange; templates are bounded per host (site code,
    not site content), so the output is broadcastable back into the
    frontier as a skip-list."""
    u = F.col(url_col)
    t = df.select(
        F.lower(url_host(u)).alias("host"),
        url_template(u).alias("template"),
        F.xxhash64(u).alias("_uh"),
    )
    return (
        t.groupBy("host", "template")
        .agg(F.count_distinct(F.col("_uh")).alias("n_urls"))
        .filter(F.col("n_urls") > max_urls_per_template)
    )


def canonical_aliases(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    redirects: DataFrame | None = None,
    same_host_only: bool = True,
) -> DataFrame:
    """(url, canonical_url) resolving every alias channel a crawl
    sees at once: ``url_normalize`` re-fetch aliases (tracking params,
    default ports, fragment forms), ``<link rel=canonical>``
    declarations, and HTTP redirect chains — connected components
    over the union alias graph, so transitive chains (page ->
    canonical -> redirect -> normalized form) collapse to ONE
    canonical per cluster.

    The representative is deterministic: the lexicographically
    smallest cluster member that some edge points TO (a declared
    canonical / redirect target / normalized form), falling back to
    the smallest member.  ``same_host_only`` ignores cross-host
    rel=canonical declarations (the spam vector canonical abuse
    exploits); redirects are trusted cross-host (the server really
    did send the client there).

    Scale: edges are url-pair strings (no payloads);
    regions.connected_components is the verified min-label fixed point;
    the representative pass is two hash aggregates over (label, url).
    """
    from xarray_spatial_spark.operators.regions import connected_components
    from xarray_spatial_spark.functions.html import canonical_url

    u = F.col(url_col)
    norm = url_normalize(u)
    e_norm = pages.select(u.alias("src"), norm.alias("dst"))
    canon = F.nullif(F.trim(canonical_url(F.col(html_col))), F.lit(""))
    # relative rel=canonical is rare and ambiguous mid-pipeline — only
    # absolute declarations form edges
    canon = F.when(canon.rlike("^[hH][tT][tT][pP][sS]?://"),
                   url_normalize(canon))
    e_canon = pages.select(u.alias("src"), canon.alias("dst")).filter(
        F.col("dst").isNotNull())
    if same_host_only:
        e_canon = e_canon.filter(
            url_host(F.col("src")) == url_host(F.col("dst")))
    edges = e_norm.unionByName(e_canon)
    if redirects is not None:
        e_re = redirects.select(
            url_normalize(F.col("src")).alias("src"),
            url_normalize(F.col("dst")).alias("dst"),
        )
        edges = edges.unionByName(e_re)
    edges = edges.filter(F.col("src") != F.col("dst")).distinct()

    members = pages.select(u.alias("url")).union(
        edges.select(F.col("src").alias("url"))
    ).union(edges.select(F.col("dst").alias("url"))).distinct()
    # connected_components works on numeric node ids: urls ride as
    # xxhash64 (collision odds negligible against cluster counts),
    # labels join back through the members frame
    h_edges = (
        members.select(F.xxhash64("url").alias("src"),
                       F.xxhash64("url").alias("dst"))
        .unionByName(edges.select(F.xxhash64("src").alias("src"),
                                  F.xxhash64("dst").alias("dst")))
    )
    labels = connected_components(h_edges)
    cc = members.join(
        labels, members["url"].isNotNull()
        & (F.xxhash64(members["url"]) == labels["node"]),
    ).select("url", "label")

    targets = edges.select(F.col("dst").alias("url")).distinct() \
        .withColumn("_is_target", F.lit(1))
    rep = (
        cc.join(targets, "url", "left")
        .groupBy("label")
        .agg(
            F.min(F.when(F.col("_is_target") == 1, F.col("url")))
            .alias("_t"),
            F.min("url").alias("_any"),
        )
        .select("label", F.coalesce("_t", "_any").alias("canonical_url"))
    )
    return (
        cc.join(rep, "label")
        .select("url", "canonical_url")
    )
