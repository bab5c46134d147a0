"""HTML page-metadata extraction — pure Catalyst regexes.

The head-of-page signals a crawl-curation pipeline keys on beside the
body text: title, meta description, canonical URL, declared charset,
and the robots noindex/nofollow meta flags.  All `regexp_extract`
over the (possibly binary) html column — codegen, scan-stage, no
Python at any scale.

Scope: the common attribute orders real markup uses (name/content in
either order, single or double quotes, case-insensitive).  A full
HTML5 tree parser is out of scope by design — these are signals, not
a DOM; the regexes are documented and golden-tested per branch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_Q = "[\"']"


def _page(html: Column) -> Column:
    return F.coalesce(html.cast("string"), F.lit(""))


def _meta_content(page: Column, name: str) -> Column:
    """<meta name=X content=Y> with either attribute order."""
    a = F.regexp_extract(
        page,
        f"(?is)<meta\\s[^>]*name\\s*=\\s*{_Q}?{name}{_Q}?[^>]*"
        f"content\\s*=\\s*{_Q}([^\"']*){_Q}",
        1,
    )
    b = F.regexp_extract(
        page,
        f"(?is)<meta\\s[^>]*content\\s*=\\s*{_Q}([^\"']*){_Q}[^>]*"
        f"name\\s*=\\s*{_Q}?{name}{_Q}?",
        1,
    )
    return F.when(a != "", a).otherwise(b)


def page_title(html: Column) -> Column:
    t = F.regexp_extract(_page(html), "(?is)<title[^>]*>(.*?)</title>", 1)
    return F.nullif(F.trim(F.regexp_replace(t, "\\s+", " ")), F.lit(""))


def meta_description(html: Column) -> Column:
    return F.nullif(_meta_content(_page(html), "description"), F.lit(""))


def canonical_url(html: Column) -> Column:
    p = _page(html)
    a = F.regexp_extract(
        p,
        f"(?is)<link\\s[^>]*rel\\s*=\\s*{_Q}canonical{_Q}[^>]*"
        f"href\\s*=\\s*{_Q}([^\"']*){_Q}",
        1,
    )
    b = F.regexp_extract(
        p,
        f"(?is)<link\\s[^>]*href\\s*=\\s*{_Q}([^\"']*){_Q}[^>]*"
        f"rel\\s*=\\s*{_Q}canonical{_Q}",
        1,
    )
    return F.nullif(F.when(a != "", a).otherwise(b), F.lit(""))


def declared_charset(html: Column) -> Column:
    """<meta charset=X> or the http-equiv Content-Type charset."""
    p = _page(html)
    a = F.regexp_extract(
        p, f"(?is)<meta\\s[^>]*charset\\s*=\\s*{_Q}?([a-zA-Z0-9_-]+)", 1)
    return F.nullif(F.lower(a), F.lit(""))


def robots_meta(html: Column) -> Column:
    """struct(noindex, nofollow) from <meta name=robots>."""
    c = F.lower(_meta_content(_page(html), "robots"))
    return F.struct(
        c.rlike("(^|[ ,])noindex($|[ ,])").alias("noindex"),
        c.rlike("(^|[ ,])nofollow($|[ ,])").alias("nofollow"),
    )


def page_metadata(html: Column) -> Column:
    """One struct with every signal — select it once, Catalyst prunes
    the fields downstream consumers don't read."""
    return F.struct(
        page_title(html).alias("title"),
        meta_description(html).alias("description"),
        canonical_url(html).alias("canonical"),
        declared_charset(html).alias("charset"),
        robots_meta(html).alias("robots"),
    )


# ---------------------------------------------------------------------------
# main-content extraction (boilerplate removal)
# ---------------------------------------------------------------------------

# Subtrees that are never content: dropped wholesale before block
# segmentation so a 200 kB inline script can't masquerade as a long
# text block.
_NONCONTENT_RE = (
    "(?is)<(script|style|noscript|template|svg|head)\\b[^>]*>.*?</\\1\\s*>"
)
_COMMENT_RE = "(?s)<!--.*?-->"
# Block-level boundaries: the page splits into candidate text blocks
# at these tags (open or close).  Inline markup (<a>, <b>, <span>, …)
# stays inside a block so per-block link density can be measured.
_BLOCK_TAG_RE = (
    "(?i)</?(?:p|div|main|article|section|header|footer|nav|aside|"
    "ul|ol|li|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|h[1-6]|"
    "blockquote|pre|figure|figcaption|form|fieldset|details|summary|"
    "br|hr)\\b[^>]*>"
)
_ANCHOR_TEXT_RE = "(?is)<a\\b[^>]*>(.*?)</a>"
_INLINE_TAG_RE = "<[^>]*>"


def _unescape_entities(c: Column) -> Column:
    """The five named entities + nbsp that dominate real markup.
    ``&amp;`` must decode LAST or ``&amp;lt;`` would double-decode."""
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _block_text(b: Column) -> Column:
    t = F.regexp_replace(b, _INLINE_TAG_RE, " ")
    return _unescape_entities(F.trim(F.regexp_replace(t, "\\s+", " ")))


def _block_link_chars(b: Column) -> Column:
    """Character count of text living inside <a>…</a> within the
    block — the numerator of jusText/boilerpipe link density."""
    anchors = F.regexp_extract_all(b, F.lit(_ANCHOR_TEXT_RE), F.lit(1))
    stripped = F.transform(
        anchors,
        lambda a: F.trim(F.regexp_replace(
            F.regexp_replace(a, _INLINE_TAG_RE, " "), "\\s+", " ")))
    return F.length(F.array_join(stripped, " "))


def main_content(html: Column, min_chars: int = 25,
                 max_link_density: float = 0.5) -> Column:
    """Boilerplate-stripped body text: the jusText/boilerpipe idea
    (block segmentation + per-block link density; Kohlschütter et al.
    WSDM'10, Pomikálek 2011) as pure Catalyst — split on block-level
    tags, keep blocks with >= ``min_chars`` of text whose
    link-text share is <= ``max_link_density``, join with newlines.

    Nav bars, footers, menus and related-link lists are short and
    link-saturated on both axes, so the two thresholds remove them
    without a DOM; scan-stage codegen at any scale (the split array's
    elements are small block strings — per-element regexes never
    re-copy the page).  This is a lossy CONTENT heuristic, distinct
    from ``sources.documents.extract_text`` which strips tags
    verbatim for byte-identity."""
    page = _page(html)
    page = F.regexp_replace(page, _COMMENT_RE, " ")
    page = F.regexp_replace(page, _NONCONTENT_RE, " ")
    blocks = F.split(page, _BLOCK_TAG_RE)
    scored = F.transform(
        blocks,
        lambda b: F.struct(_block_text(b).alias("t"),
                           _block_link_chars(b).alias("l")))
    kept = F.filter(
        scored,
        lambda s: (F.length(s["t"]) >= F.lit(min_chars))
        & (s["l"].cast("double")
           <= F.lit(float(max_link_density)) * F.length(s["t"])))
    return F.array_join(F.transform(kept, lambda s: s["t"]), "\n")


# ---------------------------------------------------------------------------
# charset detection + transcoding (html bytes -> unicode text)
# ---------------------------------------------------------------------------

# Real crawls are NOT all UTF-8 (historically ~10-30% of pages declare
# cp1252/gbk/shift_jis/koi8/...).  Detection is pure Catalyst: BOM
# bytes, else the declared <meta> charset read from an ISO-8859-1 peek
# (every byte sequence is valid ISO-8859-1, so the peek never throws —
# Spark 4 decode RAISES on malformed input and has no try_ variant).
# The transcode itself is a vectorized Arrow UDF: Spark's decode()
# supports 7 charsets and hard-fails on bad bytes, while Python codecs
# cover the real-web set with errors='replace' — per-payload work, the
# same dispatch argument as operators/multimodal.py's codecs.

# detected label -> what a browser actually uses (WHATWG encoding
# spec: latin1 family sniffs as windows-1252 because pages lie)
_CHARSET_ALIASES = {
    "iso-8859-1": "windows-1252", "latin1": "windows-1252",
    "latin-1": "windows-1252", "cp1252": "windows-1252",
    "us-ascii": "utf-8", "ascii": "utf-8",
    "utf8": "utf-8", "unicode": "utf-16",
    "gb2312": "gbk", "gb_2312": "gbk",
    "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euckr": "euc-kr", "eucjp": "euc-jp",
}


def sniff_charset(html: Column) -> Column:
    """Best-effort charset of an html BINARY column: BOM first (it
    outranks any declaration), then the page's declared <meta>
    charset normalized through the browser alias table, else
    'utf-8'.  Pure Catalyst — the declaration is regexed out of an
    ISO-8859-1 peek, which cannot throw on any byte sequence."""
    hx = F.lower(F.hex(F.substring(html, 1, 4)))
    peek = F.decode(F.substring(html, 1, 4096), "ISO-8859-1")
    declared = F.lower(F.regexp_extract(
        peek, f"(?is)<meta\\s[^>]*charset\\s*=\\s*{_Q}?([a-zA-Z0-9_-]+)", 1))
    # ONE map lookup, not a when-chain: chained otherwise(aliased)
    # references the prior tree twice per alias and the doubled
    # expression blows codegen's 64 KB method limit
    alias_map = F.create_map(
        *[F.lit(x) for kv in _CHARSET_ALIASES.items() for x in kv])
    aliased = F.coalesce(F.element_at(alias_map, declared), declared)
    return (
        F.when(html.isNull(), F.lit(None).cast("string"))
        .when(hx.startswith("efbbbf"), F.lit("utf-8"))
        .when(hx.startswith("fffe"), F.lit("utf-16-le"))
        .when(hx.startswith("feff"), F.lit("utf-16-be"))
        .when(aliased != "", aliased)
        .otherwise(F.lit("utf-8"))
    )


def decode_html(html: Column, charset: Column | None = None) -> Column:
    """html binary -> unicode string, honoring the page's charset.

    ``charset`` defaults to :func:`sniff_charset`.  Decode runs in a
    vectorized Arrow batch (see module comment for why not Spark's
    decode): BOMs are stripped, bad bytes become U+FFFD
    (errors='replace' — a crawl pipeline never throws on one mojibake
    page), unknown labels fall back to UTF-8-else-windows-1252, the
    WHATWG sniffing order."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if charset is None:
        charset = sniff_charset(html)

    # no type hints: PEP 563 stringizes them module-wide and pyspark's
    # hint inference then rejects the signature
    @pandas_udf("string")
    def _dec(blobs, charsets):
        out = []
        for b, cs in zip(blobs, charsets):
            if b is None:
                out.append(None)
                continue
            b = bytes(b)
            if b[:3] == b"\xef\xbb\xbf":
                b = b[3:]
            elif b[:2] in (b"\xff\xfe", b"\xfe\xff"):
                b = b[2:]
            try:
                out.append(b.decode(cs or "utf-8", "replace"))
            except LookupError:  # label Python has no codec for
                try:
                    out.append(b.decode("utf-8", "strict"))
                except UnicodeDecodeError:
                    out.append(b.decode("windows-1252", "replace"))
        return pd.Series(out)

    return _dec(html, charset)


# ---------------------------------------------------------------------------
# structure-preserving HTML -> Markdown (training-corpus text format)
# ---------------------------------------------------------------------------

# Modern LLM corpora increasingly keep document STRUCTURE (headings,
# lists, links, tables, code fences) instead of flat text — markdown
# is the interchange format.  Unlike main_content's per-block gates,
# a faithful converter is a stack machine: nested list indentation,
# <ol> item numbering, and table assembly all depend on unbounded
# context, which Catalyst expressions cannot carry (and the s2
# experiment showed recursive accumulation DOESN'T codegen — see
# SCALING.md's S2 encode note).  So this is a from-scratch tokenizer
# + renderer that runs vectorized over Arrow batches: one regex pass
# tokenizes, a small explicit stack renders, no DOM library.

import re as _re

_MD_TOKEN = _re.compile(
    r"<!--.*?-->"
    r"|<script\b[^>]*>.*?</script\s*>"
    r"|<style\b[^>]*>.*?</style\s*>"
    r"|<[^>]*>"
    r"|[^<]+",
    _re.I | _re.S,
)
_MD_TAG = _re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
_MD_ATTR = _re.compile(
    r"([a-zA-Z-]+)\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]+)")
_MD_WS = _re.compile(r"[ \t\r\f\v]+")

_MD_BLOCK_OPEN = {
    "p", "div", "section", "article", "header", "footer", "aside",
    "main", "nav", "figure", "figcaption", "address", "fieldset",
    "form", "dl", "dt", "dd",
}
_MD_SKIP = {"script", "style", "head", "template", "noscript",
            "iframe", "svg", "button", "select", "option", "textarea"}


def _md_attrs(tag_src):
    return {k.lower(): v.strip("\"'") for k, v in _MD_ATTR.findall(tag_src)}


class _MdRenderer:
    """Stack renderer for one document.  Never raises on malformed
    markup: unmatched closes pop-guard, unclosed opens flush at EOF."""

    def __init__(self):
        self.blocks = []      # (kind, text) — kind drives join rule
        self.cur = []         # inline fragments of the current block
        self.lists = []       # stack of {"ordered": bool, "n": int}
        self.quote = 0        # blockquote depth
        self.heading = 0      # pending heading level for current block
        self.item = None      # current list-item bullet prefix
        self.pre = 0          # literal-text depth
        self.pre_buf = []
        self.skip = 0         # inside script/style/head/...
        self.href = []        # <a> stack
        self.table = None     # {"rows": [...], "cell": [...], "header": bool}
        self.list_seq = 0     # distinct-list counter: adjacent separate
        #                       lists must NOT merge into one md list

    # -- block assembly ---------------------------------------------------
    def _flush(self):
        text = "".join(self.cur)
        self.cur = []
        text = _MD_WS.sub(" ", text)
        text = _re.sub(r" ?\n ?", "\n", text).strip()
        heading, item = self.heading, self.item
        self.heading, self.item = 0, None
        if not text:
            return
        if heading:
            self.blocks.append(("h", "#" * heading + " " + text))
        elif item is not None:
            self.blocks.append((f"li{self.list_seq}", item + text))
        elif self.quote:
            self.blocks.append(("q", "> " * self.quote + text))
        else:
            self.blocks.append(("p", text))

    def _end_table(self):
        t, self.table = self.table, None
        if t is None:
            return
        if t["cell"] is not None:
            t["rows"].append(t["cell"])
        rows = [r for r in t["rows"] if r]
        if not rows:
            return
        width = max(len(r) for r in rows)
        lines = []
        for i, r in enumerate(rows):
            r = [c.strip() for c in r] + [""] * (width - len(r))
            lines.append("| " + " | ".join(r) + " |")
            if i == 0:
                lines.append("|" + " --- |" * width)
        self.blocks.append(("table", "\n".join(lines)))

    # -- token stream ------------------------------------------------------
    def text(self, s):
        if self.skip:
            return
        if self.pre:
            self.pre_buf.append(s)
            return
        # raw newlines in html text are ordinary whitespace — only
        # <br> (which appends "\n" directly to cur) makes a break
        s = _unescape_str(s).replace("\n", " ")
        if self.table is not None and self.table["cell"] is not None:
            if not self.table["cell"]:
                if not s.strip():  # inter-tag whitespace before first <td>
                    return
                self.table["cell"].append("")
            self.table["cell"][-1] += _MD_WS.sub(" ", s.replace("|", "\\|"))
        else:
            self.cur.append(s)

    def tag(self, src):
        m = _MD_TAG.match(src)
        if not m:
            return
        name = m.group(1).lower()
        closing = src.startswith("</")
        if name in _MD_SKIP:
            if closing:
                self.skip = max(0, self.skip - 1)
            elif not src.rstrip(">").endswith("/"):
                self.skip += 1
            return
        if self.skip:
            return
        if self.pre:
            if closing and name == "pre":
                self.pre = 0
                code = _unescape_str("".join(self.pre_buf)).strip("\n")
                self.pre_buf = []
                if code:
                    self.blocks.append(("pre", "```\n" + code + "\n```"))
            elif name not in ("code", "span"):
                self.pre_buf.append("")
            return
        getattr(self, ("_c_" if closing else "_o_") + name, self._nop)(src)

    def _nop(self, src):
        pass

    # block-level -----------------------------------------------------------
    def _block(self, src):
        self._flush()
    for _n in _MD_BLOCK_OPEN:
        locals()[f"_o_{_n}"] = _block
        locals()[f"_c_{_n}"] = _block
    del _n

    def _o_br(self, src):
        self.cur.append("\n")

    def _o_hr(self, src):
        self._flush()
        self.blocks.append(("p", "---"))

    for _n in range(1, 7):
        def _o_h(self, src, _lvl=_n):
            self._flush()
            self.heading = _lvl
        locals()[f"_o_h{_n}"] = _o_h
        locals()[f"_c_h{_n}"] = _block
        del _o_h
    del _n

    def _o_blockquote(self, src):
        self._flush()
        self.quote += 1

    def _c_blockquote(self, src):
        self._flush()
        self.quote = max(0, self.quote - 1)

    def _o_pre(self, src):
        self._flush()
        self.pre = 1

    # lists ------------------------------------------------------------------
    def _o_ul(self, src, ordered=False):
        self._flush()
        self.lists.append({"ordered": ordered, "n": 0})

    def _o_ol(self, src):
        self._o_ul(src, ordered=True)

    def _c_ul(self, src):
        self._flush()
        if self.lists:
            self.lists.pop()
        if not self.lists:
            self.list_seq += 1

    _c_ol = _c_ul

    def _o_li(self, src):
        self._flush()
        top = self.lists[-1] if self.lists else {"ordered": False, "n": 0}
        top["n"] += 1
        indent = "  " * max(0, len(self.lists) - 1)
        self.item = indent + (f"{top['n']}. " if top["ordered"] else "- ")

    _c_li = _block

    # tables -----------------------------------------------------------------
    def _o_table(self, src):
        self._flush()
        self.table = {"rows": [], "cell": None, "header": False}

    def _c_table(self, src):
        self._end_table()

    def _o_tr(self, src):
        if self.table is None:
            self._o_table(src)
        if self.table["cell"] is not None:
            self.table["rows"].append(self.table["cell"])
        self.table["cell"] = []

    def _c_tr(self, src):
        if self.table is not None and self.table["cell"] is not None:
            self.table["rows"].append(self.table["cell"])
            self.table["cell"] = None

    def _o_td(self, src):
        if self.table is None:
            self._o_tr(src)
        if self.table["cell"] is None:
            self.table["cell"] = []
        self.table["cell"].append("")

    _o_th = _o_td

    # inline -----------------------------------------------------------------
    def _emit(self, s):
        if self.table is not None and self.table["cell"] is not None:
            if not self.table["cell"]:
                self.table["cell"].append("")
            self.table["cell"][-1] += s
        else:
            self.cur.append(s)

    def _o_a(self, src):
        href = _md_attrs(src).get("href", "")
        if href.lower().startswith(("javascript:", "data:")):
            href = ""
        self.href.append(href)
        self._emit("[")

    def _c_a(self, src):
        href = self.href.pop() if self.href else ""
        self._emit(f"]({href})")

    def _o_img(self, src):
        a = _md_attrs(src)
        src_url = a.get("src", "")
        if src_url.lower().startswith(("javascript:", "data:")):
            src_url = ""
        self._emit(f"![{a.get('alt', '')}]({src_url})")

    def _o_b(self, src):
        self._emit("**")
    _c_b = _o_strong = _c_strong = _o_b

    def _o_i(self, src):
        self._emit("*")
    _c_i = _o_em = _c_em = _o_i

    def _o_code(self, src):
        self._emit("`")
    _c_code = _o_code

    # -- result ---------------------------------------------------------------
    def render(self):
        self._flush()
        self._end_table()
        out = []
        prev = None
        for kind, text in self.blocks:
            if prev is None:
                pass
            elif kind == prev and (kind.startswith("li") or kind == "q"):
                out.append("\n")
            else:
                out.append("\n\n")
            out.append(text)
            prev = kind
        return "".join(out)


def _unescape_str(s):
    import html as _htmlmod
    return _htmlmod.unescape(s)


def markdown_of(page: str) -> str:
    """One document's html string -> markdown (driver-side helper and
    the unit under golden tests; the column API batches this)."""
    r = _MdRenderer()
    for tok in _MD_TOKEN.finditer(page or ""):
        t = tok.group(0)
        if t.startswith("<!--") or t[:7].lower() in ("<script", "<style>") \
                or t[:6].lower() == "<style":
            continue
        if t.startswith("<"):
            r.tag(t)
        else:
            r.text(t)
    return r.render()


def html_to_markdown(html: Column) -> Column:
    """html (string or binary) -> structure-preserving markdown.

    Headings (# .. ######), paragraphs, nested ul/ol with real <ol>
    numbering and 2-space nesting indents, [text](href) links,
    ![alt](src) images, **bold**/*em*/`code`, fenced <pre> blocks,
    > blockquotes (nested), --- rules, and GFM tables with a header
    separator row.  script/style/head/comment content is dropped;
    entities decode via the full HTML5 table (stdlib html.unescape);
    javascript:/data: URLs are scrubbed.  Malformed markup never
    raises — unmatched closes are ignored, unclosed elements flush at
    end of document.

    Scale shape: scan-stage vectorized Arrow batches, no shuffle, no
    driver participation — the same dispatch argument as the codec
    tier (operators/multimodal.py): per-payload stack-machine work
    Catalyst cannot express (and interpreted recursion re-evaluates
    its prefix per step — see SCALING.md's S2 encode note)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _md(pages):
        return pd.Series(
            [None if p is None else markdown_of(
                p if isinstance(p, str) else
                bytes(p).decode("utf-8", "replace"))
             for p in pages])

    return _md(html)


_IMG_TAG_RE = "(?is)<img\\s[^>]*>"
_SRC_ATTR_RE = "(?i)\\bsrc\\s*=\\s*[\"']([^\"']+)[\"']"
_ALT_ATTR_RE = "(?i)\\balt\\s*=\\s*[\"']([^\"']*)[\"']"
_W_ATTR_RE = "(?i)\\bwidth\\s*=\\s*[\"']?([0-9]+)"
_H_ATTR_RE = "(?i)\\bheight\\s*=\\s*[\"']?([0-9]+)"


def extract_images(html: Column, base_url: Column) -> Column:
    """array<struct<src, alt, width, height>> of a page's ``<img>``
    tags — the raw material of image-caption pair mining.  ``src`` is
    resolved to an absolute URL with the same RFC 3986 resolver the
    hyperlink extractor uses (``data:`` inline URIs fall under its
    scheme skip-list and drop); ``alt`` decodes HTML entities; width/
    height are the DECLARED attribute values (often absent -> NULL),
    a prefilter only — the authoritative dims come from the payload
    (operators/multimodal.image_quality_signals).  Pure Catalyst."""
    from xarray_spatial_spark.functions.url import (
        _resolve_link,
        url_host,
        url_path,
    )

    page = _page(html)
    tags = F.regexp_extract_all(page, F.lit(_IMG_TAG_RE), F.lit(0))
    scheme = F.lower(
        F.regexp_extract(base_url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = url_host(base_url)
    path = url_path(base_url)
    base_dir = F.when(
        path.rlike("/"), F.regexp_replace(path, "/[^/]*$", "")
    ).otherwise(F.lit(""))
    structs = F.transform(
        tags,
        lambda t: F.struct(
            _resolve_link(
                F.nullif(F.regexp_extract(t, _SRC_ATTR_RE, 1), F.lit("")),
                scheme, host, base_dir).alias("src"),
            _unescape_entities(
                F.regexp_extract(t, _ALT_ATTR_RE, 1)).alias("alt"),
            F.nullif(F.regexp_extract(t, _W_ATTR_RE, 1), F.lit(""))
            .cast("int").alias("width"),
            F.nullif(F.regexp_extract(t, _H_ATTR_RE, 1), F.lit(""))
            .cast("int").alias("height"),
        ),
    )
    return F.filter(
        structs, lambda s: s["src"].isNotNull() & (s["src"] != ""))


def _og_content(page: Column, prop: str) -> Column:
    """<meta property="og:X" content=Y> with either attribute order
    ('' when absent)."""
    a = F.regexp_extract(
        page,
        f"(?is)<meta\\s[^>]*property\\s*=\\s*{_Q}og:{prop}{_Q}[^>]*"
        f"content\\s*=\\s*{_Q}([^\"']*){_Q}",
        1,
    )
    b = F.regexp_extract(
        page,
        f"(?is)<meta\\s[^>]*content\\s*=\\s*{_Q}([^\"']*){_Q}[^>]*"
        f"property\\s*=\\s*{_Q}og:{prop}{_Q}",
        1,
    )
    return F.when(a != "", a).otherwise(b)


def og_metadata(html: Column) -> Column:
    """OpenGraph card as one struct: og:title / og:description /
    og:image / og:type / og:url / og:site_name (NULL when absent,
    entities decoded).  Publisher-curated og fields are the highest-
    precision page summary a crawl sees — og:image + og:title is a
    cleaner caption channel than img alt text.  Pure Catalyst; select
    the struct once and Catalyst prunes unread fields."""
    page = _page(html)

    def g(prop):
        return F.nullif(
            F.trim(_unescape_entities(_og_content(page, prop))), F.lit(""))

    return F.struct(
        g("title").alias("title"),
        g("description").alias("description"),
        g("image").alias("image"),
        g("type").alias("type"),
        g("url").alias("url"),
        g("site_name").alias("site_name"),
    )


_JSONLD_RE = ("(?is)<script[^>]*type\\s*=\\s*[\"']application/ld\\+json"
              "[\"'][^>]*>(.*?)</script>")


def jsonld_blocks(html: Column) -> Column:
    """array<string> of raw <script type="application/ld+json">
    payloads — schema.org structured data, surfaced verbatim for a
    downstream ``from_json`` with whatever schema the consumer cares
    about (Product/Article/Recipe...).  Extraction is scan-stage
    Catalyst; parsing stays declarative and schema-driven."""
    return F.regexp_extract_all(_page(html), F.lit(_JSONLD_RE), F.lit(1))
