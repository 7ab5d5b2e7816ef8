"""HTML/XML → text and outlink extraction (SURVEY.md §2 J1-J2).

The reference parses NCBI eFetch XML into title+abstract text (BASELINE.json
north_star: "eFetch/XML-to-text parsing … byte-identical extracted text per
url").  This module generalizes that to Common-Crawl-style HTML while keeping
the PubMed-XML path, as Arrow-batched pandas UDFs over ``html: binary``.

Determinism contract (byte-identical output per url):
* stdlib parsers only (``html.parser``, ``xml.etree``) — no environment-
  dependent libs (SURVEY.md §7 hard-part 2);
* decoding: UTF-8 strict, falling back to Latin-1 (which never fails);
* extracted text := the whitespace-split tokens of the <title> plus all text
  nodes under <body> (excluding <script>/<style>), in document order, joined
  by single spaces — one unambiguous normal form, stable across formatting;
* PubMed-style XML (root contains PubmedArticle / eFetch shapes): tokens of
  ArticleTitle + AbstractText elements, same join rule.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from collections.abc import Iterable
from html import unescape
from html.parser import HTMLParser
from urllib.parse import urljoin, urlsplit

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from .urlnorm import canonicalize_one

_SKIP_TAGS = {"script", "style"}
_XML_HINT = re.compile(rb"^\s*<\?xml|<PubmedArticle|<PubmedArticleSet", re.I)


def decode_bytes(b: bytes | None) -> str | None:
    if b is None:
        return None
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


class _TextAndLinks(HTMLParser):
    """Single-pass collector of title/body tokens and <a href> targets.

    ``respect_robots_directives=True`` adds RFC-9309-adjacent in-page link
    semantics: ``<a rel="... nofollow ...">`` hrefs are skipped and a
    ``<meta name="robots" content="... nofollow ...">`` suppresses every
    link on the page (applied at ``close()`` so a late meta still wins);
    ``noindex`` is surfaced as a flag for the caller.  Default False keeps
    the byte-identical extraction contract pinned by the goldens.
    """

    def __init__(self, respect_robots_directives: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self._tokens_scoped: list[str] = []  # title/body only
        self._tokens_all: list[str] = []  # fallback when no <body> present
        self.links: list[str] = []
        self.meta_nofollow = False
        self.meta_noindex = False
        self._respect = respect_robots_directives
        self._skip_depth = 0
        self._in_title = False
        self._in_body = False
        self._saw_body_tag = False

    @property
    def tokens(self) -> list[str]:
        return self._tokens_scoped if self._saw_body_tag else self._tokens_all

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "title":
            self._in_title = True
        elif tag == "body":
            self._in_body = True
            self._saw_body_tag = True
        elif tag == "meta":
            a = {k: (v or "") for k, v in attrs}
            if a.get("name", "").lower() == "robots":
                directives = {
                    d.strip().lower() for d in a.get("content", "").split(",")
                }
                self.meta_nofollow |= "nofollow" in directives or "none" in directives
                self.meta_noindex |= "noindex" in directives or "none" in directives
        if tag == "a":
            hrefs = []
            rel = None
            for k, v in attrs:
                if k == "href" and v:
                    hrefs.append(v)
                elif k == "rel" and v:
                    rel = v
            if self._respect and rel and "nofollow" in rel.lower().split():
                return
            self.links.extend(hrefs)

    def close(self) -> None:
        super().close()
        if self._respect and self.meta_nofollow:
            self.links = []

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag == "title":
            self._in_title = False
        elif tag == "body":
            self._in_body = False

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        toks = data.split()
        if not toks:
            return
        self._tokens_all.extend(toks)
        if self._in_title or self._in_body:
            self._tokens_scoped.extend(toks)


# --------------------------------------------------------------- fast scanner
#
# html.parser.HTMLParser is pure Python and pays per-token method dispatch;
# at crawl scale the parse stage is the hot loop's largest Python cost
# (~7 s / 600k pages / 32 cores).  _fast_scan is a strict single-pass regex
# scanner ~5x faster that handles exactly the constructs it can prove it
# parses identically to HTMLParser (same collector semantics as
# _TextAndLinks) and returns None — "fall back to HTMLParser" — for anything
# else.  The byte-identical-extraction contract is therefore preserved by
# construction: every fast-path construct below is matched 1:1 against
# CPython's html.parser behavior (convert_charrefs=True), and anything
# outside that set takes the old code path.  Differential tests
# (tests/test_extract.py) fuzz both paths against each other.
#
# Construct table (CPython html/parser.py, 3.11):
#   text run        goahead flushes accumulated data through html.unescape()
#                   when convert_charrefs and not cdata — we unescape each
#                   inter-tag chunk (identical boundaries: tags/comments/PIs)
#   <!-- ... -->    parse_comment ends at _commentclose = r'--\s*>'
#   <![ ...         parse_marked_section — nontrivial; always fall back
#   <!DOCTYPE/<!x   parse_html_declaration / parse_bogus_comment both end at
#                   the FIRST '>' (no quote handling in html.parser)
#   <? ... >        parse_pi ends at the first '>'
#   </tag>          endtagfind = r'</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>';
#                   anything it doesn't match (attrs in end tag, '</>')
#                   hits tolerant paths — fall back
#   <tag a="v" ...> strict subset of locatestarttagend_tolerant: quoted or
#                   conservative-unquoted values only; '/>' maps to
#                   handle_startendtag = starttag+endtag (no cdata mode);
#                   attr names/tag lowercased, values unescape()d, exactly
#                   as parse_starttag does
#   <script>/<style> cdata content mode: raw until r'</\s*(script|style)'
#                   (case-insensitive); the end tag must then be a strict
#                   endtagfind match with the SAME name, else fall back
#   bare '<'        HTMLParser emits it as data with different chunking —
#                   fall back

_ENDTAG_STRICT = re.compile(r"</([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# bare tag name for the attribute-free fast lanes in _fast_scan: a region
# fullmatch of this between '<'/'</' and the next '>' proves the tag is
# exactly "<name>"/"</name>", which the strict regexes above accept with
# empty attr/space/selfclose groups — same span, same semantics
_PLAIN_NAME = re.compile(r"[a-zA-Z][-.a-zA-Z0-9:_]*")
_STARTTAG_STRICT = re.compile(
    r"<([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"((?:\s+[^\s/>=]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^\s\"'`<>=]+))?)*)"
    r"\s*(/?)>"
)
_ATTR_STRICT = re.compile(
    r"\s+([^\s/>=]+)"
    r"(?:\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s\"'`<>=]+)))?"
)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script", re.I),
    "style": re.compile(r"</\s*style", re.I),
}


def _attr_val(m: re.Match) -> str | None:
    """Attribute value from an _ATTR_STRICT match, unescaped like
    parse_starttag (which skips unescape for empty/None values)."""
    if m.group(2) is not None:
        v = m.group(2)
    elif m.group(3) is not None:
        v = m.group(3)
    else:
        v = m.group(4)
    if v and "&" in v:
        v = unescape(v)
    return v


def _fast_scan(
    s: str, respect: bool = False
) -> tuple[list[str], list[str], bool, bool] | None:
    """Fast-path equivalent of feeding ``s`` through _TextAndLinks(respect).

    Returns ``(tokens, links, meta_nofollow, meta_noindex)`` — fields
    identical to the HTMLParser collector's — or None when the input
    contains any construct outside the proven-identical subset (caller
    falls back to HTMLParser)."""
    # Text chunks are buffered as strings and split ONCE at the end:
    # " ".join(chunks).split() token-equals extending each chunk's split()
    # (chunks are separated by tags, so the inserted space is a boundary
    # both ways), and the caller's normal form is " ".join(tokens) anyway.
    # Scoping is decided per chunk at append time, exactly as before.
    chunks_scoped: list[str] = []
    chunks_all: list[str] = []
    links: list[str] = []
    meta_nofollow = meta_noindex = False
    skip = 0
    in_title = in_body = saw_body = False
    pos = 0
    n = len(s)
    find = s.find
    while pos < n:
        lt = find("<", pos)
        if lt != pos:
            chunk = s[pos:lt] if lt != -1 else s[pos:]
            if not skip:
                if "&" in chunk:
                    chunk = unescape(chunk)
                chunks_all.append(chunk)
                if in_title or in_body:
                    chunks_scoped.append(chunk)
            if lt == -1:
                break
            pos = lt
        c = s[pos + 1 : pos + 2]
        if c == "!":
            if s.startswith("<!--", pos):
                m = _COMMENT_CLOSE.search(s, pos + 4)
                if not m:
                    return None
                pos = m.end()
            elif s.startswith("<![", pos):
                return None  # marked section: parse_marked_section territory
            else:
                end = find(">", pos)
                if end == -1:
                    return None
                pos = end + 1
        elif c == "?":
            end = find(">", pos)
            if end == -1:
                return None
            pos = end + 1
        elif c == "/":
            # attribute-free fast lane: "</name>" with '>' straight after
            # the name chars — one region fullmatch on the name instead of
            # the anchored group regex; _ENDTAG_STRICT accepts exactly the
            # same span (its \s* empty), so behavior is identical and
            # anything else still goes through the full regex
            gt = find(">", pos)
            if gt != -1 and _PLAIN_NAME.fullmatch(s, pos + 2, gt):
                tag = s[pos + 2 : gt].lower()
                end_pos = gt + 1
            else:
                m = _ENDTAG_STRICT.match(s, pos)
                if not m:
                    return None
                tag = m.group(1).lower()
                end_pos = m.end()
            if tag in _SKIP_TAGS:
                if skip > 0:
                    skip -= 1
            elif tag == "title":
                in_title = False
            elif tag == "body":
                in_body = False
            pos = end_pos
        elif c.isalpha() and c.isascii():
            # same fast lane for "<name>": no attrs (src == ""), not
            # self-closing, end right after the name — the dominant start
            # tag shape in real markup; _STARTTAG_STRICT matches the same
            # span with empty groups 2/3
            gt = find(">", pos)
            if gt != -1 and _PLAIN_NAME.fullmatch(s, pos + 1, gt):
                tag = s[pos + 1 : gt].lower()
                selfclose = False
                src = ""
                end_pos = gt + 1
            else:
                m = _STARTTAG_STRICT.match(s, pos)
                if not m:
                    return None
                tag = m.group(1).lower()
                selfclose = m.group(3) == "/"
                src = m.group(2)
                end_pos = m.end()
            if tag in _SKIP_TAGS:
                if selfclose:
                    pass  # startendtag: +1 then -1, no cdata mode
                else:
                    skip += 1
                    mm = _CDATA_CLOSE[tag].search(s, end_pos)
                    if not mm:
                        return None
                    me = _ENDTAG_STRICT.match(s, mm.start())
                    if not me or me.group(1).lower() != tag:
                        return None
                    skip -= 1
                    pos = me.end()
                    continue
            elif tag == "title":
                in_title = not selfclose
            elif tag == "body":
                saw_body = True
                in_body = not selfclose
            elif tag == "a":
                if src:
                    rel = None
                    hrefs = []
                    for am in _ATTR_STRICT.finditer(src):
                        k = am.group(1).lower()
                        v = _attr_val(am)
                        if k == "href" and v:
                            hrefs.append(v)
                        elif k == "rel" and v:
                            rel = v
                    if not (
                        respect and rel and "nofollow" in rel.lower().split()
                    ):
                        links.extend(hrefs)
            elif tag == "meta":
                if src:
                    a = {
                        am.group(1).lower(): (_attr_val(am) or "")
                        for am in _ATTR_STRICT.finditer(src)
                    }
                    if a.get("name", "").lower() == "robots":
                        d = {
                            x.strip().lower()
                            for x in a.get("content", "").split(",")
                        }
                        meta_nofollow |= "nofollow" in d or "none" in d
                        meta_noindex |= "noindex" in d or "none" in d
            pos = end_pos
        else:
            return None  # bare '<', '<>', '< tag', non-ascii tag start
    if respect and meta_nofollow:
        links = []
    return (
        (" ".join(chunks_scoped) if saw_body else " ".join(chunks_all)).split(),
        links,
        meta_nofollow,
        meta_noindex,
    )


# ---------------------------------------------------------- fast link joiner
#
# urllib.parse.urljoin re-parses the base url for EVERY link (two urlparse
# calls per join) — after the fast scanner landed, it was ~45% of the parse
# stage.  _make_joiner parses the base ONCE and string-concats the three
# overwhelmingly common href shapes, byte-identical to urljoin by
# construction (each gate below cites the urljoin/urlsplit behavior it
# guards, CPython 3.11 urllib/parse.py); anything gated falls back to the
# real urljoin per link.  Differential tests: tests/test_extract.py.

_NOFAST = re.compile(
    # "?"/"#": urljoin drops a bare trailing "?"/"#" on re-join; ";" splits
    # params off the last path segment; \t\r\n are removed ANYWHERE by
    # urlsplit (_UNSAFE_URL_BYTES_TO_REMOVE).  All rare in hrefs — fallback.
    r"[?#;\t\r\n]"
)


def _make_joiner(base_url: str | None):
    """Return ``join(href) -> urljoin(base_url, href)`` (byte-identical),
    amortizing the base parse across a page's links.

    TOTAL over untrusted hrefs: where ``urljoin`` would raise ValueError
    (unbalanced/invalid bracketed host, e.g. ``http://[bad``), ``join``
    returns None and the caller drops the href — one hostile link on a
    crawled page must not kill the extraction stage.  The bracket guard
    on the verbatim absolute-href branches keeps the fast path aligned
    with that contract (differential-fuzzed in tests/test_extract.py)."""
    if not base_url:
        # urljoin('', url) returns url verbatim (`if not base: return url`)
        return lambda h: h

    def _slow(h: str) -> str | None:
        try:
            return urljoin(base_url, h)
        except ValueError:
            return None  # href urllib refuses to parse: drop

    try:
        sp = urlsplit(base_url)
    except ValueError:
        return _slow
    scheme, netloc, bpath = sp.scheme, sp.netloc, sp.path
    ok_base = (
        scheme in ("http", "https")
        and bool(netloc)
        and bpath.startswith("/")
        # "." / ".." segments and middle "//" in the BASE path would feed
        # urljoin's remove-dot-segments / filter(None, ...) — fallback
        and "/." not in bpath
        and "//" not in bpath
        and ";" not in bpath
        and not _NOFAST.search(base_url)
    )
    root = f"{scheme}://{netloc}"
    bdir = root + bpath[: bpath.rfind("/") + 1] if ok_base else ""
    same_pfx = scheme + "://"
    lsame = len(same_pfx)
    other_pfx = ("http" if scheme == "https" else "https") + "://"

    def join(h: str) -> str | None:
        if not h:
            return base_url  # urljoin(base, '') -> base
        if h.startswith(other_pfx):
            # cross-scheme: urljoin returns the href verbatim
            # (`if scheme != bscheme ... return url`) — but only after
            # urlsplit(h) survives; brackets route to the guarded path
            # (urlsplit raises on unbalanced/invalid bracketed hosts)
            if "[" not in h and "]" not in h:
                return h
        elif ok_base and not _NOFAST.search(h):
            c = h[0]
            if c == "/":
                # root-relative: resolved against netloc only; "//" prefix
                # would be protocol-relative (netloc parse), "/." guards
                # dot segments (over-strict for "/.hidden" — rare, safe)
                if not h.startswith("//") and "/." not in h:
                    return root + h
            elif h.startswith(same_pfx):
                # same-scheme absolute round-trips through urlunparse;
                # identity holds when the netloc is non-empty — bracket
                # guard as above (urlsplit may raise on the netloc)
                if lsame < len(h) and h[lsame] != "/" and "[" not in h and "]" not in h:
                    return h
            elif (
                ":" not in h  # "a:b" would parse as scheme "a" -> verbatim
                and c != "."  # "./", "../", "." -> dot-segment machinery
                and c > " "  # urlsplit lstrips C0-control/space
                and "/." not in h
                and "//" not in h  # middle empties are filter(None,...)ed
            ):
                # no scheme/netloc in h, so urlsplit(h) cannot raise
                # (brackets in a PATH are legal) — verbatim-safe
                return bdir + h
        return _slow(h)

    return join


def _extract_pubmed_xml(s: str) -> str:
    try:
        root = ET.fromstring(s)
    except ET.ParseError:
        return ""
    tokens: list[str] = []
    for tag in ("ArticleTitle", "AbstractText"):
        for el in root.iter(tag):
            tokens.extend("".join(el.itertext()).split())
    return " ".join(tokens)


def extract_text_one(html_bytes: bytes | None) -> str | None:
    """Pure-Python extraction for one page; the UDF maps this per Arrow batch.

    Mirrors the reference's eFetch XML parsing for PubMed-shaped documents
    and generalizes to HTML; output normal form is defined module-level.
    """
    if html_bytes is None:
        return None
    s = decode_bytes(html_bytes)
    if s is None:
        return None
    if _XML_HINT.search(html_bytes[:4096]):
        return _extract_pubmed_xml(s)
    r = _fast_scan(s)
    if r is not None:
        return " ".join(r[0])
    p = _TextAndLinks()
    try:
        p.feed(s)
        p.close()
    except Exception:
        pass  # malformed markup: keep whatever tokens were collected
    return " ".join(p.tokens)


def extract_links_one(html_bytes: bytes | None, base_url: str | None) -> list[str]:
    if html_bytes is None:
        return []
    s = decode_bytes(html_bytes)
    if _XML_HINT.search(html_bytes[:4096]):
        return []  # reference uses eLink for citations; XML pages carry no hrefs
    r = _fast_scan(s)
    if r is not None:
        links = r[1]
    else:
        p = _TextAndLinks()
        try:
            p.feed(s)
            p.close()
        except Exception:
            pass
        links = p.links
    if base_url:
        join = _make_joiner(base_url)
        return [u for u in map(join, links) if u is not None]
    return list(links)


def extract_both_one(
    html_bytes: bytes | None, base_url: str | None
) -> tuple[str | None, list[str]]:
    """One decode + one parse → (text, links).  Field-identical to
    (extract_text_one, extract_links_one) — property-tested — but the hot
    loop pays the HTML parse once instead of twice."""
    if html_bytes is None:
        return None, []
    s = decode_bytes(html_bytes)
    if s is None:
        return None, []
    if _XML_HINT.search(html_bytes[:4096]):
        return _extract_pubmed_xml(s), []
    r = _fast_scan(s)
    if r is not None:
        tokens, raw_links = r[0], r[1]
    else:
        p = _TextAndLinks()
        try:
            p.feed(s)
            p.close()
        except Exception:
            pass  # malformed markup: keep whatever was collected
        tokens, raw_links = p.tokens, p.links
    if base_url and raw_links:
        join = _make_joiner(base_url)
        links = [u for u in map(join, raw_links) if u is not None]
    else:
        links = list(raw_links)
    return " ".join(tokens), links


@pandas_udf(StringType())
def text_udf(html: pd.Series) -> pd.Series:
    """J1: byte-identical text per url (BASELINE.json input_hint)."""
    return html.map(extract_text_one)


@pandas_udf(ArrayType(StringType()))
def links_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    """J2: outlink extraction → array<string> (explode downstream)."""
    return pd.Series(
        [extract_links_one(h, u) for h, u in zip(html, url)], index=html.index
    )


_TEXT_LINKS_TYPE = StructType(
    [
        StructField("text", StringType(), True),
        StructField("links", ArrayType(StringType()), True),
    ]
)


def text_canonical_links(
    html: Iterable[bytes | None], urls: Iterable[str | None]
) -> tuple[list[str | None], list[list[str]]]:
    """(texts, links) for a batch of pages, each page's links canonical:
    ``canonicalize_one`` of every resolved link, empty results dropped.
    One dict memoizes the canonical forms across the batch — the same
    link recurs on many pages of a host — so each distinct link is
    canonicalized once per batch."""
    canon: dict[str, str] = {}
    texts: list[str | None] = []
    links: list[list[str]] = []
    for h, u in zip(html, urls):
        text, raw = extract_both_one(h, u)
        texts.append(text)
        out = []
        for link in raw:
            c = canon.get(link)
            if c is None:
                c = canon[link] = canonicalize_one(link)
            if c:
                out.append(c)
        links.append(out)
    return texts, links


@pandas_udf(_TEXT_LINKS_TYPE)
def text_links_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """J1+J2 fused: the fat ``html`` column crosses Arrow ONCE and is parsed
    ONCE per page, and the links come out canonical
    (:func:`text_canonical_links`), so the crawl loop turns them into
    frontier rows without another Python stage.  Used by the crawl hot
    loop; the single-output UDFs remain the narrow (raw-link) API."""
    texts, links = text_canonical_links(html, url)
    return pd.DataFrame({"text": texts, "links": links}, index=html.index)


# stop Catalyst from duplicating the expensive UDF into collapsed
# projections when both struct fields are read (same rationale as
# urlnorm.canonicalize_udf — pure function, flag only inhibits re-evaluation)
text_links_udf = text_links_udf.asNondeterministic()


def extract_links_polite_one(
    html_bytes: bytes | None, base_url: str | None
) -> tuple[list[str], bool, bool]:
    """Outlinks honoring in-page robots directives: rel=nofollow anchors
    skipped, meta-robots nofollow clears the page's links; returns
    ``(links, meta_nofollow, meta_noindex)`` so the crawl loop can also
    drop noindex'd pages from the text sink."""
    if html_bytes is None:
        return [], False, False
    s = decode_bytes(html_bytes)
    if s is None or _XML_HINT.search(html_bytes[:4096]):
        return [], False, False
    r = _fast_scan(s, respect=True)
    if r is not None:
        _, raw_links, nf, ni = r
        if base_url and raw_links:
            join = _make_joiner(base_url)
            links = [u for u in map(join, raw_links) if u is not None]
        else:
            links = list(raw_links)
        return links, nf, ni
    p = _TextAndLinks(respect_robots_directives=True)
    try:
        p.feed(s)
    except Exception:
        pass
    finally:
        # close() applies the meta-robots nofollow link wipe; without the
        # finally, a feed() exception after the <meta> was parsed would
        # leak the partially collected links of a nofollow page (r2 ADVICE)
        try:
            p.close()
        except Exception:
            if p.meta_nofollow:
                p.links = []
    if base_url:
        join = _make_joiner(base_url)  # same amortized joiner as the fast path
        links = [u for u in map(join, p.links) if u is not None]
    else:
        links = list(p.links)
    return links, p.meta_nofollow, p.meta_noindex


_LINKS_POLITE_TYPE = StructType(
    [
        StructField("links", ArrayType(StringType()), True),
        StructField("meta_nofollow", BooleanType(), True),
        StructField("meta_noindex", BooleanType(), True),
    ]
)


@pandas_udf(_LINKS_POLITE_TYPE)
def links_polite_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """J2 with in-page robots semantics (opt-in; the default link path is
    byte-pinned by goldens and ignores directives like the reference)."""
    triples = [extract_links_polite_one(h, u) for h, u in zip(html, url)]
    return pd.DataFrame(
        {
            "links": [t[0] for t in triples],
            "meta_nofollow": [t[1] for t in triples],
            "meta_noindex": [t[2] for t in triples],
        },
        index=html.index,
    )


links_polite_udf = links_polite_udf.asNondeterministic()


# ---------------------------------------------------- anchor-text extraction

class _Anchors(HTMLParser):
    """Collect (href, anchor text) pairs; anchors don't nest in HTML, so a
    new <a> implicitly closes the previous one."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str]] = []
        self._href: str | None = None
        self._parts: list[str] = []
        self._skip_depth = 0

    def _close_anchor(self) -> None:
        if self._href is not None:
            self.pairs.append((self._href, " ".join("".join(self._parts).split())))
        self._href = None
        self._parts = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag == "a":
            self._close_anchor()
            href = next((v for k, v in attrs if k == "href" and v), None)
            self._href = href

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag == "a":
            self._close_anchor()

    def handle_data(self, data: str) -> None:
        if self._href is not None and not self._skip_depth:
            self._parts.append(data)

    def close(self) -> None:
        super().close()
        self._close_anchor()


def extract_anchors_one(
    html_bytes: bytes | None, base_url: str | None
) -> list[dict]:
    """(href → absolute url, anchor text) pairs in document order — link
    context for frontier prioritization (anchor text is the classic
    relevance signal) and weak-label mining.  Same decode/normalize
    contract as the other extractors; unresolvable hrefs are skipped."""
    s = decode_bytes(html_bytes)
    if s is None:
        return []
    p = _Anchors()
    try:
        p.feed(s)
        p.close()
    except Exception:
        return []
    out = []
    join = _make_joiner(base_url or "")
    for href, text in p.pairs:
        try:
            absu = join(href.strip())
        except Exception:
            continue
        if absu:
            out.append({"url": absu, "anchor": text})
    return out


_ANCHOR_TYPE = ArrayType(
    StructType(
        [StructField("url", StringType()), StructField("anchor", StringType())]
    )
)


@pandas_udf(_ANCHOR_TYPE)
def anchors_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    """Arrow-batched anchor extraction: (html, base url) → [(url, anchor)]."""
    return pd.Series(
        [extract_anchors_one(h, u) for h, u in zip(html, url)], index=html.index
    )


anchors_udf = anchors_udf.asNondeterministic()


# ---------------------------------------------------- main-content extraction

_BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th",
    "article", "section", "blockquote", "pre", "br", "tr", "ul", "ol",
    "table", "dd", "dt", "figcaption",
}
_CHROME_TAGS = {"nav", "footer", "aside", "header", "form"}


class _Blocks(HTMLParser):
    """Split the document into text blocks at block-level tag boundaries,
    tracking per-block link chars and whether the block sits inside page
    chrome (<nav>/<footer>/<aside>/<header>/<form>)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._parts: list[str] = []
        self._link_chars = 0
        self._skip_depth = 0
        self._a_depth = 0
        self._chrome_depth = 0

    def _flush(self) -> None:
        text = " ".join("".join(self._parts).split())
        if text:
            self.blocks.append(
                {
                    "text": text,
                    "link_chars": min(self._link_chars, len(text)),
                    "chrome": self._chrome_depth > 0,
                }
            )
        self._parts = []
        self._link_chars = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _CHROME_TAGS:
            self._flush()
            self._chrome_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._a_depth += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag in _CHROME_TAGS:
            self._flush()
            self._chrome_depth = max(0, self._chrome_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()
        elif tag == "a":
            self._a_depth = max(0, self._a_depth - 1)

    def handle_data(self, data: str) -> None:
        if self._skip_depth:
            return
        self._parts.append(data)
        if self._a_depth:
            self._link_chars += len(" ".join(data.split()))

    def close(self) -> None:
        super().close()
        self._flush()


def extract_main_one(
    html_bytes: bytes | None,
    min_words: int = 8,
    max_link_density: float = 0.35,
    neighbor_min_words: int = 3,
) -> str | None:
    """Boilerplate-removed main content (jusText/boilerpipe-style shallow
    heuristics, deterministic stdlib-only):

    1. split into text blocks at block-level tag boundaries;
    2. a block is GOOD if it has ≥ ``min_words`` words, link density
       (anchor chars / chars) ≤ ``max_link_density``, and is not inside
       page chrome (<nav>/<footer>/<aside>/<header>/<form>);
    3. smoothing: a short non-chrome block (≥ ``neighbor_min_words``
       words, e.g. a heading) adjacent to a GOOD block is kept too;
    4. kept blocks join with a single blank line, in document order.

    Same determinism contract as :func:`extract_text_one` (UTF-8-strict →
    Latin-1 decode, whitespace-normalized per block).  Link lists, navs,
    and footers drop out via the link-density and chrome rules — this is
    the "text" a pretraining corpus wants, where the byte-pinned
    :func:`extract_text_one` is the "every visible token" normal form the
    crawl-ordering contract pins.
    """
    s = decode_bytes(html_bytes)
    if s is None:
        return None
    p = _Blocks()
    try:
        p.feed(s)
        p.close()
    except Exception:
        return None
    blocks = p.blocks
    n = len(blocks)
    good = [False] * n
    for i, b in enumerate(blocks):
        words = len(b["text"].split())
        dens = b["link_chars"] / len(b["text"]) if b["text"] else 1.0
        good[i] = (
            not b["chrome"] and words >= min_words and dens <= max_link_density
        )
    keep = list(good)
    for i, b in enumerate(blocks):
        if good[i] or b["chrome"]:
            continue
        words = len(b["text"].split())
        dens = b["link_chars"] / len(b["text"]) if b["text"] else 1.0
        if (
            words >= neighbor_min_words
            and dens <= max_link_density
            and ((i > 0 and good[i - 1]) or (i + 1 < n and good[i + 1]))
        ):
            keep[i] = True
    return "\n\n".join(b["text"] for i, b in enumerate(blocks) if keep[i])


@pandas_udf(StringType())
def main_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched main-content extraction over ``html: binary``."""
    return html.map(extract_main_one)


main_text_udf = main_text_udf.asNondeterministic()


__all__ = [
    "text_udf",
    "main_text_udf",
    "extract_main_one",
    "anchors_udf",
    "extract_anchors_one",
    "links_udf",
    "text_links_udf",
    "links_polite_udf",
    "extract_text_one",
    "extract_links_one",
    "extract_both_one",
    "text_canonical_links",
    "extract_links_polite_one",
    "decode_bytes",
]
