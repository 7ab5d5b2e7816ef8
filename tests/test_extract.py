from __future__ import annotations

import glob
import os

import pytest

from crawlspark import extract
from crawlspark.extract import extract_links_one, extract_text_one

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures", "extract")
CASES = sorted(
    os.path.basename(p)[: -len(".html")] for p in glob.glob(f"{FIXDIR}/*.html")
)


@pytest.mark.parametrize("case", CASES)
def test_extract_golden_byte_identical(case):
    with open(f"{FIXDIR}/{case}.html", "rb") as f:
        html = f.read()
    with open(f"{FIXDIR}/{case}.txt", "rb") as f:
        want = f.read().decode("utf-8")
    assert extract_text_one(html) == want


def test_links_absolute_and_relative():
    html = (
        b'<html><body><a href="https://a.example/x">x</a>'
        b'<a href="/rel">r</a><a href="sub/page">s</a>'
        b"<a>no-href</a></body></html>"
    )
    links = extract_links_one(html, "https://base.example/dir/page")
    assert links == [
        "https://a.example/x",
        "https://base.example/rel",
        "https://base.example/dir/sub/page",
    ]


def test_links_from_xml_is_empty():
    xml = b'<?xml version="1.0"?><PubmedArticleSet></PubmedArticleSet>'
    assert extract_links_one(xml, "https://x.example/") == []


def test_generator_text_roundtrip():
    """The engine extractor must reproduce the generator's ground-truth text
    byte-identically (BASELINE.json per-row invariant)."""
    import gen_pages as gp

    n = 200
    for i in range(n):
        for c in range(gp.n_captures(i)):
            html = gp.html_of(i, c, n)
            assert extract_text_one(html) == gp.text_of(i, c), f"page {i} c{c}"


def test_generator_links_canonical_targets():
    import gen_pages as gp

    from crawlspark.urlnorm import canonicalize_one

    from urllib.parse import urljoin

    n = 100
    for i in range(0, n, 7):
        html = gp.html_of(i, 0, n)
        links = extract_links_one(html, gp.url_of(i))
        want = [urljoin(gp.url_of(i), h) for h in gp.outlinks_of(i, n)]
        assert links == want
        for raw in want:
            c = canonicalize_one(raw)
            assert c is not None and c.startswith("https://")


def test_udfs_match_python(spark):
    import gen_pages as gp
    from pyspark.sql import functions as F

    from crawlspark import extract

    n = 60
    rows = [(gp.url_of(i), gp.html_of(i, 0, n)) for i in range(n)]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = (
        df.select(
            "url",
            extract.text_udf(F.col("html")).alias("text"),
            extract.links_udf(F.col("html"), F.col("url")).alias("links"),
        )
        .orderBy("url")
        .collect()
    )
    from urllib.parse import urljoin

    for r in got:
        i = int(r["url"].rsplit("/", 1)[1])
        assert r["text"] == gp.text_of(i, 0)
        assert list(r["links"]) == [
            urljoin(gp.url_of(i), h) for h in gp.outlinks_of(i, n)
        ]


def test_fused_udf_identical_to_separate(spark):
    """text_links_udf (one decode+parse) must be field-identical to the
    separate text_udf and the CANONICALIZED links_udf (canonicalize_one of
    each link, empty results dropped) on every golden fixture and
    generated page, including XML, malformed, and null html."""
    import gen_pages as gp
    from pyspark.sql import functions as F

    from crawlspark import extract

    n = 40
    rows = [(gp.url_of(i), gp.html_of(i, 0, n)) for i in range(n)]
    rows.append(("https://x.example/null", None))
    rows.append(("https://x.example/bad", b"<html><body><p>unclosed <a href='/r'>t"))
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "fixtures", "*.html"))) + sorted(
        glob.glob(os.path.join(os.path.dirname(__file__), "fixtures", "*.xml"))
    ):
        with open(path, "rb") as f:
            rows.append((f"https://fix.example/{os.path.basename(path)}", f.read()))
    df = spark.createDataFrame(rows, "url string, html binary")
    got = (
        df.withColumn("__tl", extract.text_links_udf(F.col("html"), F.col("url")))
        .select(
            "url",
            extract.text_udf(F.col("html")).alias("t_sep"),
            extract.links_udf(F.col("html"), F.col("url")).alias("l_sep"),
            F.col("__tl.text").alias("t_fused"),
            F.col("__tl.links").alias("l_fused"),
        )
        .collect()
    )
    from crawlspark.urlnorm import canonicalize_one

    assert len(got) == len(rows)
    for r in got:
        assert r["t_fused"] == r["t_sep"], r["url"]
        want = [c for c in map(canonicalize_one, r["l_sep"] or []) if c]
        assert list(r["l_fused"] or []) == want, r["url"]


def test_fused_links_are_canonical_extract_links():
    """The fused extraction's links are canonicalize_one of each
    extract_links_one link, empty results dropped — over generated bases
    and hrefs that include the hostile shapes the joiner fuzz uses, with
    one memo shared across the batch's pages as in the UDF."""
    from html import escape

    from hypothesis import given, settings, strategies as st

    from crawlspark.urlnorm import canonicalize_one

    piece = st.sampled_from(
        ["a", "b2", "/", "//", ".", "..", "?", "#", ";", ":", "&", "=",
         "%41", "%7e", "~", "-", "_", " ", "\t", "é", "@", "https://",
         "http://", "HTTP://", "X.Y", ":443", ":80", "+", "\\", "[", "]",
         "[::1]"]
    )
    href = st.lists(piece, min_size=0, max_size=8).map("".join)
    page = st.tuples(
        st.sampled_from(JOIN_BASES + [None]),
        st.lists(st.sampled_from(JOIN_HREFS) | href, min_size=0, max_size=6),
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(page, min_size=1, max_size=4))
    def run(pages):
        html = [
            (
                "<html><body>"
                + "".join(f'<a href="{escape(h)}">x</a>' for h in hrefs)
                + "</body></html>"
            ).encode()
            for _, hrefs in pages
        ]
        bases = [b for b, _ in pages]
        _, got = extract.text_canonical_links(html, bases)
        for h, b, links in zip(html, bases, got):
            want = [
                c for c in map(canonicalize_one, extract_links_one(h, b)) if c
            ]
            assert links == want, (b, h)

    run()


def test_nofollow_and_meta_robots_directives():
    from crawlspark import extract

    html = b"""<html><head>
<title>T</title>
</head><body>
<a href="/follow1">f1</a>
<a rel="nofollow" href="/skip1">s1</a>
<a rel="external NOFOLLOW" href="/skip2">s2</a>
<a rel="external" href="/follow2">f2</a>
</body></html>"""
    # default path unchanged: every href collected (byte-pinned contract)
    assert extract.extract_links_one(html, "http://e.x/") == [
        "http://e.x/follow1", "http://e.x/skip1", "http://e.x/skip2", "http://e.x/follow2",
    ]
    links, nf, ni = extract.extract_links_polite_one(html, "http://e.x/")
    assert links == ["http://e.x/follow1", "http://e.x/follow2"]
    assert not nf and not ni

    meta = b"""<html><head><meta name="ROBOTS" content="noindex, NOFOLLOW"></head>
<body><a href="/x">x</a></body></html>"""
    links, nf, ni = extract.extract_links_polite_one(meta, "http://e.x/")
    assert links == [] and nf and ni
    # meta "none" = noindex,nofollow
    none = b'<html><head><meta name="robots" content="none"></head><body><a href="/y">y</a></body></html>'
    links, nf, ni = extract.extract_links_polite_one(none, None)
    assert links == [] and nf and ni
    # default path ignores the meta
    assert extract.extract_links_one(meta, "http://e.x/") == ["http://e.x/x"]


def test_links_polite_udf_spark(spark):
    from pyspark.sql import functions as F

    from crawlspark import extract

    rows = [
        ("http://e.x/a", bytearray(b'<html><body><a href="/p">p</a><a rel="nofollow" href="/q">q</a></body></html>')),
        ("http://e.x/b", bytearray(b'<html><head><meta name="robots" content="nofollow"></head><body><a href="/r">r</a></body></html>')),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {r["url"]: r for r in df.select(
        "url", extract.links_polite_udf(F.col("html"), F.col("url")).alias("o")
    ).select("url", "o.*").collect()}
    assert out["http://e.x/a"]["links"] == ["http://e.x/p"]
    assert not out["http://e.x/a"]["meta_nofollow"]
    assert out["http://e.x/b"]["links"] == [] and out["http://e.x/b"]["meta_nofollow"]


ARTICLE_HTML = b"""<html><head><title>T</title><style>p{}</style></head><body>
<nav><a href=/>Home</a> <a href=/about>About</a> <a href=/contact>Contact</a></nav>
<header><a href=/login>Log in with your account right now today</a></header>
<h2>A Good Heading</h2>
<p>This is the first real paragraph of the article with plenty of words to pass the threshold easily.</p>
<p>Tiny.</p>
<p>And a second substantial paragraph continues the story with more than eight words for sure.</p>
<div><a href=/x>link one</a> <a href=/y>link two</a> <a href=/z>link three four five six seven eight</a></div>
<aside>Related articles you might also enjoy reading during your stay</aside>
<footer>Copyright 2026 Example Corp All Rights Reserved Worldwide Yes</footer>
</body></html>"""


def test_extract_main_drops_boilerplate_keeps_article():
    out = extract.extract_main_one(ARTICLE_HTML)
    paras = out.split("\n\n")
    # heading survives via neighbor smoothing; both real paragraphs kept
    assert paras[0] == "A Good Heading"
    assert paras[1].startswith("This is the first real paragraph")
    assert paras[2].startswith("And a second substantial paragraph")
    assert len(paras) == 3
    # chrome and link-farm content is gone even though it has many words
    for bad in ("Home", "Log in", "link one", "Related articles", "Copyright"):
        assert bad not in out


def test_extract_main_edge_cases():
    assert extract.extract_main_one(None) is None
    assert extract.extract_main_one(b"") == ""
    assert extract.extract_main_one(b"just plain text " * 3 + b"with enough words here") != ""
    # all-boilerplate page -> empty string, not None
    assert extract.extract_main_one(b"<nav><a href=/>x</a></nav>") == ""
    # deterministic
    assert extract.extract_main_one(ARTICLE_HTML) == extract.extract_main_one(ARTICLE_HTML)


def test_main_text_udf_spark(spark):
    df = spark.createDataFrame(
        [("u1", bytearray(ARTICLE_HTML)), ("u2", None)], "url string, html binary"
    )
    rows = {
        r["url"]: r["main"]
        for r in df.select("url", extract.main_text_udf("html").alias("main")).collect()
    }
    assert rows["u1"] == extract.extract_main_one(ARTICLE_HTML)
    assert rows["u2"] is None


def test_extract_anchors_pairs_and_resolution():
    html = (
        b'<html><body>'
        b'<a href="/rel">Relative <b>Link</b></a>'
        b'<a href="https://abs.example/x">Absolute</a>'
        b'<a href="/empty"></a>'
        b'<a>no href</a>'
        b'<a href="/unclosed">First'
        b'<a href="/second">Second</a>'
        b'<script><a href="/injs">nope</a></script>'
        b"</body></html>"
    )
    got = extract.extract_anchors_one(html, "https://base.example/dir/page")
    assert got == [
        {"url": "https://base.example/rel", "anchor": "Relative Link"},
        {"url": "https://abs.example/x", "anchor": "Absolute"},
        {"url": "https://base.example/empty", "anchor": ""},
        {"url": "https://base.example/unclosed", "anchor": "First"},
        {"url": "https://base.example/second", "anchor": "Second"},
    ]
    assert extract.extract_anchors_one(None, "https://b/") == []


def test_anchors_udf_spark(spark):
    from pyspark.sql import functions as F

    html = b'<a href="/p">The Anchor</a>'
    df = spark.createDataFrame(
        [("https://h.example/", bytearray(html))], "url string, html binary"
    )
    rows = (
        df.select(F.explode(extract.anchors_udf("html", "url")).alias("a"))
        .select("a.url", "a.anchor")
        .collect()
    )
    assert [(r["url"], r["anchor"]) for r in rows] == [
        ("https://h.example/p", "The Anchor")
    ]


# ------------------------------------------------- fast-scanner differential

def _slow_collect(s: str, respect: bool = False):
    p = extract._TextAndLinks(respect_robots_directives=respect)
    p.feed(s)
    p.close()
    return p.tokens, p.links, p.meta_nofollow, p.meta_noindex


def _assert_fast_matches_slow(s: str):
    """Whenever the fast scanner accepts an input, its 4-tuple must be
    field-identical to HTMLParser's collector — for both respect modes."""
    for respect in (False, True):
        fast = extract._fast_scan(s, respect)
        if fast is None:
            continue
        slow = _slow_collect(s, respect)
        assert fast[0] == slow[0], (respect, s)
        assert fast[1] == slow[1], (respect, s)
        assert fast[2:] == slow[2:], (respect, s)


DIRECTED_HTML = [
    # plain shapes
    "",
    "just text no tags",
    "<html><head><title>T t</title></head><body><p>a b</p></body></html>",
    # no <body>: tokens_all fallback path
    "<p>alpha</p><title>beta</title>gamma",
    # entities inside and outside title/body, incl. double-escape
    "<body>&amp;amp; &lt;b&gt; &#65;&#x42; &nbsp;x</body>",
    "<title>A &amp; B</title><body>c&copy;d</body>",
    "text &amp fin",  # unterminated entity (unescape still handles)
    # comments, incl. lazy close `--  >` and comment-hidden tags
    "<body>a<!-- hidden <a href='/x'>no</a> -->b</body>",
    "<body>a<!-- c --  >b</body>",
    "<body>a<!---->b</body>",
    # doctype / PI / bogus comment
    "<!DOCTYPE html><body>x</body>",
    "<!doctype html public 'x'><body>y</body>",
    "<?php echo 1; ?><body>z</body>",
    "<!whatever junk><body>w</body>",
    "<!><body>v</body>",
    # script/style cdata with case variants and tag-soup inside
    "<body>a<script>var x = '<a href=/no>'; if (1<2) {}</script>b</body>",
    "<body>a<SCRIPT>x</SCRIPT>b</body>",
    "<body>a<script>x</script\t>b</body>",
    "<body>a<style>p > a { color: red }</style>b</body>",
    "<body>a<script/>inline</script>b</body>",  # startendtag: no cdata mode
    # start-tag attr shapes
    '<body><a href="/q1">q</a></body>',
    "<body><a href='/q2'>q</a></body>",
    "<body><a href=/q3>q</a></body>",
    "<body><a href = '/q4' >q</a></body>",
    '<body><a href="">empty</a><a href>none</a><a>bare</a></body>',
    '<body><a href="/d" href="/d2">dup</a></body>',
    '<body><a href="/amp?a=1&amp;b=2">e</a></body>',
    '<body><a href="x>y">gt-in-value</a></body>',
    "<body><a href=x/>slash-in-bare</body>",
    "<body><br/><hr />text</body>",
    '<body><A HREF="/UP">case</A></body>',
    "<body><a data-x=1 href=/mix rel=tag>m</a></body>",
    # end-tag shapes
    "<body>a</body >trail",
    "<body><title>t</title >u</body>",
    # rel=nofollow and meta robots (respect semantics)
    '<body><a rel="nofollow" href="/s">s</a><a href="/k">k</a></body>',
    '<body><a rel="external NoFollow" href="/s2">s</a></body>',
    '<head><meta name="robots" content="noindex, nofollow"></head><body><a href="/x">x</a></body>',
    '<head><meta name="ROBOTS" content="NONE"/></head><body><a href="/y">y</a></body>',
    '<head><meta name="robots" content=" nofollow "></head><body>t</body>',
    '<body><a href="/pre">p</a><meta name=robots content=nofollow></body>',  # late meta wins
    # self-closing structure tags
    "<title/>after<body/>more",
    "<body>x</body><body>y</body>",
    # nested skip + stray closers
    "<body><script>a</script></script>x</body>",
    "<body></style>only-stray</body>",
    # unclosed ELEMENT (all tag tokens complete) is fine on the fast path
    "<body><a href='/u'>unclosed tag",
    # '<' is a legal attr-name char in BOTH the strict and tolerant regexes
    "<body><a href='/u' <bad>></a></body>",
]

FALLBACK_HTML = [
    "<body>1 < 2 bare lt</body>",
    "<body><![CDATA[raw]]>x</body>",
    "<body><!-- never closed",
    "<body></ spaced>x</body>",
    "<body></a attr=1>x</body>",
    "<body><a href=a=b>x</a></body>",
    "<body><script>never closed</body>",
    "<body><script>x</script junk>y</script>z</body>",
    "<body><script>x</scripty>z</script>w</body>",
    "<é>non-ascii tag</é>",
    "<body>trailing lt <",
]


@pytest.mark.parametrize("s", DIRECTED_HTML)
def test_fast_scan_matches_htmlparser_directed(s):
    assert extract._fast_scan(s) is not None, f"expected fast path: {s!r}"
    _assert_fast_matches_slow(s)


@pytest.mark.parametrize("s", FALLBACK_HTML)
def test_fast_scan_falls_back_on_hard_constructs(s):
    # these inputs exercise HTMLParser's tolerant paths the fast scanner
    # must refuse; the public extractors then take the slow path, so the
    # end-to-end result is still HTMLParser-defined
    assert extract._fast_scan(s) is None, f"expected fallback: {s!r}"


def test_fast_scan_covers_generator_corpus():
    """Every generated page must BOTH take the fast path (else the crawl
    bench silently loses the speedup) and match the slow collector."""
    import gen_pages as gp

    n = 300
    fallbacks = 0
    for i in range(n):
        for c in range(gp.n_captures(i)):
            s = extract.decode_bytes(gp.html_of(i, c, n))
            if extract._fast_scan(s) is None:
                fallbacks += 1
            else:
                _assert_fast_matches_slow(s)
    assert fallbacks == 0


def test_fast_scan_fuzz_differential():
    """Random tag-soup: fast result, when accepted, must equal HTMLParser;
    public extract_* functions must be stable regardless of path taken."""
    from hypothesis import given, settings, strategies as st

    frag = st.sampled_from(
        [
            "<body>", "</body>", "<title>", "</title>", "<p>", "</p>",
            "<a href='/r'>", '<a href="/q">', "<a href=/b>", "</a>",
            "<a rel=nofollow href=/n>", "<script>", "</script>",
            "<style>", "</style>", "<script/>", "<br/>", "<br />",
            "<!-- c -->", "<!-- x --  >", "<!DOCTYPE html>", "<?pi?>",
            "<![CDATA[z]]>", "<meta name=robots content=nofollow>",
            '<meta name="robots" content="noindex">', "<!bogus>",
            "text", "a b", "&amp;", "&lt;", "&#65;", "&nbsp;", "&amp",
            "<", ">", "&", " ", "\n", "é", "x<y", "</b >", "</ b>",
        ]
    )

    @settings(max_examples=400, deadline=None)
    @given(st.lists(frag, min_size=0, max_size=12))
    def run(parts):
        s = "".join(parts)
        _assert_fast_matches_slow(s)

    run()


# ------------------------------------------------ fast urljoin differential

JOIN_BASES = [
    "https://host0.example/p/17",
    "https://host.example/",
    "http://h.example/a/b/c.html",
    "https://h.example/p/1?q=2#f",     # query/frag on base -> ok_base False
    "https://h.example/p//q/1",        # middle empty segment in base path
    "https://h.example/p/./1",         # dot segment in base path
    "https://h.example",               # empty base path
    "https://h.example/a;p/x",         # params in base path
    "ftp://h.example/a/b",             # non-http scheme
    "",
]

JOIN_HREFS = [
    "", "/", "/x", "/x/y.html", "/x?q=1", "/x?", "/x#", "/x#f", "/x;p",
    "//other.example/y", "/a/../b", "/./x", "/.well-known/x", "/a//b",
    "sub/page", "sub//page", "a/b/", "page.html", ".", "..", "../up",
    "./same", "x:y", "mailto:a@b", "javascript:void(0)",
    "https://abs.example/x", "https://abs.example/x?q=1", "https://abs.example",
    "https:///nonetloc", "HTTPS://UP.example/x", "http://cross.example/y",
    "http://cross.example/y?#", " /lead", "\tx", "a\tb", "a b", "x<y",
    "%70/enc", "é/unicode", "p?", "p#", "p?q", "p#f", "?q=1", "#frag",
    "a\\b", "a@b", "a&b=c", "...", "..../x", "x/..", "x/.",
]


def test_make_joiner_matches_urljoin_directed():
    from urllib.parse import urljoin

    for base in JOIN_BASES:
        join = extract._make_joiner(base)
        for h in JOIN_HREFS:
            assert join(h) == urljoin(base, h), (base, h)


def test_make_joiner_fuzz():
    from urllib.parse import urljoin

    from hypothesis import given, settings, strategies as st

    piece = st.sampled_from(
        ["a", "b2", "/", "//", ".", "..", "?", "#", ";", ":", "&", "=",
         "%41", "~", "-", "_", " ", "\t", "é", "@", "https://", "http://",
         "x.y", "+", "\\", "[", "]", "[::1]"]
    )
    href = st.lists(piece, min_size=0, max_size=8).map("".join)
    base = st.sampled_from(JOIN_BASES)

    @settings(max_examples=500, deadline=None)
    @given(base, href)
    def run(b, h):
        join = extract._make_joiner(b)
        try:
            want = urljoin(b, h)
        except ValueError:
            want = None  # hostile href: the joiner must DROP, not raise/leak
        assert join(h) == want, (b, h)

    run()


def test_joiner_drops_urljoin_rejected_hrefs():
    """Hrefs urljoin raises on (unbalanced/invalid bracketed hosts) map to
    None from the joiner and are silently dropped by every extractor —
    one hostile link must not kill the stage or leak verbatim."""
    base = "https://h0.example/a/b"
    join = extract._make_joiner(base)
    for h in ("http://[bad", "https://]x/y", "http://[", "https://[zz]/p"):
        assert join(h) is None, h
    html = (
        '<html><body><a href="http://[bad">x</a>'
        '<a href="/ok">y</a></body></html>'
    ).encode()
    assert extract.extract_links_one(html, base) == ["https://h0.example/ok"]
    text, links = extract.extract_both_one(html, base)
    assert links == ["https://h0.example/ok"]
    polite_links, _, _ = extract.extract_links_polite_one(html, base)
    assert polite_links == ["https://h0.example/ok"]
    anchors = extract.extract_anchors_one(html, base)
    assert [a["url"] for a in anchors] == ["https://h0.example/ok"]


def test_generator_corpus_join_fast_share(monkeypatch):
    """Generated-page links must resolve on the joiner's concat paths (the
    bench speedup) AND equal real urljoin; patching the module-level
    urljoin counts fallbacks so a gate regression is visible."""
    import gen_pages as gp
    from urllib.parse import urljoin

    calls = []
    monkeypatch.setattr(
        extract, "urljoin", lambda b, h: calls.append(h) or urljoin(b, h)
    )
    n = 200
    total = 0
    for i in range(n):
        base = gp.url_of(i)
        join = extract._make_joiner(base)
        for h in gp.outlinks_of(i, n):
            total += 1
            assert join(h) == urljoin(base, h)
    # the generator's MESSY variants ("/a/../p/N#frag", "#frag") are meant
    # to fall back (dot segments / fragments); clean links must not
    assert len(calls) / total < 0.25, f"{len(calls)}/{total} fell back"
    assert all(
        "#" in h or "/." in h or "?" in h or h.startswith("HTTPS://")
        for h in calls
    ), calls[:5]
