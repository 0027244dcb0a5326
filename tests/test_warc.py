"""WARC ingestion tests: multi-member gzip parsing, the binaryFile ->
mapInPandas file route, truncation quarantine, and the HTML->text
Column chain."""

import gzip

import pytest
from pyspark.sql import functions as F

from trollflow2_spark.extensions.warc import (
    gunzip_members,
    html_to_text,
    parse_warc_bytes,
    read_warc,
)


def _record(wtype: bytes, body: bytes, uri: bytes = b"http://x/1") -> bytes:
    return (
        b"WARC/1.0\r\nWARC-Type: " + wtype
        + b"\r\nWARC-Target-URI: " + uri
        + b"\r\nWARC-Date: 2024-01-15T12:00:00Z"
        + b"\r\nWARC-Record-ID: <urn:uuid:1>"
        + b"\r\nContent-Length: " + str(len(body)).encode()
        + b"\r\n\r\n" + body + b"\r\n\r\n"
    )


def _http(body: bytes, status: int = 200, ctype: bytes = b"text/html") -> bytes:
    return (
        b"HTTP/1.1 " + str(status).encode() + b" OK\r\n"
        b"content-type: " + ctype + b"\r\n\r\n" + body
    )


def test_parse_warc_multi_member_gzip():
    """One gzip member per record — the real crawl layout; a naive
    single-member gunzip would silently drop record two."""
    recs = [
        _record(b"request", b"GET / HTTP/1.1"),
        _record(b"response", _http(b"<p>hello</p>")),
    ]
    blob = b"".join(gzip.compress(r) for r in recs)
    assert gunzip_members(blob) == b"".join(recs)
    parsed = parse_warc_bytes(blob, "f.warc.gz")
    assert [r["warc_type"] for r in parsed] == ["request", "response"]
    resp = parsed[1]
    assert resp["http_status"] == 200
    assert resp["content_type"] == "text/html"
    assert resp["payload"] == b"<p>hello</p>"
    assert resp["warc_target_uri"] == "http://x/1"


def test_parse_warc_plain_and_non_http_payload():
    meta = _record(b"warcinfo", b"software: test")
    parsed = parse_warc_bytes(meta, "plain.warc")
    assert parsed[0]["http_status"] is None
    assert parsed[0]["payload"] == b"software: test"


def test_parse_warc_truncation_raises():
    rec = _record(b"response", _http(b"abc"))
    with pytest.raises(ValueError):
        parse_warc_bytes(rec[:-12], "trunc.warc")  # payload cut short
    with pytest.raises(ValueError):
        parse_warc_bytes(b"NOTWARC/1.0\r\n\r\n", "junk.warc")


def test_read_warc_files(spark, tmp_path):
    """The binaryFile route: two files, one gzipped and one plain, each
    becoming rows with their own warc_file attribution."""
    (tmp_path / "a.warc.gz").write_bytes(
        gzip.compress(_record(b"response", _http(b"<b>A</b>")))
    )
    (tmp_path / "b.warc").write_bytes(
        _record(b"response", _http(b"<b>B</b>"), uri=b"http://x/2")
    )
    rows = read_warc(spark, str(tmp_path)).collect()
    by_uri = {r["warc_target_uri"]: r for r in rows}
    assert set(by_uri) == {"http://x/1", "http://x/2"}
    assert bytes(by_uri["http://x/1"]["payload"]) == b"<b>A</b>"
    assert by_uri["http://x/2"]["warc_file"].endswith("b.warc")
    assert all(r["payload_length"] == 8 for r in rows)


def test_canonicalize_url_edges(spark):
    """Edge cases beyond the contract fixture: non-default ports kept,
    path case preserved, all-tracking query drops the '?', fragments
    stripped even without a query, already-canonical input is a fixed
    point."""
    from trollflow2_spark.extensions.warc import canonicalize_url

    cases = [
        ("http://Example.com:8080/A/B?b=2&a=1",
         "http://example.com:8080/A/B?a=1&b=2"),
        ("https://X.IO/?utm_source=a&utm_medium=b&fbclid=1",
         "https://x.io/"),
        ("HTTP://a.b:80#frag", "http://a.b/"),
        ("https://a.b/Path#x", "https://a.b/Path"),
        ("https://a.b/p?a=1", "https://a.b/p?a=1"),
    ]
    df = spark.createDataFrame(cases, ["url", "want"])
    rows = df.select(
        "want", canonicalize_url(df.url).alias("got")
    ).collect()
    for r in rows:
        assert r["got"] == r["want"]


def test_registrable_domain_edges(spark):
    """PSL-aware eTLD+1: two-label default, three labels under co.uk-
    style suffixes, deep subdomains collapse, ports stripped, single
    labels pass through, a bare two-label public suffix stays itself
    (no fourth label to promote)."""
    from trollflow2_spark.extensions.warc import host_of_url, registrable_domain

    cases = [
        ("www.site3.com", "site3.com"),
        ("site3.com", "site3.com"),
        ("a.b.c.news.portal1.co.uk", "portal1.co.uk"),
        ("portal1.co.uk", "portal1.co.uk"),
        ("co.uk", "co.uk"),
        ("Blog7.ORG:8080", "blog7.org"),
        ("localhost", "localhost"),
        ("cdn.app2.io", "app2.io"),
    ]
    df = spark.createDataFrame(cases, ["host", "want"])
    for r in df.select(
        "want", registrable_domain(df.host).alias("got")
    ).collect():
        assert r["got"] == r["want"], r

    urls = [
        ("https://User@WWW.Site.COM:8443/p?q=1#f", "www.site.com"),
        ("http://a.b/", "a.b"),
    ]
    du = spark.createDataFrame(urls, ["url", "want"])
    for r in du.select("want", host_of_url(du.url).alias("got")).collect():
        assert r["got"] == r["want"], r


def test_html_to_text_chain(spark):
    """script/style/comment blocks drop wholesale, tags strip, the
    documented entity subset decodes, whitespace collapses."""
    html = (
        "<html><head><script>var x = '<p>'</script><style>p {c}</style>"
        "</head><body>\n<h1>T&amp;C</h1><!-- no -->"
        "<p>a &lt;b&gt; &quot;c&quot; &#39;d&#39;&nbsp;e</p></body></html>"
    )
    df = spark.createDataFrame([(html,)], ["raw"])
    got = df.select(html_to_text(F.col("raw")).alias("t")).collect()[0]["t"]
    assert got == "T&C a <b> \"c\" 'd' e"


def test_http_body_content_encodings_decode():
    """gzip/deflate/zstd-encoded and chunked HTTP bodies decode inside
    the envelope parser — the text tier must see text."""
    import gzip
    import zlib

    from trollflow2_spark.extensions.warc import _parse_http
    from trollflow2_spark.sources.zstdcodec import zstd_compress_store

    plain = b"<p>hello encoded world</p>"
    cases = [
        (b"gzip", gzip.compress(plain)),
        (b"deflate", zlib.compress(plain)),
        (b"zstd", zstd_compress_store(plain)),
    ]
    for name, enc in cases:
        payload = (
            b"HTTP/1.1 200 OK\r\ncontent-type: text/html\r\n"
            b"content-encoding: " + name + b"\r\n\r\n" + enc
        )
        status, ctype, body = _parse_http(payload)
        assert (status, body) == (200, plain), name
    # chunked framing
    chunked = b"1a\r\n" + plain + b"\r\n0\r\n\r\n"
    payload = (
        b"HTTP/1.1 200 OK\r\ntransfer-encoding: chunked\r\n\r\n" + chunked
    )
    assert _parse_http(payload)[2] == plain
    # corrupt encoding keeps the raw body instead of dying
    payload = (
        b"HTTP/1.1 200 OK\r\ncontent-encoding: gzip\r\n\r\nnot-gzip"
    )
    assert _parse_http(payload)[2] == b"not-gzip"


def test_html_to_markdown_structures(spark):
    """Headings, links, lists, emphasis and noise removal in one page;
    nested inline tags inside a link keep their markers."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import html_to_markdown

    html = (
        "<h2>Sub</h2><p>a<br>b</p>"
        '<ol><li>one</li><li><a href="u">two</a></li></ol>'
        "<p><strong>s</strong><i>i</i> &lt;tag&gt; &#39;q&#39;</p>"
    )
    df = spark.createDataFrame([(1, html)], "id long, h string")
    md = df.select(html_to_markdown(F.col("h")).alias("md")).first()["md"]
    assert md == (
        "## Sub\n\na\n\nb\n\n- one\n- [two](u)\n\n**s***i* <tag> 'q'"
    )


def test_feed_urls_four_dialects(spark):
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import feed_urls

    rows = [
        (1, '<urlset xmlns="x"><url><loc> https://a.com/1 </loc>'
            '<lastmod>2024-01-01</lastmod></url></urlset>'),
        (2, '<sitemapindex xmlns="x"><sitemap><loc>https://a.com/m.xml'
            '</loc></sitemap></sitemapindex>'),
        (3, '<rss version="2.0"><channel><item><link>https://b.com/p'
            '</link><pubDate>Mon, 01 Jan 2024</pubDate></item>'
            '</channel></rss>'),
        (4, '<feed xmlns="a"><entry><link rel="alternate" '
            'href="https://c.com/e"/><updated>2024-01-02</updated>'
            '</entry></feed>'),
        (5, 'not xml at all'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, xml string")
    got = {
        r["doc_id"]: (r["e"]["kind"], r["e"]["url"], r["e"]["stamp"])
        for r in df.select(
            "doc_id", F.explode(feed_urls(F.col("xml"))).alias("e")
        ).collect()
    }
    assert got[1] == ("sitemap", "https://a.com/1", "2024-01-01")
    assert got[2] == ("sitemapindex", "https://a.com/m.xml", "")
    assert got[3][0] == "rss" and got[3][1] == "https://b.com/p"
    assert got[4] == ("atom", "https://c.com/e", "2024-01-02")
    assert 5 not in got  # non-feed -> empty array, no row


def test_main_content_density_rule(spark):
    """Link-dominated and too-short blocks drop; long plain blocks
    survive; a NULL page degrades to empty output."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import main_content_blocks

    pages = spark.createDataFrame(
        [
            (1, '<div><a href="/">Home page link</a> more '
                '<a href="/x">and another link text</a></div>'
                "<p>This paragraph is long enough and has no links "
                "at all in it</p>"
                "<li>tiny</li>"),
            (2, None),
        ],
        "doc_id long, html string",
    )
    out = {
        r["doc_id"]: r["m"]
        for r in pages.select(
            "doc_id", main_content_blocks(F.col("html")).alias("m")
        ).collect()
    }
    m1 = out[1]
    assert m1["n_blocks"] == 3 and m1["n_kept"] == 1
    assert m1["main_text"].startswith("This paragraph is long enough")
    assert "Home" not in m1["main_text"] and "tiny" not in m1["main_text"]
    assert m1["boilerplate_ratio_permille"] == 666
    m2 = out[2]
    assert m2["main_text"] == "" and m2["n_blocks"] == 0
    assert m2["boilerplate_ratio_permille"] == 0


def test_url_spam_features_signals_and_verdict(spark):
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import url_spam_features

    rows = [
        (1, "https://example.com/a/b"),
        (2, "http://user:pw@9-4-2-7.com:8080/p"),  # userinfo+port
        (3, "https://ok.com/" + "x" * 130),  # one signal only
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", url_spam_features(F.col("url")).alias("f")
        ).collect()
    }
    assert out[1]["spammy"] == 0 and out[1]["path_depth"] == 2
    # host resolves through userinfo/port strip: 9-4-2-7.com
    assert out[2]["host_hyphens"] == 3
    assert out[2]["host_digit_pct"] == 4 * 100 // len("9-4-2-7.com")
    assert out[2]["spammy"] == 1  # hyphens>=3 + digit share >= 30%
    assert out[3]["url_len"] > 120 and out[3]["spammy"] == 0
    assert out[4]["url_len"] == 0 and out[4]["spammy"] == 0


# --- charset-aware intake ----------------------------------------------------


def test_resolve_charset_order_and_labels():
    """Resolution order header -> meta -> BOM -> default; WHATWG label
    folding (iso-8859-1/latin1/ascii declare -> cp1252); unknown labels
    fall through to the next source."""
    from trollflow2_spark.extensions.warc import resolve_charset

    body_meta = b'<html><head><meta charset="shift_jis"></head></html>'
    # header beats meta
    assert resolve_charset(
        "text/html; charset=ISO-8859-1", body_meta
    ) == ("cp1252", "header")
    # meta when header has no charset param
    assert resolve_charset("text/html", body_meta) == (
        "shift_jis", "meta",
    )
    # http-equiv style meta
    he = (b'<meta http-equiv="Content-Type" '
          b'content="text/html; charset=windows-1252">')
    assert resolve_charset(None, he) == ("cp1252", "meta")
    # meta only sniffed in the first 1024 bytes
    far = b" " * 1100 + body_meta
    assert resolve_charset(None, far) == ("utf-8", "default")
    # BOMs
    assert resolve_charset(None, b"\xef\xbb\xbfhi") == (
        "utf-8-sig", "bom",
    )
    assert resolve_charset(None, b"\xff\xfeh\x00") == ("utf-16", "bom")
    assert resolve_charset(None, b"\xfe\xff\x00h") == ("utf-16", "bom")
    # unknown header label falls through (here: to the default)
    assert resolve_charset(
        "text/html; charset=x-klingon", b"plain"
    ) == ("utf-8", "default")
    # stdlib-resolvable labels beyond the WHATWG table still work
    assert resolve_charset(
        "text/html; charset=KOI8-R", b""
    ) == ("koi8-r", "header")


def test_decode_payload_text_flags_lying_charsets():
    """Bytes that betray the declaration decode with U+FFFD and
    decode_ok=0 — never a task failure; BOMs are stripped."""
    from trollflow2_spark.extensions.warc import decode_payload_text

    # honest cp1252
    t, cs, src, ok = decode_payload_text(
        "déjà €".encode("cp1252"), "text/html; charset=windows-1252"
    )
    assert (t, cs, src, ok) == ("déjà €", "cp1252", "header", 1)
    # shift_jis declared, invalid shift_jis bytes -> replace + flag
    t, cs, src, ok = decode_payload_text(
        b"\x81\x39\x82\xf3", "text/html; charset=shift_jis"
    )
    assert ok == 0 and "�" in t and cs == "shift_jis"
    # utf-16 LE BOM round-trip, BOM char stripped
    t, cs, src, ok = decode_payload_text(
        "﻿hi ñ".encode("utf-16"), None
    )
    assert (t, cs, src, ok)[0] == "﻿hi ñ".lstrip("﻿")
    assert (cs, src, ok) == ("utf-16", "bom", 1)
    # utf-8-sig reports utf-8 and strips the BOM
    t, cs, src, ok = decode_payload_text(b"\xef\xbb\xbfok", None)
    assert (t, cs, src, ok) == ("ok", "utf-8", "bom", 1)
    # invalid utf-8 under the default -> flagged, never raises
    t, cs, src, ok = decode_payload_text(b"\xfe\x01\x02", None)
    assert ok == 0 and cs == "utf-8" and src == "default"


def test_decoded_text_raises_encoding_keep_rate(spark):
    """The intake fix the charset decode exists for: on a cp1252 +
    shift_jis fixture, the UTF-8-only cast mojibakes every page and
    the encoding gate drops them all; decoded_text keeps them all.
    The raw payload column survives next to the decoded text."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.text import encoding_quality
    from trollflow2_spark.extensions.warc import decoded_text

    rows = []
    for d in range(20):
        if d % 2:
            body = f"Preis {d} — 12 € für Bücher".encode("cp1252")
            ctype = "text/html; charset=windows-1252"
        else:
            body = f"日本語のページ {d} です".encode("shift_jis")
            ctype = "text/html; charset=shift_jis"
        rows.append((d, bytearray(body), ctype))
    recs = spark.createDataFrame(
        rows, "doc_id long, payload binary, content_type string"
    )
    naive = recs.withColumn("text", F.col("payload").cast("string"))
    naive_keep = (
        encoding_quality(naive).agg(F.sum("enc_ok")).collect()[0][0]
    )
    dec = decoded_text(recs)
    dec_keep = (
        encoding_quality(dec).agg(F.sum("enc_ok")).collect()[0][0]
    )
    assert naive_keep == 0  # every page mojibaked and dropped
    assert dec_keep == 20  # every page survives transcoded
    assert dec.columns.count("payload") == 1  # raw bytes kept
    assert dec.where(F.col("decode_ok") == 0).count() == 0


# --- RFC 9309 robots matching ------------------------------------------------


def _ref_robots_match(path: str, pat: str) -> bool:
    """Reference matcher: the pattern as an anchored regex."""
    import re

    anchored = pat.endswith("$")
    q = pat[:-1] if anchored else pat
    rx = "^" + ".*".join(re.escape(seg) for seg in q.split("*"))
    if anchored:
        rx += "$"
    return re.match(rx, path) is not None


def test_robots_pattern_match_vs_regex_reference(spark):
    """The Column segment-fold glob equals an anchored-regex reference
    over an adversarial (pattern, path) grid — including the greedy-
    leftmost + end-anchor interaction (a*b$ on axbyb), empty-star
    runs, and patterns longer than the path."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import robots_pattern_match

    pats = ["/", "/p/", "/p/*.html$", "/p/1", "/p/1$", "*", "/*/",
            "/a*b$", "/a*b*c$", "/a**b", "/p/*", "$", "/x$",
            "/a*", "/*a*a$", "/p/1*7$"]
    paths = ["/", "/p/", "/p/1", "/p/10", "/p/1.html", "/p/x.htmlx",
             "/a", "/axb", "/axbyb", "/axbycz", "/aa", "/axa",
             "/p/17", "/x", "/ab", "/abc", "/a/b/", ""]
    rows = [(pat, p) for pat in pats for p in paths]
    df = spark.createDataFrame(rows, "pat string, path string")
    got = df.select(
        "pat", "path",
        robots_pattern_match(F.col("path"), F.col("pat"))
        .cast("int").alias("m"),
    ).collect()
    for r in got:
        assert r["m"] == int(_ref_robots_match(r["path"], r["pat"])), (
            r["pat"], r["path"],
        )


def test_robots_allowed_rfc9309_semantics(spark):
    """The VERDICT's motivating case and the RFC corners: Disallow: /
    + Allow: /public/ crawls /public/ and nothing else; longest match
    wins regardless of rule order; equal-length ties go to Allow;
    unmatched paths default to allowed; empty Disallow is a no-op."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import (
        parse_robots_rules,
        robots_allowed,
    )

    robots = ("User-agent: *\n"
              "Disallow: /\n"
              "Allow: /public/\n"
              "Disallow: /public/private/\n"
              "disallow: /t/b\n"   # case-insensitive key
              "Allow: /t/b\n"      # tie -> Allow
              "Disallow:\n"        # empty = no-op, dropped
              "Crawl-delay: 2\n")
    cases = [
        ("/", 0), ("/about", 0), ("/public/", 1), ("/public/a/b", 1),
        ("/public/private/x", 0), ("/t/b", 1), ("/t/bb", 1),
    ]
    df = spark.createDataFrame(cases, "path string, want int")
    out = df.select(
        "path", "want",
        robots_allowed(
            F.col("path"), parse_robots_rules(F.lit(robots))
        ).alias("got"),
        F.size(parse_robots_rules(F.lit(robots))).alias("n"),
    ).collect()
    for r in out:
        assert r["got"] == r["want"], r["path"]
        assert r["n"] == 5  # empty Disallow and non-rule lines dropped


def test_detected_utf8_overrides_lying_single_byte_header():
    """A genuine multi-byte UTF-8 payload declared as a single-byte
    charset (which would 'decode fine' into mojibake) is detected and
    decoded as UTF-8, with charset_source='detected'; a REAL cp1252
    payload (invalid as UTF-8) keeps its declared codec; pure-ASCII
    bodies never trigger detection (both codecs agree anyway)."""
    from trollflow2_spark.extensions.warc import decode_payload_text

    t, cs, src, ok = decode_payload_text(
        "übergröße 中".encode("utf-8"), "text/html; charset=iso-8859-1"
    )
    assert (t, cs, src, ok) == ("übergröße 中", "utf-8", "detected", 1)
    t, cs, src, ok = decode_payload_text(
        "déjà €".encode("cp1252"), "text/html; charset=windows-1252"
    )
    assert (t, cs, src, ok) == ("déjà €", "cp1252", "header", 1)
    t, cs, src, ok = decode_payload_text(
        b"plain ascii only", "text/html; charset=iso-8859-1"
    )
    assert (cs, src, ok) == ("cp1252", "header", 1)


def test_jsonld_metadata_classes(spark):
    """Well-formed blocks parse; reversed attributes and single
    quotes match; absent block -> has_jsonld 0; present-but-broken
    JSON -> has_jsonld 1 with NULL fields (the quarantine signal)."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import jsonld_metadata

    good = ('{"@type":"Article","headline":"H1","datePublished":'
            '"2024-01-02","author":{"@type":"Person","name":"A"},'
            '"inLanguage":"fr"}')
    rows = [
        (1, f'<html><script type="application/ld+json">{good}'
            "</script></html>"),
        (2, f"<html><script async type='application/ld+json'>{good}"
            "</script></html>"),
        (3, "<html><p>nothing structured</p></html>"),
        (4, '<html><script type="application/ld+json">{"@type": '
            "</script></html>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", jsonld_metadata(F.col("html")).alias("m")
        ).select("doc_id", "m.*").collect()
    }
    for d in (1, 2):
        assert out[d]["has_jsonld"] == 1
        assert out[d]["headline"] == "H1"
        assert out[d]["author_name"] == "A"
        assert out[d]["language"] == "fr"
    assert out[3]["has_jsonld"] == 0 and out[3]["headline"] is None
    assert out[4]["has_jsonld"] == 1 and out[4]["ld_type"] is None


def test_html_table_rows_first_table_and_entities(spark):
    """Only the FIRST table extracts; th rows flag is_header; cell
    tags strip and entities decode; table-less pages yield nothing."""
    from trollflow2_spark.extensions.warc import html_table_rows

    html = ("<html><table><tr><th>K</th><th>V</th></tr>"
            "<tr><td><b>a</b> &amp; b</td><td>1 &lt; 2</td></tr>"
            "</table><table><tr><td>decoy</td></tr></table></html>")
    df = spark.createDataFrame(
        [(1, html), (2, "<html>no table</html>")],
        "doc_id long, html string",
    )
    rows = sorted(
        (r["doc_id"], r["row_ord"], tuple(r["cells"]), r["is_header"])
        for r in html_table_rows(df).collect()
    )
    assert rows == [
        (1, 0, ("K", "V"), 1),
        (1, 1, ("a & b", "1 < 2"), 0),
    ]


def test_robots_sitemaps_directive(spark):
    """Sitemap: lines extract case-insensitively on the KEY, verbatim
    on the URL, in file order, from anywhere in the file."""
    from pyspark.sql import functions as F

    from trollflow2_spark.extensions.warc import robots_sitemaps

    body = (
        "User-agent: *\nDisallow: /a\n"
        "Sitemap: https://x.org/A.xml\n"
        "# Sitemap: https://x.org/commented.xml is still a directive?\n"
        "  SITEMAP:https://x.org/B.XML\n"
        "Sitemap:\n"  # empty value: dropped
    )
    df = spark.createDataFrame([(1, body)], ["i", "r"])
    got = df.select(
        robots_sitemaps(F.col("r")).alias("u")
    ).collect()[0]["u"]
    # the commented line does NOT start with 'sitemap:' after trim
    assert got == ["https://x.org/A.xml", "https://x.org/B.XML"]


def test_fetch_schedule_politeness_invariants(spark):
    """One worker per domain (affinity), slots follow priority order,
    offsets step by the domain's delay."""
    from trollflow2_spark.extensions.warc import fetch_schedule

    rows = [
        ("a.com", "https://a.com/1", 10, 2),
        ("a.com", "https://a.com/2", 90, 2),
        ("a.com", "https://a.com/3", 50, 2),
        ("b.org", "https://b.org/1", 5, 7),
    ]
    df = spark.createDataFrame(
        rows, ["domain", "url", "priority", "crawl_delay_s"]
    )
    out = fetch_schedule(df, n_workers=8).collect()
    a = sorted([r for r in out if r["domain"] == "a.com"],
               key=lambda r: r["slot"])
    assert [r["url"].split("/")[-1] for r in a] == ["2", "3", "1"]
    assert [r["offset_s"] for r in a] == [0, 2, 4]
    assert len({r["worker"] for r in a}) == 1  # domain affinity
    b = [r for r in out if r["domain"] == "b.org"][0]
    assert (b["slot"], b["offset_s"]) == (0, 0)
    assert all(0 <= r["worker"] < 8 for r in out)
