"""WARC (Web ARChive, ISO 28500) ingestion — the Common Crawl shape.

Large-scale text corpora arrive as WARC files: concatenated records
(request/response/metadata), each with WARC headers, an optional HTTP
envelope, and a payload; files are usually stored as concatenated gzip
members (one member per record) so they stay splittable-ish and
streamable. The reference pipeline ingests satellite granules through
fsspec/satpy (``/root/reference/trollflow2/plugins/__init__.py:86-99``);
this module is the analogous intake for web-crawl corpora, stdlib-only
(``zlib`` handles multi-member gzip).

Spark shape: WARC files are NOT line-splittable, so each file is one
work unit — ``spark.read.format("binaryFile")`` + ``mapInPandas``
parses one file per task (a crawl ships tens of thousands of ~1 GB
WARCs, so file-level parallelism saturates any cluster; this is the
same executor-side whole-file kernel pattern as the raster readers in
``sources/scene.py``). Record parsing never touches the driver.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_offset", T.LongType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("warc_target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("warc_record_id", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("payload_length", T.LongType()),
    ]
)


# Corruption surface of a wild crawled body: zlib raises zlib.error and
# the from-scratch zstd/lz4 decoders raise ValueError on every check
# they make, but raw byte-indexing in a malformed stream can also
# surface as IndexError or struct.error before a check fires.  A
# corrupt BODY must never crash the executor task — it stays raw and
# the downstream hygiene gates flag it.
_CORRUPT_BODY = (ValueError, zlib.error, IndexError, struct.error)


def gunzip_members(blob: bytes) -> bytes:
    """Decompress a WARC container stream: multi-member gzip
    (``.warc.gz`` — one member per record), concatenated zstd frames
    (``.warc.zst`` — Common Crawl's current distribution format,
    decoded by the repo's from-scratch RFC 8878 decoder), or plain
    bytes. A naive single-member decompress would silently drop
    everything after record one."""
    if blob[:4] == b"\x28\xb5\x2f\xfd":
        from trollflow2_spark.sources.zstdcodec import zstd_decompress

        try:
            return zstd_decompress(blob)
        except (IndexError, struct.error) as exc:
            # normalize raw byte-indexing faults in a corrupt container
            # to the documented ValueError contract
            raise ValueError(f"corrupt zstd WARC container: {exc}") from exc
    if blob[:2] != b"\x1f\x8b":
        return blob
    out = bytearray()
    data = blob
    while data:
        d = zlib.decompressobj(wbits=31)
        out += d.decompress(data)
        out += d.flush()
        if not d.eof:
            raise ValueError("truncated gzip member in WARC stream")
        data = d.unused_data
    return bytes(out)


def _parse_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an HTTP response envelope: (status, content-type, body).
    Non-HTTP payloads come back as (None, None, payload)."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return None, None, payload
    head, body = payload[:sep], payload[sep + 4 :]
    lines = head.split(b"\r\n")
    try:
        status = int(lines[0].split()[1])
    except (IndexError, ValueError):
        status = None
    ctype = None
    cenc = None
    chunked = False
    for ln in lines[1:]:
        low = ln.lower()
        if low.startswith(b"content-type:") and ctype is None:
            ctype = ln.split(b":", 1)[1].strip().decode("latin-1")
        elif low.startswith(b"content-encoding:"):
            cenc = low.split(b":", 1)[1].strip()
        elif low.startswith(b"transfer-encoding:") and b"chunked" in low:
            chunked = True
    if chunked:
        body = _dechunk(body)
    if cenc == b"br":
        from trollflow2_spark.extensions.brotlicodec import brotli_decompress

        try:
            body = brotli_decompress(body)
        except _CORRUPT_BODY:
            pass  # keep the raw body; downstream hygiene gates flag it
    elif cenc in (b"gzip", b"x-gzip", b"deflate"):
        # crawl reality: servers gzip/deflate bodies; decode so the
        # text tier sees text (zstd bodies ride the repo decoder too)
        try:
            if cenc == b"deflate":
                try:
                    body = zlib.decompress(body)
                except zlib.error:
                    body = zlib.decompress(body, wbits=-15)  # raw deflate
            else:
                body = gunzip_members(body)
        except _CORRUPT_BODY:
            pass  # keep the raw body; downstream hygiene gates flag it
    elif cenc == b"zstd":
        from trollflow2_spark.sources.zstdcodec import zstd_decompress

        try:
            body = zstd_decompress(body)
        except _CORRUPT_BODY:
            pass
    return status, ctype, body


def _dechunk(body: bytes) -> bytes:
    """Decode HTTP/1.1 chunked transfer encoding; malformed framing
    returns the raw body (hygiene gates flag it downstream)."""
    out = bytearray()
    pos = 0
    try:
        while True:
            eol = body.index(b"\r\n", pos)
            size = int(body[pos:eol].split(b";")[0], 16)
            pos = eol + 2
            if size == 0:
                return bytes(out)
            out += body[pos : pos + size]
            pos += size + 2  # trailing CRLF
    except (ValueError, IndexError):
        return body


def parse_warc_bytes(blob: bytes, source_name: str = "") -> list[dict]:
    """Parse one WARC file's bytes (gzip members or plain) into record
    dicts matching :data:`WARC_RECORD_SCHEMA`. Malformed trailing bytes
    raise — a truncated crawl file should quarantine loudly, not pass a
    partial record as complete."""
    raw = gunzip_members(blob)
    records = []
    pos = 0
    n = len(raw)
    while pos < n:
        # skip the inter-record CRLF CRLF separator
        while pos < n and raw[pos] in (0x0D, 0x0A):
            pos += 1
        if pos >= n:
            break
        if not raw[pos:].startswith(b"WARC/"):
            raise ValueError(
                f"bad WARC record header at offset {pos} in {source_name!r}"
            )
        hdr_end = raw.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"truncated WARC header in {source_name!r}")
        header_block = raw[pos:hdr_end].decode("utf-8", "replace")
        headers: dict[str, str] = {}
        for line in header_block.split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError(
                f"WARC record without Content-Length in {source_name!r}"
            ) from exc
        body_start = hdr_end + 4
        payload = raw[body_start : body_start + length]
        if len(payload) != length:
            raise ValueError(f"truncated WARC payload in {source_name!r}")
        status, http_ctype, http_body = _parse_http(payload)
        records.append(
            {
                "warc_file": source_name,
                "record_offset": pos,
                "warc_type": headers.get("warc-type"),
                "warc_target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "warc_record_id": headers.get("warc-record-id"),
                "http_status": status,
                "content_type": http_ctype or headers.get("content-type"),
                "payload": http_body,
                "payload_length": len(http_body),
            }
        )
        pos = body_start + length
    return records


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files -> one DataFrame row per record. One file per task
    (``binaryFile`` source); the parse kernel runs executor-side via
    ``mapInPandas``, so a 10k-file crawl parses with 10k-way
    parallelism and the driver only plans the scan."""
    import pandas as pd  # noqa: F401 (executor import parity)

    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )

    def kernel(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows.extend(parse_warc_bytes(bytes(content), path_))
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_RECORD_SCHEMA.fields]
            )

    return files.mapInPandas(kernel, WARC_RECORD_SCHEMA)


# --- HTML -> text -----------------------------------------------------------

#: entity subset handled by the Column-side extractor (kept small and
#: documented so the SQL oracle replays it verbatim; full numeric-entity
#: handling needs html.unescape, i.e. a Python kernel — the wrong tradeoff
#: for a scrub that runs inside the 100 TB scan stage)
HTML_ENTITIES = (
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
)


#: query parameters dropped during URL canonicalization — pure tracking
#: noise that splits one logical page into millions of "distinct" URLs
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid)(=|$)"


def canonicalize_url(col):
    """Canonical URL Column: lowercase scheme+host, strip default ports
    (http:80 / https:443) and fragments, drop tracking parameters
    (``utm_*``, ``fbclid``, ...), sort the surviving query parameters,
    normalize the empty path to ``/``. URL-level dedup without this
    undercounts duplicates badly — crawls reach the same page through
    endless tracking-param variants. Pure Column algebra (regexp +
    array ops), JVM-side in the scan stage, zero shuffle; exact dedup /
    host rollups group on the result."""
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    nofrag = F.regexp_replace(rest, r"#.*$", "")
    host = F.lower(F.regexp_extract(nofrag, r"^([^/?]*)", 1))
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(host, r":443$", "")
    ).otherwise(host)
    pathq = F.regexp_replace(nofrag, r"^[^/?]*", "")
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qstr = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, path, qstr)


def host_of_url(col):
    """Host (authority minus userinfo/port) of a URL Column, lowercased.
    Pure Column algebra — zero shuffle."""
    rest = F.regexp_replace(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^[^@]*@", "")
    return F.regexp_replace(host, r":\d+$", "")


def registrable_domain(col):
    """Registrable domain ("eTLD+1") of a host Column: the unit crawl
    pipelines group on for per-site statistics, politeness budgets, and
    domain-level quality priors (a crawl's quality signal is strongly
    domain-correlated, so the rollup feeds sampling weights).

    Uses the two-label heuristic plus the common second-level public
    suffixes (``qconst.PSL_2LD`` — co.uk-style), under which the
    registrable domain is three labels. A full public-suffix list is a
    ~9k-row broadcast join in production; the compact suffix set keeps
    this a pure Column expression — JVM-side in the scan stage, zero
    shuffle, zero Python.
    """
    from trollflow2_spark import qconst as C

    host = F.regexp_replace(F.lower(col), r":\d+$", "")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    use3 = last2.isin(*C.PSL_2LD) & (n >= 3)
    return (
        F.when(n <= 1, host)
        .when(
            use3,
            F.concat_ws(".", F.element_at(labels, -3), last2),
        )
        .otherwise(last2)
    )


def meta_robots_flags(html_col):
    """(noindex, nofollow, n_links, n_follow_links) struct from raw
    HTML — the politeness gate robots.txt cannot express: per-PAGE
    ``<meta name="robots">`` directives and per-LINK ``rel=nofollow``
    annotations. A compliant crawl drops noindex pages from the corpus
    and keeps nofollow links out of the frontier, BEFORE any dedup or
    quality work spends cycles on them. Pure Column regexp algebra in
    the scan stage — zero Python, zero shuffle.

    Directive parsing is attribute-order-tolerant (name before or
    after content) and case-insensitive; ``none`` implies both
    noindex and nofollow per the robots-meta spec."""
    c = html_col if not isinstance(html_col, str) else F.col(html_col)
    c = F.coalesce(c, F.lit(""))  # NULL pages: clean zero flags/counts
    meta = F.coalesce(
        F.regexp_extract(
            c,
            r'(?is)<meta\s+[^>]*name\s*=\s*["\']robots["\'][^>]*'
            r'content\s*=\s*["\']([^"\']*)["\']',
            1,
        ),
        F.lit(""),
    )
    meta2 = F.coalesce(
        F.regexp_extract(
            c,
            r'(?is)<meta\s+[^>]*content\s*=\s*["\']([^"\']*)["\']'
            r'[^>]*name\s*=\s*["\']robots["\']',
            1,
        ),
        F.lit(""),
    )
    directives = F.lower(F.concat_ws(",", meta, meta2))
    noindex = (
        directives.rlike(r"(^|[,\s])noindex([,\s]|$)")
        | directives.rlike(r"(^|[,\s])none([,\s]|$)")
    ).cast("int")
    nofollow_page = (
        directives.rlike(r"(^|[,\s])nofollow([,\s]|$)")
        | directives.rlike(r"(^|[,\s])none([,\s]|$)")
    ).cast("int")
    n_links = F.regexp_count(c, F.lit(r"(?i)<a\s")).cast("int")
    n_nofollow_links = F.regexp_count(
        c, F.lit(r'(?i)<a\s[^>]*rel\s*=\s*["\'][^"\']*nofollow')
    ).cast("int")
    n_follow = F.when(
        nofollow_page == 1, F.lit(0)
    ).otherwise(n_links - n_nofollow_links)
    return F.struct(
        noindex.alias("noindex"),
        nofollow_page.alias("nofollow"),
        n_links.alias("n_links"),
        n_follow.cast("int").alias("n_follow_links"),
    )


def url_spam_features(url_col):
    """Frontier-side URL spam features — the signals that let a crawl
    deprioritize link farms BEFORE fetching them (the cheapest
    quality gate there is: no bytes downloaded): path depth, digit
    share of the host, query-parameter count, hyphen count in the
    host (spun domains), raw length, and a simple integer verdict
    (any two signals firing). Pure Column regexp algebra.

    Returns a struct (url_len, path_depth, n_params, host_digit_pct,
    host_hyphens, spammy)."""
    u = url_col if not isinstance(url_col, str) else F.col(url_col)
    u = F.coalesce(u, F.lit(""))
    host = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    host = F.lower(F.regexp_replace(host, r"^[^@]*@", ""))  # userinfo
    host = F.regexp_replace(host, r":\d+$", "")  # port
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    url_len = F.length(u)
    path_depth = F.size(
        F.filter(F.split(path, "/"), lambda s: s != "")
    )
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.size(F.split(query, "&"))
    )
    host_len = F.length(host)
    host_digits = host_len - F.length(
        F.regexp_replace(host, r"[0-9]", "")
    )
    host_digit_pct = F.when(
        host_len > 0, host_digits * 100 / host_len
    ).otherwise(F.lit(0))
    host_hyphens = host_len - F.length(
        F.regexp_replace(host, r"-", "")
    )
    signals = (
        (url_len > 120).cast("int")
        + (path_depth > 6).cast("int")
        + (n_params > 5).cast("int")
        + (host_digit_pct >= 30).cast("int")
        + (host_hyphens >= 3).cast("int")
    )
    return F.struct(
        url_len.cast("int").alias("url_len"),
        path_depth.cast("int").alias("path_depth"),
        n_params.cast("int").alias("n_params"),
        host_digit_pct.cast("int").alias("host_digit_pct"),
        host_hyphens.cast("int").alias("host_hyphens"),
        (signals >= 2).cast("int").alias("spammy"),
    )


#: typed schema for the schema.org Article-class JSON-LD block — the
#: structured metadata publishers actually embed; from_json keeps the
#: parse JVM-side (Jackson) and prunes to the fields a corpus uses
JSONLD_ARTICLE_SCHEMA = T.StructType(
    [
        T.StructField("@type", T.StringType()),
        T.StructField("headline", T.StringType()),
        T.StructField("datePublished", T.StringType()),
        T.StructField(
            "author",
            T.StructType(
                [
                    T.StructField("@type", T.StringType()),
                    T.StructField("name", T.StringType()),
                ]
            ),
        ),
        T.StructField("inLanguage", T.StringType()),
    ]
)


def jsonld_metadata(html_col):
    """schema.org JSON-LD metadata from a page: the FIRST
    ``<script type="application/ld+json">`` block (either attribute
    order) parses through a typed ``from_json`` — headline, publish
    date, author name, language, the provenance fields a training
    corpus keeps when page text alone loses them. Returns a struct
    Column (has_jsonld, ld_type, headline, date_published,
    author_name, language); pages without a block or with malformed
    JSON yield NULL fields with has_jsonld pinned (0 = no block,
    1 = block present — a present-but-broken block shows has_jsonld=1
    and NULL fields, the quarantine signal). Pure Column: one regexp
    extraction + one JVM JSON parse, zero Python, zero shuffle."""
    block = F.regexp_extract(
        html_col,
        r'(?is)<script[^>]*type\s*=\s*["\']application/ld\+json["\']'
        r"[^>]*>(.*?)</script>",
        1,
    )
    parsed = F.from_json(F.trim(block), JSONLD_ARTICLE_SCHEMA)
    return F.struct(
        (block != "").cast("int").alias("has_jsonld"),
        parsed["@type"].alias("ld_type"),
        parsed["headline"].alias("headline"),
        parsed["datePublished"].alias("date_published"),
        parsed["author"]["name"].alias("author_name"),
        parsed["inLanguage"].alias("language"),
    )


def html_table_rows(df: DataFrame, html_col: str = "html",
                    id_col: str = "doc_id") -> DataFrame:
    """Rows of the FIRST ``<table>`` of each page as
    (id, row_ord, cells array, n_cells, is_header) — the
    table-to-text intake step (tables carry the densest facts on a
    page and plain text extraction shreds them). Column algebra only:
    slice out the first table, split on ``</tr>``, split cells on
    ``</td>``/``</th>``, strip tags + entities per cell; a row whose
    FIRST cell came from ``<th>`` flags is_header. Pages without a
    table yield zero rows (posexplode of an empty array)."""
    tbl = F.regexp_extract(
        F.col(html_col), r"(?is)<table[^>]*>(.*?)</table>", 1
    )
    rows = F.filter(
        F.transform(
            F.split(tbl, r"(?i)</tr\s*>"),
            lambda r: F.regexp_replace(r, r"(?is)^.*?<tr[^>]*>", ""),
        ),
        lambda r: r.rlike(r"(?is)<t[dh][^>]*>"),
    )

    def clean(cell):
        out = F.regexp_replace(cell, r"(?s)<[^>]+>", " ")
        for ent, rep in HTML_ENTITIES:
            out = F.replace(out, F.lit(ent), F.lit(rep))
        return F.trim(F.regexp_replace(out, r"\s+", " "))

    exploded = df.select(
        F.col(id_col), F.posexplode(rows).alias("row_ord", "__row")
    )
    cells = F.transform(
        F.filter(
            F.split(F.col("__row"), r"(?i)</t[dh]\s*>"),
            lambda c: c.rlike(r"(?is)<t[dh][^>]*>"),
        ),
        lambda c: clean(
            F.regexp_replace(c, r"(?is)^.*?<t[dh][^>]*>", "")
        ),
    )
    return exploded.select(
        id_col,
        F.col("row_ord").cast("int").alias("row_ord"),
        cells.alias("cells"),
        F.size(cells).cast("int").alias("n_cells"),
        F.col("__row")
        .rlike(r"(?is)^\s*<th[^>]*>")
        .cast("int")
        .alias("is_header"),
    )


def main_content_blocks(
    html_col,
    min_text_len: int = 15,
    max_link_pct: int = 40,
):
    """Boilerplate-removing MAIN-CONTENT extraction (the
    trafilatura/readability move, as pure Column algebra): the page
    splits into blocks at closing container tags, each block scores
    text length vs link-text length, and only blocks that are long
    enough AND not link-dominated survive — navs, footers and link
    farms drop, article paragraphs stay. This is the intake step
    between raw HTML and every text-quality gate: feeding nav
    boilerplate to dedup/quality wastes work AND poisons near-dup
    clustering (every page shares its chrome).

    Returns a struct (main_text, n_blocks, n_kept,
    boilerplate_ratio_permille). Integer cross-multiplied density
    (``link_len * 100 <= max_link_pct * text_len``) — no float ratio
    forms. Zero Python, zero shuffle, scan-stage only."""
    c = html_col if not isinstance(html_col, str) else F.col(html_col)
    c = F.coalesce(c, F.lit(""))
    blocks = F.split(c, r"(?i)</(?:p|div|li|nav|footer|header|section)>")

    def _text(b):
        return F.trim(
            F.regexp_replace(
                F.regexp_replace(b, r"(?is)<[^>]*>", " "), r"\s+", " "
            )
        )

    def _link_len(b):
        return F.length(
            F.array_join(
                F.regexp_extract_all(
                    b, F.lit(r"(?is)<a\b[^>]*>(.*?)</a>"), F.lit(1)
                ),
                " ",
            )
        )

    scored = F.transform(
        blocks,
        lambda b: F.struct(
            _text(b).alias("t"),
            F.length(_text(b)).alias("tl"),
            _link_len(b).alias("ll"),
        ),
    )
    nonempty = F.filter(scored, lambda s: s["tl"] > 0)
    kept = F.filter(
        nonempty,
        lambda s: (s["tl"] >= min_text_len)
        & (s["ll"] * 100 <= max_link_pct * s["tl"]),
    )
    n_blocks = F.size(nonempty)
    n_kept = F.size(kept)
    return F.struct(
        F.array_join(
            F.transform(kept, lambda s: s["t"]), " "
        ).alias("main_text"),
        n_blocks.cast("int").alias("n_blocks"),
        n_kept.cast("int").alias("n_kept"),
        F.when(
            n_blocks > 0, (n_blocks - n_kept) * 1000 / n_blocks
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("boilerplate_ratio_permille"),
    )


def html_to_markdown(col):
    """Structure-PRESERVING HTML extraction: headings become ``#``
    prefixes, links ``[text](url)``, list items ``- `` bullets,
    bold/italic their markdown markers, block tags paragraph breaks —
    the modern crawl default (markdown keeps the document structure
    LLM training wants, where flat text loses headings and link
    targets). Same engineering shape as :func:`html_to_text`: a pure
    ``regexp_replace`` chain, JVM codegen inside the scan stage, zero
    Python, zero shuffle.

    Whitespace canonicalization makes the output closed-form: runs of
    spaces collapse, spaces around newlines drop, 3+ newlines become a
    paragraph break, ends trim.
    """
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    for lvl in range(1, 7):
        out = F.regexp_replace(
            out, f"(?i)<h{lvl}[^>]*>", "\n\n" + "#" * lvl + " "
        )
        out = F.regexp_replace(out, f"(?i)</h{lvl}>", "\n\n")
    out = F.regexp_replace(
        out, r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>', "[$2]($1)"
    )
    out = F.regexp_replace(out, r"(?i)</?(b|strong)>", "**")
    out = F.regexp_replace(out, r"(?i)</?(i|em)>", "*")
    out = F.regexp_replace(out, r"(?i)<li[^>]*>", "\n- ")
    out = F.regexp_replace(out, r"(?i)</li>", "")
    out = F.regexp_replace(
        out, r"(?i)</?(p|div|ul|ol|br|table|tr|td|th)[^>]*>", "\n\n"
    )
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"[ \t]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{3,}", "\n\n")
    # trim() strips spaces only; markdown needs newline-trimmed ends
    return F.regexp_replace(out, r"^\s+|\s+$", "")


# --- charset-aware text intake ----------------------------------------------
#
# `payload.cast("string")` is UTF-8-only: a windows-1252 / Shift_JIS /
# ISO-8859-x page (a large multilingual slice of any real crawl) turns
# into replacement-char mojibake at intake, which the encoding-quality
# gate then DROPS — silently discarding exactly the non-English data an
# LLM corpus wants. The decode below resolves the page charset the way
# a browser does — Content-Type header param, then a <meta charset> /
# http-equiv sniff in the first 1024 bytes, then a BOM, then the UTF-8
# fallback — and transcodes to UTF-8 inside the scan stage (one Arrow
# pandas_udf; stdlib codecs only). Unknown or lying charsets never
# fail the task: the text decodes with U+FFFD replacement, decode_ok
# flags it, and the raw payload bytes survive untouched alongside.

#: WHATWG-Encoding-style label folding for the aliases a crawl actually
#: sees. Browsers treat iso-8859-1 / latin1 / us-ascii declarations as
#: windows-1252 (its strict superset on printable bytes) — so do we;
#: labels not in this table fall through to stdlib `codecs.lookup`
#: (iso-8859-2, koi8-r, euc-jp, gb2312, big5, ... all resolve there).
_CHARSET_LABELS = {
    "iso-8859-1": "cp1252", "iso8859-1": "cp1252", "iso_8859-1": "cp1252",
    "latin-1": "cp1252", "latin1": "cp1252", "l1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252", "ansi_x3.4-1968": "cp1252",
    "windows-1252": "cp1252", "cp1252": "cp1252", "x-cp1252": "cp1252",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis", "ms_kanji": "shift_jis",
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
}

_META_CHARSET_RE = None  # compiled lazily (keeps import time flat)


def _norm_charset_label(label: str) -> str | None:
    """Fold a declared charset label to a Python codec name, or None
    when the label is unknown to both the WHATWG table and stdlib."""
    import codecs

    low = label.strip().strip("\"'").lower()
    if not low:
        return None
    if low in _CHARSET_LABELS:
        return _CHARSET_LABELS[low]
    try:
        return codecs.lookup(low).name
    except LookupError:
        return None


def resolve_charset(
    ctype: str | None, body: bytes
) -> tuple[str, str]:
    """Resolve the charset of one page: ``(codec, source)`` with
    source in {header, meta, bom, default}. Resolution order is the
    crawl-practical one: the HTTP Content-Type param (already parsed
    into the records' content_type column) wins, then a <meta
    charset=...> / http-equiv content=...charset=... sniff over the
    first 1024 bytes, then a UTF-8/UTF-16/UTF-32 BOM, then UTF-8."""
    import re as _re

    global _META_CHARSET_RE
    if ctype:
        m = _re.search(
            r"charset\s*=\s*\"?\s*([A-Za-z0-9._\-]+)", ctype, _re.I
        )
        if m:
            c = _norm_charset_label(m.group(1))
            if c:
                return c, "header"
    if _META_CHARSET_RE is None:
        _META_CHARSET_RE = _re.compile(
            rb"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9._\-]+)",
            _re.I,
        )
    m = _META_CHARSET_RE.search(body[:1024])
    if m:
        c = _norm_charset_label(m.group(1).decode("latin-1"))
        if c:
            return c, "meta"
    if body[:4] in (b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff"):
        return "utf-32", "bom"
    if body[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig", "bom"
    if body[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16", "bom"
    return "utf-8", "default"


def decode_payload_text(
    body: bytes, ctype: str | None
) -> tuple[str, str, str, int]:
    """Decode one payload to UTF-8 text: ``(text, charset, source,
    decode_ok)``. Strict decode under the resolved charset sets
    decode_ok=1; bytes that betray the declaration re-decode with
    U+FFFD replacement and decode_ok=0 — the task NEVER fails and the
    caller keeps the raw payload column either way. The reported
    charset is the normalized codec name (utf-8-sig/utf-16 BOM
    variants report their family name; the BOM itself is stripped)."""
    codec, source = resolve_charset(ctype, body)
    # the chardet-class correction the wild crawl needs: single-byte
    # charsets (cp1252, iso-8859-x, koi8, ...) decode ANY byte string
    # "successfully", so a UTF-8 page mislabeled latin-1 would
    # mojibake with ok=1 and no signal. If the declared codec is
    # single-byte but the payload strict-decodes as UTF-8 AND
    # actually uses multi-byte sequences, the declaration is lying \u2014
    # prefer UTF-8 and say so in charset_source ("detected").
    if (
        source in ("header", "meta")
        and codec not in ("utf-8", "utf-8-sig", "utf-16", "utf-32")
    ):
        has_high = any(b >= 0x80 for b in body)
        if has_high:
            try:
                return body.decode("utf-8"), "utf-8", "detected", 1
            except UnicodeDecodeError:
                pass
    try:
        text, ok = body.decode(codec), 1
    except UnicodeDecodeError:
        text, ok = body.decode(codec, "replace"), 0
    if codec == "utf-8-sig":
        codec = "utf-8"
    elif codec in ("utf-16", "utf-32"):
        text = text.lstrip("\ufeff")
    return text, codec, source, ok


def decoded_text(
    records: DataFrame,
    payload_col: str = "payload",
    ctype_col: str = "content_type",
) -> DataFrame:
    """Charset-aware payload -> UTF-8 ``text`` for parsed crawl
    records: adds (text, charset, charset_source, decode_ok) via one
    Arrow-batched pandas_udf fused into the scan stage — no shuffle,
    no per-row Python, and every original column (including the raw
    payload bytes) survives. This is the intake step that keeps
    windows-1252 / Shift_JIS / ISO-8859-x pages out of the mojibake
    quarantine (see module note above)."""
    out_schema = T.StructType(
        list(records.schema.fields)
        + [
            T.StructField("text", T.StringType()),
            T.StructField("charset", T.StringType()),
            T.StructField("charset_source", T.StringType()),
            T.StructField("decode_ok", T.IntegerType()),
        ]
    )

    def kernel(batches: Iterator) -> Iterator:
        for pdf in batches:
            decoded = [
                decode_payload_text(
                    bytes(b) if b is not None else b"",
                    None if c is None else str(c),
                )
                for b, c in zip(pdf[payload_col], pdf[ctype_col])
            ]
            pdf = pdf.copy()
            pdf["text"] = [d[0] for d in decoded]
            pdf["charset"] = [d[1] for d in decoded]
            pdf["charset_source"] = [d[2] for d in decoded]
            pdf["decode_ok"] = [d[3] for d in decoded]
            yield pdf

    return records.mapInPandas(kernel, out_schema)


# --- RFC 9309 robots matching ------------------------------------------------
#
# Disallow-prefix-only robots handling over-blocks a common pattern:
# a site with `Disallow: /` + `Allow: /public/` is fully blocked even
# though it invites crawlers into /public/. The matcher below carries
# the full RFC 9309 group-member semantics — Allow AND Disallow rules,
# `*` wildcards, `$` end anchors, longest-match precedence with ties
# going to Allow — while staying pure Column algebra: rules are
# domain-cardinality (broadcastable), each URL folds once over its
# domain's parsed rule array, and the glob match itself is a
# higher-order segment fold (no regex compilation, no Python).
# Precedence length is the pattern as written in octets (including
# `*` and `$`) — the convention of Google's open-source matcher.


def parse_robots_rules(robots_col):
    """Parse a robots.txt body Column into its group-member rules:
    ``array<struct<allow:int, pat:string>>`` from the ``Allow:`` /
    ``Disallow:`` lines (case-insensitive keys, surrounding whitespace
    trimmed). Empty-pattern rules (``Disallow:`` with no value — the
    RFC's allow-everything no-op) are dropped at parse time."""
    lines = F.split(robots_col, "\n")
    rule_lines = F.filter(
        lines,
        lambda ln: ln.rlike(r"^(?i)\s*(dis)?allow\s*:\s*\S"),
    )
    return F.transform(
        rule_lines,
        lambda ln: F.struct(
            F.when(
                F.lower(ln).rlike(r"^\s*allow"), F.lit(1)
            ).otherwise(F.lit(0)).alias("allow"),
            F.trim(
                F.regexp_replace(ln, r"^(?i)\s*(dis)?allow\s*:\s*", "")
            ).alias("pat"),
        ),
    )


def fetch_schedule(
    frontier: DataFrame,
    domain_col: str = "domain",
    url_col: str = "url",
    priority_col: str = "priority",
    delay_col: str = "crawl_delay_s",
    n_workers: int = 64,
    hash_fn=None,
) -> DataFrame:
    """Turn a scored frontier into an executable polite fetch plan:
    per domain, URLs take slots in (priority desc, url asc) order and
    slot *k* fetches at ``k * crawl_delay`` seconds; each domain pins
    to ONE worker (``xxhash64(domain) % n_workers``) so the delay
    contract holds no matter how many fetchers run — politeness is
    per-domain serialization, and domain-affinity is the only
    assignment that preserves it under horizontal scale.

    Shape: one window per domain ordered by the total (priority, url)
    key — partitions are bounded by per-domain frontier size (the
    recrawl-priority tier caps that upstream); the worker hash and
    offset arithmetic are map-side. ``hash_fn`` follows the repo's
    injectable-hash convention: the portable md5-derived ``hash64``
    by default (oracle-reproducible), ``fast_hash64`` for pure
    production paths. Output adds (slot, offset_s, worker)."""
    from pyspark.sql import Window

    from trollflow2_spark.extensions.hashing import hash64

    hash_fn = hash_fn or hash64
    w = Window.partitionBy(domain_col).orderBy(
        F.desc(priority_col), F.col(url_col)
    )
    slot = F.row_number().over(w) - 1
    return (
        frontier.withColumn("slot", slot)
        .withColumn(
            "offset_s", (F.col("slot") * F.col(delay_col)).cast("long")
        )
        .withColumn(
            "worker",
            F.pmod(hash_fn(F.col(domain_col)), F.lit(n_workers)).cast(
                "int"
            ),
        )
    )


def robots_sitemaps(robots_col):
    """``Sitemap:`` directives from a robots.txt body Column ->
    ``array<string>`` of sitemap URLs in file order. Per the sitemaps
    protocol these live OUTSIDE the user-agent groups (any line,
    case-insensitive key) and their URLs are kept verbatim (URL paths
    are case-sensitive). The crawl-discovery bridge: these URLs feed
    :func:`feed_urls`, which parses the sitemap/sitemapindex XML they
    point at. Pure Column — one regexp per line."""
    lines = F.split(robots_col, "\n")
    urls = F.transform(
        lines,
        lambda ln: F.regexp_extract(ln, r"(?i)^\s*sitemap\s*:\s*(\S+)", 1),
    )
    return F.filter(urls, lambda u: u != "")


def robots_pattern_match(path, pat):
    """One RFC 9309 pattern against one path, pure Column: patterns
    match from the path start, ``*`` matches any run, a trailing ``$``
    anchors the end. Implemented as a greedy leftmost fold over the
    ``*``-split segments (position state through ``aggregate``; 0 is
    the fail sentinel) — greedy leftmost yields the MINIMAL feasible
    end position, so the ``$`` case just checks that the final segment
    has an occurrence at the very end no earlier than that minimum.
    No regex is ever compiled from data."""
    anchored = pat.endswith("$")
    q = F.when(
        anchored, pat.substr(F.lit(1), F.length(pat) - 1)
    ).otherwise(pat)
    segs = F.split(q, r"\*", -1)
    n = F.size(segs)
    s0 = F.element_at(segs, 1)
    start_ok = path.startswith(s0)
    init = (F.length(s0) + F.lit(1)).cast("int")
    # middle segments: everything after the first, minus the last one
    # when anchored (the last is end-checked separately)
    mid = F.when(
        anchored,
        F.slice(segs, F.lit(2), F.greatest(n - 2, F.lit(0))),
    ).otherwise(F.slice(segs, F.lit(2), F.greatest(n - 1, F.lit(0))))

    def step(acc, seg):
        loc = F.call_function("locate", seg, path, acc)
        return (
            F.when(acc == 0, F.lit(0))
            .when(F.length(seg) == 0, acc)
            .when(loc == 0, F.lit(0))
            .otherwise((loc + F.length(seg)).cast("int"))
        )

    e = F.aggregate(mid, init, step)
    last = F.element_at(segs, -1)
    anch_ok = F.when(
        n == 1, F.length(path) == F.length(s0)
    ).otherwise(
        path.endswith(last)
        & (F.length(path) - F.length(last) + 1 >= e)
    )
    return start_ok & F.when(anchored, (e > 0) & anch_ok).otherwise(
        e > 0
    )


def robots_allowed(path, rules):
    """Fold a URL path over its domain's parsed rule array and return
    the RFC 9309 verdict as an int Column: the matching rule with the
    LONGEST pattern wins, a length tie goes to Allow, and a path no
    rule matches is allowed. One ``aggregate`` carrying
    (best_len, best_allow) — zero shuffle, zero Python."""
    best = F.aggregate(
        rules,
        F.struct(
            F.lit(-1).cast("int").alias("ln"),
            F.lit(1).alias("al"),
        ),
        lambda acc, r: F.when(
            robots_pattern_match(path, r["pat"])
            & (
                (F.length(r["pat"]) > acc["ln"])
                | (
                    (F.length(r["pat"]) == acc["ln"])
                    & (r["allow"] == 1)
                )
            ),
            F.struct(
                F.length(r["pat"]).cast("int").alias("ln"),
                r["allow"].alias("al"),
            ),
        ).otherwise(acc),
    )
    return best["al"]


def html_to_text(col):
    """Crude-but-standard HTML -> text Column: drop script/style blocks
    and comments, strip tags, decode the common entities, collapse
    whitespace. Pure ``regexp_replace`` chain — JVM-side codegen inside
    the scan stage, zero Python, zero shuffle (the baseline extraction
    every crawl pipeline starts from before reaching for trafilatura-
    class extractors)."""
    out = F.regexp_replace(col, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def feed_urls(col: Column) -> Column:
    """URL entries of a sitemap / sitemap index / RSS / Atom document
    as an array of (kind, url, stamp) structs — the crawl-frontier
    builder: sitemaps and feeds are how a crawl discovers URLs worth
    fetching, and at 100 TB the frontier extraction must be a pure
    Column pass over the fetched XML, not a parser service.

    Regexp-level XML handling on purpose (same discipline as the
    HTML->markdown extractor): real-world sitemaps are
    machine-generated and regular; a document that defeats the block
    regexes yields an empty array, never a task failure. Kinds:
    ``sitemap`` (<urlset>/<url>), ``sitemapindex`` (<sitemap> blocks —
    their locs are MORE sitemaps to fetch, not pages), ``rss``
    (<item>), ``atom`` (<entry>, href attribute). ``stamp`` carries
    lastmod / pubDate / updated verbatim (feed date formats vary too
    much to normalize at intake)."""

    def blocks(tag: str, kind: str, url_re: str, stamp_re: str):
        bl = F.regexp_extract_all(
            col, F.lit(rf"(?s)<{tag}[\s>].*?</{tag}>|<{tag}>.*?</{tag}>"),
            F.lit(0),
        )
        return F.transform(
            bl,
            lambda b: F.struct(
                F.lit(kind).alias("kind"),
                F.regexp_extract(b, url_re, 1).alias("url"),
                F.regexp_extract(b, stamp_re, 1).alias("stamp"),
            ),
        )

    is_index = col.rlike(r"<sitemapindex[\s>]")
    is_urlset = col.rlike(r"<urlset[\s>]")
    is_rss = col.rlike(r"<rss[\s>]")
    is_atom = col.rlike(r"<feed[\s>]")
    loc = r"<loc>\s*([^<]*?)\s*</loc>"
    return (
        F.when(
            is_index,
            blocks("sitemap", "sitemapindex", loc,
                   r"<lastmod>\s*([^<]*?)\s*</lastmod>"),
        )
        .when(
            is_urlset,
            blocks("url", "sitemap", loc,
                   r"<lastmod>\s*([^<]*?)\s*</lastmod>"),
        )
        .when(
            is_rss,
            blocks("item", "rss", r"<link>\s*([^<]*?)\s*</link>",
                   r"<pubDate>\s*([^<]*?)\s*</pubDate>"),
        )
        .when(
            is_atom,
            blocks("entry", "atom", r'<link[^>]*href="([^"]*)"',
                   r"<updated>\s*([^<]*?)\s*</updated>"),
        )
        .otherwise(F.array().cast(
            "array<struct<kind:string,url:string,stamp:string>>"
        ))
    )


# ---------------------------------------------------------------------------
# Common Crawl sidecar formats: WET (extracted-text) and WAT (metadata
# JSON) are WARC containers with different record semantics —
# `conversion` records whose payload IS the document text, and
# `metadata` records whose payload is a JSON envelope describing the
# original response. Both layers are pure Column projections over the
# generic parsed-record DataFrame (parse_warc_bytes handles the
# container), so the intake shape is identical to .warc: one file per
# task, no shuffle, the text/JSON work fused into the scan stage.


def wet_text(records: DataFrame) -> DataFrame:
    """WET semantics: keep ``conversion`` records (warcinfo and any
    other sidecar records drop out), decode the payload as the
    document text, derive length + non-empty line count Column-side.
    All original record columns survive so callers can keep their own
    ids/paths."""
    txt = F.col("payload").cast("string")
    return (
        records.filter(F.col("warc_type") == "conversion")
        .withColumn("text", txt)
        .withColumn("text_len", F.length("text"))
        .withColumn(
            "n_lines",
            F.size(F.filter(F.split(F.col("text"), "\n"),
                            lambda x: x != "")),
        )
    )


# The WAT JSON envelope, typed: from_json with an explicit schema keeps
# the parse JVM-side (Jackson) and prunes everything but the title and
# the outlink array — no Python, no schema inference pass.
WAT_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField(
            "Envelope",
            T.StructType(
                [
                    T.StructField(
                        "Payload-Metadata",
                        T.StructType(
                            [
                                T.StructField(
                                    "HTTP-Response-Metadata",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "HTML-Metadata",
                                                T.StructType(
                                                    [
                                                        T.StructField(
                                                            "Head",
                                                            T.StructType([
                                                                T.StructField(
                                                                    "Title",
                                                                    T.StringType(),
                                                                )
                                                            ]),
                                                        ),
                                                        T.StructField(
                                                            "Links",
                                                            T.ArrayType(
                                                                T.StructType([
                                                                    T.StructField("path", T.StringType()),
                                                                    T.StructField("url", T.StringType()),
                                                                ])
                                                            ),
                                                        ),
                                                    ]
                                                ),
                                            )
                                        ]
                                    ),
                                )
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)


def wat_outlinks(records: DataFrame) -> DataFrame:
    """WAT semantics: parse ``metadata`` records' JSON envelope with
    the typed schema, surface the page title, and posexplode the
    outlink array; root-relative hrefs resolve against the record's
    target-URI origin (scheme://host). Output per link:
    (..original columns.., url, title, link_ord, link_url)."""
    html_meta = (
        "__env.Envelope.`Payload-Metadata`"
        ".`HTTP-Response-Metadata`.`HTML-Metadata`"
    )
    base = F.regexp_extract(
        F.col("warc_target_uri"), r"^(https?://[^/]+)", 1
    )
    parsed = (
        records.filter(F.col("warc_type") == "metadata")
        .withColumn(
            "__env",
            F.from_json(F.col("payload").cast("string"),
                        WAT_ENVELOPE_SCHEMA),
        )
        .withColumn("title", F.expr(f"{html_meta}.Head.Title"))
        .withColumn("__links", F.expr(f"{html_meta}.Links"))
    )
    exploded = parsed.select(
        "*", F.posexplode_outer("__links").alias("link_ord", "__l")
    )
    raw = F.col("__l.url")
    resolved = F.when(raw.startswith("/"), F.concat(base, raw)).otherwise(
        raw
    )
    return (
        exploded.withColumn("url", F.col("warc_target_uri"))
        .withColumn("link_url", resolved)
        .drop("__env", "__links", "__l")
    )
