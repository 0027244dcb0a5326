"""WET/WAT sidecar projections: record-type filtering, JSON envelope
extraction, relative-href resolution, and the no-links/no-HTML
degradation paths (posexplode_outer keeps the page row)."""

import json

from pyspark.sql import Row

from trollflow2_spark.extensions.warc import (
    WARC_RECORD_SCHEMA,
    wet_text,
    wat_outlinks,
)


def _rec(**kw):
    base = dict(
        warc_file="f.warc.gz",
        record_offset=0,
        warc_type="conversion",
        warc_target_uri="http://ex.com/a",
        warc_date="2024-01-15T12:00:00Z",
        warc_record_id="<urn:uuid:1>",
        http_status=None,
        content_type="text/plain",
        payload=b"",
        payload_length=0,
    )
    base.update(kw)
    return Row(**base)


def test_wet_filters_and_counts_lines(spark):
    rows = [
        _rec(warc_type="warcinfo", payload=b"software: x\r\n"),
        _rec(payload=b"one\ntwo\n\nthree\n"),
        _rec(warc_target_uri="http://ex.com/b", payload=b""),
    ]
    df = spark.createDataFrame(rows, WARC_RECORD_SCHEMA)
    got = {
        r["warc_target_uri"]: (r["text"], r["text_len"], r["n_lines"])
        for r in wet_text(df).collect()
    }
    assert set(got) == {"http://ex.com/a", "http://ex.com/b"}
    assert got["http://ex.com/a"] == ("one\ntwo\n\nthree\n", 15, 3)
    assert got["http://ex.com/b"] == ("", 0, 0)


def _wat_payload(title, links):
    env = {
        "Envelope": {
            "Payload-Metadata": {
                "HTTP-Response-Metadata": {
                    "HTML-Metadata": (
                        {"Head": {"Title": title}, "Links": links}
                        if title is not None or links is not None
                        else {}
                    )
                }
            }
        }
    }
    return json.dumps(env).encode()


def test_wat_resolves_relative_and_keeps_linkless_pages(spark):
    rows = [
        _rec(
            warc_type="metadata",
            content_type="application/json",
            warc_target_uri="https://Ex.com/page?q=1",
            payload=_wat_payload(
                "T1",
                [
                    {"path": "A@/href", "url": "/x/y"},
                    {"path": "A@/href", "url": "http://o.com/z"},
                ],
            ),
        ),
        _rec(
            warc_type="metadata",
            content_type="application/json",
            warc_target_uri="http://n.com/",
            payload=_wat_payload("T2", []),
        ),
        # a WAT record for a non-HTML response: no HTML-Metadata at all
        _rec(
            warc_type="metadata",
            content_type="application/json",
            warc_target_uri="http://p.com/img.png",
            payload=json.dumps({"Envelope": {}}).encode(),
        ),
        # conversion record must be ignored by the WAT projection
        _rec(payload=b"plain text"),
    ]
    df = spark.createDataFrame(rows, WARC_RECORD_SCHEMA)
    got = wat_outlinks(df).collect()
    by_url = {}
    for r in got:
        by_url.setdefault(r["url"], []).append(r)
    assert set(by_url) == {
        "https://Ex.com/page?q=1", "http://n.com/", "http://p.com/img.png"
    }
    links = sorted(
        (r["link_ord"], r["link_url"])
        for r in by_url["https://Ex.com/page?q=1"]
    )
    # root-relative resolves against scheme://host (case preserved),
    # absolute passes through
    assert links == [(0, "https://Ex.com/x/y"), (1, "http://o.com/z")]
    assert by_url["https://Ex.com/page?q=1"][0]["title"] == "T1"
    # empty Links array and missing HTML-Metadata both keep one row
    # with a null link (outer explode)
    (n,) = by_url["http://n.com/"]
    assert n["title"] == "T2" and n["link_url"] is None
    (p,) = by_url["http://p.com/img.png"]
    assert p["title"] is None and p["link_url"] is None
