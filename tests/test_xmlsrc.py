"""From-scratch XML parser: well-formedness, entities/CDATA, the
relational flatten, quarantine behavior, and the no-entity-expansion
hardening."""

import pytest
from pyspark.sql import Row, functions as F

from trollflow2_spark.extensions.xmlsrc import (
    XmlError,
    flatten_xml,
    parse_xml,
    read_xml,
)


def test_parse_basic_tree_and_attrs():
    t = parse_xml(
        '<?xml version="1.0"?><root a="1" b=\'two\'>'
        "<child>hi</child><child2/></root>"
    )
    assert t["tag"] == "root"
    assert t["attrs"] == {"a": "1", "b": "two"}
    assert [c["tag"] for c in t["children"]] == ["child", "child2"]
    assert t["children"][0]["text"] == "hi"
    assert t["children"][1]["text"] == ""


def test_entities_and_charrefs():
    t = parse_xml("<a>&lt;x&gt; &amp; &quot;y&quot; &apos;z&apos; &#65;&#x42;</a>")
    assert t["text"] == "<x> & \"y\" 'z' AB"
    t2 = parse_xml('<a k="1 &amp; 2"/>')
    assert t2["attrs"]["k"] == "1 & 2"


def test_cdata_verbatim():
    t = parse_xml("<a><![CDATA[raw <b> & stuff]]></a>")
    assert t["text"] == "raw <b> & stuff"


def test_comments_pi_doctype_skipped():
    t = parse_xml(
        "<!-- c --><!DOCTYPE r [ <!ENTITY x 'y'> ]><?pi data?>"
        "<r><!-- inner --><c/></r><!-- after -->"
    )
    assert t["tag"] == "r" and len(t["children"]) == 1


def test_internal_entity_never_expands():
    # declared in the internal subset, but expansion is refused BY
    # CONSTRUCTION (the billion-laughs / XXE hardening)
    with pytest.raises(XmlError, match="undeclared entity"):
        parse_xml("<!DOCTYPE r [ <!ENTITY bomb 'xx'> ]><r>&bomb;</r>")


@pytest.mark.parametrize(
    "bad",
    [
        "<a><b></a></b>",  # mismatched nesting
        "<a>",  # EOF inside element
        "<a></a><b/>",  # two roots
        "<a attr=unquoted/>",
        '<a k="1" k="2"/>',  # duplicate attribute
        "<a>&nope;</a>",
        "<a>&#xZZ;</a>",
        "<a><![CDATA[x]]</a>",
        'text first <a/>',
        '<a k="<"/>',  # raw < in attribute value
    ],
)
def test_malformed_raises(bad):
    with pytest.raises(XmlError):
        parse_xml(bad)


def test_flatten_preorder_ids():
    t = parse_xml("<r><a><b/></a><c/></r>")
    flat = flatten_xml(t)
    assert [(e, p, tag) for e, p, tag, _, _ in flat] == [
        (0, -1, "r"),
        (1, 0, "a"),
        (2, 1, "b"),
        (3, 0, "c"),
    ]


def test_deep_nesting_no_recursion_limit():
    n = 5000
    doc = "".join(f"<e{i}>" for i in range(n)) + "x" + "".join(
        f"</e{i}>" for i in reversed(range(n))
    )
    flat = flatten_xml(parse_xml(doc))
    assert len(flat) == n
    assert flat[-1][4] == "x"


def test_read_xml_quarantine_row(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, xml="<r a='1'><c>t</c></r>"),
            Row(doc_id=2, xml="<r><broken"),
        ]
    )
    out = read_xml(df).collect()
    good = [r for r in out if r.doc_id == 1]
    bad = [r for r in out if r.doc_id == 2]
    assert len(good) == 2 and all(r.error is None for r in good)
    assert len(bad) == 1
    assert bad[0].error is not None and bad[0].elem_id is None
    root = next(r for r in good if r.elem_id == 0)
    assert root.attrs == {"a": "1"} and root.tag == "r"
