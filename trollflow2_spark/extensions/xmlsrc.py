"""XML intake: a from-scratch pull parser to a RELATIONAL element table.

Config dumps, product catalogs, MathML/JATS scientific corpora and
enterprise exports arrive as structured XML where attributes, nesting
and CDATA carry meaning — `extensions/warc.py:feed_urls` deliberately
stays regexp-level for the machine-regular sitemap/RSS dialects, and
this module is its structured complement (the same split msgpack /
protobuf / avro follow for binary wire formats). No XML library is
assumed; the parser implements the well-formed subset real data
exports use:

- prolog / processing instructions, comments, DOCTYPE (skipped —
  including an internal subset, which is never *expanded*: only the
  five predefined entities and numeric character references decode,
  so billion-laughs amplification and external-entity (XXE) fetches
  are impossible BY CONSTRUCTION, not by configuration);
- elements with single/double-quoted attributes, self-closing tags,
  full nesting validation (a mismatched close tag is an error);
- text content with entity decoding and CDATA sections.

STRICT errors (truncation, tag mismatch, bad entity, garbage after
the root) raise ``XmlError`` and land in the quarantine taxonomy as
``error`` rows — never silent garbage.

Spark shape: blobs parse in one Arrow ``mapInPandas`` pass (text
forces Python exactly once) and FLATTEN to the generic relational
encoding of a tree — one row per element with ``(elem_id, parent_id,
tag, attrs map, text)`` in document (preorder) order — so everything
downstream (counts, rollups, parent/child joins) is native DataFrame
algebra, never a tree walk.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, functions as F, types as T

__all__ = ["XmlError", "parse_xml", "flatten_xml", "read_xml"]

_PREDEFINED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


class XmlError(ValueError):
    """Malformed XML: truncation, tag mismatch, bad entity/charref,
    malformed attribute, or content after the document element."""


def _is_name_start(c: str) -> bool:
    return c.isalpha() or c in "_:"


def _is_name_char(c: str) -> bool:
    return c.isalnum() or c in "_:.-"


def _decode_text(s: str, what: str) -> str:
    """Entity-decode a text/attribute chunk. Only predefined entities
    and numeric character references exist here — an undeclared
    entity is an error (quarantine), never an expansion."""
    if "&" not in s:
        return s
    out = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c != "&":
            out.append(c)
            i += 1
            continue
        j = s.find(";", i + 1)
        if j < 0 or j - i > 12:
            raise XmlError(f"unterminated entity in {what} at {i}")
        ent = s[i + 1 : j]
        if ent.startswith("#x") or ent.startswith("#X"):
            try:
                out.append(chr(int(ent[2:], 16)))
            except ValueError:
                raise XmlError(f"bad charref &{ent}; in {what}")
        elif ent.startswith("#"):
            try:
                out.append(chr(int(ent[1:], 10)))
            except ValueError:
                raise XmlError(f"bad charref &{ent}; in {what}")
        elif ent in _PREDEFINED:
            out.append(_PREDEFINED[ent])
        else:
            raise XmlError(f"undeclared entity &{ent}; in {what}")
        i = j + 1
    return "".join(out)


class _P:
    __slots__ = ("s", "i", "n")

    def __init__(self, s: str):
        self.s = s
        self.i = 0
        self.n = len(s)

    def ws(self) -> None:
        while self.i < self.n and self.s[self.i] in " \t\r\n":
            self.i += 1

    def literal(self, lit: str) -> bool:
        if self.s.startswith(lit, self.i):
            self.i += len(lit)
            return True
        return False

    def until(self, lit: str, what: str) -> str:
        j = self.s.find(lit, self.i)
        if j < 0:
            raise XmlError(f"unterminated {what} at {self.i}")
        out = self.s[self.i : j]
        self.i = j + len(lit)
        return out

    def name(self) -> str:
        if self.i >= self.n or not _is_name_start(self.s[self.i]):
            raise XmlError(f"expected name at {self.i}")
        j = self.i + 1
        while j < self.n and _is_name_char(self.s[j]):
            j += 1
        out = self.s[self.i : j]
        self.i = j
        return out


def _skip_misc(p: _P, allow_doctype: bool) -> None:
    """Skip whitespace, comments, PIs (and optionally one DOCTYPE)."""
    while True:
        p.ws()
        if p.literal("<!--"):
            p.until("-->", "comment")
        elif p.literal("<?"):
            p.until("?>", "processing instruction")
        elif allow_doctype and p.s.startswith("<!DOCTYPE", p.i):
            p.i += len("<!DOCTYPE")
            depth = 0
            while p.i < p.n:
                c = p.s[p.i]
                p.i += 1
                if c == "[":
                    depth += 1
                elif c == "]":
                    depth -= 1
                elif c == ">" and depth <= 0:
                    break
            else:
                raise XmlError("unterminated DOCTYPE")
        else:
            return


def _attrs(p: _P) -> dict:
    out: dict = {}
    while True:
        p.ws()
        if p.i >= p.n or p.s[p.i] in "/>":
            return out
        k = p.name()
        p.ws()
        if not p.literal("="):
            raise XmlError(f"attribute {k!r} missing '=' at {p.i}")
        p.ws()
        if p.i >= p.n or p.s[p.i] not in "'\"":
            raise XmlError(f"attribute {k!r} value not quoted at {p.i}")
        q = p.s[p.i]
        p.i += 1
        v = p.until(q, f"attribute {k!r}")
        if "<" in v:
            raise XmlError(f"raw '<' in attribute {k!r}")
        if k in out:
            raise XmlError(f"duplicate attribute {k!r}")
        out[k] = _decode_text(v, f"attribute {k!r}")


def _element(p: _P) -> dict:
    """Parse one element at ``<`` (already positioned). Iterative
    stack, not recursion — a 10k-deep document must not hit the
    Python recursion limit."""
    if not p.literal("<"):
        raise XmlError(f"expected element at {p.i}")
    root = {"tag": p.name(), "attrs": _attrs(p), "text": [], "children": []}
    p.ws()
    if p.literal("/>"):
        root["text"] = ""
        return root
    if not p.literal(">"):
        raise XmlError(f"unterminated start tag <{root['tag']} at {p.i}")
    stack = [root]
    while stack:
        cur = stack[-1]
        if p.i >= p.n:
            raise XmlError(f"unexpected EOF inside <{cur['tag']}>")
        if p.literal("<!--"):
            p.until("-->", "comment")
        elif p.literal("<![CDATA["):
            cur["text"].append(p.until("]]>", "CDATA section"))
        elif p.literal("<?"):
            p.until("?>", "processing instruction")
        elif p.literal("</"):
            nm = p.name()
            p.ws()
            if not p.literal(">"):
                raise XmlError(f"malformed close tag </{nm} at {p.i}")
            if nm != cur["tag"]:
                raise XmlError(
                    f"tag mismatch: <{cur['tag']}> closed by </{nm}>"
                )
            cur["text"] = "".join(cur["text"])
            stack.pop()
        elif p.s.startswith("<", p.i):
            p.i += 1
            child = {
                "tag": p.name(), "attrs": _attrs(p), "text": [],
                "children": [],
            }
            cur["children"].append(child)
            p.ws()
            if p.literal("/>"):
                child["text"] = ""
            elif p.literal(">"):
                stack.append(child)
            else:
                raise XmlError(
                    f"unterminated start tag <{child['tag']} at {p.i}"
                )
        else:
            j = p.s.find("<", p.i)
            if j < 0:
                raise XmlError(f"unexpected EOF inside <{cur['tag']}>")
            chunk = p.s[p.i : j]
            p.i = j
            cur["text"].append(_decode_text(chunk, f"<{cur['tag']}> text"))
    return root


def parse_xml(text: str) -> dict:
    """Parse a complete XML document to a tree of
    ``{tag, attrs, text, children}`` dicts. ``text`` is the element's
    own character data (entities decoded, CDATA verbatim), stripped
    of leading/trailing whitespace."""
    if text.startswith("﻿"):
        text = text[1:]
    p = _P(text)
    _skip_misc(p, allow_doctype=True)
    root = _element(p)
    _skip_misc(p, allow_doctype=False)
    if p.i < p.n:
        raise XmlError(f"content after document element at {p.i}")

    stack = [root]
    while stack:  # iterative like the parser: depth-safe
        e = stack.pop()
        e["text"] = e["text"].strip() if isinstance(e["text"], str) else ""
        stack.extend(e["children"])
    return root


def flatten_xml(root: dict) -> list[tuple]:
    """Preorder flatten to the relational tree encoding:
    ``(elem_id, parent_id, tag, attrs, text)`` rows, ``elem_id`` in
    document order (root = 0, parent_id = -1)."""
    out: list[tuple] = []
    stack = [(root, -1)]
    while stack:
        e, parent = stack.pop()
        eid = len(out)
        out.append((eid, parent, e["tag"], e["attrs"], e["text"]))
        for c in reversed(e["children"]):
            stack.append((c, eid))
    return out


XML_ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("elem_id", T.IntegerType()),
        T.StructField("parent_id", T.IntegerType()),
        T.StructField("tag", T.StringType()),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def read_xml(
    df: DataFrame, id_col: str = "doc_id", xml_col: str = "xml"
) -> DataFrame:
    """Parse an XML string column into the per-element relational
    table (one Arrow pass; malformed documents produce ONE quarantine
    row with ``error`` set and NULL element fields). Downstream
    structure queries — counts, rollups, parent/child joins — run on
    the element table with native DataFrame algebra."""

    def kernel(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, xml in zip(pdf[id_col], pdf[xml_col]):
                did = int(did)
                try:
                    flat = flatten_xml(parse_xml(xml))
                except XmlError as e:
                    rows.append((did, None, None, None, None, None, str(e)))
                    continue
                for eid, parent, tag, attrs, text in flat:
                    rows.append((did, eid, parent, tag, attrs, text, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "elem_id", "parent_id", "tag", "attrs",
                    "text", "error",
                ],
            )

    return df.mapInPandas(kernel, XML_ELEMENTS_SCHEMA)
