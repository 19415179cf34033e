"""Document-level operations — the per-row functions the Spark UDFs wrap.

Each function takes one document payload and returns the exact text xq
would print (including trailing newlines), mirroring the mode dispatch in
cmd/root.go:111-130 and the per-type serialization in utils.go:246-263.
"""

from __future__ import annotations

import math

from .charset import decode_payload
from .detect import CONTENT_HTML, CONTENT_JSON, CONTENT_XML, detect_format
from .dom import COMMENT, DECLARATION, DOCUMENT, ELEMENT, PI, TEXT, parse_dom
from .fmt_html import format_html
from .fmt_json import format_json
from .fmt_xml import format_xml
from .textutil import escape_text, go_trim_space
from .xml2json import node_to_json
from .fmt_json import format_value
from .xpath import AttrNode, XPathError, compile_xpath, string_value


def dom_serialize(node) -> str:
    """OutputXML(true)-equivalent: re-serialize a subtree to markup that
    reparses to the same token stream (xmlquery usage at utils.go:275)."""
    out: list[str] = []

    def walk(n) -> None:
        if isinstance(n, AttrNode):
            out.append(n.attr.value)
            return
        if n.type == TEXT:
            if n.cdata:
                out.append("<![CDATA[" + n.data + "]]>")
            else:
                out.append(escape_text(n.data))
        elif n.type == COMMENT:
            out.append("<!--" + n.data + "-->")
        elif n.type in (PI, DECLARATION):
            inst = (" " + n.pi_inst) if n.pi_inst else ""
            out.append("<?" + n.data + inst + "?>")
        elif n.type == ELEMENT:
            name = n.full_name()
            out.append("<" + name)
            for a in n.attrs:
                aname = a.prefix + ":" + a.local if a.prefix else a.local
                if a.space == "xmlns":
                    aname = "xmlns:" + a.local
                out.append(" " + aname + '="' + escape_text(a.value) + '"')
            if n.children:
                out.append(">")
                for c in n.children:
                    walk(c)
                out.append("</" + name + ">")
            else:
                out.append("></" + name + ">")
        elif n.type == DOCUMENT:
            for c in n.children:
                walk(c)

    walk(node)
    return "".join(out)


def _print_node_content(node, with_tags: bool, indent: str) -> str:
    """printNodeContent (utils.go:273-281)."""
    if with_tags:
        return format_xml(dom_serialize(node), indent)
    if isinstance(node, AttrNode):
        text = node.attr.value
    else:
        text = node.inner_text()
    return go_trim_space(text) + "\n"


def _go_percent_0f(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    return f"{v:.0f}"


def xpath_values(val) -> list[str]:
    """The lines -x prints for an evaluated XPath result, one trimmed
    string each (utils.go:246-260): a node-set gives one string-value per
    node, a scalar gives a single line."""
    if isinstance(val, bool):
        return ["true" if val else "false"]
    if isinstance(val, float):
        return [_go_percent_0f(val)]
    if isinstance(val, str):
        return [go_trim_space(val)]
    if isinstance(val, list):
        return [go_trim_space(string_value(n)) for n in val]
    raise XPathError(f"unknown type error: {val!r}")


def xpath_query(
    data: bytes | str,
    query: str,
    single_node: bool = False,
    with_tags: bool = False,
    indent: str = "  ",
) -> str:
    """XPathQuery (utils.go:210-271): -x / -e / -n modes."""
    doc = parse_dom(data, strict=False)
    expr = compile_xpath(query)

    if single_node:
        node = expr.select_first(doc)
        if node is not None:
            return _print_node_content(node, with_tags, indent)
        return ""
    if with_tags:
        return "".join(
            _print_node_content(n, True, indent) for n in expr.select(doc)
        )

    return "".join(v + "\n" for v in xpath_values(expr.evaluate(doc)))


def css_query(
    data: bytes | str,
    query: str,
    attr: str = "",
    with_tags: bool = False,
    indent: str = "  ",
) -> str:
    """CSSQuery (utils.go:283-315): -q / -a / -q -n modes."""
    from .css import _attr_value, compile_css
    from .fmt_html import format_html
    from .htmltree import parse_html, serialize_html

    doc = parse_html(data)
    selector = compile_css(query)
    out: list[str] = []
    for item in selector.select(doc):
        if attr != "":
            out.append(go_trim_space(_attr_value(item, attr) or "") + "\n")
        elif with_tags:
            attrs_str = "".join(
                " " + a.local + '="' + escape_text(a.value) + '"' for a in item.attrs
            )
            inner = serialize_html(item, outer=False)
            fragment = f"<{item.data}{attrs_str}>{inner}</{item.data}>"
            out.append(format_html(fragment, indent))
        else:
            out.append(go_trim_space(item.inner_text()) + "\n")
    return "".join(out)


def beautify(
    data: bytes | str, indent: str = "  ", force_html: bool = False
) -> str:
    """Default mode: detect format and pretty-print (processContent,
    cmd/root.go:272-294)."""
    fmt = detect_format(data, force_html=force_html)
    if fmt == CONTENT_HTML:
        return format_html(data, indent)
    if fmt == CONTENT_XML:
        return format_xml(data, indent)
    if fmt == CONTENT_JSON:
        return format_json(data, indent)
    raise ValueError(f"unknown content type: {fmt}")


def to_json(
    data: bytes | str,
    depth: int = -1,
    compact: bool = False,
    force_html: bool = False,
) -> str:
    """-j mode (processAsJSON, cmd/root.go:296-341)."""
    fmt = detect_format(data, force_html=force_html)
    indent = "" if compact else "  "
    if fmt in (CONTENT_XML, CONTENT_HTML):
        doc = parse_dom(data, strict=True)
        result = node_to_json(doc, depth)
    elif fmt == CONTENT_JSON:
        import json as _json

        if isinstance(data, bytes):
            # Go's json decoder coerces invalid UTF-8 to U+FFFD
            data = data.decode("utf-8", errors="replace")

        def _reject(const):
            raise ValueError(f"invalid constant {const}")

        # Go Decode-into-interface{}: numbers become float64, only the
        # FIRST top-level value is read, NaN/Infinity are rejected
        result, _end = _json.JSONDecoder(
            parse_int=float, parse_constant=_reject
        ).raw_decode(data.lstrip(" \t\r\n"))
    else:
        if isinstance(data, bytes):
            data = decode_payload(data)
        result = {"text": data}
    return format_value(result, indent) + "\n"
