"""XML/HTML -> JSON conversion — xq's -j mode.

NodeToJSON re-expression (internal/utils/jsonutil.go:13-125):
- attributes become "@name" keys (jsonutil.go:67-69)
- per-node trimmed text parts join with "\\n" as "#text" (jsonutil.go:85-90)
- text-only elements collapse to a plain string (jsonutil.go:86-88)
- repeated element names coalesce into arrays (jsonutil.go:111-125)
- depth==0 flattens to the "\\n"-joined text content (jsonutil.go:62-64,95-109)

The -j pipeline (cmd/root.go:296-341) is api.to_json: it parses XML/HTML
STRICTLY (xmlquery.Parse with default decoder; malformed input must error,
cmd/root_test.go:169-172), converts with node_to_json, marshals (Go sorts
map keys) and re-indents.
"""

from __future__ import annotations

from .dom import DOCUMENT, ELEMENT, TEXT, DomNode
from .textutil import go_trim_space


def node_to_json(node: DomNode | None, depth: int):
    if node is None:
        return None
    if node.type == DOCUMENT:
        result: dict = {}
        text_parts: list[str] = []
        for child in node.children:
            if child.type == ELEMENT:
                result[child.data] = _node_to_json_internal(child, depth)
            elif child.type == TEXT:
                text = go_trim_space(child.data)
                if text != "":
                    text_parts.append(text)
        if text_parts:
            result["#text"] = "\n".join(text_parts)
        return result
    if node.type == ELEMENT:
        return _node_to_json_internal(node, depth)
    if node.type == TEXT:
        return go_trim_space(node.data)
    return None


def _node_to_json_internal(node: DomNode, depth: int):
    if depth == 0:
        return _text_content(node)

    result: dict = {}
    for attr in node.attrs:
        result["@" + attr.local] = attr.value

    text_parts: list[str] = []
    for child in node.children:
        if child.type == TEXT:
            text = go_trim_space(child.data)
            if text != "":
                text_parts.append(text)
        elif child.type == ELEMENT:
            _add_to_result(result, child.data, _node_to_json_internal(child, depth - 1))

    if text_parts:
        if not result:
            return "\n".join(text_parts)
        result["#text"] = "\n".join(text_parts)

    return result


def _text_content(node: DomNode) -> str:
    parts: list[str] = []
    for child in node.children:
        if child.type == TEXT:
            text = go_trim_space(child.data)
            if text != "":
                parts.append(text)
        elif child.type == ELEMENT:
            parts.append(_text_content(child))
    return "\n".join(parts)


def _add_to_result(result: dict, key: str, value) -> None:
    if key == "":
        return
    if key in result:
        existing = result[key]
        if isinstance(existing, list):
            existing.append(value)
        else:
            result[key] = [existing, value]
    else:
        result[key] = value

