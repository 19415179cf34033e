"""XML node tree — the DOM used by XPath and JSON-conversion modes.

Equivalent of the reference's use of antchfx/xmlquery
(internal/utils/utils.go:217-222 lenient parse for -x/-e;
cmd/root.go:311 strict parse for -j). Node kinds mirror xmlquery:
Document / Declaration / Element / Text (CDATA flagged) / Comment / PI;
attributes live on elements. Key behavioral contracts:

- ``inner_text`` concatenates descendant text with NO separator, skipping
  comments (xmlquery Node.InnerText; used by XPath string-values and by
  printNodeContent, utils.go:279)
- element ``data`` is the LOCAL name; the prefix is kept separately
  (NodeToJSON keys are local names, jsonutil.go:81)
- document order index on every node (XPath node-set ordering)
"""

from __future__ import annotations

from dataclasses import dataclass

from .charset import decode_payload
from .xmltok import (
    XmlSyntaxError,
    CharData,
    Comment,
    Directive,
    EndElement,
    GoXmlTokenizer,
    ProcInst,
    StartElement,
)

DOCUMENT = "document"
DECLARATION = "declaration"
ELEMENT = "element"
TEXT = "text"
COMMENT = "comment"
PI = "pi"
ATTRIBUTE = "attribute"


@dataclass
class DomAttr:
    space: str
    local: str
    value: str
    # prefix as written in the source (for name() / serialization)
    prefix: str = ""


class DomNode:
    __slots__ = (
        "type",
        "data",
        "prefix",
        "namespace",
        "attrs",
        "parent",
        "children",
        "order",
        "cdata",
        "pi_inst",
    )

    def __init__(self, type_: str, data: str = "", prefix: str = "", namespace: str = ""):
        self.type = type_
        self.data = data  # local name for elements; text for text/comment
        self.prefix = prefix
        self.namespace = namespace
        self.attrs: list[DomAttr] = []
        self.parent: DomNode | None = None
        self.children: list[DomNode] = []
        self.order = 0
        self.cdata = False
        self.pi_inst = ""

    def append(self, child: "DomNode") -> None:
        child.parent = self
        self.children.append(child)

    # -- traversal helpers --

    def iter_descendants(self):
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            yield node
            if node.children:
                stack.extend(reversed(node.children))

    def inner_text(self) -> str:
        if self.type == TEXT:
            return self.data
        parts: list[str] = []
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            t = n.type
            if t == TEXT:
                parts.append(n.data)
            elif t != COMMENT and n.children:
                stack.extend(reversed(n.children))
        return "".join(parts)

    def full_name(self) -> str:
        if self.prefix:
            return self.prefix + ":" + self.data
        return self.data

    def __repr__(self) -> str:  # pragma: no cover
        return f"<DomNode {self.type} {self.full_name()!r}>"


def _new_node(t: str, d: str, o: int) -> DomNode:
    """Inline-slot DomNode construction for the fused hot loops (skips
    the __init__ call; semantics identical — all slots set)."""
    node = DomNode.__new__(DomNode)
    node.type = t
    node.data = d
    node.prefix = ""
    node.namespace = ""
    node.attrs = []
    node.parent = None
    node.children = []
    node.order = o
    node.cdata = False
    node.pi_inst = ""
    return node


class _DomFallback(Exception):
    """Input uses a construct outside the fused DOM fast path."""


import re as _re

# Fused tokenize+build token shapes: ASCII colon-free names, double-quoted
# attribute values without entities/CR (kept raw in the DOM), text whose
# only entities are the five predefined ones, PIs, comments, simple
# directives. Everything else falls back to the general Go-faithful token
# loop on the same input (namespaces, character references and unknown
# entities, CDATA, mismatched/unquoted constructs, malformed input).
# The text branch is unrolled (runs of [^<&] between whole entities), so
# an ordinary run costs one character class, not a per-character
# alternation.
_DOM_TOKEN = _re.compile(
    r"(?:<(?P<start>[A-Za-z_][A-Za-z0-9_.\-]*)"
    r"(?P<attrs>(?:[ \t\n]+[A-Za-z_][A-Za-z0-9_.\-]*="
    "\"[^\"&<\\r\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]*\")*)"
    r"[ \t\n]*(?P<selfclose>/?)>)"
    r"|(?P<text>[^<&]+(?:&(?:amp|lt|gt|quot|apos);[^<&]*)*"
    r"|(?:&(?:amp|lt|gt|quot|apos);[^<&]*)+)"
    r"|(?:</(?P<end>[A-Za-z_][A-Za-z0-9_.\-]*)[ \t\n]*>)"
    r"|(?:<\?(?P<pi>[A-Za-z_][A-Za-z0-9_:.\-]*))"
    r"|(?:<!--(?P<comment>(?:[^-]|-(?!->))*)-->)"
    r"|(?:<!(?P<directive>[A-Za-z][^>'\"<\[]*)>)"
)
_DOM_TEXT_BAD = _re.compile(r"[\r\x00-\x08\x0b\x0c\x0e-\x1f]|\]\]>")
_DOM_ATTR = _re.compile(r"([A-Za-z_][A-Za-z0-9_.\-]*)=\"([^\"]*)\"")


def _unescape_predefined(t: str) -> str:
    """Decode the five predefined entities of a _DOM_TOKEN text run.
    &amp; goes last, so '&amp;lt;' decodes to '&lt;', not '<'."""
    return (
        t.replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&apos;", "'")
        .replace("&amp;", "&")
    )


def _parse_dom_fast(s: str) -> DomNode:
    """Regex-driven fused tokenizer+DOM builder: no token objects, order
    assigned at creation (streaming build IS pre-order). Raises
    _DomFallback on anything outside the fast subset; the caller reruns
    the general path, so tree shape and error behavior are unchanged."""
    doc = DomNode(DOCUMENT)
    current = doc
    order = 0
    pos = 0
    n = len(s)
    match = _DOM_TOKEN.match
    bad_text = _DOM_TEXT_BAD.search
    # a text run is a substring of s: when s has no bad character or
    # ']]>', no run has one, so the per-run check can be skipped
    check_text = bad_text(s) is not None
    attr_findall = _DOM_ATTR.findall
    new_node = _new_node
    while pos < n:
        m = match(s, pos)
        if m is None:
            raise _DomFallback
        pos = m.end()
        # lastindex identifies the alternative in one attribute access
        # (3 = the trailing (/?) group of the start-tag branch, which
        # always participates; 4=text 5=end 6=pi 7=comment 8=directive)
        kind = m.lastindex
        if kind == 3:
            name, attrs_raw, selfclose = m.group(1, 2, 3)
            node = new_node(ELEMENT, name, order)
            order += 1
            if attrs_raw:
                if "xmlns" in attrs_raw:
                    raise _DomFallback  # namespace machinery: general path
                node.attrs = [
                    DomAttr("", k, v) for k, v in attr_findall(attrs_raw)
                ]
            node.parent = current
            current.children.append(node)
            if not selfclose:
                current = node
            continue
        if kind == 4:
            t = m.group(4)
            # raw input only: an entity's expansion bypasses the check
            if check_text and bad_text(t):
                raise _DomFallback
            if "&" in t:
                t = _unescape_predefined(t)
            node = new_node(TEXT, t, order)
            order += 1
            node.parent = current
            current.children.append(node)
            continue
        if kind == 5:
            if current.type != ELEMENT or current.data != m.group(5):
                raise _DomFallback  # mismatch: repair/error in general path
            current = current.parent
            continue
        if kind == 6:
            target = m.group(6)
            idx = s.find("?>", pos)
            if idx == -1:
                raise _DomFallback
            inst = s[pos:idx].lstrip(" \t\r\n")
            pos = idx + 2
            node = new_node(DECLARATION if target == "xml" else PI, target, order)
            node.pi_inst = inst
            order += 1
            node.parent = current
            current.children.append(node)
            continue
        if kind == 7:
            node = new_node(COMMENT, m.group(7), order)
            order += 1
            node.parent = current
            current.children.append(node)
            continue
        if kind == 8:
            continue  # parse_dom skips directives
        raise _DomFallback  # unreachable
    if current is not doc:
        raise _DomFallback  # unexpected EOF: general path raises
    return doc


def _first_text_fast(s: str, name: str) -> str | None:
    """inner_text of the first element named ``name`` in _parse_dom_fast's
    tree of ``s`` (None when there is none), from one token scan that
    builds no tree: the projected form of parse_dom + select_first for
    '//name' in -e mode.

    Every check of _parse_dom_fast runs here too (same _DOM_TOKEN, text
    check, xmlns bail, end tags against a name stack, unterminated PI,
    EOF with open elements), and the scan runs to the end of the document
    after the match, so it accepts exactly the documents _parse_dom_fast
    accepts and raises _DomFallback on all others: the caller then takes
    the tree path, which raises the error or repairs the input."""
    stack: list[str] = []
    push = stack.append
    pop = stack.pop
    want = name  # None once the match is seen
    parts: list[str] | None = None  # the match's text runs, while open
    close_at = -1  # stack depth at which the match closes
    found = None
    pos = 0
    n = len(s)
    match = _DOM_TOKEN.match
    bad_text = _DOM_TEXT_BAD.search
    check_text = bad_text(s) is not None  # as in _parse_dom_fast
    while pos < n:
        m = match(s, pos)
        if m is None:
            raise _DomFallback
        pos = m.end()
        kind = m.lastindex
        if kind == 3:
            tag, attrs_raw, selfclose = m.group(1, 2, 3)
            if attrs_raw and "xmlns" in attrs_raw:
                raise _DomFallback
            if selfclose:
                if tag == want:
                    want = None
                    found = ""
            else:
                if tag == want:
                    want = None
                    parts = []
                    close_at = len(stack)
                push(tag)
            continue
        if kind == 4:
            if check_text and bad_text(m.group(4)):
                raise _DomFallback
            if parts is not None:
                t = m.group(4)
                parts.append(_unescape_predefined(t) if "&" in t else t)
            continue
        if kind == 5:
            if not stack or pop() != m.group(5):
                raise _DomFallback
            if len(stack) == close_at:
                found = "".join(parts)
                parts = None
                close_at = -1
            continue
        if kind == 6:
            idx = s.find("?>", pos)
            if idx == -1:
                raise _DomFallback
            pos = idx + 2
        # 7 comment, 8 directive: not part of inner_text
    if stack:
        raise _DomFallback
    return found


def parse_dom(data: bytes | str, strict: bool = False) -> DomNode:
    """Build a document tree from bytes/text. Raises XmlSyntaxError.

    The strict (-j) path mirrors Go's xmlquery.Parse with the DEFAULT
    decoder: no CharsetReader, so a declared non-UTF-8 encoding is an
    error (cmd/root.go:311), unlike the lenient -x path (utils.go:217-222).
    """
    if isinstance(data, bytes):
        if strict:
            from .charset import declared_encoding

            enc = declared_encoding(data)
            if enc and enc not in ("utf-8", "UTF-8"):
                raise XmlSyntaxError(
                    f'xml: encoding "{enc}" declared but Decoder.CharsetReader is nil'
                )
            text = data.decode("utf-8", errors="replace")
        else:
            text = decode_payload(data)
    else:
        text = data

    # fused fast path: within its subset, strict and lenient agree (every
    # strict-only error construct — entities, unquoted attrs, mismatched
    # closes — falls back)
    try:
        return _parse_dom_fast(text)
    except _DomFallback:
        pass

    doc = DomNode(DOCUMENT)
    current = doc
    order = 0
    # map resolved namespace URI (or raw prefix) back to the written prefix
    for token in GoXmlTokenizer(text, strict=strict).tokens():
        order += 1
        if isinstance(token, StartElement):
            node = DomNode(ELEMENT, token.name.local, token.name.prefix, token.name.space)
            node.order = order
            for attr in token.attrs:
                node.attrs.append(
                    DomAttr(attr.name.space, attr.name.local, attr.value, attr.name.prefix)
                )
            current.append(node)
            current = node
        elif isinstance(token, EndElement):
            if current.parent is not None:
                current = current.parent
        elif isinstance(token, CharData):
            node = DomNode(TEXT, token.text)
            node.cdata = token.cdata
            node.order = order
            current.append(node)
        elif isinstance(token, Comment):
            node = DomNode(COMMENT, token.text)
            node.order = order
            current.append(node)
        elif isinstance(token, ProcInst):
            kind = DECLARATION if token.target == "xml" else PI
            node = DomNode(kind, token.target)
            node.pi_inst = token.inst
            node.order = order
            current.append(node)
        elif isinstance(token, Directive):
            continue
    # assign document order by pre-order walk (stable for XPath sorting)
    idx = 0
    for n in doc.iter_descendants():
        n.order = idx
        idx += 1
    return doc
