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


class _DomFallback(Exception):
    """Input lies outside the projected '//name' scan's token subset."""


import re as _re

# The characters no raw text run or attribute value may hold: the
# controls 0x00-0x08 and 0x0B-0x1F (CR included), as bytes and as a
# regex class. In UTF-8 each is one byte, and no multi-byte sequence
# holds a byte below 0x80.
_DOM_BAD_BYTES = bytes([*range(0x00, 0x09), *range(0x0B, 0x20)])
_DOM_BAD_CLASS = "".join(rf"\x{c:02x}" for c in _DOM_BAD_BYTES)

# Token shapes of the projected '//name' scan (_first_text_fast): ASCII
# colon-free names, double-quoted attribute values without entities/CR,
# text whose only entities are the five predefined ones, PIs, comments,
# simple directives. Everything else (namespaces, character references
# and unknown entities, CDATA, mismatched/unquoted constructs, malformed
# input) raises _DomFallback, and the caller runs the general token loop
# on the same input. The text branch is unrolled (runs of [^<&] between
# whole entities), so an ordinary run costs one character class, not a
# per-character alternation.
_DOM_TOKEN = _re.compile(
    r"(?:<(?P<start>[A-Za-z_][A-Za-z0-9_.\-]*)"
    r"(?P<attrs>(?:[ \t\n]+[A-Za-z_][A-Za-z0-9_.\-]*="
    "\"[^\"&<" + _DOM_BAD_CLASS + "]*\")*)"
    r"[ \t\n]*(?P<selfclose>/?)>)"
    r"|(?P<text>[^<&]+(?:&(?:amp|lt|gt|quot|apos);[^<&]*)*"
    r"|(?:&(?:amp|lt|gt|quot|apos);[^<&]*)+)"
    r"|(?:</(?P<end>[A-Za-z_][A-Za-z0-9_.\-]*)[ \t\n]*>)"
    r"|(?:<\?(?P<pi>[A-Za-z_][A-Za-z0-9_:.\-]*))"
    r"|(?:<!--(?P<comment>(?:[^-]|-(?!->))*)-->)"
    r"|(?:<!(?P<directive>[A-Za-z][^>'\"<\[]*)>)"
)
_DOM_TEXT_BAD = _re.compile("[" + _DOM_BAD_CLASS + r"]|\]\]>")


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


def _first_text_fast(s: str, name: str) -> str | None:
    """inner_text of the first element named ``name`` in ``s`` (None when
    there is none), from one token scan that builds no tree: the projected
    form of parse_dom + select()[0] for '//name' in -e mode.

    The scan accepts a document only when every token is a _DOM_TOKEN
    shape, no raw text run holds a control character, CR or ']]>', no
    start tag binds a namespace ('xmlns'), every end tag closes the open
    element of the same name, every PI is terminated and no element is
    open at EOF. It runs to the end of the document after the match, so
    a malformed tail still rejects. On every rejection it raises
    _DomFallback and the caller runs the general token loop (parse_dom),
    which raises the error or repairs the input. Within the accepted
    subset the general loop builds the tree whose inner_text this is;
    test_fuzz.py's test_projected_first_text_* pin the two against each
    other."""
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
    # a text run is a substring of s: when s has no bad character or
    # ']]>', no run has one, so the per-run check can be skipped. The
    # page test deletes the bad bytes from its UTF-8 form: ~3-4 us on a
    # 2 KB page, ASCII or not, where the regex takes ~22 us and
    # str.translate ~97 us once the page has one non-ASCII character
    b = s.encode("utf-8", "surrogatepass")
    check_text = "]]>" in s or len(b.translate(None, _DOM_BAD_BYTES)) != len(b)
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

    doc = DomNode(DOCUMENT)
    current = doc
    # nodes are created in document (pre-)order, so the creation count is
    # the XPath document-order index
    order = 0
    for token in GoXmlTokenizer(text, strict=strict).tokens():
        if isinstance(token, StartElement):
            node = DomNode(ELEMENT, token.name.local, token.name.prefix, token.name.space)
            for attr in token.attrs:
                node.attrs.append(
                    DomAttr(attr.name.space, attr.name.local, attr.value, attr.name.prefix)
                )
            current.append(node)
            current = node
        elif isinstance(token, EndElement):
            if current.parent is not None:
                current = current.parent
            continue
        elif isinstance(token, CharData):
            node = DomNode(TEXT, token.text)
            node.cdata = token.cdata
            current.append(node)
        elif isinstance(token, Comment):
            node = DomNode(COMMENT, token.text)
            current.append(node)
        elif isinstance(token, ProcInst):
            kind = DECLARATION if token.target == "xml" else PI
            node = DomNode(kind, token.target)
            node.pi_inst = token.inst
            current.append(node)
        else:
            continue  # Directive: not part of the tree
        node.order = order
        order += 1
    return doc
