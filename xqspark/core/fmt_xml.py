"""XML beautifier — byte-identical to xq's FormatXml.

Re-expression of internal/utils/utils.go:45-208: a single streaming pass
over the lenient token stream with O(depth) state (level, hasContent,
spaceContent, nsAliases, lastTagName, startTagClosed). Colors are always
disabled (golden tests run ColorsDisabled, utils_test.go:77).
"""

from __future__ import annotations

from .charset import decode_payload
from .textutil import escape_text, go_trim_space, normalize_spaces
from .xmltok import (
    CharData,
    Comment,
    Directive,
    EndElement,
    GoXmlTokenizer,
    Name,
    ProcInst,
    StartElement,
)


def _token_full_name(name: Name, ns_aliases: dict[str, str]) -> str:
    """xq getTokenFullName (utils.go:637-649): qualified name via the
    first-prefix-wins URI->alias map; default ns strips the prefix."""
    result = name.local
    if name.space != "":
        space = ns_aliases.get(name.space, name.space)
        if space != "":
            result = space + ":" + name.local
    return result


def format_xml(data: bytes | str, indent: str = "  ") -> str:
    """Beautify an XML document. Raises XmlSyntaxError on malformed input.

    A fused tokenizer+formatter handles the common shapes (ASCII
    unprefixed tags, double-quoted attribute values with nothing to
    escape, entity-free text, leading PI/doctype) in a single regex-driven
    pass with no token objects; anything else falls back to the general
    Go-faithful token path on the SAME input, so output bytes and error
    behavior are unchanged (differential-tested in test_fuzz)."""
    if isinstance(data, bytes):
        text = decode_payload(data)
    else:
        text = data
    try:
        return _format_xml_fused(text, indent)
    except _Fallback:
        return format_xml_tokens(GoXmlTokenizer(text, strict=False).tokens(), indent)


class _Fallback(Exception):
    """Input uses a construct outside the fused fast path."""


import re as _re

# One alternation per token. Attribute values may contain nothing
# escape_text would rewrite (no " & < > ' tab nl cr, controls, surrogates,
# U+FFFE/FFFF); names are ASCII and colon-free (no namespace machinery).
_FUSED_TOKEN = _re.compile(
    r"(?:<(?P<start>[A-Za-z_][A-Za-z0-9_.\-]*)"
    r"(?P<attrs>(?:[ \t\n]+[A-Za-z_][A-Za-z0-9_.\-]*="
    "\"[^\"&<>'\\t\\n\\r\\x00-\\x1f\\ud800-\\udfff\\ufffe\\uffff]*\")*)"
    r"[ \t\n]*(?P<selfclose>/?)>)"
    r"|(?P<text>[^<&]+)"
    r"|(?:</(?P<end>[A-Za-z_][A-Za-z0-9_.\-]*)[ \t\n]*>)"
    r"|(?:<\?(?P<pi>[A-Za-z_][A-Za-z0-9_:.\-]*))"
    r"|(?:<!(?P<directive>[A-Za-z][^>'\"<\[]*)>)"
)
# raw text the general tokenizer would reject or rewrite
_FUSED_TEXT_BAD = _re.compile(r"[\r\x00-\x08\x0b\x0c\x0e-\x1f]|\]\]>")
_FUSED_ATTR = _re.compile(r"([A-Za-z_][A-Za-z0-9_.\-]*)=\"([^\"]*)\"")


def _format_xml_fused(s: str, indent: str) -> str:
    out: list[str] = []
    write = out.append
    level = 0
    has_content = False
    space_content = ""
    last_tag_name = ""
    start_tag_closed = True
    newline = "\n" if indent != "" else ""
    stack: list[str] = []
    pos = 0
    n = len(s)
    match = _FUSED_TOKEN.match
    bad_text = _FUSED_TEXT_BAD.search
    while pos < n:
        m = match(s, pos)
        if m is None:
            raise _Fallback
        pos = m.end()
        kind = m.lastgroup  # "selfclose" = start-tag branch (trailing group)
        if kind == "selfclose":
            name = m.group("start")
            space_content = ""
            if not start_tag_closed:
                write(">")
                start_tag_closed = True
            if level > 0:
                write(newline + indent * level)
            attrs_raw = m.group("attrs")
            if attrs_raw:
                if "xmlns" in attrs_raw:
                    raise _Fallback  # namespace bindings: general path
                if "\t" in attrs_raw or "\n" in attrs_raw or "  " in attrs_raw:
                    # non-canonical separators: rebuild as single spaces
                    attrs_raw = "".join(
                        f' {k}="{v}"' for k, v in _FUSED_ATTR.findall(attrs_raw)
                    )
                write("<" + name + attrs_raw)
            else:
                write("<" + name)
            if m.group("selfclose"):
                write("/>")
                start_tag_closed = True
                last_tag_name = ""
                has_content = False
            else:
                last_tag_name = name
                start_tag_closed = False
                level += 1
                has_content = False
                stack.append(name)
            continue
        if kind == "text":
            t = m.group("text")
            if bad_text(t):
                raise _Fallback
            c0 = t[0]
            if c0 not in " \t\n\v\f" and c0 <= "\x7f" and t[-1] != " ":
                # nothing for normalize_spaces to do (exact conditions:
                # not all-space, no ^ *\n head, no \n +$ tail, no
                # trailing-space strip)
                sn = t
            else:
                sn = normalize_spaces(t, indent, level)
            space_content = ""
            if sn == "":
                if t != "" and "\n" not in t and not start_tag_closed:
                    space_content = t
                has_content = False
                continue
            has_content = True
            if not start_tag_closed:
                write(">")
                start_tag_closed = True
            # sn cannot contain & or < here, so never CDATA-wrapped
            write(sn)
            continue
        if kind == "end":
            name = m.group("end")
            if not stack or stack[-1] != name:
                raise _Fallback  # repair/error path: general tokenizer
            stack.pop()
            level -= 1
            if not has_content:
                if last_tag_name != name:
                    if not start_tag_closed:
                        write(">")
                        start_tag_closed = True
                    write(newline + indent * level + "</" + name + ">")
                elif space_content != "":
                    write(">" + space_content + "</" + name + ">")
                    start_tag_closed = True
                else:
                    write("/>")
                    start_tag_closed = True
            else:
                write("</" + name + ">")
            space_content = ""
            has_content = False
            last_tag_name = ""
            continue
        if kind == "pi":
            target = m.group("pi")
            if level != 0:
                # general ProcInst branch has leave-start-tag-open quirks
                raise _Fallback
            idx = s.find("?>", pos)
            if idx == -1:
                raise _Fallback  # unterminated: general path errors
            inst = s[pos:idx].lstrip(" \t\r\n")
            pos = idx + 2
            write("<?" + target)
            pi = go_trim_space(inst)
            if pi != "":
                for attr in pi.split(" "):
                    parts = attr.split("=", 1)
                    if len(parts) == 2:
                        write(" " + parts[0] + "=" + parts[1])
                    else:
                        write(" " + parts[0])
            write("?>" + newline)
            continue
        if kind == "directive":
            if level != 0:
                raise _Fallback
            space_content = ""
            write("<!" + m.group("directive") + ">")
            write(newline)
            continue
        raise _Fallback  # unreachable
    if stack:
        raise _Fallback  # unexpected EOF: general path raises
    write("\n")
    return "".join(out)


def format_xml_tokens(tokens, indent: str = "  ") -> str:
    """Run the FormatXml state machine over an explicit token stream."""
    out: list[str] = []
    write = out.append

    level = 0
    has_content = False
    space_content = ""
    ns_aliases = {"http://www.w3.org/XML/1998/namespace": "xml"}
    last_tag_name = ""
    start_tag_closed = True
    newline = "\n" if indent != "" else ""

    for token in tokens:
        if isinstance(token, ProcInst):
            write("<?" + token.target)
            pi = go_trim_space(token.inst)
            if pi != "":
                for attr in pi.split(" "):
                    parts = attr.split("=", 1)
                    if len(parts) == 2:
                        write(" " + parts[0] + "=" + parts[1])
                    else:
                        write(" " + parts[0])
            write("?>" + newline)
        elif isinstance(token, StartElement):
            space_content = ""
            if not start_tag_closed:
                write(">")
                start_tag_closed = True
            if level > 0:
                write(newline + indent * level)
            attrs = []
            for attr in token.attrs:
                if attr.name.space == "xmlns" and not ns_aliases.get(attr.value):
                    ns_aliases[attr.value] = attr.name.local
                if attr.name.local == "xmlns":
                    ns_aliases[attr.value] = ""
                attrs.append(
                    _token_full_name(attr.name, ns_aliases)
                    + '="'
                    + escape_text(attr.value)
                    + '"'
                )
            attrs_str = " ".join(attrs)
            if attrs_str != "":
                attrs_str = " " + attrs_str
            current = _token_full_name(token.name, ns_aliases)
            write("<" + current + attrs_str)
            last_tag_name = current
            start_tag_closed = False
            level += 1
            has_content = False
        elif isinstance(token, CharData):
            chars = token.text
            s = normalize_spaces(chars, indent, level)
            space_content = ""
            if s == "" and chars != "" and "\n" not in chars and not start_tag_closed:
                space_content = chars
            has_content = s != ""
            if has_content and not start_tag_closed:
                write(">")
                start_tag_closed = True
            if has_content and ("&" in s or "<" in s):
                s = "<![CDATA[" + s + "]]>"
            write(s)
        elif isinstance(token, Comment):
            space_content = ""
            if not start_tag_closed:
                write(">")
                start_tag_closed = True
            for index, comment_line in enumerate(token.text.split("\n")):
                if not has_content and level > 0:
                    write(newline + indent * level)
                if index == 0:
                    write("<!--")
                write(comment_line)
            write("-->")
            if level == 0:
                write(newline)
        elif isinstance(token, EndElement):
            if level > 0:
                level -= 1
            current = _token_full_name(token.name, ns_aliases)
            if not has_content:
                if last_tag_name != current:
                    if not start_tag_closed:
                        write(">")
                        start_tag_closed = True
                    write(newline + indent * level + "</" + current + ">")
                elif space_content != "":
                    write(">" + space_content + "</" + current + ">")
                    start_tag_closed = True
                else:
                    write("/>")
                    start_tag_closed = True
            else:
                write("</" + current + ">")
            space_content = ""
            has_content = False
            last_tag_name = current
            if start_tag_closed:
                last_tag_name = ""
        elif isinstance(token, Directive):
            space_content = ""
            write("<!" + token.text + ">")
            write(newline + indent * level)

    write("\n")
    return "".join(out)
