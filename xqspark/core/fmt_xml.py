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
    """Beautify an XML document. Raises XmlSyntaxError on malformed input."""
    if isinstance(data, bytes):
        text = decode_payload(data)
    else:
        text = data
    return format_xml_tokens(GoXmlTokenizer(text, strict=False).tokens(), indent)


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
