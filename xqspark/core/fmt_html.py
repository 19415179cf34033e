"""HTML beautifier — byte-identical to xq's FormatHtml.

Re-expression of internal/utils/utils.go:317-445: single pass over the
WHATWG token stream; void elements self-close with "/>", doctype lowercases
to "<!doctype ...>", text re-escaped via escapeText, forceNewLine governs
close-after-close indentation.
"""

from __future__ import annotations

from .htmltok import (
    HComment,
    HDoctype,
    HEndTag,
    HStartTag,
    HText,
    HtmlTokenizer,
)
from .textutil import VOID_TAGS, escape_text, normalize_spaces


def format_html(data: bytes | str, indent: str = "  ") -> str:
    if isinstance(data, bytes):
        data = data.decode("utf-8", errors="surrogateescape")
    out: list[str] = []
    write = out.append

    level = 0
    has_content = False
    tag_just_opened = False
    space_content = ""
    force_new_line = False
    newline = "\n" if indent != "" else ""

    for token in HtmlTokenizer(data).tokens():
        if isinstance(token, HText):
            chars = token.text
            s = normalize_spaces(chars, indent, level)
            space_content = ""
            if s == "" and chars != "" and "\n" not in chars and tag_just_opened:
                space_content = chars
            has_content = s != ""
            if has_content:
                s = escape_text(s)
            write(s)
        elif isinstance(token, HStartTag):
            if level > 0:
                write(newline + indent * level)

            self_closing = token.self_closing or token.name in VOID_TAGS

            attrs_str = ""
            if token.attrs:
                attrs_str = " " + " ".join(
                    k + '="' + escape_text(v) + '"' for k, v in token.attrs
                )

            write("<" + token.name + attrs_str)

            space_content = ""
            tag_just_opened = False
            if self_closing:
                write("/>")
            else:
                level += 1
                write(">")
                force_new_line = False
                tag_just_opened = True
        elif isinstance(token, HEndTag):
            if level > 0:
                level -= 1
            if force_new_line:
                write(newline + indent * level)
            elif space_content != "":
                write(space_content)
            write("</" + token.name + ">")
            has_content = False
            force_new_line = True
            tag_just_opened = False
            space_content = ""
        elif isinstance(token, HDoctype):
            write("<!doctype " + token.text + ">" + newline)
        elif isinstance(token, HComment):
            space_content = ""
            tag_just_opened = False
            for comment_line in token.raw.split("\n"):
                if not has_content and level > 0:
                    write(newline + indent * level)
                write(comment_line)
            if level == 0:
                write(newline)

    write("\n")
    return "".join(out)
