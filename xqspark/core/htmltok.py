"""WHATWG HTML tokenizer with golang.org/x/net/html semantics.

From-scratch re-expression of the token stream consumed by the reference's
FormatHtml (internal/utils/utils.go:318: html.NewTokenizer) and built into a
tree for CSS mode. Matches x/net/html behavior:

- tag/attr names lowercased; attr values entity-decoded in attribute mode;
  \r\n and \r converted to \n in text and attribute values
- raw-text elements (iframe noembed noframes noscript plaintext script
  style textarea title xmp): content is a single text token ending at the
  matching close tag; textarea/title are RCDATA (entities decoded), the
  rest raw
- self-closing only when the raw tag ends with "/>"
- comments carry their full raw span (FormatHtml prints Raw());
  bogus comments (<!x, <?pi, </ + non-letter) consume through the next '>'
- <!doctype ...> (case-insensitive) -> Doctype token, text after the
  keyword with leading whitespace skipped
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .entities import unescape

RAW_TEXT_TAGS = frozenset(
    (
        "iframe",
        "noembed",
        "noframes",
        "noscript",
        "plaintext",
        "script",
        "style",
        "textarea",
        "title",
        "xmp",
    )
)

_WS = " \t\n\f\r"

@dataclass(slots=True)
class HText:
    text: str  # convertNewlines'd; unescaped unless raw source
    raw: bool = False


@dataclass(slots=True)
class HStartTag:
    name: str
    attrs: list[tuple[str, str]] = field(default_factory=list)
    self_closing: bool = False


@dataclass(slots=True)
class HEndTag:
    name: str


@dataclass(slots=True)
class HComment:
    raw: str  # full raw span including delimiters
    data: str = ""


@dataclass(slots=True)
class HDoctype:
    text: str


def scan_script(s: str, n: int, pos: int) -> int:
    """Script raw text with the WHATWG escape states (x/net/html
    readScript): inside <!-- ... a nested <script> enters the
    double-escaped state where </script> does NOT terminate the
    element; --> leaves it. Returns the index where the real
    </script close tag begins (or n)."""

    def close_matches(idx: int) -> bool:
        after = idx + 8  # len("</script")
        if s[idx : idx + 8].lower() != "</script":
            return False
        # EOF-abutting '</script' stays in the text (readRawEndTag)
        return after < n and (s[after] in _WS or s[after] in "/>")

    def open_matches(idx: int) -> bool:
        after = idx + 7  # len("<script")
        if s[idx : idx + 7].lower() != "<script":
            return False
        return after < n and (s[after] in _WS or s[after] in "/>")

    i = pos
    state = "data"
    while i < n:
        c = s[i]
        if state == "data":
            if c == "<":
                if s.startswith("<!--", i):
                    state = "escaped"
                    i += 4
                    continue
                if close_matches(i):
                    return i
            i += 1
        elif state == "escaped":
            if c == "-" and s.startswith("-->", i):
                state = "data"
                i += 3
                continue
            if c == "<":
                if open_matches(i):
                    state = "double"
                    i += 7
                    continue
                if close_matches(i):
                    return i
            i += 1
        else:  # double-escaped
            if c == "-" and s.startswith("-->", i):
                state = "data"
                i += 3
                continue
            if c == "<" and close_matches(i):
                state = "escaped"
                i += 8
                continue
            i += 1
    return n


def scan_raw_end(s: str, n: int, pos: int, needle: str) -> int:
    """Index where the close tag ``needle`` (e.g. "</style") followed by
    a boundary char (whitespace, '/' or '>') begins, or n. The
    x/net/html readRawEndTag rule: an EOF-abutting '</tag' is NOT a
    close tag (stays in the text). Case-insensitive without lowering the
    buffer."""
    ln = len(needle)
    i = pos
    while True:
        i = s.find("<", i)
        if i == -1 or i + ln > n:
            return n
        if s[i : i + ln].lower() == needle:
            after = i + ln
            if after < n and (s[after] in _WS or s[after] in "/>"):
                return i
        i += 1


def read_comment(s: str, n: int, start: int):
    """(raw, data, end_pos) for a comment whose '<!--' begins at
    ``start``: abrupt closes (<!-->, <!--->), ---> extra-dash swallow,
    --!> terminators, and EOF truncation of a trailing partial
    terminator (x/net/html calculateAbruptCommentDataEnd)."""
    # abrupt-closing comments: <!--> and <!---> are empty comments
    if s.startswith(">", start + 4):
        return s[start : start + 5], "", start + 5
    if s.startswith("->", start + 4):
        return s[start : start + 6], "", start + 6
    i = start + 4
    # scan for --> or --!>
    while True:
        dash = s.find("--", i)
        if dash == -1:
            raw = s[start:n]
            data = s[start + 4 : n]
            # EOF-truncated: trim a trailing partial terminator
            # (--! then -- then -)
            if data.endswith("--!"):
                data = data[:-3]
            elif data.endswith("--"):
                data = data[:-2]
            elif data.endswith("-"):
                data = data[:-1]
            return raw, _convert_newlines(data).replace("\x00", "�"), n
        j = dash + 2
        # swallow extra dashes: ---> ends the comment too
        while j < n and s[j] == "-":
            j += 1
        if j < n and s[j] == ">":
            data = s[start + 4 : j - 2]
            return (
                s[start : j + 1],
                _convert_newlines(data).replace("\x00", "�"),
                j + 1,
            )
        if j + 1 < n and s[j] == "!" and s[j + 1] == ">":
            # the --!> terminator is the LAST two dashes + !>; extra
            # dashes before it belong to the data
            data = s[start + 4 : j - 2]
            return (
                s[start : j + 2],
                _convert_newlines(data).replace("\x00", "�"),
                j + 2,
            )
        i = dash + 1
    # unreachable


def _convert_newlines(s: str) -> str:
    if "\r" in s:
        s = s.replace("\r\n", "\n").replace("\r", "\n")
    return s


class HtmlTokenizer:
    def __init__(self, data: str):
        self.s = data
        self.pos = 0
        self.n = len(data)
        self.raw_tag = ""

    def tokens(self):
        s, n = self.s, self.n
        while self.pos < n:
            if self.raw_tag:
                tok = self._read_raw_or_rcdata()
                if tok is not None:
                    yield tok
                continue
            # scan for the next MARKUP-starting '<' (followed by a letter,
            # '/', '!' or '?'); a bare '<' stays inside ONE text token like
            # x/net/html's reconsume (splitting would let normalize_spaces
            # strip interior whitespace in the formatter)
            start = self.pos
            lt = start
            while True:
                lt = s.find("<", lt)
                if lt == -1 or lt + 1 >= n:
                    lt = -1
                    break
                c = s[lt + 1]
                if (c.isascii() and c.isalpha()) or c in "/!?":
                    break
                lt += 1
            if lt == -1:
                yield self._text_token(s[start:n], False)
                self.pos = n
                break
            if lt > start:
                yield self._text_token(s[start:lt], False)
            self.pos = lt
            c = s[self.pos + 1]
            if c.isascii() and c.isalpha():
                tok = self._read_start_tag()
                if tok is None:
                    return  # EOF inside tag
                yield tok
            elif c == "/":
                if self.pos + 2 >= n:
                    yield self._text_token("</", False)
                    self.pos = n
                    break
                c2 = s[self.pos + 2]
                if c2.isascii() and c2.isalpha():
                    tok = self._read_end_tag()
                    if tok is None:
                        return
                    yield tok
                elif c2 == ">":
                    self.pos += 3  # "</>" produces no token
                else:
                    yield self._read_bogus_comment(self.pos)
            elif c == "!":
                tok = self._read_markup_declaration()
                if tok is None:
                    return
                yield tok
            elif c == "?":
                yield self._read_bogus_comment(self.pos, data_from=1)

    # ---- helpers ----

    def _text_token(self, raw: str, is_raw: bool) -> HText:
        text = _convert_newlines(raw)
        if not is_raw:
            text = unescape(text)
        return HText(text, raw=is_raw)

    def _read_raw_or_rcdata(self):
        """Text inside a raw-text element, up to its matching close tag."""
        s, n = self.s, self.n
        tag = self.raw_tag
        if tag == "plaintext":
            text = s[self.pos:n]
            self.pos = n
            self.raw_tag = ""
            if not text:
                return None
            text = _convert_newlines(text).replace("\x00", "�")
            return HText(text, raw=True)
        if tag == "script":
            end = close_start = scan_script(s, n, self.pos)
        else:
            # EOF right after '</tag' is NOT a close tag (x/net/html
            # readRawEndTag returns false at EOF: the text keeps it)
            end = close_start = scan_raw_end(s, n, self.pos, "</" + tag)
        raw_content = s[self.pos:end]
        self.pos = close_start
        self.raw_tag = ""
        if not raw_content:
            return None
        is_raw = tag not in ("textarea", "title")
        text = _convert_newlines(raw_content)
        if "\x00" in text:
            # raw/RCDATA NULs become U+FFFD (x/net/html convertNUL)
            text = text.replace("\x00", "�")
        if not is_raw:
            text = unescape(text)
        return HText(text, raw=is_raw)

    def _read_start_tag(self):
        s, n = self.s, self.n
        start = self.pos
        self.pos += 1  # consume '<'
        name = self._read_tag_name()
        attrs: list[tuple[str, str]] = []
        self._skip_ws()
        closed = False
        while self.pos < n:
            c = s[self.pos]
            if c == ">":
                self.pos += 1
                closed = True
                break
            key, val = self._read_attr()
            if key:
                attrs.append((key, val))
            self._skip_ws()
        if not closed:
            return None  # EOF inside tag -> ErrorToken in x/net/html
        raw = s[start:self.pos]
        self_closing = raw.endswith("/>")
        if name in RAW_TEXT_TAGS:
            # set regardless of self-closing (x/net/html readStartTag)
            self.raw_tag = name
        return HStartTag(name, attrs, self_closing)

    def _read_end_tag(self):
        s, n = self.s, self.n
        self.pos += 2  # consume '</'
        name = self._read_tag_name()
        # end-tag "attributes" are parsed quote-aware and discarded
        # (x/net/html readTag(saveAttr=false)): a '>' inside a quoted
        # value does not end the tag
        self._skip_ws()
        while self.pos < n:
            c = s[self.pos]
            if c == ">":
                self.pos += 1
                return HEndTag(name)
            self._read_attr()
            self._skip_ws()
        return None

    def _read_tag_name(self) -> str:
        s, n = self.s, self.n
        start = self.pos
        while self.pos < n:
            c = s[self.pos]
            if c in _WS or c in "/>":
                break
            self.pos += 1
        return s[start:self.pos].lower()

    def _skip_ws(self) -> None:
        s, n = self.s, self.n
        while self.pos < n and s[self.pos] in _WS:
            self.pos += 1

    def _read_attr(self) -> tuple[str, str]:
        s, n = self.s, self.n
        # key (x/net/html readTagAttrKey: '=' as first char is part of key)
        start = self.pos
        while self.pos < n:
            c = s[self.pos]
            if c in _WS or c == "/":
                key_end = self.pos
                self.pos += 1
                break
            if c == "=" and self.pos > start:
                key_end = self.pos
                break
            if c == ">":
                key_end = self.pos
                break
            self.pos += 1
        else:
            key_end = self.pos
        key = s[start:key_end].lower()
        # value
        self._skip_ws()
        if self.pos >= n or s[self.pos] != "=":
            return key, ""
        self.pos += 1
        self._skip_ws()
        if self.pos >= n:
            return key, ""
        quote = s[self.pos]
        if quote in "\"'":
            self.pos += 1
            end = s.find(quote, self.pos)
            if end == -1:
                end = n
                raw_val = s[self.pos:end]
                self.pos = n
            else:
                raw_val = s[self.pos:end]
                self.pos = end + 1
        else:
            vstart = self.pos
            while self.pos < n and s[self.pos] not in _WS and s[self.pos] != ">":
                self.pos += 1
            raw_val = s[vstart:self.pos]
        return key, unescape(_convert_newlines(raw_val), in_attr=True)

    def _read_bogus_comment(self, start: int, data_from: int = 2) -> HComment:
        """data_from: offset of the first data char relative to start.
        '<?' RECONSUMES the '?' (WHATWG bogus-comment entry), so its data
        starts at +1; '</x' and '<!x' start at +2."""
        s, n = self.s, self.n
        end = s.find(">", start)
        if end == -1:
            raw = s[start:n]
            data = raw[data_from:]
            self.pos = n
        else:
            raw = s[start : end + 1]
            data = s[start + data_from : end]
            self.pos = end + 1
        return HComment(raw, _convert_newlines(data).replace("\x00", "�"))

    def _read_markup_declaration(self):
        s, n = self.s, self.n
        start = self.pos
        if s.startswith("<!--", start):
            raw, data, self.pos = read_comment(s, n, start)
            return HComment(raw, data)
        if s[start + 2 : start + 9].lower() == "doctype":
            return self._read_doctype(start)
        return self._read_bogus_comment(start)

    def _read_doctype(self, start: int):
        s, n = self.s, self.n
        i = start + 9  # after "<!doctype"
        while i < n and s[i] in _WS:
            i += 1
        end = s.find(">", i)
        if end == -1:
            text = s[i:n]
            self.pos = n
        else:
            text = s[i:end]
            self.pos = end + 1
        return HDoctype(_convert_newlines(text))
