"""Charset handling for XML payloads.

Re-expresses the reference's getCharsetReader (internal/utils/utils.go:708-717):
documents are transcoded per the XML declaration's ``encoding=`` value, looked
up by IANA MIME name, with ``utf-16`` aliased to ``utf-8``. Output is always
UTF-8 text.

The Go decoder swaps the byte reader when it sees the xml declaration
ProcInst with a non-UTF-8 encoding (encoding/xml: rawToken's <?xml handling).
Since the declaration itself is ASCII and every ASCII-compatible charset
decodes it identically, decoding the whole byte payload up front is
equivalent — and vectorizes better (one decode per document, no streaming
reader swap).
"""

from __future__ import annotations

import codecs
import re

# Go: if strings.ToLower(charset) == "utf-16" { charset = "utf-8" } (utils.go:709-711)
# IANA MIME names that Python's codec registry doesn't alias directly.
_IANA_OVERRIDES = {
    "utf-16": "utf-8",
    "iso-8859-8-i": "iso-8859-8",
    "macintosh": "mac-roman",
    "ibm866": "cp866",
    "windows-874": "cp874",
}

# Go procInst(): finds `encoding=` then a quoted value (encoding/xml xml.go).
_RE_DECL = re.compile(rb"^(?:\xef\xbb\xbf)?[ \t\r\n]*<\?xml[ \t\r\n]", re.S)


def _proc_inst_param(param: str, s: str) -> str:
    """Go encoding/xml procInst(): lame-but-exact scan for param="value"."""
    needle = param + "="
    idx = s.find(needle)
    if idx == -1:
        return ""
    v = s[idx + len(needle):]
    if not v or v[0] not in "'\"":
        return ""
    end = v.find(v[0], 1)
    if end == -1:
        return ""
    return v[1:end]


def declared_encoding(data: bytes) -> str:
    """Return the encoding= value of a leading xml declaration, or ""."""
    if not _RE_DECL.match(data[:64]):
        return ""
    end = data.find(b"?>", 0, 1024)
    if end == -1:
        return ""
    try:
        decl = data[:end].decode("ascii", errors="replace")
    except Exception:
        return ""
    return _proc_inst_param("encoding", decl)


def lookup_codec(charset: str) -> str | None:
    """IANA MIME name -> Python codec name, or None if unknown."""
    name = charset.strip().lower()
    name = _IANA_OVERRIDES.get(name, name)
    try:
        return codecs.lookup(name).name
    except LookupError:
        return None


class CharsetError(ValueError):
    pass


def decode_payload(data: bytes) -> str:
    """Decode a document payload to text per xq's charset rules.

    - xml decl with encoding not in {utf-8, UTF-8} -> transcode by IANA name
      (unknown name -> CharsetError, like Go's CharsetReader error);
      undecodable bytes -> U+FFFD (x/text decoders' behavior).
    - otherwise UTF-8 with surrogateescape so arbitrary bytes round-trip.
    """
    enc = declared_encoding(data)
    # Go checks the exact strings "utf-8"/"UTF-8" before calling CharsetReader.
    if enc and enc not in ("utf-8", "UTF-8"):
        codec = lookup_codec(enc)
        if codec is None:
            raise CharsetError(f"unsupported charset: {enc}")
        if codec == "utf-8":
            return data.decode("utf-8", errors="replace")
        return data.decode(codec, errors="replace")
    return data.decode("utf-8", errors="surrogateescape")
