"""XML->JSON goldens — mirrors jsonutil_test.go:15-47 and cmd/root_test.go:110-217."""

import pathlib

import pytest

from xqspark.core.api import to_json
from xqspark.core.dom import parse_dom
from xqspark.core.xml2json import node_to_json
from xqspark.core.xmltok import XmlSyntaxError

FIXTURES = pathlib.Path(__file__).parent / "fixtures" / "xml2json"


@pytest.mark.parametrize(
    "src,expected,depth",
    [
        ("unformatted.xml", "formatted.json", -1),
        ("unformatted2.xml", "formatted2.json", -1),
        ("unformatted3.xml", "formatted3.json", -1),
        ("unformatted4.xml", "formatted4.json", 1),
    ],
)
def test_xml2json_golden(src, expected, depth):
    data = (FIXTURES / src).read_bytes()
    want = (FIXTURES / expected).read_bytes().decode("utf-8")
    assert to_json(data, depth=depth) == want


def test_cdata_support():
    doc = parse_dom("<root><![CDATA[1 & 2]]></root>", strict=True)
    assert node_to_json(doc, 10) == {"root": "1 & 2"}


def test_process_as_json_cases():
    # mirrors cmd/root_test.go TestProcessAsJSON
    doc = parse_dom("<root><child>value</child></root>", strict=True)
    assert node_to_json(doc, -1) == {"root": {"child": "value"}}

    doc = parse_dom("<html><body><p>text</p></body></html>", strict=True)
    assert node_to_json(doc, -1) == {"html": {"body": {"p": "text"}}}

    # the text branch: -j reaches it only on an empty read, like the reference
    assert to_json("") == '{\n  "text": ""\n}\n'

    with pytest.raises(XmlSyntaxError):
        to_json("thinking>\nI'll analyze each command and its output:\n</thinking>")

    combined = "Thank you\n<thinking>\n1. woop\n</thinking>\n\nBye."
    doc = parse_dom(combined, strict=True)
    assert node_to_json(doc, -1) == {"#text": "Thank you\nBye.", "thinking": "1. woop"}
