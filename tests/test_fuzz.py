"""Property-based fuzzing (hypothesis): the engine must never crash with
anything but its typed errors, and structural invariants must hold."""

import re
import string

import pytest
from hypothesis import given, settings, strategies as st

from xqspark.core.api import beautify, css_query, xpath_query
from xqspark.core.detect import detect_format
from xqspark.core.fmt_html import format_html
from xqspark.core.fmt_json import JsonSyntaxError, format_json
from xqspark.core.fmt_xml import format_xml
from xqspark.core.htmltree import parse_html
from xqspark.core.xmltok import XmlSyntaxError

# building blocks for XML-ish soup
_tag = st.sampled_from(["a", "b", "item", "ns:x", "p"])
_text = st.text(alphabet=string.ascii_letters + " &<>'\"\n\t;#", max_size=20)


@st.composite
def xml_soup(draw, depth=0):
    if depth > 3:
        return draw(_text)
    parts = draw(
        st.lists(
            st.one_of(
                _text,
                st.builds(lambda t, inner: f"<{t}>{inner}</{t}>", _tag,
                          xml_soup(depth=depth + 1)),
                st.builds(lambda t: f"<{t}/>", _tag),
                st.builds(lambda c: f"<!--{c}-->", st.text(string.ascii_letters, max_size=8)),
            ),
            max_size=4,
        )
    )
    return "".join(parts)


@settings(max_examples=150, deadline=None)
@given(xml_soup())
def test_format_xml_total(doc):
    try:
        out = format_xml(doc)
        assert out.endswith("\n")
    except XmlSyntaxError:
        pass  # typed rejection is fine; crashes are not


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=60))
def test_format_xml_arbitrary_text(doc):
    try:
        format_xml(doc)
    except XmlSyntaxError:
        pass


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=80))
def test_format_html_never_raises(doc):
    out = format_html(doc)
    assert out.endswith("\n")


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=80))
def test_html_tree_never_raises(doc):
    root = parse_html(doc)
    assert root.type == "document"


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=40))
def test_format_json_total(doc):
    try:
        format_json(doc)
    except JsonSyntaxError:
        pass


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=60))
def test_detect_total(data):
    assert detect_format(data) in ("xml", "html", "json", "text")


@settings(max_examples=60, deadline=None)
@given(xml_soup())
def test_xpath_total(doc):
    try:
        xpath_query(doc, "//a | //item")
    except XmlSyntaxError:
        pass


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=60))
def test_css_total(doc):
    out = css_query(doc, "p, a.cls > b:first-child")
    assert isinstance(out, str)


def test_comment_only_element_quirk():
    """Faithful xq quirk: Comment tokens do not reset lastTagName
    (utils.go:150-170 never touches it), so a comment-only element
    collapses to `/>` AFTER its comment — producing non-well-formed
    output, exactly as the reference does."""
    assert format_xml("<a><!--c--></a>") == "<a>\n  <!--c-->/>\n"


@settings(max_examples=100, deadline=None)
@given(xml_soup())
def test_xml_format_reparses(doc):
    """Well-formedness: format_xml output must itself tokenize cleanly
    (except for the comment-only-element quirk above, and numeric char
    refs to control chars: Go validates raw input bytes BEFORE entity
    decoding, so &#8; decodes to a literal \\x08 in the output which is
    then rejected on reparse — faithful to the reference)."""
    if "<!--" in doc or "&#" in doc:
        return
    try:
        out = format_xml(doc)
    except XmlSyntaxError:
        return
    format_xml(out)  # must not raise


_HTML_FMT_FRAGS = [
    '<div>', '</div>', '<p>', '</p>', '<p class="x">', 'text', ' ', '\n  ',
    '<b>', '</b>', '<i>', '</i>', '<a href="u">', '</a>', '<br>', '<hr/>',
    '<li>', '</li>', '<ul>', '</ul>', '<h1>', '</h1>', '<img src="i.png">',
    '<!doctype html>', '<!DOCTYPE HTML >', '<html lang="en">', '<head>',
    '</head>', '<body class="b">', '</body>', '</html>', '<title>T</title>',
    '<meta charset="u">', '<style>.c{}</style>',
    '<script>var a=1;</script>', '<script><!-- x --></script>',
    '<script><!-- <script>nested</script> --></script>',
    '<textarea>\nv</textarea>', '<pre>\nk</pre>', '<!--c-->', '<!-- a-b -->',
    '<!-->', '<!--->', '<!----->', '<!-- x --!>', '<!-- \r\n -->',
    '<!--unterminated', '<table>', '</table>', '<td>', '</td>', '<tr>',
    '</tr>', '<select>', '<option>o', '</select>', '<form a="f">', '</form>',
    '<button>x', '</br>', '<br/>', '<title>a&amp;b</title>',
    '<textarea>x&lt;y</textarea>', '<dd>', '<dt>', '<nobr>',
    '<b><i>x</b>y</i>', '&amp;', '&bad', '&lt;tag&gt;', "<div a='sq'>",
    '<input disabled>', '<DIV CLASS="UP">', '</DIV>',
    '<noscript><link></noscript>', '<iframe>raw</iframe>', '<?pi?>',
    '<!bogus>', '</>', '<', 'x < y', '<?xml version="1.0"?>', '<?php echo',
    '<?>', '<div  a="1"\tb="2">', '<p>one<p>two', '\r\n', '\x00', 'a&#0;b',
    '&#65;', '<xmp>raw</xmp>', '<script>s', '<title>t',
    '<plaintext>rest</plaintext>x', '<a b=c>', '<a b = "c">', '<a b>',
    '<a b="">', '<a b="x&y">', "<a b='&amp;'>", '<a b=c&d>', '  \n ',
    'word ', ' tail', 'mid  dle', '\n\n', 'a\rb', '<span a="v1" a="v2">',
    '</b >', '</b x>', '</tag', '<t', '<em>&nbsp;</em>', '<u>', '</u>',
    'ünïcode', 'a>b', '"q"', "'s'", '<script src="s.js"></script>',
    '<style>@media x{a{b:c}}</style>', '<svg>', '</svg>',
    '<video controls>', '</video>',
    # attr shapes: ws around '=', '= >' (empty unquoted), '=='
    '<a b = c>', '<a b =c>', '<a b= "c">', '<a b = >', '<a b=c d>',
    '<a b c>', '<a b == c>', '<a b="x" c = \'y\' d=z e>',
    '<input type = "text" value= ok>',
    # unquoted values ending '/': raw-end "/>"  makes the tag
    # SELF-CLOSING with the '/' kept in the value
    '<a foo=bar/>x</a>', '<div id=x/>t</div>', '<a href=/path/>link</a>',
    '<a b=c/ >x', '<script src=/s.js/></script>', '<a foo="x/">',
]


_HTML_TREE_FRAGS = [
    '<div>', '</div>', '<p>', '</p>', '<p class="x">', 'text', ' ',
    '\n  ', '<b>', '</b>', '<i>', '</i>', '<a href="u">', '</a>',
    '<span id="s">', '</span>', '<br>', '<hr/>', '<li>', '</li>',
    '<ul>', '</ul>', '<h1>', '</h1>', '<h2>', '<img src="i.png">',
    '<!doctype html>', '<html lang="en">', '<head>', '</head>',
    '<body class="b">', '</body>', '</html>', '<title>T</title>',
    '<meta charset="u">', '<link rel="x">', '<style>.c{}</style>',
    '<script>var a=1;</script>', '<script><!-- x --></script>',
    '<textarea>\nv</textarea>', '<pre>\nk</pre>', '<!--c-->',
    '<!-- a-b -->', '<table>', '</table>', '<td>', '</td>', '<tr>',
    '</tr>', '<th>', '<tbody>', '</tbody>', '<thead>', '<tfoot>',
    '<caption>', '</caption>', '<colgroup>', '<col>', '</colgroup>',
    '<table><tr><td>cell</td></tr></table>',
    '<table><td>implied</table>',
    '<table><tbody><tr><th>h</th><td>d</td></tr></tbody></table>',
    '<table><tr><td><b>deep</td><td>next',
    '<table><tr><td><table><tr><td>in</td></tr></table></td></tr></table>',
    '<table>loose text</table>', '<table><div>fostered</div></table>',
    '<table> \n <tr><td>ws-ok', '<td>stray-td</td>',
    '<p><table><tr><td>qp', '<table><col span="2">',
    '<b><table><tr><td>out</td></tr></table></b>',
    '<select>', '<option>o', '</select>', '<form>', '</form>',
    '<option>', '</option>', '<optgroup>', '</optgroup>',
    '<select><option>a<option>b</select>',
    '<select><div>ig<option>a</select>', '<select><input>',
    '<select><b>f</b><option>a</select>', '<select><select>',
    '<select><optgroup><option>a<optgroup><option>b</select>',
    '<table><tr><td><select><option>x<td>brk',
    '<select><script>s</script><option>q</select>',
    '<select><textarea>t</textarea>', '<select></table>',
    '<select><title>raw</title>x</select>', '<select></br></select>',
    '<form a="f"><input disabled></form>', '<form><form>n</form></form>',
    '<form><div>x</form>y</div>', '<image src="i">', '</image>',
    '<table><form><tr><td>tf', '<form><b>x</form>',
    '<button>', '</button>', '<button>x<button>y</button>', '</br>',
    '<br/>', '<title>a&amp;b</title>', '<textarea>x&lt;y</textarea>',
    '<listing>\nx</listing>', '<table></br>', '<p></br></p>',
    '<dd>', '<dt>', '<nobr>', '<b><i>x</b>y</i>', '&amp;', '&bad',
    '&lt;tag&gt;', '<div a=\'sq\'>', '<input disabled>',
    '<DIV CLASS="UP">', '</DIV>', '<noscript><link></noscript>',
    '<iframe>raw</iframe>', '<?pi?>', '<!bogus>', '</>', '<',
    '<?xml version="1.0"?>', '<?php echo', '<?>',
    '<applet>', '</applet>', '<marquee>x</marquee>', '<object a="o">',
    '</object>', '<applet><b>f</applet>after', '<marquee><p>m',
    '<table><applet>', '<b><marquee>x</marquee></b>', '<applet><td>',
    '<template>', '</template>', '<template><div>x</div></template>y',
    '<b><template>x</template></b>', '<table><template><tr><td>t</template>',
    '<select><template><option>o</template></select>',
    '<template><b>f</template>after',
    'x < y', '<em>', '</em>', '<button>', '<svg>', '</svg>',
    '<div  a="1"\tb="2">', '<p>one<p>two', '<td a="v">', '\r\n',
    '<h3>', '</h3>', '</li>', '</ul>', '</p>', '</b>', '</a>',
    '<b><b>', '</b></b>', '<a href="1">x</a><a href="2">y</a>',
    '<head></head> <meta a="1">', '<p><b>x<div>y</div>', '<wbr>',
    '</head><title>late</title>', '<xmp>raw</xmp>', '<script>s',
    '<title>t', '\x00', 'a&#0;b', '&#65;', '<body>', '<body a="1">',
    '<html b="2">', '</body><div>after</div>', '<caption><b>x</caption>',
    '<h1><b>x</b></h1><h2>', '<p a="">', '<div a="1" a="2">',
    '<table><thead><tr><th>h', '<table><tr><td><i>x</i></td><td><i>y',
    '<table><colgroup><col></colgroup><tr><td>c',
    # foster-parented text in table context
    '<table>stray<tr><td>y', '<table><tr>in-row-text<td>c',
    '<table><tbody>mid-tbody</tbody></table>',
    '<table>a<td>b</td>c</table>', 'before<table>x</table>after',
    '<table>one<tr>two<td>cell</td>three</tr>four</table>',
    '<table>x<!--c--><tr><td>y', '<table>t1</table><table>t2</table>',
    '<table><tr><td><table>inner-loose</table>',
    '<div>pre<table>fost</table>post</div>',
    '<table>&amp;ent<tr><td>e',
    # foster-parented void elements
    '<table><img src="i.png"><tr><td>x', '<table><tr><br><td>c',
    '<table><input>', '<table><tr><td>a</td></tr><wbr></table>',
    '<table><hr><tr><td>h', '<table><tbody><img></tbody>z</table>',
    '<p><table><br></table>', '<b><table><img></table></b>',
    '<table>mix<br>text<tr><td>y', '<table><meta charset="u"><td>m',
    # foster-parented pushed elements (div/span/p/form/fmt/raw)
    '<table><div>in-div</div><tr><td>x', '<table><span>s</span></table>',
    '<table><div><tr><td>clears-div', '<table><p>par<tr><td>p',
    '<table><div>open-div</table>after', '<table><b>fmt</b><tr><td>f',
    '<table><b>unclosed<tr><td>f', '<table><form><input></form><td>fo',
    '<table><script>var x=1;</script><tr><td>s',
    '<table><textarea>tx</textarea><td>t', '<table><title>ti</title>',
    '<table><div>a<div>b</div>c</div><td>nested',
    '<table><tbody><div>d</div><tr><td>tb',
    '<table><tr><div>rowdiv</div><td>rd',
    '<table><ul><li>item</ul><tr><td>u', '<table><select><option>o',
    '<table><h2>head</h2><td>h', '<div><table><div>both</div></table></div>',
    # marker elements in tables, </br>/</p> foster, NUL strip,
    # script <!-- without nested opener, <!x bogus comments
    '<table><applet>a</applet><td>z', '<table><marquee>m</marquee></table>',
    '<table><object a="o">o</object><tr><td>q', '<table></br><td>x',
    '<table></p><td>y', '<td></p>cell', 'nul\x00mid', '\x00\x00',
    'pre&#0;post', '<script><!-- plain --></script>',
    '<script><!-- <b>not-opener</b> --></script>x',
    '<script><!-- <script>nested</script> -->tail</script>',
    '<!x bogus>', '<!doctypo y>', '<! >', '<div><!junk>t</div>',
    '<!no-close', '<!x\x00y>',
    # plaintext (raw-to-EOF), nobr
    '<plaintext>rest <b>raw</b> &amp; x', '<p>x<plaintext>y</plaintext>z',
    '<plaintext>', '<nobr>n</nobr>', '<nobr>a<b>c</b></nobr>',
    '<table><plaintext>pt', '<div><nobr>solo</nobr></div>',
    # active-formatting reconstruction, simple adoption-agency ends
    '<p><b>head<p>body continues', '<p><b><i>two<p>strands',
    '<li><b>item<li>next', '<b><i>x</b>after</i>',
    '<b><em>y</b>z', '<h1><b>h<h2>next', '<button><b>b<button>c',
    '<td><b>cell<td>next-cell', '<p><b>x</body><div>tail',
    '<b>x</body>more', '<p><i>q<dd>r<dt>s',
    '<b><b>dup</b>once</b>twice', '<p><nobr>n<p>m',
    '<table><b>f<tr><td>cell</td></tr></table>after',
    '<b>a</p>b', '<i>x<ul><li>y</ul>z',
    # full adoption agency (furthest block), <a> readoption,
    # Noah's Ark eviction, nested nobr
    '<b><div>fb</b>after</div>', '<i><p>par</i>more</p>',
    '<b><i><div>deep</b>x</i>y</div>', '<em><ul><li>l</em>m',
    '<a href="1">one<a href="2">two</a>', '<a>x<div><a>y</a></div>',
    '<b><b><b><b>ark</b>', '<nobr><nobr>nn</nobr>',
    '<b><p>one</b><p>two', '<strong><table><tr><td>c</strong>d',
    '<a><b>ab<a>cd', '<i><b><div>x</i></b>',
    '<b><span><div>s</b>t', '<font color="r"><div>f</font>g',
    # script escape states
    '<script><!-- <script>inner</script> --></script>after',
    '<script><!-- <script>never-closes --></script>tail',
    '<script><!-- no close at all', '<script>a<!--b--></script>c',
    '<script><!-- </script>esc-close -->x',
    # RCDATA over stranded formatting (reconstructs into the element)
    '<b>x</p><title>strand-title</title>after',
    '<b>y</p><textarea>strand-ta</textarea>tail',
    '<p><b><i>two</p><textarea>\nnl-ta</textarea>z',
    '<b>q</p><title>t1</title><title>t2</title>',
    # frameset (a plain special element); comments with abrupt
    # closes, --!>, ---> extra dashes, EOF truncation
    '<frameset>', '<frame>', '<frameset><frame></frameset>',
    '<!-->', '<!--->', '<!--a--b-->', '<!--c--!>after',
    '<!--d---->', '<!--trail-', '<!--e--', '<!--f--!',
]


def test_html_frag_soups_total():
    """Random soups over both fragment lists (every construct the tree
    builder and formatter special-case: misnesting, tables, selects,
    raw text, comments, attr shapes, entities, CR/NUL) parse, serialize
    and format without raising, at both indents."""
    import random

    from xqspark.core.fmt_html import format_html
    from xqspark.core.htmltree import parse_html, serialize_html

    random.seed(4242)
    for frags in (_HTML_TREE_FRAGS, _HTML_FMT_FRAGS):
        for _ in range(2000):
            doc = "".join(random.choice(frags) for _ in range(random.randint(1, 14)))
            serialize_html(parse_html(doc))
            format_html(doc, "  ")
            format_html(doc, "")


_xmlish = st.text(
    alphabet=string.ascii_letters + " <>/=\"'&;#!?-.[]\n\t\r\x0b]" + "é\x85",
    max_size=80,
)


def _tree_first_text(doc, query):
    """-e output of the tree route: parse_dom -> select()[0] ->
    _print_node_content, with the error text on a syntax error."""
    from xqspark.core.api import _print_node_content
    from xqspark.core.dom import parse_dom
    from xqspark.core.xpath import compile_xpath

    try:
        nodes = compile_xpath(query).select(parse_dom(doc))
    except XmlSyntaxError as e:
        return None, str(e)
    return (_print_node_content(nodes[0], False, "  ") if nodes else ""), None


def _projected_first_text(doc, query):
    try:
        return xpath_query(doc, query, single_node=True), None
    except XmlSyntaxError as e:
        return None, str(e)


_PROJECTED_FRAGS = [
    '<t>', '</t>', '<t/>', '<t a="1">', '<t >', '</t >', '<a>', '</a>',
    '<b x="y">', '</b>', 'x', ' y ', '\n', '\t', '<t><t>x</t>y</t>',
    '<a><t>in</t></a>', '<!--<t>c</t>-->', '<![CDATA[<t>z</t>]]>',
    '<t><![CDATA[cd]]></t>', '<e:t>', '</e:t>', '<t xmlns="u">',
    '<a xmlns:e="v">', '&amp;', '&lt;', '&gt;', '&quot;', '&apos;',
    '&amp;lt;', '&bad;', '&#65;', ']]>', ']]&gt;', '\r', '\r\n', '\x01',
    '<!DOCTYPE r>', '<?pi x?>', '<?xml version="1.0"?>', '<?pi',
    '<!--c-->', '<', '</', '<t', 'ü', '\x85',
    '<d y="v w">', '</d>', '<h i="a&quot;b">', '</h>', 'x&#65;y',
    '<m a="1" b="2">', '</m>', '<p q="tab\there">', '</p>', '<k >',
    '</k>', '-->', '<!--a-b-->', '<n><n>', '</n></n>', '&bad',
]


def test_projected_first_text_differential():
    """-e '//name' runs one token scan that builds no tree; it must print
    exactly what the tree route prints (output AND error text), including
    after a match that a malformed tail must still turn into an error."""
    import random

    random.seed(2024)
    for _ in range(4000):
        doc = "".join(
            random.choice(_PROJECTED_FRAGS) for _ in range(random.randint(1, 10))
        )
        for query in ("//t", "//a"):
            assert _projected_first_text(doc, query) == _tree_first_text(
                doc, query
            ), (query, repr(doc))
        # a truncated document (the bench feeds' ~1% damage)
        cut = doc[: random.randint(0, len(doc))]
        assert _projected_first_text(cut, "//t") == _tree_first_text(cut, "//t"), repr(cut)


# every character of _DOM_TEXT_BAD's class, plus ']]>': the page-level
# gate (a byte deletion over the page's UTF-8 form) must fire wherever
# the regex would, on ASCII pages and on pages with other characters
_GATE_BAD = [chr(c) for c in (*range(0x00, 0x09), *range(0x0B, 0x20))] + ["]]>"]


@pytest.mark.parametrize(
    "bad", _GATE_BAD, ids=[b if len(b) > 1 else f"{ord(b):#04x}" for b in _GATE_BAD]
)
def test_projected_first_text_bad_text_gate(bad):
    """The scan skips its per-run bad-text check on pages the gate clears,
    so each bad character (and ']]>') is placed in every token kind that
    can hold it: text before, inside and after the match, a comment, a
    PI and an attribute value, on an ASCII page and on one with non-ASCII
    text. The scan must print what the tree route prints for each."""
    docs = [
        f"<r>a{bad}b<t>x</t></r>",
        f"<r><t>x{bad}y</t></r>",
        f"<r><t>x<b>{bad}</b></t></r>",
        f"<r><t>x</t>a{bad}b</r>",
        f"<r><t>x</t><!--c{bad}d--></r>",
        f"<r><!--c{bad}d--><t>x</t></r>",
        f"<r><t>x</t><?pi a{bad}b?></r>",
        f'<r><t a="v{bad}w">x</t></r>',
        f'<r><b a="v{bad}w"/><t>x</t></r>',
    ]
    docs += [d.replace("<r>", "<r>\u00e9\u4e2d", 1) for d in docs]
    for doc in docs:
        for d in (doc, doc.encode()):
            assert _projected_first_text(d, "//t") == _tree_first_text(d, "//t"), repr(doc)


@given(
    st.one_of(_xmlish, st.lists(st.sampled_from(_PROJECTED_FRAGS), max_size=12).map("".join)),
    st.sampled_from(["//a", "//t", "//x"]),
)
@settings(max_examples=400, deadline=None)
def test_projected_first_text_hypothesis(doc, query):
    assert _projected_first_text(doc, query) == _tree_first_text(doc, query)


def test_projected_first_text_fixed_values():
    """Expected values written out by hand, so a defect shared by the
    scan and the tree route still fails (the benchmark's own check
    compares the pipeline against direct xpath_query calls)."""
    feed = (
        b'<?xml version="1.0" encoding="utf-8"?>\n<rss version="2.0"><channel>'
        b"<title> Salt &amp; Pepper &lt;3 </title><!-- <title>no</title> -->"
        b'<item id="0"><title>second</title></item></channel></rss>'
    )
    cases = [
        (feed, "Salt & Pepper <3\n"),
        (b"<r><title>a&amp;lt;b</title></r>", "a&lt;b\n"),
        (b"<r><title>&quot;q&apos; &gt;</title></r>", "\"q' >\n"),
        (b"<r><title><b>x</b><!--c-->y<?p i?>z</title></r>", "xyz\n"),
        (b"<r><title><title>in</title>out</title></r>", "inout\n"),
        (b"<r><title/><title>later</title></r>", "\n"),
        (b"<r><head>none</head></r>", ""),
        (b"<r><title>A</title><e:title>B</e:title></r>", "A\n"),
    ]
    for doc, want in cases:
        assert xpath_query(doc, "//title", single_node=True) == want, doc
    # the match is early; the malformed tail still errors
    for doc, err in (
        (b"<r><title>t</title><x>", "unexpected EOF"),
        (b"<r><title>t</title></r><", "unexpected EOF"),
        (b'<r><title>t</title><x a="<"/></r>', "unescaped < inside quoted string"),
        (b"<r><title>t</title>\x01</r>", "illegal character code U+0001"),
    ):
        with pytest.raises(XmlSyntaxError, match=re.escape(err)):
            xpath_query(doc, "//title", single_node=True)


def test_projected_first_text_bench_pages(tmp_path):
    """Every page of a generated xml_title_small input (1-3 KB feeds,
    title entities, truncation, invalid bytes) prints the same through
    the scan as through the tree route."""
    import pathlib
    import sys

    sys.path.insert(0, str(pathlib.Path(__file__).parent.parent))
    from perfbench.gen import generate

    info = generate("xml_title_small", 7, 3000, str(tmp_path))
    pages = [h for h in info["html"] if h is not None]
    outs = [_projected_first_text(h, "//title") for h in pages]
    assert outs == [_tree_first_text(h, "//title") for h in pages]
    assert sum(o[1] is not None for o in outs) > 0  # damaged pages error
    assert sum("&" in (o[0] or "") for o in outs) > 0  # title entities decode



# pages whose match settles early and whose tail expat refuses while the
# scan's loop accepts it: the C tail check says no, and the same loop
# goes on from where it stopped
_TAIL_REFUSED = [
    "<r><t>x</t></r><r/>",  # a second root
    "<r><t>x</t></r>tail",  # text after the root
    "<r><t>x</t><!--a--b--></r>",  # '--' inside a comment
    "<r><t>x</t><?pi!x?></r>",  # no space after the PI target
    '<r><t>x</t><b c="1" c="2"/></r>',  # a duplicate attribute
    "<r><t>x</t></r><!DOCTYPE r>",  # a doctype after the root
]
# whole elements: the scan's loop accepts only the first two; expat also
# accepts the namespace binding and the CR, which the C tail check must
# therefore never see (the page gate and the "xmlns" test keep them out)
_TAIL_WELL_FORMED = ['<b>y</b>', '<c d="e"/>', '<a xmlns="u"/>', '<b>\r\n</b>', '<b>]]></b>']
# tail constructs expat accepts that the C tail check must refuse before
# expat runs (the scan's loop refuses them, or, for '<' in a comment, the
# guard is stricter than the loop), and a PI target both accept
_TAIL_FORBIDDEN = [
    "<e b='c'/>",  # a single-quoted value
    '<e b = "c"/>',  # '=' with spaces around it
    '<e xml:lang="en"/>',  # a colon in an attribute name
    "<\u00e9/>",  # a non-ASCII element name
    "<x:y/>",  # a colon in an element name
    "&#65;",  # character references in text
    "&#x41;",
    '<e a="&amp;"/>',  # a reference in an attribute value
    '<e a="&#65;"/>',
    "<?p\u00e9 x?>",  # a non-ASCII PI target: the loop skips it too
    "<!-- a < b -->",  # '<' inside a comment
]


def _count_tail(monkeypatch):
    """Wrap dom._tail_accepts; the returned Counter counts its answers."""
    from collections import Counter

    from xqspark.core import dom

    seen = Counter()
    real = dom._tail_accepts

    def counted(s, pos, b):
        ok = real(s, pos, b)
        seen[ok] += 1
        return ok

    monkeypatch.setattr(dom, "_tail_accepts", counted)
    return seen


def test_projected_first_text_tail_resumes(monkeypatch):
    """The C tail check accepts a well-formed tail; on each refused tail
    the loop resumes and still prints what the tree route prints."""
    from xqspark.core.dom import _first_text_fast

    seen = _count_tail(monkeypatch)
    for doc in _TAIL_REFUSED:
        assert _first_text_fast(doc, "t") == "x", doc  # the loop accepted it
        assert _projected_first_text(doc, "//t") == _tree_first_text(doc, "//t"), doc
    assert seen == {False: 2 * len(_TAIL_REFUSED)}
    for doc in ("<r><t>x</t><b/>y</r>", '<r><t/><b c="1">&amp;</b><?pi x?><!--c--></r>'):
        assert _projected_first_text(doc, "//t") == _tree_first_text(doc, "//t"), doc
    assert seen[True] == 2
    # rejected by both checks: the loop raises and the tree route answers
    for doc in ("<r><t>x</t><a></b></r>", "<r><t>x</t><a>", "<r><t>x</t>&#65;</r>"):
        assert _projected_first_text(doc, "//t") == _tree_first_text(doc, "//t"), doc
    assert seen[True] == 2


def _scan_outcome(doc, name):
    """_first_text_fast's answer, with _DomFallback standing for a raise."""
    from xqspark.core.dom import _DomFallback, _first_text_fast

    try:
        return _first_text_fast(doc, name)
    except _DomFallback:
        return _DomFallback


def test_projected_first_text_tail_differential(monkeypatch):
    """Random soups over the fragment lists, each after a settled match:
    the scan with its C tail check answers (text or fallback) what the
    scan's loop alone answers, prints what the tree route prints, and both
    outcomes of the check occur. Mutations of _tail_accepts this catches:
    no '&#' test, single quotes allowed in the guard's start-tag shape."""
    import random

    from xqspark.core import dom

    seen = _count_tail(monkeypatch)
    counted = dom._tail_accepts
    random.seed(1717)
    frags = _PROJECTED_FRAGS + _TAIL_REFUSED + _TAIL_WELL_FORMED + _TAIL_FORBIDDEN
    # half the soups hold only fragments expat accepts, so that the guard,
    # not expat, is what stands between a forbidden construct and True
    clean = _TAIL_WELL_FORMED[:2] + _TAIL_FORBIDDEN
    for i in range(4000):
        pool = clean if i % 2 else frags
        tail = "".join(random.choice(pool) for _ in range(random.randint(1, 6)))
        doc = "<r><t>x</t>" + tail + random.choice(["</r>", ""])
        monkeypatch.setattr(dom, "_tail_accepts", lambda s, pos, b: False)
        loop_only = _scan_outcome(doc, "t")
        monkeypatch.setattr(dom, "_tail_accepts", counted)
        assert _scan_outcome(doc, "t") == loop_only, repr(doc)
        assert _projected_first_text(doc, "//t") == _tree_first_text(doc, "//t"), repr(doc)
    assert seen[True] > 100 and seen[False] > 100, seen


def test_projected_tail_guard_forbidden(monkeypatch):
    """Each _TAIL_FORBIDDEN fragment after a settled match: expat accepts
    the page, so the guard and the '&#' test alone keep the check from
    answering True where the scan's loop refuses; the scan answers what
    its loop alone answers and prints what the tree route prints."""
    from pyexpat import ParserCreate

    from xqspark.core import dom

    seen = _count_tail(monkeypatch)
    counted = dom._tail_accepts
    for frag in _TAIL_FORBIDDEN:
        doc = f"<r><t>x</t>{frag}</r>"
        ParserCreate("utf-8").Parse(doc.encode(), True)  # well-formed
        monkeypatch.setattr(dom, "_tail_accepts", lambda s, pos, b: False)
        loop_only = _scan_outcome(doc, "t")
        monkeypatch.setattr(dom, "_tail_accepts", counted)
        assert _scan_outcome(doc, "t") == loop_only, frag
        assert _projected_first_text(doc, "//t") == _tree_first_text(doc, "//t"), frag
    # only the PI target passes the guard; the rest are refused before
    # expat (each page is scanned twice: directly, then through xpath_query)
    assert seen == {False: 2 * (len(_TAIL_FORBIDDEN) - 1), True: 2}, seen


def test_projected_first_text_entity_pages(monkeypatch):
    """DTD entity pages (a billion-laughs page, an internal entity used in
    the match) print what the tree route prints, fast, and expat never
    reads a DTD: the guard refuses every directive in the tail first.
    This catches _tail_accepts running expat before the guard."""
    import time

    from xqspark.core import dom

    lol = "".join(
        f'<!ENTITY lol{i} "{f"&lol{i - 1};" * 10}">' for i in range(1, 10)
    )
    dtd = f'<!DOCTYPE lolz [<!ENTITY lol0 "lol">{lol}]>'
    docs = [
        f"<?xml version=\"1.0\"?>\n{dtd}\n<lolz><title>&lol9;</title></lolz>",
        '<!DOCTYPE r [<!ENTITY e "x">]><r><title>&e;</title></r>',
        f"<lolz><title>t</title></lolz>{dtd}",
        f"<lolz><title>t</title>{dtd}<x>&lol9;</x></lolz>",
    ]
    parsers = []
    real = dom._expat_parser
    monkeypatch.setattr(dom, "_expat_parser", lambda enc: parsers.append(enc) or real(enc))
    for doc in docs:
        for d in (doc, doc.encode()):
            t0 = time.perf_counter()
            assert _projected_first_text(d, "//title") == _tree_first_text(d, "//title"), d
            assert time.perf_counter() - t0 < 1.0
    assert parsers == []
    assert _projected_first_text("<r><title>t</title><x/></r>", "//title") == ("t\n", None)
    assert parsers == ["utf-8"]


def test_projected_first_text_big_page_memory(monkeypatch):
    """A ~5 MB well-formed feed page goes through the C tail check, and
    the traced peak stays within a small multiple of the page size."""
    import tracemalloc

    seen = _count_tail(monkeypatch)
    items = "".join(
        f'<item id="{i}"><title>t {i} &amp; x</title><link>http://e/{i}</link>'
        f"<description>some words here {i}</description></item>\n"
        for i in range(40000)
    )
    page = (
        '<?xml version="1.0" encoding="utf-8"?>\n<rss version="2.0"><channel>'
        "<title>Feed</title>" + items + "</channel></rss>"
    )
    assert len(page) > 5_000_000
    tracemalloc.start()
    try:
        out = xpath_query(page, "//title", single_node=True)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert out == "Feed\n"
    assert seen == {True: 1}
    assert peak < 3 * len(page), peak

@settings(max_examples=150, deadline=None)
@given(st.text(max_size=200), st.text(max_size=40))
def test_robots_total(doc, path):
    """parse_robots + is_allowed are total on arbitrary text (crawl
    reality: robots.txt is often HTML, garbage, or truncated)."""
    from xqspark.core.robots import parse_robots

    rules = parse_robots(doc)
    assert rules.is_allowed("anybot", path) in (True, False)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=400))
def test_warc_total(data):
    """parse_warc either yields records, stops (truncation), or raises
    the declared WarcError — never anything else; http_response_body is
    total on whatever payload comes out."""
    from xqspark.core.warc import WarcError, http_response_body, parse_warc

    try:
        for headers, payload in parse_warc(data):
            assert isinstance(headers, dict)
            http_response_body(payload)
    except WarcError:
        pass
