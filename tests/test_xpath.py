"""XPath tests — mirrors utils_test.go:156-195 and cmd/root_test.go:88-90,
plus broader XPath 1.0 coverage."""

import pathlib

import pytest

from xqspark.core.api import xpath_query
from xqspark.core.dom import parse_dom
from xqspark.core.xpath import compile_xpath

FIXTURES = pathlib.Path(__file__).parent / "fixtures" / "xml"


def q(fixture, query, **kw):
    data = (FIXTURES / fixture).read_bytes()
    return xpath_query(data, query, **kw).strip("\n")


# -- reference test table (utils_test.go:165-170) --

def test_single_text():
    assert q("formatted.xml", "//first_name", single_node=True) == "John"

def test_single_title():
    assert q("unformatted8.xml", "//title", single_node=True) == "Some Title"

def test_single_node_mode():
    assert q("unformatted8.xml", "//title", single_node=True, with_tags=True) == "<title>Some Title</title>"

def test_count():
    assert q("unformatted8.xml", "count(//link)") == "2"

# -- booleans (utils_test.go:182-195) --

@pytest.mark.parametrize("query,expected", [("boolean(//root)", "true"), ("boolean(//missing)", "false")])
def test_boolean(query, expected):
    out = xpath_query('<?xml version="1.0"?><root></root>', query).strip("\n")
    assert out == expected

# -- attribute (cmd/root_test.go:88-90) --

def test_attribute():
    assert q("unformatted.xml", "/user/@status") == "active"

# -- README flagship (README.md:56-58) --

def test_flagship_city():
    assert q("unformatted.xml", "//city") == "Bellville"

# -- wider XPath 1.0 coverage --

DOC = """<shop>
  <item id="1" price="10"><name>apple</name><tag>fruit</tag><tag>red</tag></item>
  <item id="2" price="25"><name>banana</name><tag>fruit</tag></item>
  <item id="3" price="5"><name>carrot</name><tag>veg</tag></item>
</shop>"""


def ev(query, doc=DOC):
    return compile_xpath(query).evaluate(parse_dom(doc))


def sv(query, doc=DOC):
    return xpath_query(doc, query).strip("\n")


def test_predicates_position():
    assert sv("//item[1]/name") == "apple"
    assert sv("//item[last()]/name") == "carrot"
    assert sv("//item[position()=2]/name") == "banana"

def test_predicates_attr():
    assert sv('//item[@id="2"]/name') == "banana"
    assert sv("//item[@price>9]/name") == "apple\nbanana"

def test_axes():
    assert sv("//name[text()='banana']/following-sibling::tag") == "fruit"
    assert sv("//item[2]/preceding-sibling::item/name") == "apple"
    assert sv("//tag/parent::item[@id='3']/name") == "carrot"
    assert sv("//name/ancestor::shop/item[1]/name") == "apple"
    assert sv("count(//item[1]/following::tag)") == "2"
    assert sv("count(//item[3]/preceding::name)") == "2"

def test_union_and_wildcard():
    assert sv("//item[1]/name | //item[3]/name") == "apple\ncarrot"
    assert sv("count(//item/*)") == "7"

def test_functions():
    assert sv("concat(//item[1]/name, '-', //item[2]/name)") == "apple-banana"
    assert sv("substring('hello world', 7)") == "world"
    assert sv("substring('12345', 1.5, 2.6)") == "234"
    assert sv("normalize-space('  a   b ')") == "a b"
    assert sv("translate('abc', 'ab', 'BA')") == "BAc"
    assert sv("string-length(//item[1]/name)") == "5"
    assert sv("sum(//item/@price)") == "40"
    assert sv("floor(2.7)") == "2"
    assert sv("ceiling(2.1)") == "3"
    assert sv("round(2.5)") == "3"
    assert sv("contains(//item[1]/name, 'ppl')") == "true"
    assert sv("starts-with('abc','ab')") == "true"
    assert sv("substring-before('a=b','=')") == "a"
    assert sv("substring-after('a=b','=')") == "b"
    assert sv("local-name(//*[@id='1'])") == "item"
    assert sv("name(//item[1])") == "item"

def test_arith_and_compare():
    assert sv("1 + 2 * 3") == "7"
    assert sv("10 div 4") == "2"  # Go %.0f(2.5) rounds half-to-even
    assert sv("10 mod 3") == "1"
    assert sv("//item[@price < 6]/name") == "carrot"
    assert sv("count(//item[@price != 10])") == "2"

def test_prefixed_names():
    doc = '<soap:Envelope xmlns:soap="http://x/"><soap:Body>hi</soap:Body></soap:Envelope>'
    assert sv("//soap:Body", doc) == "hi"
    assert sv("//Body", doc) == "hi"  # unprefixed matches local name
    assert sv("count(//other:Body)", doc) == "0"

def test_descendant_or_self_abbrev():
    # //name[1] applies the predicate per parent context (XPath 1.0 spec)
    assert sv("count(/shop//name[1])") == "3"
    assert sv("(//name)[1]") == "apple"

def test_string_number_results():
    assert sv("string(//item[1]/@price)") == "10"
    assert sv("number(//item[3]/@price) + 1") == "6"


def test_antchfx_extras():
    assert sv("matches(//item[1]/name, '^ap+le$')") == "true"
    assert sv("replace('a-b-c', '-', '+')") == "a+b+c"
    assert sv("string-join(//item/name, ',')") == "apple,banana,carrot"
    assert sv("string-join(reverse(//item/name), ',')") == "carrot,banana,apple"
    assert sv("choose(1 < 2, 'yes', 'no')") == "yes"
    assert sv("lower-case('ABC')") == "abc"
    assert sv("upper-case('abc')") == "ABC"
    assert sv("ends-with('hello', 'llo')") == "true"


def test_second_review_regressions():
    assert sv("normalize-space('a b')") == "a b"  # NBSP kept (XPath S)
    assert sv("1 div (-0 - 0)") == "-Inf"
    import pytest as _p
    from xqspark.core.xpath import XPathError
    with _p.raises(XPathError):
        ev("substring('abc')")  # arity error, not IndexError
    with _p.raises(XPathError):
        ev("matches('x', '[')")  # invalid regexp contained
    # PI string-value is "" (xmlquery InnerText semantics)
    doc = '<?xml-stylesheet href="a.css"?><r>x</r>'
    assert sv("string(//processing-instruction())", doc) == ""


def test_attr_wildcard_and_pi():
    doc = '<?xml version="1.0"?><r a="1" b="2"><?style x?><c d="3">t</c></r>'
    assert sv("count(//@*)", doc) == "3"
    assert sv("count(//processing-instruction('style'))", doc) == "1"
    assert sv("count(//processing-instruction())", doc) == "1"
    assert sv("name(//processing-instruction())", doc) == "style"


def test_nested_predicates_and_arith():
    doc = "<r><a p='4'><b><c>1</c></b></a><a p='7'><b><c>2</c></b></a></r>"
    assert sv("//a[b[c=2]]/@p", doc) == "7"
    assert sv("//a[@p * 2 > 10]/@p", doc) == "7"
    assert sv("//a[b/c = 1 or @p = 7]/@p", doc) == "4\n7"
    assert sv("count(//a[not(b/c = 1)])", doc) == "1"


def test_union_in_predicate():
    doc = "<r><a>1</a><b>2</b><c>3</c></r>"
    assert sv("count(//a | //b)", doc) == "2"
    assert sv("//*[self::a or self::c]", doc) == "1\n3"


def test_relative_from_context_via_predicate():
    doc = "<r><row><k>x</k><v>10</v></row><row><k>y</k><v>20</v></row></r>"
    assert sv("//row[k='y']/v", doc) == "20"
    assert sv("sum(//row/v)", doc) == "30"


def test_function_parity_sweep():
    """Wider XPath 1.0 function/axis sweep (spec-derived expecteds)."""
    from xqspark.core.api import xpath_query

    doc = b"<r><a id='1'>alpha</a><a id='2'>beta</a><b>x y z</b><n>42</n></r>"
    cases = [
        ("substring('12345', 2, 3)", "234\n"),
        ("substring-before('a-b', '-')", "a\n"),
        ("substring-after('a-b', '-')", "b\n"),
        ("normalize-space('  a   b ')", "a b\n"),
        ("translate('abc', 'ab', 'AB')", "ABc\n"),
        ("string-length('abcd')", "4\n"),
        ("count(//a)", "2\n"),
        ("sum(//n)", "42\n"),
        ("floor(2.7)", "2\n"),
        ("ceiling(2.1)", "3\n"),
        ("round(2.5)", "3\n"),
        ("//a[position()=last()]", "beta\n"),
        ("name(//a[1])", "a\n"),
        ("//a[starts-with(., 'al')]", "alpha\n"),
        ("number(//n) + 1", "43\n"),
        ("not(boolean(//missing))", "true\n"),
        ("(//a)[2]", "beta\n"),
        ("//a[1] | //b", "alpha\nx y z\n"),
        ("string(/r/a/@id)", "1\n"),
        ("//a/following-sibling::b", "x y z\n"),
        ("//b/preceding-sibling::a[1]", "beta\n"),
    ]
    for q, want in cases:
        assert xpath_query(doc, q) == want, q


def test_fast_descendant_name_route_matches_general():
    """The '//name' shape routes -e to the projected token scan; it must
    print what the tree route prints, including duplicates-by-name at
    different depths, root-child matches, and non-element name clashes
    (text content equal to the tag name must not match)."""
    from xqspark.core.api import _print_node_content, xpath_query
    from xqspark.core.dom import parse_dom
    from xqspark.core.xpath import fast_desc_name, XPathExpr

    src = (
        b"<r><t>title</t><x><title>b</title></x><title>a</title>"
        b"<y><title>c</title></y><title/></r>"
    )
    assert fast_desc_name("//title") == "title"
    nodes = XPathExpr("//title").select(parse_dom(src))
    assert [n.inner_text() for n in nodes] == ["b", "a", "c", ""]
    want = _print_node_content(nodes[0], False, "  ")
    assert xpath_query(src, "//title", single_node=True) == want == "b\n"
    # prefixed and predicated shapes must NOT take the projected route
    assert fast_desc_name("//a:title") is None
    assert fast_desc_name("//title[1]") is None
    assert fast_desc_name("/r//title") is None
    assert fast_desc_name("//title/text()") is None
