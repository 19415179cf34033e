"""Adoption agency + foster parenting: expected trees derived from the
WHATWG spec (13.2.6.4.7 / 13.2.6.1 examples) and x/net/html's documented
behavior — the markup classes where goquery-based xq and a naive nesting
builder disagree. Reference: internal/utils/utils.go:286 (goquery parse)."""

from xqspark.core.css import compile_css
from xqspark.core.htmltree import parse_html, serialize_html


def body_html(doc):
    tree = parse_html(doc)

    def find(n, name):
        if n.type == "element" and n.data == name:
            return n
        for c in n.children:
            r = find(c, name)
            if r is not None:
                return r

    return serialize_html(find(tree, "body"), outer=False)


def sel_texts(selector, doc):
    return [n.inner_text() for n in compile_css(selector).select(parse_html(doc))]


def test_adoption_simple_bi():
    assert body_html("<b><i>x</b>y</i>") == "<b><i>x</i></b><i>y</i>"


def test_adoption_inside_paragraph():
    assert (
        body_html("<p>1<b>2<i>3</b>4</i>5</p>")
        == "<p>1<b>2<i>3</i></b><i>4</i>5</p>"
    )


def test_formatting_reconstructed_across_paragraphs():
    assert (
        body_html("<p><b>x</p><p>y</p>") == "<p><b>x</b></p><p><b>y</b></p>"
    )
    # CSS sees the reconstructed <b> in the second paragraph
    assert sel_texts("p > b", "<p><b>x</p><p>y</p>") == ["x", "y"]


def test_adoption_spec_example_a_div():
    # the WHATWG spec's worked example for the adoption agency
    assert (
        body_html("<a>1<div>2<div>3</a>4</div>5</div>")
        == "<a>1</a><div><a>2</a><div><a>3</a>4</div>5</div>"
    )


def test_second_a_adopts_first():
    assert body_html("<a>x<a>y</a>") == "<a>x</a><a>y</a>"


def test_nobr_closes_open_nobr():
    assert body_html("<nobr>a<nobr>b") == "<nobr>a</nobr><nobr>b</nobr>"


def test_noahs_ark_caps_reconstruction_at_three():
    # 4 identical <b>s left open; reconstruction after </p> re-opens 3
    doc = "<p><b><b><b><b>x</p>y"
    out = body_html(doc)
    assert out.count("<b>") == 4 + 3


def test_foster_parent_stray_table_text():
    assert (
        body_html("<table><tr><td>ok</td></tr>oops</table>")
        == "oops<table><tbody><tr><td>ok</td></tr></tbody></table>"
    )


def test_foster_parent_div_in_table():
    assert (
        body_html("<table><div>d</div><tr><td>c</td></tr></table>")
        == "<div>d</div><table><tbody><tr><td>c</td></tr></tbody></table>"
    )


def test_whitespace_in_table_not_fostered():
    assert (
        body_html("<table> <tr><td>c</td></tr></table>")
        == "<table> <tbody><tr><td>c</td></tr></tbody></table>"
    )


def test_implied_tbody_and_colgroup():
    assert (
        body_html("<table><tr><td>x</td></tr></table>")
        == "<table><tbody><tr><td>x</td></tr></tbody></table>"
    )
    assert sel_texts("table > tbody > tr > td", "<table><tr><td>x</td></tr></table>") == ["x"]
    assert "<colgroup><col/></colgroup>" in body_html("<table><col><tr><td>x</td></tr></table>")


def test_implied_tbody_tr_for_bare_cell():
    assert (
        body_html("<table><td>x</td></table>")
        == "<table><tbody><tr><td>x</td></tr></tbody></table>"
    )


def test_stray_cell_outside_table_ignored():
    assert body_html("<div><td>x</td></div>") == "<div>x</div>"
    assert body_html("<tr><td>y") == "y"


def test_end_br_inserts_br():
    assert body_html("x</br>y") == "x<br/>y"


def test_any_other_end_tag_stops_at_special():
    # </div> may not reach through an open <table> (special element)
    out = body_html("<div><table><tr><td>a</div>b</td></tr></table></div>")
    assert "<div>" in out and "a" in out and "b" in out
    # the stray </div> was ignored: b stays inside the cell
    assert sel_texts("td", "<div><table><tr><td>a</div>b</td></tr></table></div>") == ["ab"]


def test_formatting_through_table_fostered():
    # <b> opened before stray table content is reconstructed when text is
    # fostered out of the table
    out = body_html("<table><b>x<tr><td>c</td></tr></table>")
    assert out.startswith("<b>x</b>")


def test_marker_stops_reconstruction_across_cells():
    # formatting opened inside a cell must not leak past the cell (marker)
    doc = "<table><tr><td><b>x</td><td>y</td></tr></table>z"
    out = body_html(doc)
    assert "<td><b>x</b></td>" in out
    assert "<td>y</td>" in out  # no reconstructed <b> in next cell
    assert out.endswith("z")  # ...nor around trailing text


def test_block_in_formatting_adoption():
    # <b><p> — block becomes the furthest block; text after </b> unbolded
    assert (
        body_html("<b><p>x</b>y</p>")
        == "<b></b><p><b>x</b>y</p>"
    )


def test_nested_tables():
    out = body_html(
        "<table><tr><td><table><tr><td>inner</td></tr></table></td></tr></table>"
    )
    assert out == (
        "<table><tbody><tr><td>"
        "<table><tbody><tr><td>inner</td></tr></tbody></table>"
        "</td></tr></tbody></table>"
    )


def test_caption_holds_content_and_marker():
    out = body_html("<table><caption><b>t</caption><tr><td>c</td></tr></table>z")
    assert "<caption><b>t</b></caption>" in out
    assert out.endswith("z")  # <b> does not leak past the caption marker


def test_tree_builder_never_raises_on_soup():
    """10k random tag soups: parse_html must always return a tree, never
    raise, never hang — per-row containment is the 10^12-doc contract.
    Every tree is well linked and numbered: each node's ``order`` is its
    pre-order index (XPath/CSS document order relies on it) and each
    child's ``parent`` is the node that lists it."""
    import random

    def check(tree):
        for i, node in enumerate(tree.iter_descendants()):
            assert node.order == i, (doc, node)
        stack = [tree]
        while stack:
            node = stack.pop()
            for child in node.children:
                assert child.parent is node, (doc, child)
            stack.extend(node.children)

    random.seed(31337)
    frag = ["<b>", "</b>", "<i>", "</i>", "<a href='x'>", "</a>", "<p>",
            "</p>", "<div>", "</div>", "<table>", "</table>", "<tr>",
            "</tr>", "<td>", "</td>", "<li>", "<ul>", "</ul>", "text ",
            "<nobr>", "</nobr>", "<span>", "</span>", "<em>", "</em>",
            "</caption>", "<caption>", "<col>", "<colgroup>", "</colgroup>",
            "<thead>", "</thead>", "<button>", "</button>", "<br>", "</br>",
            "<marquee>", "</marquee>", "<object>", "</object>", "<h1>",
            "</h2>", "<option>", "<select>", "</select>", "<form>", "</form>",
            "<script>", "</script>", "<style>", "</style>", "<!--c-->",
            "<img>", "<input>", "<dd>", "<dt>", "<dl>", "</dl>"]
    for _ in range(10_000):
        doc = "".join(random.choice(frag) for _ in range(random.randint(1, 25)))
        tree = parse_html(doc)  # must not raise
        check(tree)
        serialize_html(tree)    # nor the serializer


def test_no_reconstruction_into_raw_text_elements():
    # a dangling active <b> must NOT wrap script/style/textarea raw text
    assert (
        body_html("<p><b>x</p><script>var a=1;</script>")
        == "<p><b>x</b></p><script>var a=1;</script>"
    )
    assert "<b>body{}</b>" not in body_html("<p><b>x</p><style>body{}</style>")


def test_end_p_synthesis_survives_special_stop():
    # </p> has its own rule; the any-other-end-tag special stop must not
    # swallow it
    assert body_html("<div></p>x</div>") == "<div><p></p>x</div>"
    assert sel_texts("div > p", "<div></p>x</div>") == [""]


def test_nobr_reconstructs_before_scope_check():
    # x/net/html: the dangling active nobr is reconstructed first, then
    # adopted out — leaving an empty nobr sibling, and NO nested nobr
    assert (
        body_html("<b><nobr>a</b><nobr>c")
        == "<b><nobr>a</nobr></b><nobr></nobr><nobr>c</nobr>"
    )


def test_nbsp_only_table_text_is_fostered():
    # WHATWG table text treats only ASCII whitespace as ignorable
    assert (
        body_html("<div><table>\xa0<tr><td>c</td></tr></table></div>")
        == "<div>\xa0<table><tbody><tr><td>c</td></tr></tbody></table></div>"
    )


def test_stray_cell_end_does_not_reach_through_nested_table():
    # td is out of table scope past an inner <table>: </td> is ignored,
    # following text fosters INSIDE the outer cell, not out to body
    assert (
        body_html("<table><tr><td>a<table>b</td>c</table>")
        == "<table><tbody><tr><td>abc<table></table></td></tr></tbody></table>"
    )


def test_implicit_cell_close_clears_formatting_marker():
    # </table> with an open cell runs "close the cell": the <b> opened
    # inside the cell must not reconstruct around trailing text
    out = body_html("<table><tr><td><b>x</table>y")
    assert out.endswith("</table>y"), out


def test_end_p_out_of_scope_past_object():
    # object is a button-scope stop: the outer p is NOT in scope, so an
    # implied empty <p> is inserted inside the object instead
    assert (
        body_html("<p><object>t</p>x")
        == "<p><object>t<p></p>x</object></p>"
    )


def test_synthesized_p_not_wrapped_by_reconstruction():
    # "act as if <p>" does not reconstruct formatting: the synthesized
    # <p> is a direct child of body; only the following TEXT re-bolds
    assert (
        body_html("<div><b></div></p>after")
        == "<div><b></b></div><p></p><b>after</b>"
    )


def test_html5lib_tables01_fostered_formatting():
    # html5lib tables01.dat pattern: fostered <b> is emptied by clear-to-
    # table-context, fostered text reconstructs it, trailing text again
    assert (
        body_html("<table><b><tr><td>aaa</td></tr>bbb</table>ccc")
        == "<b></b><b>bbb</b><table><tbody><tr><td>aaa</td></tr></tbody>"
           "</table><b>ccc</b>"
    )


def test_html5lib_adoption01_a_in_table():
    # html5lib adoption01.dat pattern: second <a> adopts the first, is
    # fostered before the table, and reconstructs around trailing text
    assert (
        body_html('<a href="a">a<table><a href="b">b</table>x')
        == '<a href="a">a<a href="b">b</a><table></table></a><a href="b">x</a>'
    )


def test_in_select_mode():
    # WHATWG "in select": non-option content is ignored, a nested <select>
    # acts as </select>, input/keygen/textarea and (in a table) table
    # structure break out of the select
    assert (
        body_html("<select><option>a<div>x</div><option>b</select>")
        == "<select><option>ax</option><option>b</option></select>"
    )
    assert (
        body_html("<select><option>a<select><option>b")
        == "<select><option>a</option></select><option>b</option>"
    )
    assert (
        body_html("<select><option>a<input>x")
        == "<select><option>a</option></select><input/>x"
    )
    assert body_html("<table><tr><td><select><option>a<tr><td>b") == (
        "<table><tbody><tr><td><select><option>a</option></select></td></tr>"
        "<tr><td>b</td></tr></tbody></table>"
    )


def test_self_closing_flag_ignored_on_nonvoid():
    assert body_html("<div/>inside") == "<div>inside</div>"
    assert body_html("<span/>x</span>y") == "<span>x</span>y"


def test_image_becomes_img():
    assert body_html("<image src=x>text") == '<img src="x"/>text'


def test_select_insertion_never_reconstructs():
    # the dangling <b> wraps the select (reconstructed at the select
    # token), never the option INSIDE the select
    assert (
        body_html("<p><b>x</p><select><option>y</option></select>")
        == "<p><b>x</b></p><b><select><option>y</option></select></b>"
    )


def test_void_specials_reconstruct_formatting():
    assert (
        body_html("<p><b>x</p><img src=y>")
        == '<p><b>x</b></p><b><img src="y"/></b>'
    )
    out = body_html("<p><b>x</p><br>t")
    assert "<b><br/>" in out or "<b><br/>t</b>" in out


def test_pre_textarea_leading_newline_dropped():
    assert body_html("<pre>\nfoo</pre>") == "<pre>foo</pre>"
    assert body_html("<pre>\n\nfoo</pre>") == "<pre>\nfoo</pre>"
    doc = parse_html("<textarea>\nbar</textarea>")
    ta = [n for n in doc.iter_descendants() if n.data == "textarea"][0]
    assert ta.inner_text() == "bar"


def test_form_pointer_rules():
    # nested <form> ignored; </form> removes only the form node
    assert body_html("<form><div><form><input>") == "<form><div><input/></div></form>"
    assert body_html("<form><div></form>x") == "<form><div>x</div></form>"
    # pointer cleared: a later form opens again
    assert body_html("<form>a</form><form>b</form>") == "<form>a</form><form>b</form>"


def test_optgroup_nests_in_body():
    assert (
        body_html("<optgroup>a<optgroup>b")
        == "<optgroup>a<optgroup>b</optgroup></optgroup>"
    )


def test_table_in_select_in_table_breaks_out():
    out = body_html("<table><tr><td><select><option>a<table><tr><td>b")
    assert out.count("<table>") == 2  # nested table survives break-out
    assert "<select><option>a</option></select>" in out


def test_quirks_mode_table_in_p():
    # doctype-less documents are quirks: <table> stays inside the open <p>
    assert body_html("<p>x<table><tr><td>c</td></tr></table>").startswith(
        "<p>x<table>"
    )
    # a doctype switches to standards: <table> closes the <p>
    assert body_html(
        "<!DOCTYPE html><p>x<table><tr><td>c</td></tr></table>"
    ).startswith("<p>x</p><table>")


def test_head_whitespace_preserved():
    doc = serialize_html(parse_html("<head> <title>t</title> </head>z"))
    assert doc == "<html><head> <title>t</title> </head><body>z</body></html>"
    doc2 = serialize_html(parse_html("<title>t</title>\n  hello"))
    assert doc2 == "<html><head><title>t</title>\n  </head><body>hello</body></html>"


def test_adjacent_text_nodes_merge():
    # x/net/html addText: fostered 'a' and 'b' merge into ONE text node
    doc = parse_html("<div><table>a<tr>b<td>c</td></tr></table></div>")
    div = [n for n in doc.iter_descendants() if n.data == "div"][0]
    texts = [c.data for c in div.children if c.type == "text"]
    assert texts == ["ab"]
