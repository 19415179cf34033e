"""HTML5 tree builder — WHATWG tree construction for the crawl-relevant
insertion modes.

Equivalent of the reference's goquery.NewDocumentFromReader
(internal/utils/utils.go:286), which builds a full WHATWG tree via
x/net/html: implied <html>/<head>/<body> insertion makes ``body > p``
match fragment-ish inputs. This builder covers implied structure,
auto-closing (<p>/<li>/<td>...), head-content routing, raw-text
elements, AND the two algorithms that decide what misnested real-web
markup means:

- the list of ACTIVE FORMATTING ELEMENTS with reconstruction + the
  ADOPTION AGENCY algorithm (WHATWG 13.2.6.4.7 "in body"; x/net/html
  parse.go inBodyEndTagFormatting), so <b><i>x</b>y</i> produces the
  spec tree (b>(i>x), i>y), not plain nesting;
- FOSTER PARENTING (x/net/html fosterParent): content that may not sit
  inside table/tbody/tfoot/thead/tr is re-parented before the table,
  plus implied tbody/tr/colgroup wrappers.

Reuses DomNode so the CSS engine and serializers share one node type.
"""

from __future__ import annotations

from .dom import COMMENT, DOCUMENT, ELEMENT, TEXT, DomAttr, DomNode
from .htmltok import (
    RAW_TEXT_TAGS,
    HComment,
    HDoctype,
    HEndTag,
    HStartTag,
    HText,
    HtmlTokenizer,
)
from .textutil import VOID_TAGS

# tags whose start tag implicitly closes an open <p> (WHATWG "in body");
# <table> closes p only in no-quirks mode (x/net/html inBodyIM)
_CLOSES_P = frozenset(
    """address article aside blockquote center details dialog dir div dl
    fieldset figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup
    hr main menu nav ol p pre listing section summary table ul li dd dt
    plaintext xmp""".split()
)

# in-body special start tags that still reconstruct active formatting
# (x/net/html inBodyIM: br/area/embed/img/input/keygen/wbr and select)
_RECONSTRUCT_SPECIALS = frozenset(
    ("select", "input", "area", "br", "embed", "img", "keygen", "wbr")
)

# select-in-table break-out tokens (x/net/html inSelectInTableIM):
# col/colgroup are NOT in this list, table IS
_SELECT_TABLE_BREAKOUT = frozenset(
    ("caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th")
)

_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))

# WHATWG "special" category (the auto-close scan for li/dd/dt stops at any
# special element except address/div/p, per the "in body" insertion mode)
_SPECIAL = frozenset(
    """applet area article aside base basefont bgsound blockquote body br
    button caption center col colgroup dd details dir div dl dt embed
    fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6
    head header hgroup hr html iframe img input keygen li link listing main
    marquee menu meta nav noembed noframes noscript object ol p param
    plaintext pre script section select source style summary table tbody td
    template textarea tfoot th thead title tr track ul wbr xmp
    address""".split()
)

_LIST_SCOPE_STOP = _SPECIAL - {"address", "div", "p"}

# start tag -> (open tags it auto-closes, scan stops): the nearest closer
# is popped to unless a list-scope stop comes first.
# table-structure siblings are closed by _clear_to_table_context in the
# _TABLE_STRUCTURE start-tag branch, never here; option/optgroup pops
# are mode-dependent and handled in _start_tag
_DD_DT = frozenset(("dd", "dt"))
_SIBLING_CLOSERS = {
    "li": (frozenset(("li",)), _LIST_SCOPE_STOP - {"li"}),
    "dd": (_DD_DT, _LIST_SCOPE_STOP - _DD_DT),
    "dt": (_DD_DT, _LIST_SCOPE_STOP - _DD_DT),
}

# base/basefont/bgsound/link/meta are inserted and immediately popped in
# the head insertion mode (x/net/html inHeadIM); the non-VOID_TAGS two
# must still never be pushed
_IMMEDIATE_POP = frozenset(("basefont", "bgsound"))

# button scope = default scope + button (WHATWG 13.2.4.2; x/net/html
# buttonScopeStopTags) — the scope for "has a p element in button scope"
_BUTTON_SCOPE_STOPS = frozenset(
    ("applet", "caption", "html", "table", "td", "th", "marquee", "object",
     "template", "button")
)

# table scope stop list (for td/th/tr/tbody/caption/... end tags)
_TABLE_SCOPE_STOPS = frozenset(("html", "table", "template"))

# elements routed into <head> while no body content has been seen
_HEAD_ONLY = frozenset(
    ("title", "base", "basefont", "bgsound", "meta", "link", "style", "script", "noscript")
)

# WHATWG formatting elements (tracked in the active formatting list)
_FORMATTING = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split()
)

# "has an element in (default) scope" stop list (WHATWG 13.2.4.2)
_DEFAULT_SCOPE_STOPS = frozenset(
    ("applet", "caption", "html", "table", "td", "th", "marquee", "object", "template")
)

# elements that insert a marker into the active formatting list
_MARKER_TAGS = frozenset(("applet", "marquee", "object", "td", "th", "caption", "template"))

# nodes whose direct content is re-parented when illegal (fosterParent)
_TABLE_CTX = frozenset(("table", "tbody", "tfoot", "thead", "tr"))

_ALLOWED_IN_TABLE_CTX = {
    "table": frozenset(
        ("caption", "colgroup", "col", "thead", "tbody", "tfoot", "tr", "td",
         "th", "script", "style", "template", "form")
    ),
    "tbody": frozenset(("tr", "td", "th", "script", "style", "template")),
    "thead": frozenset(("tr", "td", "th", "script", "style", "template")),
    "tfoot": frozenset(("tr", "td", "th", "script", "style", "template")),
    "tr": frozenset(("td", "th", "script", "style", "template")),
}

# table-structure tags: stray ones with no open table are ignored in body
# (WHATWG "in body": caption/col/colgroup/tbody/td/tfoot/th/thead/tr ->
# parse error, ignore)
_TABLE_STRUCTURE = frozenset(
    ("caption", "col", "colgroup", "tbody", "td", "tfoot", "th", "thead", "tr")
)

# table-scoped end tags keep pop-through-to-match semantics (their
# insertion modes close open cells/rows on the way); everything else uses
# the "any other end tag" special-element stop rule
_TABLE_END = frozenset(
    ("table", "td", "th", "tr", "tbody", "thead", "tfoot", "caption", "colgroup")
)


class _Marker:
    __slots__ = ()

    def __repr__(self):  # pragma: no cover
        return "<afe-marker>"


_MARKER = _Marker()


def _detach(node: DomNode) -> None:
    parent = node.parent
    if parent is not None:
        for i, c in enumerate(parent.children):
            if c is node:
                del parent.children[i]
                break
        node.parent = None


class HtmlTreeBuilder:
    """Stack-of-open-elements builder with implied html/head/body,
    active-formatting reconstruction, adoption agency, foster parenting."""

    def __init__(self):
        self.doc = DomNode(DOCUMENT)
        self.html: DomNode | None = None
        self.head: DomNode | None = None
        self.body: DomNode | None = None
        self.stack: list[DomNode] = []
        self.afe: list = []  # DomNode | _MARKER
        self.form: DomNode | None = None  # WHATWG form element pointer
        # quirks mode until a doctype arrives (x/net/html: doctype-less
        # documents are quirks; any doctype here counts as standards)
        self.quirks = True

    def _current(self) -> DomNode:
        return self.stack[-1] if self.stack else self.doc

    def _merge_attrs(self, node: DomNode, attrs) -> None:
        for k, v in attrs:
            if not any(a.local == k for a in node.attrs):
                node.attrs.append(DomAttr("", k, v))

    def _ensure_html(self) -> DomNode:
        if self.html is None:
            self.html = DomNode(ELEMENT, "html")
            self.doc.append(self.html)
            self.stack = [self.html]
        return self.html

    def _open_head(self) -> DomNode:
        self._ensure_html()
        if self.head is None:
            self.head = DomNode(ELEMENT, "head")
            self.html.append(self.head)
        if not self._on_stack(self.head) and self.body is None:
            self.stack.append(self.head)
        return self.head

    def _open_body(self) -> DomNode:
        self._ensure_html()
        if self.head is None:
            self.head = DomNode(ELEMENT, "head")
            self.html.append(self.head)
        if self.body is None:
            # implied </head>: pop everything above html
            self.stack = [self.html]
            self.body = DomNode(ELEMENT, "body")
            self.html.append(self.body)
            self.stack.append(self.body)
        return self.body

    def _on_stack(self, node: DomNode) -> bool:
        return any(n is node for n in self.stack)

    def _auto_close(self, name: str) -> None:
        if name in _CLOSES_P and not (name == "table" and self.quirks):
            # quirks mode keeps the table inside the open <p>
            # (x/net/html inBodyIM: case table gates on quirks)
            for i in range(len(self.stack) - 1, -1, -1):
                tag = self.stack[i].data
                if tag == "p":
                    del self.stack[i:]
                    break
                if tag in _BUTTON_SCOPE_STOPS:
                    break
        sibling = _SIBLING_CLOSERS.get(name)
        if sibling:  # li/dd/dt
            closers, stops = sibling
            for i in range(len(self.stack) - 1, -1, -1):
                tag = self.stack[i].data
                if tag in closers:
                    del self.stack[i:]
                    break
                if tag in stops:
                    break
        if name in _HEADINGS and self.stack and self.stack[-1].data in _HEADINGS:
            self.stack.pop()

    # --- active formatting elements ------------------------------------

    def _afe_index(self, node) -> int:
        for i, e in enumerate(self.afe):
            if e is node:
                return i
        return -1

    def _afe_remove(self, node) -> None:
        i = self._afe_index(node)
        if i != -1:
            del self.afe[i]

    def _afe_push(self, node: DomNode) -> None:
        # Noah's Ark clause: at most 3 entries with same name+attrs since
        # the last marker; the earliest of them is evicted
        count = 0
        sig = {(a.local, a.value) for a in node.attrs}
        for i in range(len(self.afe) - 1, -1, -1):
            e = self.afe[i]
            if e is _MARKER:
                break
            if (
                e.data == node.data
                and len(e.attrs) == len(node.attrs)
                and {(a.local, a.value) for a in e.attrs} == sig
            ):
                count += 1
                if count == 3:
                    del self.afe[i]
                    break
        self.afe.append(node)

    def _clear_afe_to_marker(self) -> None:
        while self.afe:
            e = self.afe.pop()
            if e is _MARKER:
                return

    def _clone(self, node: DomNode) -> DomNode:
        clone = DomNode(ELEMENT, node.data)
        clone.attrs = [DomAttr(a.space, a.local, a.value, a.prefix) for a in node.attrs]
        return clone

    def _reconstruct_afe(self) -> None:
        """WHATWG "reconstruct the active formatting elements": re-open
        formatting elements that were popped (e.g. by an implied </p>)
        but are still active, cloning them at the insertion point."""
        if not self.afe:
            return
        last = self.afe[-1]
        if last is _MARKER or self._on_stack(last):
            return
        i = len(self.afe) - 1
        while i > 0:
            e = self.afe[i - 1]
            if e is _MARKER or self._on_stack(e):
                break
            i -= 1
        for j in range(i, len(self.afe)):
            clone = self._clone(self.afe[j])
            self._insert_element(clone)
            self.afe[j] = clone

    # --- insertion (foster-parenting aware) -----------------------------

    def _insert_element(self, element: DomNode, push: bool = True) -> None:
        cur = self._current()
        if (
            cur.data in _TABLE_CTX
            and cur.type == ELEMENT
            and element.data not in _ALLOWED_IN_TABLE_CTX.get(cur.data, ())
        ):
            self._foster_insert(element)
        else:
            cur.append(element)
        if push:
            self.stack.append(element)

    @staticmethod
    def _append_text(parent: DomNode, text: str) -> None:
        """x/net/html addText: adjacent text nodes merge into one."""
        if parent.children and parent.children[-1].type == TEXT:
            parent.children[-1].data += text
        else:
            parent.append(DomNode(TEXT, text))

    def _insert_text_node(self, text: str) -> None:
        cur = self._current()
        # ASCII whitespace only: an &nbsp;-only spacer inside a table is
        # character data and must be foster-parented (WHATWG table text)
        if (
            cur.data in _TABLE_CTX
            and cur.type == ELEMENT
            and text.strip(" \t\n\f\r") != ""
        ):
            self._foster_text(text)
        else:
            self._append_text(cur, text)

    def _foster_text(self, text: str) -> None:
        """Foster-parent character data, merging with a text node already
        sitting immediately before the table (x/net/html fosterParent)."""
        node = DomNode(TEXT, text)
        self._foster_insert(node)
        parent = node.parent
        if parent is not None:
            for i, c in enumerate(parent.children):
                if c is node:
                    if i > 0 and parent.children[i - 1].type == TEXT:
                        parent.children[i - 1].data += text
                        del parent.children[i]
                    break

    def _foster_insert(self, node: DomNode) -> None:
        """Insert before the last <table> on the stack (x/net/html
        fosterParent): the WHATWG home for content a table can't hold."""
        table_idx = -1
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].data == "table":
                table_idx = i
                break
        if table_idx == -1:
            (self.body or self._current()).append(node)
            return
        table = self.stack[table_idx]
        parent = table.parent
        if parent is not None:
            _detach(node)
            node.parent = parent
            for i, c in enumerate(parent.children):
                if c is table:
                    parent.children.insert(i, node)
                    return
        self.stack[table_idx - 1].append(node)

    def _clear_to_table_context(self, name: str) -> None:
        """WHATWG clearStackToContext: before inserting table structure,
        pop open elements (fostered divs, formatting, open cells/rows/
        sections) down to the nearest enclosing context element."""
        if name == "col":
            ctx = ("colgroup", "table")
        elif name in ("tbody", "tfoot", "thead", "caption", "colgroup"):
            ctx = ("table",)
        elif name == "tr":
            ctx = ("tbody", "tfoot", "thead", "table")
        else:  # td, th
            ctx = ("tr", "tbody", "tfoot", "thead", "table")
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            if node.data in ctx or node is self.body or node is self.html:
                popped = self.stack[i + 1 :]
                del self.stack[i + 1 :]
                # implicit cell/caption close drops its formatting scope
                for p in popped:
                    if p.data in _MARKER_TAGS:
                        self._clear_afe_to_marker()
                return

    def _imply_table_wrappers(self, name: str) -> None:
        """tr in table -> implied tbody; td/th -> implied tbody+tr;
        col in table -> implied colgroup (the "act as if" insertions of
        the table insertion modes)."""
        cur = self._current()
        if name in ("td", "th"):
            if cur.data == "table":
                self._insert_element(DomNode(ELEMENT, "tbody"))
                cur = self._current()
            if cur.data in ("tbody", "thead", "tfoot"):
                self._insert_element(DomNode(ELEMENT, "tr"))
        elif name == "tr" and cur.data == "table":
            self._insert_element(DomNode(ELEMENT, "tbody"))
        elif name == "col" and cur.data == "table":
            self._insert_element(DomNode(ELEMENT, "colgroup"))

    # --- scope / stack helpers ------------------------------------------

    def _stack_index(self, node) -> int:
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i] is node:
                return i
        return -1

    def _node_in_default_scope(self, target: DomNode) -> bool:
        for node in reversed(self.stack):
            if node is target:
                return True
            if node.data in _DEFAULT_SCOPE_STOPS:
                return False
        return False

    def _name_in_default_scope(self, name: str) -> bool:
        for node in reversed(self.stack):
            if node.data == name:
                return True
            if node.data in _DEFAULT_SCOPE_STOPS:
                return False
        return False

    def _has_open_table(self) -> bool:
        return any(n.data == "table" for n in self.stack)

    def _select_on_stack(self) -> bool:
        """True while the "in select" insertion mode applies: a select is
        open with only option/optgroup above it (nothing else can be,
        because other start tags are ignored in this mode)."""
        for n in reversed(self.stack):
            d = n.data
            if d == "select":
                return True
            if d not in ("option", "optgroup"):
                return False
        return False

    def _pop_to_select(self) -> None:
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].data == "select":
                del self.stack[i:]
                return

    # --- adoption agency --------------------------------------------------

    def _adoption_agency(self, name: str) -> None:
        """WHATWG 13.2.6.4.7 adoption agency algorithm for a formatting
        end tag (x/net/html parse.go inBodyEndTagFormatting parity)."""
        cur = self._current()
        if cur.data == name and self._afe_index(cur) == -1:
            # current node is the subject but isn't active: plain pop
            self.stack.pop()
            return
        for _ in range(8):  # outer loop
            fe = None
            for e in reversed(self.afe):
                if e is _MARKER:
                    break
                if e.data == name:
                    fe = e
                    break
            if fe is None:
                self._any_other_end_tag(name)
                return
            fe_idx = self._stack_index(fe)
            if fe_idx == -1:
                self._afe_remove(fe)  # parse error: active but not open
                return
            if not self._node_in_default_scope(fe):
                return  # parse error: ignore the token
            # furthest block: lowest special element above fe on the stack
            fb = None
            for node in self.stack[fe_idx + 1 :]:
                if node.data in _SPECIAL:
                    fb = node
                    break
            if fb is None:
                del self.stack[fe_idx:]
                self._afe_remove(fe)
                return
            common = self.stack[fe_idx - 1]
            bookmark = self._afe_index(fe)
            last_node = fb
            node = fb
            x = self._stack_index(node)
            j = 0
            while True:  # inner loop
                j += 1
                x -= 1
                node = self.stack[x]
                if node is fe:
                    break
                ai = self._afe_index(node)
                if j > 3 and ai != -1:
                    del self.afe[ai]
                    if ai < bookmark:
                        bookmark -= 1
                    ai = -1
                if ai == -1:
                    del self.stack[x]
                    continue
                clone = self._clone(node)
                self.afe[ai] = clone
                self.stack[x] = clone
                node = clone
                if last_node is fb:
                    bookmark = self._afe_index(node) + 1
                _detach(last_node)
                node.append(last_node)
                last_node = node
            _detach(last_node)
            if common.data in _TABLE_CTX:
                self._foster_insert(last_node)
            else:
                common.append(last_node)
            clone = self._clone(fe)
            for c in list(fb.children):
                _detach(c)
                clone.append(c)
            fb.append(clone)
            old = self._afe_index(fe)
            if old != -1:
                if old < bookmark:
                    bookmark -= 1
                del self.afe[old]
            self.afe.insert(bookmark, clone)
            fe_pos = self._stack_index(fe)
            if fe_pos != -1:
                del self.stack[fe_pos]
            self.stack.insert(self._stack_index(fb) + 1, clone)

    def feed(self, tokens) -> DomNode:
        # exact-class dispatch: token classes are final, and this loop is
        # the per-document hot path
        start_tag = self._start_tag
        text = self._text
        end_tag = self._end_tag
        for tok in tokens:
            cls = tok.__class__
            if cls is HStartTag:
                start_tag(tok)
            elif cls is HText:
                text(tok)
            elif cls is HEndTag:
                end_tag(tok.name)
            elif cls is HComment:
                self._current().append(DomNode(COMMENT, tok.data))
            elif cls is HDoctype:
                if self.html is None:  # late doctypes are ignored
                    self.quirks = False
        idx = 0
        for n in self.doc.iter_descendants():
            n.order = idx
            idx += 1
        return self.doc

    def _text(self, tok: HText) -> None:
        text = tok.text
        if not tok.raw and "\x00" in text:
            # x/net/html inBodyIM strips NULs from (non-raw) text tokens
            text = text.replace("\x00", "")
            if not text:
                return
        if self.body is None:
            cur = self._current()
            if cur is not self.html and cur is not self.doc and cur is not self.head:
                # inside a head element (title/script/...): insert as-is
                self._append_text(cur, text)
                return
            # head-phase whitespace handling (x/net/html inHeadIM /
            # afterHeadIM): the ASCII-whitespace prefix stays in the head
            # (or under <html> after </head>); the rest opens the body
            ws = len(text) - len(text.lstrip(" \t\n\f\r"))
            if ws:
                if cur is self.head:
                    self._append_text(cur, text[:ws])
                elif cur is self.html and self.head is not None:
                    self._append_text(cur, text[:ws])
                # before any <head>: whitespace is dropped
                text = text[ws:]
            if not text:
                return
            self._open_body()
        cur = self._current()
        if (
            cur.data in ("pre", "listing", "textarea")
            and not cur.children
            and text.startswith("\n")
        ):
            # WHATWG: the newline immediately after <pre>/<listing>/
            # <textarea> is dropped
            text = text[1:]
            if not text:
                return
        if tok.raw:
            # raw/RCDATA text (script/style/textarea/title): x/net/html's
            # text insertion mode never reconstructs formatting elements
            self._append_text(cur, text)
            return
        self._reconstruct_afe()
        self._insert_text_node(text)

    def _start_tag(self, tok: HStartTag) -> None:
        name = tok.name
        if name == "html":
            node = self._ensure_html()
            self._merge_attrs(node, tok.attrs)
            return
        if name == "head":
            node = self._open_head()
            self._merge_attrs(node, tok.attrs)
            return
        if name == "body":
            node = self._open_body()
            self._merge_attrs(node, tok.attrs)
            return
        if name == "image":
            name = "img"  # WHATWG "in body": <image> is treated as <img>
        element = DomNode(ELEMENT, name)
        for k, v in tok.attrs:
            element.attrs.append(DomAttr("", k, v))
        if self.body is None and name in _HEAD_ONLY:
            head = self._open_head()
            cur = self._current()
            # nest inside an open head element (e.g. <noscript><link>)
            parent = cur if cur is not self.html and cur is not self.doc else head
            parent.append(element)
            # the self-closing flag is IGNORED on non-void HTML elements
            # (WHATWG; x/net/html keeps them open)
            if name not in VOID_TAGS and name not in _IMMEDIATE_POP:
                self.stack.append(element)
            return
        self._open_body()
        push = name not in VOID_TAGS and name not in _IMMEDIATE_POP
        if self._select_on_stack():
            # WHATWG "in select": only option/optgroup/script/template
            # content; select-incompatible form controls and (when inside
            # a table) certain table structure break out of the select;
            # anything else is a parse error and IGNORED
            if name == "option":
                if self.stack and self.stack[-1].data == "option":
                    self.stack.pop()
                self._insert_element(element)  # NO reconstruction here
                return
            if name == "optgroup":
                if self.stack and self.stack[-1].data == "option":
                    self.stack.pop()
                if self.stack and self.stack[-1].data == "optgroup":
                    self.stack.pop()
                self._insert_element(element)
                return
            if name == "select":
                self._pop_to_select()  # parse error: acts as </select>
                return
            if name in ("input", "keygen", "textarea") or (
                name in _SELECT_TABLE_BREAKOUT and self._has_open_table()
            ):
                self._pop_to_select()  # act as </select>, then reprocess
            elif name in ("script", "template"):
                pass  # in-head rules: allowed
            else:
                return  # ignored
        if name in _FORMATTING:
            if name == "a":
                # "in body" <a>: an <a> still active since the last marker
                # is adopted out first (WHATWG parse error recovery)
                prev_a = None
                for e in reversed(self.afe):
                    if e is _MARKER:
                        break
                    if e.data == "a":
                        prev_a = e
                        break
                if prev_a is not None:
                    self._adoption_agency("a")
                    self._afe_remove(prev_a)
                    i = self._stack_index(prev_a)
                    if i != -1:
                        del self.stack[i]
            elif name == "nobr":
                # x/net/html reconstructs BEFORE the scope check: a
                # dangling active nobr comes back onto the stack first,
                # so the implied </nobr> (AAA) sees it
                self._reconstruct_afe()
                if self._name_in_default_scope("nobr"):
                    self._adoption_agency("nobr")
            self._reconstruct_afe()
            self._insert_element(element, push=push)
            if push:
                self._afe_push(element)
            return
        if name in ("applet", "marquee", "object"):
            self._reconstruct_afe()
            self._insert_element(element, push=push)
            if push:
                self.afe.append(_MARKER)
            return
        if name in _TABLE_STRUCTURE:
            if not self._has_open_table():
                return  # WHATWG "in body": stray table structure is ignored
            self._clear_to_table_context(name)
            self._imply_table_wrappers(name)
            self._insert_element(element, push=push)
            if push and name in _MARKER_TAGS:
                self.afe.append(_MARKER)
            return
        if name == "form":
            # WHATWG form element pointer: a nested <form> is ignored
            if self.form is not None:
                return
        if name == "button" and self._name_in_default_scope("button"):
            # implied </button>
            for i in range(len(self.stack) - 1, -1, -1):
                if self.stack[i].data == "button":
                    del self.stack[i:]
                    break
        if name in ("option", "optgroup"):
            # in body (outside select) only a CURRENT <option> is popped;
            # optgroups nest (x/net/html inBodyIM)
            if self.stack and self.stack[-1].data == "option":
                self.stack.pop()
        if name not in _SPECIAL or name == "button" or name in _RECONSTRUCT_SPECIALS:
            # "any other start tag" (plus button, select, and the void
            # br/area/embed/img/input/keygen/wbr): reconstruct formatting
            self._reconstruct_afe()
        self._auto_close(name)
        self._insert_element(element, push=push)
        if name == "form":
            self.form = element

    def _end_tag(self, name: str) -> None:
        if name == "head":
            if self.head is not None and self._on_stack(self.head):
                self.stack = [self.html]
            return
        if name in ("body", "html"):
            if self.body is not None:
                self.stack = [self.html, self.body]
            return
        if self._select_on_stack():
            if name in ("select", "option", "optgroup"):
                pass  # normal pop handling below
            elif name in _SELECT_TABLE_BREAKOUT and self._has_open_table():
                self._pop_to_select()  # act as </select>, then reprocess
            elif name in ("script", "template"):
                pass
            else:
                return  # "in select": other end tags (incl </br>) ignored
        if name == "br":
            # WHATWG: </br> is treated as <br>
            self._open_body()
            self._reconstruct_afe()
            self._insert_element(DomNode(ELEMENT, "br"), push=False)
            return
        if name == "form":
            # WHATWG: clear the form pointer, then REMOVE just the form
            # node from the stack (elements above it stay open)
            node = self.form
            self.form = None
            if node is None or not self._node_in_default_scope(node):
                return  # parse error: ignore
            i = self._stack_index(node)
            if i != -1:
                del self.stack[i]
            return
        if name in _FORMATTING:
            self._adoption_agency(name)
            return
        if name == "p":
            # WHATWG: </p> has its own rule (not "any other end tag"):
            # close a p in button scope, else synthesize an empty <p> —
            # the special-element stop below must not suppress this
            for i in range(len(self.stack) - 1, -1, -1):
                node = self.stack[i]
                if node.data == "p":
                    del self.stack[i:]
                    return
                if node.data in _BUTTON_SCOPE_STOPS:
                    break
            # "act as if <p>" — a start tag p does NOT reconstruct
            # formatting elements (x/net/html parseImpliedToken)
            self._open_body()
            self._insert_element(DomNode(ELEMENT, "p"), push=False)
            return
        if name in ("applet", "marquee", "object") or name in _TABLE_END:
            # pop-through-to-match WITHIN scope (table scope for table
            # structure, default scope for applet/marquee/object): a
            # scope-stop element in the way means the token is ignored
            # (a stray </td> may not reach through a nested <table>).
            # Every marker-scoped element popped on the way out (implicit
            # cell/caption close) drops its formatting scope.
            stops = (
                _DEFAULT_SCOPE_STOPS
                if name in ("applet", "marquee", "object")
                else _TABLE_SCOPE_STOPS
            )
            for i in range(len(self.stack) - 1, -1, -1):
                node = self.stack[i]
                if node is self.html or node is self.body or node is self.head:
                    break
                if node.data == name:
                    popped = self.stack[i:]
                    del self.stack[i:]
                    for p in popped:
                        if p.data in _MARKER_TAGS:
                            self._clear_afe_to_marker()
                    return
                if node.data in stops:
                    return  # out of scope: ignore
            return  # stray: ignored
        self._any_other_end_tag(name)

    def _any_other_end_tag(self, name: str) -> None:
        """WHATWG "any other end tag": pop to the match, but a special
        element in the way means the token is ignored."""
        for i in range(len(self.stack) - 1, -1, -1):
            node = self.stack[i]
            if node is self.html or node is self.body or node is self.head:
                break
            if node.data == name:
                del self.stack[i:]
                return
            if node.data in _SPECIAL:
                return  # parse error: ignore
        # stray end tag: ignored


def parse_html(data: bytes | str) -> DomNode:
    """Build the WHATWG tree for a document: the x/net/html-faithful
    tokenizer feeding HtmlTreeBuilder."""
    if isinstance(data, bytes):
        data = data.decode("utf-8", errors="surrogateescape")
    return HtmlTreeBuilder().feed(HtmlTokenizer(data).tokens())



# x/net/html Render writes raw child text ONLY for these (textarea and
# title are RCDATA: escaped on render, entity-decoded on re-tokenize)
_RAW_PARENTS = RAW_TEXT_TAGS - {"textarea", "title"}


def serialize_html(node: DomNode, outer: bool = True) -> str:
    """html.Render-equivalent: markup that re-tokenizes to the same tokens
    (used by CSS node mode, utils.go:293-307)."""
    out: list[str] = []

    def esc_text(s: str) -> str:
        # x/net/html escapeString set: & ' < > " \r
        return (
            s.replace("&", "&amp;")
            .replace("'", "&#39;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
            .replace('"', "&#34;")
            .replace("\r", "&#13;")
        )

    esc_attr = esc_text

    def walk(n: DomNode, emit_self: bool) -> None:
        if n.type == TEXT:
            parent = n.parent
            if parent is not None and parent.type == ELEMENT and parent.data in _RAW_PARENTS:
                out.append(n.data)
            else:
                out.append(esc_text(n.data))
            return
        if n.type == COMMENT:
            out.append("<!--" + n.data + "-->")
            return
        if n.type == DOCUMENT:
            for c in n.children:
                walk(c, True)
            return
        if emit_self:
            out.append("<" + n.data)
            for a in n.attrs:
                out.append(" " + a.local + '="' + esc_attr(a.value) + '"')
            if n.data in VOID_TAGS and not n.children:
                out.append("/>")
                return
            out.append(">")
        for c in n.children:
            walk(c, True)
        if emit_self:
            out.append("</" + n.data + ">")

    walk(node, outer)
    return "".join(out)
