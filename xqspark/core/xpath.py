"""XPath 1.0 engine — compiler + evaluator over the DOM.

From-scratch equivalent of the reference's antchfx/xpath usage
(internal/utils/utils.go:239-263, go.mod:8): full XPath 1.0 — all axes,
node tests, positional/boolean predicates, operators, and the core
function library. The result model matches XPath 1.0: float | bool |
str | node-set (document order), which xq prints as %.0f / true|false /
trimmed string / one trimmed string-value per node (utils.go:246-263).

Name-test semantics follow antchfx/xpath: an unprefixed test matches by
local name alone; a prefixed test also compares the written prefix.
Queries compile once (utils.go:239-242) and evaluate per document.
"""

from __future__ import annotations

import math
import re

from .dom import ATTRIBUTE, COMMENT, DOCUMENT, ELEMENT, PI, TEXT, DomAttr, DomNode


class XPathError(ValueError):
    pass


class AttrNode:
    """Attribute node wrapper (attributes live on elements in the DOM)."""

    __slots__ = ("owner", "attr", "index")

    def __init__(self, owner: DomNode, attr: DomAttr, index: int):
        self.owner = owner
        self.attr = attr
        self.index = index

    @property
    def type(self) -> str:
        return ATTRIBUTE

    def sort_key(self):
        return (self.owner.order, self.index + 1)

    def __eq__(self, other):
        return (
            isinstance(other, AttrNode)
            and other.owner is self.owner
            and other.index == self.index
        )

    def __hash__(self):
        return hash((id(self.owner), self.index))


def _sort_key(n) -> tuple:
    if isinstance(n, AttrNode):
        return n.sort_key()
    return (n.order, 0)


def _ident(n):
    if isinstance(n, AttrNode):
        return (id(n.owner), n.index)
    return id(n)


def string_value(n) -> str:
    if isinstance(n, AttrNode):
        return n.attr.value
    if n.type in (ELEMENT, DOCUMENT):
        return n.inner_text()
    if n.type == PI or n.type == "declaration":
        # xmlquery InnerText of a PI node is "" (no text children)
        return ""
    # text / comment
    return n.data


def _local_name(n) -> str:
    if isinstance(n, AttrNode):
        return n.attr.local
    if n.type == ELEMENT:
        return n.data
    if n.type == PI:
        return n.data
    return ""


def _prefix_of(n) -> str:
    if isinstance(n, AttrNode):
        return n.attr.prefix
    if n.type == ELEMENT:
        return n.prefix
    return ""


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<number>\d+(\.\d*)?|\.\d+)
  | (?P<literal>"[^"]*"|'[^']*')
  | (?P<dslash>//)
  | (?P<dcolon>::)
  | (?P<ddot>\.\.)
  | (?P<ne>!=)
  | (?P<le><=)
  | (?P<ge>>=)
  | (?P<name>[A-Za-z_][\w.\-]*(:\*|:[A-Za-z_][\w.\-]*)?|\*)
  | (?P<sym>[()\[\]@,|+\-=<>/.$])
  | (?P<ws>\s+)
""",
    re.X,
)

_NODE_TYPES = {"node", "text", "comment", "processing-instruction"}


def _tokenize(query: str):
    tokens: list[tuple[str, str]] = []
    pos = 0
    n = len(query)
    while pos < n:
        m = _TOKEN_RE.match(query, pos)
        if m is None:
            raise XPathError(f"invalid character in XPath at {pos}: {query[pos:]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind == "ws":
            continue
        tokens.append((kind, text))
    return tokens


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, query: str):
        self.tokens = _tokenize(query)
        self.i = 0

    def peek(self, offset: int = 0):
        j = self.i + offset
        if j < len(self.tokens):
            return self.tokens[j]
        return ("eof", "")

    def next(self):
        tok = self.peek()
        self.i += 1
        return tok

    def expect(self, text: str):
        kind, t = self.next()
        if t != text:
            raise XPathError(f"expected {text!r}, got {t!r}")

    def at(self, text: str) -> bool:
        return self.peek()[1] == text

    def accept(self, text: str) -> bool:
        if self.at(text):
            self.i += 1
            return True
        return False

    # preceding token decides operator-vs-name disambiguation (XPath 1.0 §3.7)
    def _prev_allows_operator(self) -> bool:
        if self.i == 0:
            return False
        kind, text = self.tokens[self.i - 1]
        if kind in ("number", "literal"):
            return True
        if text in ("@", "::", "(", "[", ",", "and", "or", "div", "mod"):
            return False
        if text in ("/", "//", "|", "+", "-", "=", "!=", "<", "<=", ">", ">="):
            return False
        return True

    def parse(self):
        expr = self.parse_or()
        if self.peek()[0] != "eof":
            raise XPathError(f"unexpected token {self.peek()[1]!r}")
        return expr

    def parse_or(self):
        left = self.parse_and()
        while self.peek()[1] == "or" and self._prev_allows_operator():
            self.next()
            left = ("or", left, self.parse_and())
        return left

    def parse_and(self):
        left = self.parse_equality()
        while self.peek()[1] == "and" and self._prev_allows_operator():
            self.next()
            left = ("and", left, self.parse_equality())
        return left

    def parse_equality(self):
        left = self.parse_relational()
        while self.peek()[1] in ("=", "!="):
            op = self.next()[1]
            left = ("cmp", op, left, self.parse_relational())
        return left

    def parse_relational(self):
        left = self.parse_additive()
        while self.peek()[1] in ("<", "<=", ">", ">="):
            op = self.next()[1]
            left = ("cmp", op, left, self.parse_additive())
        return left

    def parse_additive(self):
        left = self.parse_multiplicative()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            left = ("arith", op, left, self.parse_multiplicative())
        return left

    def parse_multiplicative(self):
        left = self.parse_unary()
        while True:
            kind, text = self.peek()
            if text == "*" and self._prev_allows_operator():
                self.next()
                left = ("arith", "*", left, self.parse_unary())
            elif text in ("div", "mod") and self._prev_allows_operator():
                self.next()
                left = ("arith", text, left, self.parse_unary())
            else:
                return left

    def parse_unary(self):
        neg = False
        while self.at("-"):
            self.next()
            neg = not neg
        expr = self.parse_union()
        if neg:
            return ("neg", expr)
        return expr

    def parse_union(self):
        left = self.parse_path()
        while self.at("|"):
            self.next()
            left = ("union", left, self.parse_path())
        return left

    def parse_path(self):
        kind, text = self.peek()
        # absolute paths
        if text == "/":
            self.next()
            if self._starts_step():
                steps = self.parse_relative_steps()
                return ("path", ("root",), steps)
            return ("path", ("root",), [])
        if text == "//":
            self.next()
            steps = [("step", "descendant-or-self", ("node",), [])]
            steps += self.parse_relative_steps()
            return ("path", ("root",), steps)
        # filter expr (primary) possibly followed by / or //
        if (
            kind == "literal"
            or kind == "number"
            or text == "("
            or (kind == "name" and self.peek(1)[1] == "(" and text not in _NODE_TYPES)
        ):
            primary = self.parse_primary()
            predicates = []
            while self.at("["):
                self.next()
                predicates.append(self.parse_or())
                self.expect("]")
            steps = []
            if self.at("/") or self.at("//"):
                sep = self.next()[1]
                if sep == "//":
                    steps.append(("step", "descendant-or-self", ("node",), []))
                steps += self.parse_relative_steps()
            if predicates or steps:
                return ("filter", primary, predicates, steps)
            return primary
        # relative location path
        steps = self.parse_relative_steps()
        return ("path", ("context",), steps)

    def _starts_step(self) -> bool:
        kind, text = self.peek()
        return kind == "name" or text in ("@", ".", "..", "*")

    def parse_relative_steps(self):
        steps = [self.parse_step()]
        while self.at("/") or self.at("//"):
            sep = self.next()[1]
            if sep == "//":
                steps.append(("step", "descendant-or-self", ("node",), []))
            steps.append(self.parse_step())
        return steps

    def parse_step(self):
        kind, text = self.peek()
        if text == ".":
            self.next()
            return ("step", "self", ("node",), [])
        if text == "..":
            self.next()
            return ("step", "parent", ("node",), [])
        axis = "child"
        if text == "@":
            self.next()
            axis = "attribute"
        elif kind == "name" and self.peek(1)[1] == "::":
            axis = text
            self.next()
            self.next()
            if axis not in _AXES:
                raise XPathError(f"unknown axis {axis!r}")
        # node test
        kind, text = self.peek()
        if kind == "name" and text in _NODE_TYPES and self.peek(1)[1] == "(":
            self.next()
            self.expect("(")
            arg = None
            if not self.at(")"):
                akind, atext = self.next()
                if akind != "literal":
                    raise XPathError("processing-instruction() expects a literal")
                arg = atext[1:-1]
            self.expect(")")
            test = (text, arg)
        elif text == "*":
            self.next()
            test = ("name", None, None)
        elif kind == "name":
            self.next()
            if ":" in text:
                pfx, local = text.split(":", 1)
                if local == "*":
                    test = ("name", pfx, None)
                else:
                    test = ("name", pfx, local)
            else:
                test = ("name", None, text)
        else:
            raise XPathError(f"expected node test, got {text!r}")
        predicates = []
        while self.at("["):
            self.next()
            predicates.append(self.parse_or())
            self.expect("]")
        return ("step", axis, test, predicates)

    def parse_primary(self):
        kind, text = self.next()
        if kind == "literal":
            return ("literal", text[1:-1])
        if kind == "number":
            return ("number", float(text))
        if text == "(":
            expr = self.parse_or()
            self.expect(")")
            return expr
        if text == "$":
            raise XPathError("variables are not supported")
        if kind == "name":
            self.expect("(")
            args = []
            if not self.at(")"):
                args.append(self.parse_or())
                while self.accept(","):
                    args.append(self.parse_or())
            self.expect(")")
            return ("call", text, args)
        raise XPathError(f"unexpected token {text!r}")


# ---------------------------------------------------------------------------
# Axes
# ---------------------------------------------------------------------------


def _axis_child(n):
    if isinstance(n, AttrNode):
        return []
    return list(n.children)


def _axis_descendant(n, include_self=False):
    out = []
    if include_self:
        out.append(n)
    if not isinstance(n, AttrNode):
        out.extend(n.iter_descendants())
    return out


def _axis_parent(n):
    if isinstance(n, AttrNode):
        return [n.owner]
    if n.parent is not None:
        return [n.parent]
    return []


def _axis_ancestor(n, include_self=False):
    out = []
    if include_self:
        out.append(n)
    cur = n.owner if isinstance(n, AttrNode) else n.parent
    while cur is not None:
        out.append(cur)
        cur = cur.parent
    return out  # reverse document order (nearest first)


def _axis_following_sibling(n):
    if isinstance(n, AttrNode) or n.parent is None:
        return []
    sibs = n.parent.children
    idx = sibs.index(n)
    return sibs[idx + 1 :]


def _axis_preceding_sibling(n):
    if isinstance(n, AttrNode) or n.parent is None:
        return []
    sibs = n.parent.children
    idx = sibs.index(n)
    return list(reversed(sibs[:idx]))  # reverse order (nearest first)


def _axis_following(n):
    base = n.owner if isinstance(n, AttrNode) else n
    out = []
    cur = base
    while cur is not None and cur.parent is not None:
        sibs = cur.parent.children
        idx = sibs.index(cur)
        for sib in sibs[idx + 1 :]:
            out.append(sib)
            out.extend(sib.iter_descendants())
        cur = cur.parent
    return out


def _axis_preceding(n):
    base = n.owner if isinstance(n, AttrNode) else n
    ancestors = set()
    cur = base
    while cur is not None:
        ancestors.add(id(cur))
        cur = cur.parent
    root = base
    while root.parent is not None:
        root = root.parent
    out = []
    for node in root.iter_descendants():
        if node is base:
            break
        if id(node) not in ancestors:
            out.append(node)
    return list(reversed(out))  # reverse document order


def _axis_attribute(n):
    if isinstance(n, AttrNode) or n.type != ELEMENT:
        return []
    return [
        AttrNode(n, a, i)
        for i, a in enumerate(n.attrs)
        if not (a.space == "xmlns" or (a.space == "" and a.local == "xmlns"))
    ]


def _axis_self(n):
    return [n]


_AXES = {
    "child": _axis_child,
    "descendant": lambda n: _axis_descendant(n, False),
    "descendant-or-self": lambda n: _axis_descendant(n, True),
    "parent": _axis_parent,
    "ancestor": lambda n: _axis_ancestor(n, False),
    "ancestor-or-self": lambda n: _axis_ancestor(n, True),
    "following-sibling": _axis_following_sibling,
    "preceding-sibling": _axis_preceding_sibling,
    "following": _axis_following,
    "preceding": _axis_preceding,
    "attribute": _axis_attribute,
    "self": _axis_self,
    "namespace": lambda n: [],
}


def _node_test(test, node, axis: str) -> bool:
    kind = test[0]
    if kind == "node":
        return True
    if kind == "text":
        return not isinstance(node, AttrNode) and node.type == TEXT
    if kind == "comment":
        return not isinstance(node, AttrNode) and node.type == COMMENT
    if kind == "processing-instruction":
        if isinstance(node, AttrNode) or node.type != PI:
            return False
        return test[1] is None or node.data == test[1]
    # name test — principal node type depends on the axis
    _, pfx, local = test
    if axis == "attribute":
        if not isinstance(node, AttrNode):
            return False
        if local is not None and node.attr.local != local:
            return False
        if pfx is not None and node.attr.prefix != pfx:
            return False
        return True
    if isinstance(node, AttrNode) or node.type != ELEMENT:
        return False
    if local is not None and node.data != local:
        return False
    if pfx is not None and node.prefix != pfx:
        return False
    return True


# ---------------------------------------------------------------------------
# Type conversions (XPath 1.0 §3.2, §4)
# ---------------------------------------------------------------------------

_NUM_RE = re.compile(r"^[ \t\r\n]*(-?(\d+(\.\d*)?|\.\d+))[ \t\r\n]*$")


def to_number(v) -> float:
    if isinstance(v, float):
        return v
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, str):
        m = _NUM_RE.match(v)
        if m is None:
            return float("nan")
        return float(m.group(1))
    if isinstance(v, list):
        return to_number(to_string(v))
    return float("nan")


def number_to_string(f: float) -> str:
    if math.isnan(f):
        return "NaN"
    if math.isinf(f):
        return "Infinity" if f > 0 else "-Infinity"
    if f == int(f) and abs(f) < 1e16:
        return str(int(f))
    return repr(f)


def to_string(v) -> str:
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return number_to_string(v)
    if isinstance(v, list):
        if not v:
            return ""
        return string_value(v[0])
    return ""


def to_boolean(v) -> bool:
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return v != 0 and not math.isnan(v)
    if isinstance(v, str):
        return len(v) > 0
    if isinstance(v, list):
        return len(v) > 0
    return False


def _xpath_round(x: float) -> float:
    if math.isnan(x) or math.isinf(x):
        return x
    return float(math.floor(x + 0.5))


# ---------------------------------------------------------------------------
# Evaluator
# ---------------------------------------------------------------------------


class _Context:
    __slots__ = ("node", "position", "size", "root")

    def __init__(self, node, position, size, root):
        self.node = node
        self.position = position
        self.size = size
        self.root = root


def _fold_steps(steps):
    """Fold ``descendant-or-self::node()`` (no predicates) followed by a
    predicate-free ``child::`` step into one ``descendant::`` step — the
    standard XPath equivalence behind ``//name`` (positional predicates
    on the child step would change meaning, so any predicate blocks it).
    Turns the two-pass // evaluation into a single document walk."""
    out = []
    i = 0
    n = len(steps)
    while i < n:
        st = steps[i]
        if (
            i + 1 < n
            and st[1] == "descendant-or-self"
            and st[2] == ("node",)
            and not st[3]
            and steps[i + 1][1] == "child"
            and not steps[i + 1][3]
        ):
            out.append(("step", "descendant", steps[i + 1][2], []))
            i += 2
            continue
        out.append(st)
        i += 1
    return out


def _fold_ast(node):
    if isinstance(node, list):
        return [_fold_ast(x) for x in node]
    if not isinstance(node, tuple) or not node:
        return node
    if node[0] == "step":
        return ("step", node[1], node[2], [_fold_ast(p) for p in node[3]])
    parts = tuple(_fold_ast(x) for x in node)
    if parts[0] == "path":
        return ("path", parts[1], _fold_steps(parts[2]))
    if parts[0] == "filter":
        return ("filter", parts[1], parts[2], _fold_steps(parts[3]))
    return parts


class XPathExpr:
    def __init__(self, query: str):
        self.query = query
        self.ast = _fold_ast(_Parser(query).parse())

    def evaluate(self, doc: DomNode):
        # path/step/union evaluation already dedups and doc-sorts; no
        # re-sort here so order-producing functions (reverse) survive
        ctx = _Context(doc, 1, 1, doc)
        return _eval(self.ast, ctx)

    def select(self, doc: DomNode) -> list:
        result = self.evaluate(doc)
        if not isinstance(result, list):
            raise XPathError(f"expression is not a node-set: {self.query}")
        return result


import functools

_FAST_DESC_NAME = re.compile(r"^//([A-Za-z_][A-Za-z0-9_.\-]*)\Z")


def fast_desc_name(query: str) -> str | None:
    """`name` when ``query`` is the absolute '//name' shape (no prefix, no
    predicates) that api.xpath_query's -e projected scan takes, else None."""
    m = _FAST_DESC_NAME.match(query)
    return m.group(1) if m else None


@functools.lru_cache(maxsize=256)
def compile_xpath(query: str) -> XPathExpr:
    """Compiled expressions are immutable at eval time, so caching gives
    the compile-once-per-worker behavior the reference has
    (utils.go:239-244) to every caller, including per-document paths."""
    return XPathExpr(query)


def _docsort(nodes: list) -> list:
    seen = set()
    out = []
    for n in nodes:
        k = _ident(n)
        if k not in seen:
            seen.add(k)
            out.append(n)
    out.sort(key=_sort_key)
    return out


def _eval(ast, ctx: _Context):
    op = ast[0]
    if op == "literal":
        return ast[1]
    if op == "number":
        return ast[1]
    if op == "or":
        return to_boolean(_eval(ast[1], ctx)) or to_boolean(_eval(ast[2], ctx))
    if op == "and":
        return to_boolean(_eval(ast[1], ctx)) and to_boolean(_eval(ast[2], ctx))
    if op == "cmp":
        return _compare(ast[1], _eval(ast[2], ctx), _eval(ast[3], ctx))
    if op == "arith":
        left = to_number(_eval(ast[2], ctx))
        right = to_number(_eval(ast[3], ctx))
        o = ast[1]
        if o == "+":
            return left + right
        if o == "-":
            return left - right
        if o == "*":
            return left * right
        if o == "div":
            if right == 0:
                if left == 0 or math.isnan(left):
                    return float("nan")
                # IEEE 754: respect the sign of (possibly negative) zero
                same_sign = (left > 0) == (math.copysign(1.0, right) > 0)
                return math.inf if same_sign else -math.inf
            return left / right
        if o == "mod":
            if right == 0 or math.isnan(left) or math.isnan(right):
                return float("nan")
            return math.fmod(left, right)
    if op == "neg":
        return -to_number(_eval(ast[1], ctx))
    if op == "union":
        left = _eval(ast[1], ctx)
        right = _eval(ast[2], ctx)
        if not isinstance(left, list) or not isinstance(right, list):
            raise XPathError("union operands must be node-sets")
        return _docsort(left + right)
    if op == "path":
        start, steps = ast[1], ast[2]
        if start[0] == "root":
            nodes = [ctx.root]
        else:
            nodes = [ctx.node]
        return _eval_steps(nodes, steps, ctx)
    if op == "filter":
        primary = _eval(ast[1], ctx)
        if not isinstance(primary, list):
            raise XPathError("predicates require a node-set")
        # predicates apply in the expression's own iteration order (paths
        # arrive doc-sorted already; reverse() etc. keep their order)
        nodes = primary
        for pred in ast[2]:
            nodes = _apply_predicate(nodes, pred, ctx)
        if ast[3]:
            return _eval_steps(nodes, ast[3], ctx)
        return nodes
    if op == "call":
        return _call(ast[1], ast[2], ctx)
    raise XPathError(f"unknown AST node {op!r}")


_DOC_ORDER_AXES = frozenset(
    ("child", "descendant", "descendant-or-self", "self", "attribute")
)


def _eval_steps(nodes: list, steps: list, ctx: _Context):
    current = nodes
    for _, axis, test, predicates in steps:
        axis_fn = _AXES[axis]
        if not predicates and len(current) == 1 and axis in _DOC_ORDER_AXES:
            # single context, document-order axis, no predicates: the
            # walk is already unique and sorted — skip dedup + sort
            current = [c for c in axis_fn(current[0]) if _node_test(test, c, axis)]
            continue
        gathered = []
        seen = set()
        for node in current:
            candidates = [c for c in axis_fn(node) if _node_test(test, c, axis)]
            for pred in predicates:
                candidates = _apply_predicate(candidates, pred, ctx)
            for c in candidates:
                k = _ident(c)
                if k not in seen:
                    seen.add(k)
                    gathered.append(c)
        gathered.sort(key=_sort_key)
        current = gathered
    return current


def _apply_predicate(candidates: list, pred, ctx: _Context) -> list:
    size = len(candidates)
    out = []
    for i, node in enumerate(candidates):
        sub = _Context(node, i + 1, size, ctx.root)
        val = _eval(pred, sub)
        if isinstance(val, float):
            if val == i + 1:
                out.append(node)
        elif to_boolean(val):
            out.append(node)
    return out


def _compare(op: str, left, right) -> bool:
    lns = isinstance(left, list)
    rns = isinstance(right, list)
    if lns and rns:
        rvals = [string_value(n) for n in right]
        for ln in left:
            lv = string_value(ln)
            for rv in rvals:
                if _cmp_primitive(op, lv, rv, force_number=op not in ("=", "!=")):
                    return True
        return False
    if lns or rns:
        nodes, other = (left, right) if lns else (right, left)
        flip = not lns
        if isinstance(other, bool) and op in ("=", "!="):
            # XPath 1.0 §3.4: node-set vs boolean compares boolean(node-set)
            a = to_boolean(nodes)
            return (a == other) if op == "=" else (a != other)
        for n in nodes:
            sv = string_value(n)
            if isinstance(other, (float, bool)):
                a, b = to_number(sv), to_number(other)
            elif op in ("=", "!="):
                a, b = sv, other
            else:
                a, b = to_number(sv), to_number(other)
            x, y = (b, a) if flip else (a, b)
            if _cmp_values(op, x, y):
                return True
        return False
    # primitive vs primitive
    if op in ("=", "!="):
        if isinstance(left, bool) or isinstance(right, bool):
            a, b = to_boolean(left), to_boolean(right)
        elif isinstance(left, float) or isinstance(right, float):
            a, b = to_number(left), to_number(right)
        else:
            a, b = to_string(left), to_string(right)
        return (a == b) if op == "=" else (a != b)
    return _cmp_values(op, to_number(left), to_number(right))


def _cmp_primitive(op: str, lv: str, rv: str, force_number: bool) -> bool:
    if force_number:
        return _cmp_values(op, to_number(lv), to_number(rv))
    return _cmp_values(op, lv, rv)


def _cmp_values(op: str, a, b) -> bool:
    if op in ("=", "!="):
        if isinstance(a, float) and isinstance(b, float) and (
            math.isnan(a) or math.isnan(b)
        ):
            return op == "!="
        return (a == b) if op == "=" else (a != b)
    an, bn = to_number(a), to_number(b)
    if math.isnan(an) or math.isnan(bn):
        return False
    if op == "<":
        return an < bn
    if op == "<=":
        return an <= bn
    if op == ">":
        return an > bn
    if op == ">=":
        return an >= bn
    raise XPathError(f"unknown comparison {op!r}")


# ---------------------------------------------------------------------------
# Core function library (XPath 1.0 §4)
# ---------------------------------------------------------------------------


def _call(name: str, args: list, ctx: _Context):
    try:
        return _call_inner(name, args, ctx)
    except IndexError:
        raise XPathError(f"wrong number of arguments to {name}()")


def _call_inner(name: str, args: list, ctx: _Context):
    def arg(i):
        return _eval(args[i], ctx)

    nargs = len(args)
    if name == "last":
        return float(ctx.size)
    if name == "position":
        return float(ctx.position)
    if name == "count":
        v = arg(0)
        if not isinstance(v, list):
            raise XPathError("count() expects a node-set")
        return float(len(v))
    if name in ("local-name", "name", "namespace-uri"):
        if nargs == 0:
            nodes = [ctx.node]
        else:
            nodes = arg(0)
            if not isinstance(nodes, list):
                raise XPathError(f"{name}() expects a node-set")
            nodes = _docsort(nodes)
        if not nodes:
            return ""
        n = nodes[0]
        if name == "local-name":
            return _local_name(n)
        if name == "namespace-uri":
            if isinstance(n, AttrNode):
                return n.attr.space
            return getattr(n, "namespace", "") or ""
        pfx = _prefix_of(n)
        local = _local_name(n)
        return f"{pfx}:{local}" if pfx else local
    if name == "string":
        return to_string(arg(0)) if nargs else string_value(ctx.node)
    if name == "concat":
        return "".join(to_string(arg(i)) for i in range(nargs))
    if name == "starts-with":
        return to_string(arg(0)).startswith(to_string(arg(1)))
    if name == "ends-with":
        return to_string(arg(0)).endswith(to_string(arg(1)))
    if name == "contains":
        return to_string(arg(1)) in to_string(arg(0))
    if name == "substring-before":
        s, sep = to_string(arg(0)), to_string(arg(1))
        idx = s.find(sep)
        return s[:idx] if idx >= 0 else ""
    if name == "substring-after":
        s, sep = to_string(arg(0)), to_string(arg(1))
        idx = s.find(sep)
        return s[idx + len(sep):] if idx >= 0 else ""
    if name == "substring":
        s = to_string(arg(0))
        start = _xpath_round(to_number(arg(1)))
        if math.isnan(start):
            return ""
        if nargs >= 3:
            length = _xpath_round(to_number(arg(2)))
            if math.isnan(length):
                return ""
            end = start + length
        else:
            end = math.inf
        out = []
        for p, ch in enumerate(s, start=1):
            if p >= start and p < end:
                out.append(ch)
        return "".join(out)
    if name == "string-length":
        s = to_string(arg(0)) if nargs else string_value(ctx.node)
        return float(len(s))
    if name == "normalize-space":
        s = to_string(arg(0)) if nargs else string_value(ctx.node)
        # XPath S is only #x20/#x9/#xD/#xA — not Unicode whitespace
        return " ".join(t for t in re.split(r"[ \t\r\n]+", s) if t)
    if name == "translate":
        s, src, dst = to_string(arg(0)), to_string(arg(1)), to_string(arg(2))
        table = {}
        for i, ch in enumerate(src):
            if ch not in table:
                table[ch] = dst[i] if i < len(dst) else None
        return "".join(
            table.get(ch, ch) for ch in s if table.get(ch, ch) is not None
        )
    if name == "boolean":
        return to_boolean(arg(0))
    if name == "not":
        return not to_boolean(arg(0))
    if name == "true":
        return True
    if name == "false":
        return False
    if name == "lang":
        want = to_string(arg(0)).lower()
        cur = ctx.node
        cur = cur.owner if isinstance(cur, AttrNode) else cur
        while cur is not None:
            for a in getattr(cur, "attrs", []):
                if a.local == "lang" and a.prefix == "xml":
                    have = a.value.lower()
                    return have == want or have.startswith(want + "-")
            cur = cur.parent
        return False
    if name == "number":
        return to_number(arg(0)) if nargs else to_number(string_value(ctx.node))
    if name == "sum":
        v = arg(0)
        if not isinstance(v, list):
            raise XPathError("sum() expects a node-set")
        return float(sum(to_number(string_value(n)) for n in v))
    if name == "floor":
        v = to_number(arg(0))
        if math.isnan(v) or math.isinf(v):
            return v
        return float(math.floor(v))
    if name == "ceiling":
        v = to_number(arg(0))
        if math.isnan(v) or math.isinf(v):
            return v
        return float(math.ceil(v))
    if name == "round":
        return _xpath_round(to_number(arg(0)))
    if name == "lower-case":
        return to_string(arg(0)).lower()
    if name == "upper-case":
        return to_string(arg(0)).upper()
    # antchfx/xpath extras beyond strict XPath 1.0 (go.mod:8 v1.3.7)
    if name == "matches":
        try:
            return re.search(to_string(arg(1)), to_string(arg(0))) is not None
        except re.error as exc:
            raise XPathError(f"invalid regexp in matches(): {exc}")
    if name == "replace":
        # antchfx replace() is a literal substring replace
        return to_string(arg(0)).replace(to_string(arg(1)), to_string(arg(2)))
    if name == "string-join":
        v = arg(0)
        sep = to_string(arg(1)) if nargs > 1 else ""
        if isinstance(v, list):
            return sep.join(string_value(n) for n in v)
        return to_string(v)
    if name == "choose":
        return arg(1) if to_boolean(arg(0)) else arg(2)
    if name == "reverse":
        v = arg(0)
        if not isinstance(v, list):
            raise XPathError("reverse() expects a node-set")
        return list(reversed(v))
    if name == "id":
        raise XPathError("id() is not supported")
    raise XPathError(f"unknown function {name}()")
