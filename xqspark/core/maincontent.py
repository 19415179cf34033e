"""Main-content extraction: boilerplate strip via DOM text-density
heuristics (the north rule's "HTML boilerplate strip ... DOM heuristics"
capability; the reference CLI has no equivalent — this is the
pipeline-level operator a Common-Crawl corpus needs on top of xq's
extraction primitives).

The heuristic is the classic readability-style density score, kept
deliberately simple and DETERMINISTIC so a SQL oracle can state the
expected output for constructed pages:

    score(candidate) = text_len - 2 * link_text_len

over the candidate's whole subtree, where link_text_len counts text
inside <a>. Navigation bars and footers are link-dense (score goes
negative); article bodies are plain-text-dense. Candidates are the
block containers (article/main/div/section/td/body); the highest score
wins, ties break to the LATEST candidate in document order (the
tightest wrapper around the same text). Output is the winner's inner
text with whitespace runs collapsed — a stable, comparison-friendly
normal form.

Non-candidates (script/style/nav/header/footer/aside) subtract nothing:
their text simply isn't counted toward any candidate that contains them
via the _NOISE exclusion, which is what actually strips boilerplate
even when a page has a single top-level <div>.
"""

from __future__ import annotations

import re

from .dom import ELEMENT, TEXT, DomNode
from .htmltree import parse_html

# block containers eligible to BE the main content node
_CANDIDATES = frozenset(("article", "main", "div", "section", "td", "body"))

# subtrees whose text never counts as content (classic boilerplate tags)
_NOISE = frozenset(("script", "style", "nav", "header", "footer", "aside",
                    "noscript", "template", "iframe"))

_WS_RUN = re.compile(r"\s+")


def _subtree_stats(node: DomNode) -> tuple[int, int]:
    """(text_len, link_text_len) over the subtree, skipping _NOISE."""
    text_len = 0
    link_len = 0
    stack = [(node, False)]
    while stack:
        n, in_link = stack.pop()
        for c in n.children:
            t = c.type
            if t == TEXT:
                ln = len(c.data.strip())
                text_len += ln
                if in_link:
                    link_len += ln
            elif t == ELEMENT:
                d = c.data
                if d in _NOISE:
                    continue
                stack.append((c, in_link or d == "a"))
    return text_len, link_len


def main_text(data: bytes | str) -> str:
    """Extract the main content text of a page (boilerplate stripped),
    whitespace-normalized. Returns "" when the page has no content-like
    candidate (score must be positive)."""
    doc = parse_html(data)
    best: DomNode | None = None
    best_score = 0
    for node in doc.iter_descendants():
        if node.type != ELEMENT or node.data not in _CANDIDATES:
            continue
        text_len, link_len = _subtree_stats(node)
        score = text_len - 2 * link_len
        # >= : a later (deeper) candidate with the same score is the
        # tighter wrapper around the same content
        if score >= best_score and score > 0:
            best = node
            best_score = score
    if best is None:
        return ""
    parts: list[str] = []
    stack = list(reversed(best.children))
    while stack:
        c = stack.pop()
        t = c.type
        if t == TEXT:
            parts.append(c.data)
        elif t == ELEMENT and c.data not in _NOISE:
            stack.extend(reversed(c.children))
    # element boundaries count as word boundaries (block/inline breaks),
    # then whitespace runs collapse to the comparison-friendly normal form
    return _WS_RUN.sub(" ", " ".join(parts)).strip()
