"""Minimal tolerant HTML DOM on the stdlib ``html.parser``.

bs4/lxml are not available in this environment; this module provides the
small DOM surface the engine needs (the reference uses BeautifulSoup for the
same operations — goldie.py:47-61, chunking.py:252-276):

- parse with implicit <html>/<body> wrapping of fragments,
- tag/class queries in document order,
- sibling/parent navigation, wrap/unwrap/append (move) mutation,
- text extraction and serialization,
- comment removal.

It intentionally does NOT implement full HTML5 tree-building (no implicit
<p> closing etc.) — the engine's corpus is machine-generated HTML, and the
parse rules here are documented behavior, not bug-compat with lxml.
"""

from __future__ import annotations

import re
from html import escape
from html.parser import HTMLParser

VOID_ELEMENTS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
}

HEAD_ONLY = {"title", "meta", "link", "style", "base"}

HEADERS_RE = re.compile(r"^h[1-6]$")


def collapse_ws(s: str) -> str:
    """Reference whitespace normalization: re.sub(r'\\s+', ' ', s).strip()
    (goldie.py:12,61; chunking.py:24). Implemented as split/join — CPython's
    regex \\s and str.split() share the same Py_UNICODE_ISSPACE predicate,
    so `' '.join(s.split())` is character-for-character identical to the
    regex form (pinned by test_html) and ~3x faster on the ~75 KB pages the
    crawl round cleans twice per page."""
    return " ".join(s.split())


class Node:
    __slots__ = ("parent",)

    def iter(self):
        yield self


class TextNode(Node):
    __slots__ = ("data",)

    def __init__(self, data: str):
        self.data = data
        self.parent = None

    @property
    def name(self):
        return None

    def get_text(self) -> str:
        return self.data

    def to_html(self) -> str:
        return escape(self.data, quote=False)


class CommentNode(Node):
    __slots__ = ("data",)

    def __init__(self, data: str):
        self.data = data
        self.parent = None

    @property
    def name(self):
        return None

    def get_text(self) -> str:
        return ""

    def to_html(self) -> str:
        return f"<!--{self.data}-->"


class Element(Node):
    __slots__ = ("name", "attrs", "children")

    def __init__(self, name: str, attrs: dict | None = None):
        self.name = name
        self.attrs = dict(attrs or {})
        self.children: list[Node] = []
        self.parent: Element | None = None

    # -- construction / mutation ------------------------------------------
    def append(self, node: Node) -> None:
        """Append node, detaching it from its current parent (BS4 append
        semantics — it MOVES the node)."""
        if node.parent is not None:
            node.parent.children.remove(node)
        node.parent = self
        self.children.append(node)

    def wrap(self, wrapper: "Element") -> "Element":
        """Replace self with wrapper in parent; self becomes wrapper's child."""
        parent = self.parent
        idx = parent.children.index(self)
        parent.children[idx] = wrapper
        wrapper.parent = parent
        self.parent = wrapper
        wrapper.children.append(self)
        return wrapper

    def unwrap(self) -> None:
        """Replace self with own children in parent."""
        parent = self.parent
        idx = parent.children.index(self)
        for ch in self.children:
            ch.parent = parent
        parent.children[idx : idx + 1] = self.children
        self.children = []
        self.parent = None

    def extract(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    # -- classes -----------------------------------------------------------
    @property
    def classes(self) -> list[str]:
        c = self.attrs.get("class", "")
        if isinstance(c, list):
            return c
        return c.split() if c else []

    def add_class(self, *names: str) -> None:
        cs = self.classes
        for n in names:
            if n not in cs:
                cs.append(n)
        self.attrs["class"] = " ".join(cs)

    def has_class(self, name: str) -> bool:
        return name in self.classes

    # -- traversal ----------------------------------------------------------
    def iter(self):
        yield self
        for ch in list(self.children):
            yield from ch.iter()

    def find_all(self, name_re: re.Pattern | str | None = None,
                 class_: str | None = None) -> list["Element"]:
        """Descendant elements in document order (excludes self)."""
        out = []
        for n in self.iter():
            if n is self or not isinstance(n, Element):
                continue
            if name_re is not None:
                if isinstance(name_re, str):
                    if n.name != name_re:
                        continue
                elif not name_re.match(n.name):
                    continue
            if class_ is not None and not n.has_class(class_):
                continue
            out.append(n)
        return out

    def find(self, name: str) -> "Element | None":
        for n in self.iter():
            if isinstance(n, Element) and n is not self and n.name == name:
                return n
        return None

    def next_siblings(self) -> list[Node]:
        """All following siblings (including text nodes), like BS4's
        ``.next_siblings``."""
        if self.parent is None:
            return []
        sibs = self.parent.children
        idx = sibs.index(self)
        return list(sibs[idx + 1 :])

    def element_siblings_after(self) -> list["Element"]:
        return [s for s in self.next_siblings() if isinstance(s, Element)]

    def find_next_sibling(self, class_: str) -> "Element | None":
        for s in self.next_siblings():
            if isinstance(s, Element) and s.has_class(class_):
                return s
        return None

    def find_parent(self, class_: str) -> "Element | None":
        p = self.parent
        while p is not None:
            if isinstance(p, Element) and p.has_class(class_):
                return p
            p = p.parent
        return None

    # -- output --------------------------------------------------------------
    def get_text(self) -> str:
        parts = []
        for n in self.iter():
            if isinstance(n, TextNode):
                parts.append(n.data)
        return "".join(parts)

    def to_html(self) -> str:
        attrs = "".join(
            f' {k}="{escape(str(v), quote=True)}"' for k, v in self.attrs.items()
        )
        if self.name in VOID_ELEMENTS:
            return f"<{self.name}{attrs}/>"
        inner = "".join(ch.to_html() for ch in self.children)
        return f"<{self.name}{attrs}>{inner}</{self.name}>"


class Soup:
    """Parsed document with implicit html/head/body structure."""

    def __init__(self, root: Element):
        self.root = root  # the <html> element

    @property
    def body(self) -> Element:
        b = self.root.find("body")
        assert b is not None
        return b

    @property
    def title(self) -> Element | None:
        return self.root.find("title")

    def find_all(self, name_re=None, class_=None) -> list[Element]:
        return self.root.find_all(name_re, class_)

    def select_class(self, class_: str) -> list[Element]:
        out = []
        for n in self.root.iter():
            if isinstance(n, Element) and n.has_class(class_):
                out.append(n)
        return out

    def smooth(self) -> None:
        """Merge adjacent text nodes (BS4 soup.smooth())."""
        for n in self.root.iter():
            if not isinstance(n, Element):
                continue
            merged: list[Node] = []
            for ch in n.children:
                if (
                    isinstance(ch, TextNode)
                    and merged
                    and isinstance(merged[-1], TextNode)
                ):
                    merged[-1].data += ch.data
                else:
                    merged.append(ch)
            n.children = merged

    def remove_comments(self) -> None:
        for n in list(self.root.iter()):
            if isinstance(n, CommentNode):
                n.parent.children.remove(n)

    def get_text(self) -> str:
        return self.root.get_text()

    def to_html(self) -> str:
        return self.root.to_html()


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Element("__fragment__")
        self.stack = [self.root]

    def handle_starttag(self, tag, attrs):
        el = Element(tag, dict(attrs))
        self.stack[-1].append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        self.stack[-1].append(Element(tag, dict(attrs)))

    def handle_endtag(self, tag):
        # close the nearest matching open tag; ignore stray end tags
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if data:
            self.stack[-1].append(TextNode(data))

    def handle_comment(self, data):
        self.stack[-1].append(CommentNode(data))


def parse_html(html: str) -> Soup:
    """Parse, then normalize to <html><head>…</head><body>…</body></html>.

    Fragments get wrapped; head-only elements found at top level move to
    <head> (so fragment parses still expose soup.title)."""
    b = _TreeBuilder()
    b.feed(html)
    b.close()
    frag = b.root

    html_el = None
    for ch in frag.children:
        if isinstance(ch, Element) and ch.name == "html":
            html_el = ch
            break
    if html_el is None:
        html_el = Element("html")

    head = html_el.find("head")
    body = html_el.find("body")
    if head is None:
        head = Element("head")
        html_el.children.insert(0, head)
        head.parent = html_el
    if body is None:
        body = Element("body")
        html_el.append(body)
        # move any non-head top-level content of <html> into <body>
        for ch in list(html_el.children):
            if ch is head or ch is body:
                continue
            if isinstance(ch, Element) and ch.name in HEAD_ONLY:
                head.append(ch)
            else:
                body.append(ch)

    # move fragment-level strays (content parsed outside <html>)
    for ch in list(frag.children):
        if ch is html_el:
            continue
        if isinstance(ch, Element) and ch.name in HEAD_ONLY:
            head.append(ch)
        else:
            body.append(ch)

    return Soup(html_el)


# ---------------------------------------------------------------------------
# Page-extraction operations (reference goldie.py semantics)
# ---------------------------------------------------------------------------

# clean(): selector drop-list — goldie.py:47-61 drops aside, .pagedetails,
# script, .nojs-hide, .alert inside <main>; the parallel-spider variant
# (goldie_playwright_parallel.py:251-287) additionally drops nav/header/footer
# and falls back to <body> when no <main> exists.
DROP_TAGS = ("aside", "script")
DROP_TAGS_PARALLEL = ("aside", "script", "nav", "header", "footer")
DROP_CLASSES = ("pagedetails", "nojs-hide", "alert")


def extract_title(html: str) -> str:
    """P1 (goldie.py:11-12): join all <title> text, collapse whitespace."""
    soup = parse_html(html)
    titles = soup.root.find_all("title")
    return collapse_ws(" ".join(t.get_text() for t in titles))


def extract_last_updated(html: str) -> str | None:
    """P2 (goldie.py:13): first <time> text, raw."""
    t = parse_html(html).root.find("time")
    if t is None:
        return None
    txt = t.get_text()
    return txt if txt else None


def clean_html(html: str, parallel_variant: bool = True) -> str:
    """P3: main-content cleaning (goldie.py:47-61 /
    goldie_playwright_parallel.py:251-287). Returns the whitespace-collapsed
    serialized <main> (or <body> fallback) with junk selectors and comments
    removed."""
    return clean_soup(parse_html(html), parallel_variant)


def clean_soup(soup: Soup, parallel_variant: bool = True) -> str:
    """clean_html over an already-parsed tree (MUTATES the tree — the
    reference order is clean FIRST, then collect links from the mutated
    tree; see functions/extract.py).

    Junk selectors are dropped ONLY when <main> exists — the reference
    body-fallback takes body.get() verbatim with no drops
    (goldie_playwright_parallel.py:265-267); comment removal applies to
    both paths (:270-280). goldie's clean() has no fallback at all (it
    would crash on main.get() == None); we use the parallel fallback for
    both variants."""
    main = soup.root.find("main")
    if main is not None:
        scope = main
        drop_tags = DROP_TAGS_PARALLEL if parallel_variant else DROP_TAGS
        for tag in drop_tags:
            for el in scope.find_all(tag):
                el.extract()
        for cls in DROP_CLASSES:
            for el in scope.find_all(class_=cls):
                el.extract()
    else:
        scope = soup.body
    for n in list(scope.iter()):
        if isinstance(n, CommentNode):
            n.parent.children.remove(n)
    return collapse_ws(scope.to_html())


def children_from_hrefs(hrefs: list[str], base_url: str) -> list[str]:
    """P6 core over pre-extracted hrefs (single-parse path)."""
    from urllib.parse import urljoin

    seen = set()
    out = []
    for href in hrefs:
        if not href or href.startswith("#") or href.startswith("mailto:"):
            continue
        absolute = urljoin(base_url, href)
        if absolute not in seen:
            seen.add(absolute)
            out.append(absolute)
    return out


def extract_hrefs(html: str) -> list[str]:
    """All <a href> values in document order (response.css('a::attr(href)'))."""
    soup = parse_html(html)
    out = []
    for a in soup.root.find_all("a"):
        href = a.attrs.get("href")
        if href is not None:
            out.append(href)
    return out


def extract_children(html: str, base_url: str) -> list[str]:
    """P6 (goldie.py:22-35): children links — skip #… and mailto:, urljoin
    against the page url, first-occurrence order-preserving dedup."""
    return children_from_hrefs(extract_hrefs(html), base_url)
