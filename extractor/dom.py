"""Minimal HTML DOM on stdlib ``html.parser``.

Self-contained replacement for the subset of BeautifulSoup behavior the
reference extraction core depends on (bs4 is not available in this
environment).  Mirrored behaviors, each pinned by the reference code:

- document-order ``find_all`` over tag names with an optional per-class-token
  callable filter (``app/core/html_processor.py:373``)
- ``get_text(strip=True)`` = strip each text node, drop empties, join with ``""``
  (``app/core/html_processor.py:267,300``)
- ``replace_with(text)`` detaches the node; calling it again on a detached node
  raises ``ValueError`` exactly like bs4 — the reference's duplicate-``<math>``
  quirk (``app/core/html_processor.py:373-374,378-382``) depends on this
- ``str(node)`` serializes back to HTML (math fallback,
  ``app/core/html_processor.py:338``)

Design note (scale): this module is pure Python and runs *inside* the Arrow
batch kernel on executors; it holds one document at a time and allocates
O(document size), never O(partition size).

Two tokenizers feed the same tree rules (``_open_element``/
``_close_element``): a regex fast tokenizer that constructs no
``HTMLParser`` (gate: no comment, declaration, processing instruction,
bogus ``<``, script/style or junk-in-tag anywhere in the document) and the
authoritative stdlib ``HTMLParser`` builder for everything else.  Both
return a ``Document`` that lists every element in document order, so the
kernel's special-element pass needs no tree walk.
"""

from __future__ import annotations

import re as _re

from html import escape
from html import unescape as _unescape
from html.parser import HTMLParser
from html.parser import attrfind_tolerant as _attrfind_tolerant
from html.parser import tagfind_tolerant as _tagfind_tolerant

VOID_ELEMENTS = frozenset(
    {
        "area", "base", "br", "col", "embed", "hr", "img", "input",
        "link", "meta", "param", "source", "track", "wbr",
    }
)

# Elements whose open tag implicitly closes a still-open element of the same
# (or listed) kind — enough leniency for sloppy real-world transcript HTML.
_IMPLICIT_CLOSERS = {
    "li": {"li"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "p": {"p"},
    "option": {"option"},
}


class Element:
    """One DOM element: tag, attrs (ordered), children (Element | str)."""

    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs=None, parent=None):
        self.tag = tag
        # A dict argument is taken by reference (builders always pass a
        # fresh one); any other iterable of pairs is copied.
        self.attrs = (
            attrs if type(attrs) is dict else (dict(attrs) if attrs else {})
        )
        self.children: list = []
        self.parent = parent

    # -- bs4-compatible surface -------------------------------------------

    def get(self, name: str, default=None):
        return self.attrs.get(name, default)

    @property
    def classes(self) -> list[str]:
        raw = self.attrs.get("class")
        return raw.split() if raw else []

    def iter_elements(self):
        """Depth-first, document-order iteration over descendant Elements
        (iterative — no recursion, O(1) per element regardless of depth).
        Child lists are snapshotted as each node is visited; callers that
        mutate the tree materialize results first (find_all returns a list)."""
        stack = self.children[::-1]
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if isinstance(node, Element):
                yield node
                children = node.children
                if children:
                    extend(children[::-1])

    def is_attached_to(self, root: "Element") -> bool:
        """True if *root* is reachable via the parent chain (i.e. this node
        has not been detached by replace_with somewhere above)."""
        node = self
        while node is not None:
            if node is root:
                return True
            node = node.parent
        return False

    def find_all(self, names, class_filter=None) -> list:
        """Document-order descendants with tag in *names*.

        *class_filter*, if given, is called once per class token (and with
        ``None`` when the element has no class attribute) — bs4's callable
        ``class_`` semantics.
        """
        if isinstance(names, str):
            names = (names,)
        names = frozenset(names)
        out = []
        for el in self.iter_elements():
            if el.tag not in names:
                continue
            if class_filter is not None:
                tokens = el.classes
                if tokens:
                    if not any(class_filter(t) for t in tokens):
                        continue
                else:
                    if not class_filter(None):
                        continue
            out.append(el)
        return out

    def find(self, name: str, **attr_eq):
        for el in self.iter_elements():
            if el.tag == name and all(el.attrs.get(k) == v for k, v in attr_eq.items()):
                return el
        return None

    def get_text(self, strip: bool = False) -> str:
        parts: list[str] = []
        self._collect_text(parts)
        if strip:
            return "".join(p.strip() for p in parts if p.strip())
        return "".join(parts)

    def _collect_text(self, parts: list) -> None:
        for child in self.children:
            if isinstance(child, Element):
                child._collect_text(parts)
            else:
                parts.append(child)

    def replace_with(self, replacement) -> None:
        if self.parent is None:
            # bs4 PageElement.replace_with raises exactly in this situation;
            # the reference's duplicate-<math> handling relies on it.
            raise ValueError(
                "Cannot replace one element with another when the "
                "element to be replaced is not part of a tree."
            )
        idx = self.parent.children.index(self)
        self.parent.children[idx] = replacement
        if isinstance(replacement, Element):
            replacement.parent = self.parent
        self.parent = None

    # -- serialization -----------------------------------------------------

    def __str__(self) -> str:
        return self.to_html()

    def to_html(self) -> str:
        attrs = "".join(
            f' {k}="{escape(v, quote=True)}"' for k, v in self.attrs.items()
        )
        if self.tag in VOID_ELEMENTS:
            return f"<{self.tag}{attrs}/>"
        inner = "".join(
            c.to_html() if isinstance(c, Element) else escape(c, quote=False)
            for c in self.children
        )
        return f"<{self.tag}{attrs}>{inner}</{self.tag}>"


# DOM depth cap: real documents stay < ~50; adversarial nesting beyond this
# would (a) blow Python's recursion limit in text collection — the same
# observable failure bs4-based code has — and (b) make nested-table
# conversion O(depth^3) (measured: depth 480 ≈ 37 s/doc, depth 150 ≈ 1 s).
# Fail fast at parse time instead (contained as a quarantine error row).
MAX_DOM_DEPTH = 150


class Document(Element):
    """The parse root (tag ``[document]``) plus ``elements``: every element
    the builder created, in creation order.  Creation order is preorder (a
    builder only ever appends a new element as the LAST child of an open
    one), so ``elements`` equals the ``iter_elements`` walk of the tree as
    parsed — the special-element pass (kernel T7) reads it instead of
    re-walking the tree.  ``replace_with`` does not update it (T7 filters
    by ``is_attached_to`` where the reference would have re-searched), and
    ``release`` uses it to drop the parent links once the caller is done
    with the tree."""

    __slots__ = ("elements",)

    def __init__(self):
        super().__init__("[document]")
        self.elements: list = []

    def release(self) -> None:
        """Clear every parent link, so the tree holds no reference cycle
        and is freed by reference counting as soon as the caller drops it
        (each child↔parent pair is otherwise a cycle that only the cyclic
        garbage collector reclaims, 13–15% of kernel CPU on transcript
        batches).  The tree must not be mutated afterwards:
        ``replace_with`` on a released element raises."""
        for el in self.elements:
            el.parent = None


def _depth_error() -> RecursionError:
    return RecursionError(
        f"maximum recursion depth exceeded (DOM depth > {MAX_DOM_DEPTH})"
    )


def _open_element(stack: list, elements: list, tag: str, attrs: dict,
                  closed: bool) -> None:
    """The tree rules for one start tag, shared by both builders.  An open
    tag (``closed`` false) checks the depth cap and pops the implicit
    closers; the new element becomes the LAST child of the innermost open
    element and is recorded in ``elements``; it stays open unless it is
    void or self-closed (``<x/>``)."""
    if not closed:
        if len(stack) > MAX_DOM_DEPTH:
            raise _depth_error()
        closers = _IMPLICIT_CLOSERS.get(tag)
        if closers:
            while len(stack) > 1 and stack[-1].tag in closers:
                stack.pop()
    top = stack[-1]
    el = Element(tag, attrs, top)
    top.children.append(el)
    elements.append(el)
    if not closed and tag not in VOID_ELEMENTS:
        stack.append(el)


def _close_element(stack: list, tag: str) -> None:
    """The tree rule for one end tag, shared by both builders: close the
    innermost open *tag* and everything opened inside it.  Void and
    unmatched close tags are ignored (lenient, like html.parser-backed
    bs4)."""
    if tag in VOID_ELEMENTS:
        return
    for i in range(len(stack) - 1, 0, -1):
        if stack[i].tag == tag:
            del stack[i:]
            return


class _TreeBuilder(HTMLParser):
    """The authoritative builder: stdlib ``HTMLParser`` events → tree."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Document()
        self.stack = [self.root]

    def updatepos(self, i, j):
        # html.parser tracks (lineno, offset) for error reporting on every
        # chunk; this DOM never reads positions, so skip the line counting
        # (the return value still advances the parse cursor).
        return j

    def handle_starttag(self, tag, attrs):
        _open_element(self.stack, self.root.elements, tag,
                      {k: (v if v is not None else "") for k, v in attrs}, False)

    def handle_startendtag(self, tag, attrs):
        _open_element(self.stack, self.root.elements, tag,
                      {k: (v if v is not None else "") for k, v in attrs}, True)

    def handle_endtag(self, tag):
        _close_element(self.stack, tag)

    def handle_data(self, data):
        if data:
            self.stack[-1].children.append(data)


# ---------------------------------------------------------------------------
# Fast tokenizer (performance only — semantics are the stdlib parser's)
#
# ``HTMLParser.goahead`` spends ~half the extraction kernel's time in generic
# chunk scanning (interesting-char search, position bookkeeping, per-construct
# dispatch).  Real transcript markup is overwhelmingly plain start/end tags
# and text runs, so a single compiled regex tokenizes the common case (one
# ``split`` call per document), with no ``HTMLParser`` construction, and
# feeds the SAME tree-rule functions as ``_TreeBuilder`` (``_open_element``/
# ``_close_element``: depth cap, implicit closers, void elements, lenient
# unmatched close tags, the element list).  Parity contract:
#
# - the tokenizer only accepts documents made of (a) text runs containing no
#   ``<`` and (b) start/end tags it re-parses with CPython's OWN
#   ``tagfind_tolerant``/``attrfind_tolerant`` regexes (imported from
#   ``html.parser``), reproducing ``parse_starttag``'s attribute loop,
#   quote-stripping, entity-unescaping and lowercasing bit for bit;
# - ANY construct outside that subset — comments, declarations, processing
#   instructions, bogus ``<``, script/style CDATA, junk-in-start-tag,
#   incomplete tags — returns None and the caller re-parses with the stdlib
#   ``HTMLParser`` path, which is authoritative.  Falling back is always
#   correct; the fast path is only taken when it is provably equivalent.
#
# Equivalence is pinned by tests/test_dom_fast.py: tree-identical (tags,
# attrs, exact text-node chunking) vs the stdlib builder on golden fixture
# inputs, hand quirks, hypothesis-fuzzed soup, and the bench transcripts
# corpus; tests/test_kernel_corpus_digest.py pins both builders' element
# list against the ``iter_elements`` walk.

# One combined scan: a '<' not opening a plain start/end tag, or any
# script/style mention (CDATA content model) — either sends the document
# to the stdlib parser.
_FAST_GATE = _re.compile(r"<(?![a-zA-Z]|/[a-zA-Z])|(?i:</?(?:script|style)\b)")
_FAST_TAG = _re.compile(
    r"<(?:"
    r"/(?P<cname>\s*[a-zA-Z][-.a-zA-Z0-9:_]*\s*)"
    r"|(?P<name>[a-zA-Z][^\t\n\r\f />\x00]*)"
    r"(?P<body>(?:\"[^\"]*\"|'[^']*'|[^>\"'])*)"
    r")>"
)


def _fast_parse(text: str):
    """Tokenize *text* into a ``Document`` tree, or return None when any
    construct falls outside the verified common-case subset (caller falls
    back to the stdlib parser).  RecursionError (DOM depth cap) propagates —
    both paths raise it identically."""
    if _FAST_GATE.search(text):
        return None
    root = Document()
    elements = root.elements
    stack = [root]
    # split() yields [text, (cname, name, body, text)*], padded here to
    # (text, cname, name, body) groups; every group keeps its token's full
    # length (the end tag's group includes the whitespace around its name),
    # so pos tracks each token's offset in text
    parts = _FAST_TAG.split(text)
    parts += (None, None, None)
    it = iter(parts)
    pos = 0
    for seg, cname, name, body in zip(it, it, it, it):
        if seg:
            pos += len(seg)
            if "<" in seg:  # a '<' the master regex skipped: not our subset
                return None
            if "&" in seg:
                seg = _unescape(seg)
            if seg:
                stack[-1].children.append(seg)
        if cname is not None:
            pos += len(cname) + 3
            _close_element(stack, cname.strip().lower())
        elif name is not None:
            start = pos
            pos += len(name) + len(body) + 2
            # Attribute-free shortcut, the dominant case (<p>, <td>, <b>, ...):
            # with an empty tag body, parse_starttag's tagfind/attrfind matches
            # reduce to (lowercased name, no attrs, end '>'); a body of exactly
            # '/' is the bare self-closing form (<br/>), whose '/' tagfind's
            # trailing consumer never eats (negative lookahead before '>').
            if not body:
                tag, attrs, closed = name.lower(), {}, False
            elif body == "/":
                tag, attrs, closed = name.lower(), {}, True
            else:
                # Start tag: replicate HTMLParser.parse_starttag exactly,
                # using CPython's own tolerant regexes on the original string.
                tm = _tagfind_tolerant.match(text, start + 1)
                k = tm.end()
                tag = tm.group(1).lower()
                attrs = {}
                while k < pos:
                    am = _attrfind_tolerant.match(text, k)
                    if not am:
                        break
                    attrname, rest, attrvalue = am.group(1, 2, 3)
                    if not rest:
                        attrvalue = ""
                    elif (
                        attrvalue[:1] == "'" == attrvalue[-1:]
                        or attrvalue[:1] == '"' == attrvalue[-1:]
                    ):
                        attrvalue = attrvalue[1:-1]
                    if attrvalue:
                        attrvalue = _unescape(attrvalue)
                    attrs[attrname.lower()] = attrvalue
                    k = am.end()
                end = text[k:pos].strip()
                if end == "/>":
                    closed = True
                elif end == ">":
                    closed = False
                else:
                    # junk characters in the start tag — stdlib emits the
                    # raw tag text as data; out of subset, fall back
                    return None
            _open_element(stack, elements, tag, attrs, closed)
    return root


def parse_html(text: str) -> Document:
    """Parse *text* into a ``Document``.  Lenient for malformed markup;
    raises ``RecursionError`` only past ``MAX_DOM_DEPTH`` (callers contain
    it as an error row).  Tries the fast tokenizer first; any document
    outside its verified subset re-parses on the stdlib ``HTMLParser``."""
    root = _fast_parse(text)
    if root is not None:
        return root
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root
