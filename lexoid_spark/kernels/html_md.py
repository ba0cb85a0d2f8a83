"""HTML → markdown kernel (from scratch, stdlib ``html.parser``).

Re-implements the *semantics* of the reference's HTML path —
``html_to_markdown`` at ``lexoid/core/utils.py:272-301`` which delegates
to markdownify 0.14.1 (pinned in the reference's ``pyproject.toml:17``)
with default options:

- ``heading_style='underlined'``: h1 → ``text\\n====``, h2 → ``text\\n----``,
  h3+ → ATX ``### text``;
- ``bullets='*+-'`` cycling by <ul> nesting depth; <ol> numbered from
  ``start`` (default 1) by li index;
- ``strong_em_symbol='*'``: ``**strong**``, ``*em*``, ``***both***``;
- ``autolinks=True``: ``<a href=X>X</a>`` → ``<X>``;
- ``escape_asterisks/escape_underscores=True``, ``escape_misc=False``;
- ``newline_style='spaces'``: <br> → two trailing spaces + newline;
- pipe tables with a ``| --- |`` separator under the header row;
- block siblings joined by merging newline runs as ``max(left, right)``
  (so exactly one blank line between paragraphs, and the document keeps
  its leading/trailing ``\\n\\n`` exactly like markdownify 0.14.x).

Deliberate upgrades over raw markdownify (documented, pinned in goldens):
- <script>/<style>/<template>/<noscript> contents are dropped (boilerplate
  strip — the north rule's extraction semantics; markdownify leaks them).
- The kernel signature is ``html -> markdown`` (the reference's file-HTML
  call site ``static_parser.py:92`` passes 2 args into a 3-arg function —
  a latent TypeError we do not reproduce).

This is a brand-new implementation: a minimal DOM built with stdlib
``html.parser`` plus a recursive emitter. No code is taken from
markdownify or the reference.

Linear time: each node's children are emitted into a list and joined
once (:func:`_join_blocks` keeps the trailing newline run as a count,
never re-stripping the text built so far); every element records its
position in its parent (``idx``), so sibling lookups scan only the
whitespace between neighbours; ``<ol>`` numbers are assigned in one pass
per list. Cost grows with page size times nesting depth, never with the
number of siblings squared.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

# --- minimal DOM -----------------------------------------------------------

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# tags whose entire subtree is boilerplate to drop
DROP_TAGS = frozenset("script style template noscript iframe svg head".split())

# main-content extraction (north_rule: "boilerplate strip via tag/class
# blocklists"): structural chrome tags, plus class/id substrings that
# mark navigation/ads/social chrome on web pages. Substring matching on
# the joined class+id attribute is the standard readability heuristic.
BOILERPLATE_TAGS = frozenset("nav footer aside form".split())
BOILERPLATE_TOKENS = (
    "nav", "menu", "footer", "sidebar", "banner", "cookie",
    "breadcrumb", "share", "social", "comment", "advert", "promo",
)

# block-ish containers that participate in the nested-whitespace rule
NESTED_TAGS = frozenset(
    "ol ul li table thead tbody tfoot tr td th".split()
)

# tags that close an open <p> implicitly (enough for web-corpus HTML)
P_CLOSERS = frozenset(
    "p div ul ol li table h1 h2 h3 h4 h5 h6 blockquote pre hr section "
    "article nav footer header main aside form".split()
)


class Node:
    # idx: position in parent.children (set on append, renumbered by
    # strip_boilerplate); ordinal: <li> number within its <ol>
    __slots__ = ("name", "attrs", "children", "parent", "idx", "ordinal")

    def __init__(self, name, attrs=None, parent=None):
        self.name = name  # None => text node; "" => document root
        self.attrs = attrs or {}
        self.children = []
        self.parent = parent
        self.idx = 0
        self.ordinal = 0

    def get(self, key, default=None):
        return self.attrs.get(key, default)


class Text:
    __slots__ = ("data", "parent")

    def __init__(self, data, parent):
        self.data = data
        self.parent = parent


class _DomBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("")
        self.stack = [self.root]
        self._drop_depth = 0

    # -- helpers
    def _cur(self):
        return self.stack[-1]

    def _append(self, node):
        siblings = node.parent.children
        node.idx = len(siblings)
        siblings.append(node)

    def handle_starttag(self, tag, attrs):
        if self._drop_depth:
            if tag not in VOID_TAGS:
                self._drop_depth += 1
            return
        if tag in DROP_TAGS:
            if tag not in VOID_TAGS:
                self._drop_depth = 1
            return
        if tag in VOID_TAGS:
            self._append(Node(tag, dict(attrs), self._cur()))
            return
        # implicit </p> / </li> handling
        if tag in P_CLOSERS:
            for open_tag in ("p",):
                if self._cur().name == open_tag:
                    self.stack.pop()
        if tag == "li":
            if self._cur().name == "li":
                self.stack.pop()
        if tag in ("td", "th"):
            if self._cur().name in ("td", "th"):
                self.stack.pop()
        if tag == "tr":
            while self._cur().name in ("td", "th", "tr"):
                self.stack.pop()
        node = Node(tag, dict(attrs), self._cur())
        self._append(node)
        self.stack.append(node)

    def handle_startendtag(self, tag, attrs):
        if self._drop_depth:
            return
        if tag in DROP_TAGS:
            return
        self._append(Node(tag, dict(attrs), self._cur()))

    def handle_endtag(self, tag):
        if self._drop_depth:
            if tag not in VOID_TAGS:
                self._drop_depth = max(0, self._drop_depth - 1)
            return
        if tag in VOID_TAGS:
            return
        # pop up to the matching open tag, if present
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                del self.stack[i:]
                return
        # stray close tag: ignore

    def handle_data(self, data):
        if self._drop_depth or not data:
            return
        self._cur().children.append(Text(data, self._cur()))


def parse_html(html: str) -> Node:
    b = _DomBuilder()
    try:
        b.feed(html)
        b.close()
    except Exception:
        pass  # tolerate malformed tails; emit what was parsed
    return b.root


# --- emitter ---------------------------------------------------------------

_WS_RE = re.compile(r"[\t ]+")
_NL_WS_RE = re.compile(r"[\t \r\n]*[\r\n][\t \r\n]*")
_LINE_BEGIN_RE = re.compile(r"^", re.MULTILINE)
_HEADING_NAMES = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_CODE_PARENTS = frozenset({"pre", "code", "kbd", "samp"})


def _chomp(text):
    """Move leading/trailing single spaces outside inline markup."""
    prefix = " " if text and text[0] == " " else ""
    suffix = " " if text and text[-1] == " " else ""
    return prefix, suffix, text.strip()


def _has_ancestor(node, names):
    p = node.parent
    while p is not None:
        if p.name in names:
            return True
        p = p.parent
    return False


def _prev_sibling(node):
    """Nearest earlier sibling that is an element or non-blank text."""
    sibs = node.parent.children
    for i in range(node.idx - 1, -1, -1):
        s = sibs[i]
        if isinstance(s, Node) or s.data.strip():
            return s
    return None


def _next_sibling(node):
    """Nearest later sibling that is an element or non-blank text."""
    sibs = node.parent.children
    for i in range(node.idx + 1, len(sibs)):
        s = sibs[i]
        if isinstance(s, Node) or s.data.strip():
            return s
    return None


def _drop_boundary_ws(children):
    """Drop whitespace-only text that is the first or last child or sits
    next to a list/table element (the nested-whitespace rule)."""
    for el in children:
        if isinstance(el, Text) and not el.data.strip():
            break
    else:
        return children  # no whitespace-only text to consider
    last = len(children) - 1
    next_node = [None] * len(children)  # nearest later Node, one reverse scan
    nxt = None
    for i in range(last, -1, -1):
        next_node[i] = nxt
        if isinstance(children[i], Node):
            nxt = children[i]
    kept = []
    for i, el in enumerate(children):
        if isinstance(el, Text) and el.data.strip() == "":
            prev_n = kept[-1] if kept and isinstance(kept[-1], Node) else None
            nxt = next_node[i]
            if (
                i == 0
                or i == last
                or (prev_n is not None and prev_n.name in NESTED_TAGS)
                or (nxt is not None and nxt.name in NESTED_TAGS)
            ):
                continue
        kept.append(el)
    return kept


def _li_tail_texts(children):
    """Texts of an <li> with no later significant sibling, or a nested
    list next: they lose trailing whitespace."""
    tails = set()
    nxt = None
    for el in reversed(children):
        if isinstance(el, Text):
            if nxt is None or (isinstance(nxt, Node) and nxt.name in ("ul", "ol")):
                tails.add(el)
            if el.data.strip():
                nxt = el
        else:
            nxt = el
    return tails


def _join_blocks(pieces):
    """Concatenate ``(text, is_block)`` pieces in one pass.

    Text pieces append verbatim. A block's leading newline run and the
    accumulated trailing run merge into ``max(left, right)`` newlines.
    The trailing run is held as a count, never stripped off a string.
    """
    if len(pieces) == 1:
        return pieces[0][0]  # merging into "" keeps any piece verbatim
    parts = []
    nl = 0  # trailing newline run of the output so far
    for text, is_block in pieces:
        if is_block:
            body = text.lstrip("\n")
            nl = max(nl, len(text) - len(body))
            text = body
        body = text.rstrip("\n")
        if body:
            if nl:
                parts.append("\n" * nl)
            parts.append(body)
            nl = len(text) - len(body)
        else:
            nl += len(text)
    if nl:
        parts.append("\n" * nl)
    return "".join(parts)


class MarkdownEmitter:
    """Recursive DOM→markdown emitter with markdownify-0.14.1 defaults."""

    bullets = "*+-"

    def convert(self, root: Node) -> str:
        return self._children_text(root, as_inline=False)

    # -- core recursion (block newline-run merging = max(left, right))
    def _children_text(self, node: Node, as_inline: bool) -> str:
        children = node.children
        if not children:
            return ""
        name = node.name
        child_inline = as_inline or name in _HEADING_NAMES or name in ("td", "th")
        if name in NESTED_TAGS:
            children = _drop_boundary_ws(children)
        tails = _li_tail_texts(children) if name == "li" else ()
        n_items = 0
        pieces = []
        for el in children:
            if isinstance(el, Text):
                pieces.append((self._process_text(el, el in tails), False))
            else:
                if name == "ol" and el.name == "li":
                    el.ordinal = n_items
                    n_items += 1
                pieces.append((self._process_tag(el, child_inline), True))
        return _join_blocks(pieces)

    def _process_tag(self, node: Node, as_inline: bool) -> str:
        text = self._children_text(node, as_inline)
        fn = getattr(self, "_c_" + node.name, None)
        if fn is not None:
            return fn(node, text, as_inline)
        return text  # unknown tags: transparent (div/span/section/...)

    # -- text nodes
    def _process_text(self, el: Text, strip_tail: bool) -> str:
        text = el.data
        if not _has_ancestor(el, ("pre",)):
            # each sub is the identity when its guard fails
            if "\n" in text or "\r" in text:
                text = _NL_WS_RE.sub("\n", text)
            if "\t" in text or "  " in text:
                text = _WS_RE.sub(" ", text)
        if not _has_ancestor(el, _CODE_PARENTS):
            text = text.replace("*", r"\*").replace("_", r"\_")
        if strip_tail:
            text = text.rstrip()
        return text

    # -- block elements
    def _c_p(self, node, text, as_inline):
        if as_inline:
            return " " + text.strip() + " "
        return "\n\n%s\n\n" % text if text else ""

    def _heading(self, n, node, text, as_inline):
        if as_inline:
            return text
        text = text.strip()
        if n <= 2:
            if not text:
                return ""
            pad = "=" if n == 1 else "-"
            return "\n\n%s\n%s\n\n" % (text, pad * len(text))
        return "\n\n%s %s\n\n" % ("#" * n, text)

    def _c_h1(self, node, text, as_inline):
        return self._heading(1, node, text, as_inline)

    def _c_h2(self, node, text, as_inline):
        return self._heading(2, node, text, as_inline)

    def _c_h3(self, node, text, as_inline):
        return self._heading(3, node, text, as_inline)

    def _c_h4(self, node, text, as_inline):
        return self._heading(4, node, text, as_inline)

    def _c_h5(self, node, text, as_inline):
        return self._heading(5, node, text, as_inline)

    def _c_h6(self, node, text, as_inline):
        return self._heading(6, node, text, as_inline)

    def _c_blockquote(self, node, text, as_inline):
        if as_inline:
            return text
        if not text:
            return ""
        return "\n" + _LINE_BEGIN_RE.sub("> ", text.strip()) + "\n\n"

    def _c_hr(self, node, text, as_inline):
        return "\n\n---\n\n"

    def _c_br(self, node, text, as_inline):
        if as_inline:
            return ""
        return "  \n"

    def _c_pre(self, node, text, as_inline):
        if not text:
            return ""
        return "\n\n```\n%s\n```\n\n" % text

    # -- inline elements
    def _inline(self, markup, node, text):
        if _has_ancestor(node, _CODE_PARENTS):
            return text
        prefix, suffix, text = _chomp(text)
        if not text:
            return ""
        return "%s%s%s%s%s" % (prefix, markup, text, markup, suffix)

    def _c_strong(self, node, text, as_inline):
        return self._inline("**", node, text)

    _c_b = _c_strong

    def _c_em(self, node, text, as_inline):
        return self._inline("*", node, text)

    _c_i = _c_em

    def _c_del(self, node, text, as_inline):
        return self._inline("~~", node, text)

    _c_s = _c_del

    def _c_code(self, node, text, as_inline):
        if node.parent is not None and node.parent.name == "pre":
            return text
        return self._inline("`", node, text)

    _c_kbd = _c_code
    _c_samp = _c_code

    def _c_a(self, node, text, as_inline):
        if as_inline:
            return text
        prefix, suffix, text = _chomp(text)
        if not text:
            return ""
        href = node.get("href") or ""
        href = unescape(href)
        title = node.get("title")
        if text.replace(r"\_", "_") == href and not title:
            return "<%s>" % href
        title_part = ' "%s"' % title.replace('"', r"\"") if title else ""
        if href:
            return "%s[%s](%s%s)%s" % (prefix, text, href, title_part, suffix)
        return text

    def _c_img(self, node, text, as_inline):
        alt = node.get("alt") or ""
        src = node.get("src") or ""
        title = node.get("title")
        title_part = ' "%s"' % title.replace('"', r"\"") if title else ""
        if as_inline and (node.parent is None or node.parent.name not in ("td", "th")):
            return alt
        return "![%s](%s%s)" % (alt, src, title_part)

    # -- lists
    def _c_ul(self, node, text, as_inline):
        return self._list(node, text)

    _c_ol = _c_ul

    def _list(self, node, text):
        p = node.parent
        nested = False
        while p is not None:
            if p.name == "li":
                nested = True
                break
            p = p.parent
        if nested:
            return "\n" + _LINE_BEGIN_RE.sub("\t", text).rstrip()
        nxt = _next_sibling(node)
        before_paragraph = nxt is not None and not (
            isinstance(nxt, Node) and nxt.name in ("ul", "ol")
        )
        return "\n\n" + text + ("\n" if before_paragraph else "")

    def _c_li(self, node, text, as_inline):
        parent = node.parent
        if parent is not None and parent.name == "ol":
            try:
                start = int(parent.get("start", "1"))
            except (TypeError, ValueError):
                start = 1
            bullet = "%s." % (start + node.ordinal)
        else:
            depth = -1
            p = node
            while p is not None:
                if p.name == "ul":
                    depth += 1
                p = p.parent
            bullet = self.bullets[depth % len(self.bullets)]
        return "%s %s\n" % (bullet, (text or "").strip())

    # -- tables
    def _c_table(self, node, text, as_inline):
        return "\n\n" + text + "\n"

    def _c_caption(self, node, text, as_inline):
        return text + "\n"

    def _c_tr(self, node, text, as_inline):
        cells = [
            c for c in node.children
            if isinstance(c, Node) and c.name in ("td", "th")
        ]
        is_headrow = bool(cells) and all(c.name == "th" for c in cells)
        parent = node.parent
        is_first = _prev_sibling(node) is None
        if is_first and parent is not None and parent.name in ("thead", "tbody"):
            is_first = _prev_sibling(parent) is None
        n = 0
        for c in cells:
            try:
                n += max(1, int(c.get("colspan", "1")))
            except (TypeError, ValueError):
                n += 1
        overline = ""
        underline = ""
        if is_headrow and is_first:
            underline = "| " + " | ".join(["---"] * n) + " |\n"
        elif is_first:
            overline = "| " + " | ".join([""] * n) + " |\n"
            overline += "| " + " | ".join(["---"] * n) + " |\n"
        return overline + "|" + text + "\n" + underline

    def _c_td(self, node, text, as_inline):
        try:
            colspan = max(1, int(node.get("colspan", "1")))
        except (TypeError, ValueError):
            colspan = 1
        return " " + text.strip().replace("\n", " ") + " |" * colspan

    _c_th = _c_td


_EMITTER = MarkdownEmitter()


def _is_boilerplate(node: Node) -> bool:
    if node.name in BOILERPLATE_TAGS:
        return True
    # page-level <header> is chrome; <header> inside an article is not
    if node.name == "header" and node.parent is not None and \
            node.parent.name in ("body", "html", ""):
        return True
    cid = f"{node.get('class', '')} {node.get('id', '')}".strip().lower()
    if not cid:
        return False
    return any(tok in cid for tok in BOILERPLATE_TOKENS)


def strip_boilerplate(root: Node) -> Node:
    """Prune boilerplate subtrees in place (tag + class/id blocklists)."""
    def prune(node: Node) -> None:
        kept = []
        for ch in node.children:
            if isinstance(ch, Node):
                if _is_boilerplate(ch):
                    continue
                prune(ch)
                ch.idx = len(kept)
            kept.append(ch)
        node.children = kept

    prune(root)
    return root


def html_to_md(html, main_content: bool = False) -> str:
    """Convert an HTML payload (str or bytes) to markdown.

    Bytes are decoded by the WHATWG-style charset sniff
    (:func:`lexoid_spark.kernels.text_ops.sniff_decode_html`): BOM,
    then a ``<meta>``-declared charset in the 1024-byte prescan
    window (windows-1252/latin-1 family decoded exactly; unsupported
    CJK labels raise typed → quarantine), then strict UTF-8 with a
    total windows-1252 fallback — the behavior class the reference
    reaches through BeautifulSoup's UnicodeDammit + its iso-8859-1
    retry (``utils.py:356-363``).

    ``main_content=True`` additionally prunes navigation/ads/social
    chrome via :func:`strip_boilerplate` before emission (the
    north-rule's "boilerplate strip via tag/class blocklists"; the
    reference's markdownify path keeps chrome, so the default stays
    False for byte parity).
    """
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        from lexoid_spark.kernels.text_ops import sniff_decode_html

        html = sniff_decode_html(html)
    root = parse_html(html)
    if main_content:
        root = strip_boilerplate(root)
    return _EMITTER.convert(root)
