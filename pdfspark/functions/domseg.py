"""DOM-heuristic main-content segmentation — the north rule's "HTML
boilerplate strip + DOM heuristics" capability, built from public
knowledge only.

An HTML page is segmented into TEXT BLOCKS (contiguous character data
not separated by a block-level element boundary), shallow text
features are computed per block (word count, anchor-text word count,
link density), and each block is classified content vs boilerplate
with the published number-of-words / link-density decision stumps of
Kohlschuetter, Fankhauser & Nejdl, "Boilerplate Detection using
Shallow Text Features" (WSDM 2010) — re-derived here from the paper;
no third-party extractor is imported (stdlib ``html.parser`` only,
same constraint as operators/html_tables.py).

On top of the flat stump we add the DOM context the stump cannot see
(the "DOM heuristics" named in the rule): blocks inside semantic
boilerplate containers — ``<nav>/<aside>/<header>/<footer>`` or any
element whose class/id tokens name a nav/menu/sidebar/footer/comment/
ad region — are boilerplate regardless of their text shape, so a
40-word promo paragraph inside a footer cannot leak into main text.

Everything is deterministic pure Python, so the same kernel runs
Spark-free over the synth fixtures to produce the expected sidecar
the DuckDB oracle reads (the xycut / payload-decode oracle pattern),
pinning the distributed plumbing against a single-process ground
truth, while the hand-written cases in tests/test_html_main.py pin
the kernel itself against worked examples.

The reference repo has no main-content extractor (it parses PDFs and
HTML *tables*, parse_util.py:58-115); this operator is part of the
training-data-pipeline surface the north rule adds on top.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html.parser import HTMLParser

# Tags that do NOT end a text block. Everything else is treated as a
# block-level boundary: starting or ending it flushes the open block.
INLINE_TAGS = frozenset(
    "a abbr b bdi bdo cite code data dfn em font i kbd mark q rt ruby s samp "
    "small span strike strong sub sup time tt u var wbr".split()
)

# <br> is neither a block boundary nor text: it contributes a single
# whitespace inside the open block (a double <br> paragraph break in
# the wild still yields one block here; the word-count features do
# not care, and determinism does).
SOFT_BREAK_TAGS = frozenset({"br"})

# Subtrees whose character data is never text content. <head> is NOT
# depth-counted with these: real pages routinely leave it unclosed
# (browsers imply </head> at <body> or the first flow content), so it
# gets a dedicated flag cleared by </head> OR an implied close — a
# blanket depth counter would swallow the whole document.
IGNORE_TAGS = frozenset(
    "iframe noscript object script style svg template title".split()
)

# Semantic containers that mark every enclosed block as boilerplate.
BOILER_TAGS = frozenset({"nav", "aside", "header", "footer"})

# class/id tokens that mark an element as a boilerplate container.
BOILER_TOKENS = frozenset(
    "ad ads advert advertisement breadcrumb breadcrumbs comment comments "
    "cookie footer header menu nav navbar navigation promo related share "
    "sidebar social widget".split()
)

_TOKEN_RE = re.compile(r"[a-z0-9]+")

# Void elements (cannot wrap content): their start tag must not be
# pushed on the open-element stack even when the author writes <img>
# without the XHTML slash — html.parser reports them via
# handle_starttag, not handle_startendtag.
VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track "
    "wbr".split()
)


@dataclass
class Block:
    """One text block with its shallow features and DOM context."""

    block_id: int
    tag: str                 # innermost block-level container
    text: str                # single-spaced, stripped
    n_words: int
    n_link_words: int
    dom_boiler: bool         # inside a semantic boilerplate container
    is_content: bool = False

    @property
    def link_density(self) -> float:
        return self.n_link_words / self.n_words if self.n_words else 0.0


@dataclass
class _Seg:
    """Mutable segmentation state for one page."""

    words: list[str] = field(default_factory=list)
    link_flags: list[bool] = field(default_factory=list)
    tag: str = "body"
    boiler_depth: int = 0


def _attrs_boiler(attrs) -> bool:
    for name, value in attrs:
        if name in ("class", "id") and value:
            for tok in _TOKEN_RE.findall(value.lower()):
                if tok in BOILER_TOKENS:
                    return True
    return False


class _BlockParser(HTMLParser):
    """Streams character data into blocks, flushing on block-level
    tag boundaries; tracks anchor depth (for link words), ignorable
    subtrees, and the boilerplate-container depth."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._seg = _Seg()
        self._anchor_depth = 0
        self._ignore_depth = 0
        self._in_head = False
        # head can open at most once, and only before flow content:
        # the HTML5 tree builder ignores a <head> token after head
        # has closed (explicitly or implied) or once body content
        # has started — without this, a stray second <head> (or one
        # inside an ignored subtree) would swallow the document tail
        self._head_done = False
        # (tag, was_boiler) for every open block-level element, so a
        # close tag unwinds exactly the context its start established
        self._open: list[tuple[str, bool]] = []

    # -- block lifecycle --------------------------------------------------

    def _flush(self) -> None:
        seg = self._seg
        if seg.words:
            self.blocks.append(
                Block(
                    block_id=len(self.blocks),
                    tag=seg.tag,
                    text=" ".join(seg.words),
                    n_words=len(seg.words),
                    n_link_words=sum(seg.link_flags),
                    dom_boiler=seg.boiler_depth > 0,
                )
            )
        seg.words = []
        seg.link_flags = []

    # -- parser events ----------------------------------------------------

    def handle_starttag(self, tag, attrs):
        if tag in IGNORE_TAGS:
            self._ignore_depth += 1
            return
        if self._ignore_depth:
            return
        if tag == "head":
            if not self._head_done:
                self._in_head = True
            return
        if self._in_head:
            if tag in ("meta", "link", "base"):
                return
            # implied </head>: the HTML5 tree builder closes head at
            # any flow-content start tag (unclosed <head> is common in
            # the wild and must not swallow the document)
            self._in_head = False
        self._head_done = True
        if tag in SOFT_BREAK_TAGS:
            return
        if tag in INLINE_TAGS:
            if tag == "a":
                self._anchor_depth += 1
            return
        # block-level boundary
        self._flush()
        if tag in VOID_TAGS:
            return
        boiler = tag in BOILER_TAGS or _attrs_boiler(attrs)
        self._open.append((tag, boiler))
        self._seg.tag = tag
        if boiler:
            self._seg.boiler_depth += 1

    def handle_startendtag(self, tag, attrs):
        # self-closing: a block-level one still breaks the block but
        # opens no context (e.g. <hr/>); a flow one inside an
        # unclosed head implies </head> exactly like its non-self-
        # closing spelling
        if tag in IGNORE_TAGS or self._ignore_depth:
            return
        if self._in_head:
            if tag in ("meta", "link", "base"):
                return
            self._in_head = False
        self._head_done = True
        if tag not in INLINE_TAGS and tag not in SOFT_BREAK_TAGS:
            self._flush()

    def handle_endtag(self, tag):
        if tag in IGNORE_TAGS:
            self._ignore_depth = max(0, self._ignore_depth - 1)
            return
        if self._ignore_depth:
            return
        if tag == "head":
            self._in_head = False
            self._head_done = True
            return
        if self._in_head:
            return
        if tag in SOFT_BREAK_TAGS or tag in VOID_TAGS:
            return
        if tag in INLINE_TAGS:
            if tag == "a":
                self._anchor_depth = max(0, self._anchor_depth - 1)
            return
        self._flush()
        # unwind to the matching open tag (tolerates misnested HTML:
        # intervening unclosed elements are implied-closed, the
        # BeautifulSoup behavior html_tables.py documents)
        for i in range(len(self._open) - 1, -1, -1):
            if self._open[i][0] == tag:
                for _, was_boiler in self._open[i:]:
                    if was_boiler:
                        self._seg.boiler_depth -= 1
                del self._open[i:]
                break
        self._seg.tag = self._open[-1][0] if self._open else "body"

    def handle_data(self, data):
        if self._ignore_depth:
            return
        words = data.split()
        if not words:
            return
        if self._in_head:
            # implied </head>: the tree builder closes head at any
            # non-whitespace character token too, not only at flow
            # tags — bare prose after an unclosed <head> is body text
            self._in_head = False
        self._head_done = True
        in_link = self._anchor_depth > 0
        self._seg.words.extend(words)
        self._seg.link_flags.extend([in_link] * len(words))


def segment_blocks(html: str) -> list[Block]:
    """Parse one HTML page into its ordered text blocks (features
    populated, classification not yet applied)."""
    p = _BlockParser()
    p.feed(html)
    p.close()
    p._flush()
    return p.blocks


# Decision thresholds from Kohlschuetter et al. (WSDM 2010), the
# densometric "NumWordsRules" stump (paper Sec. 5 / Fig. 9): link
# densities 1/3 and 5/9, word counts 16/15/4 and 40/17.
_CURR_LD = 0.333333
_PREV_LD = 0.555556


def _stump(prev: Block | None, curr: Block, nxt: Block | None) -> bool:
    prev_words = prev.n_words if prev else 0
    prev_ld = prev.link_density if prev else 0.0
    next_words = nxt.n_words if nxt else 0
    if curr.link_density > _CURR_LD:
        return False
    if prev_ld <= _PREV_LD:
        return (
            curr.n_words > 16 or next_words > 15 or prev_words > 4
        )
    return curr.n_words > 40 or next_words > 17


def classify_blocks(blocks: list[Block]) -> list[Block]:
    """Apply the WSDM-2010 stump over the full block sequence (the
    neighbor features see every block, boilerplate context included),
    then veto with the DOM context: a block inside a nav/aside/
    header/footer (or class/id-marked) container is never content."""
    n = len(blocks)
    for i, b in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else None
        nxt = blocks[i + 1] if i < n - 1 else None
        b.is_content = _stump(prev, b, nxt) and not b.dom_boiler
    return blocks


def extract_blocks(html: str) -> list[Block]:
    """segment + classify in one call (the kernel the operator, the
    sidecar writer, and the tests all share)."""
    return classify_blocks(segment_blocks(html))

