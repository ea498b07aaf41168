"""Deterministic page extraction kernel — the sandbox stand-in for the model.

The reference's neural stack (SAM-b encoder → 16x conv compressor → CLIP-L →
MoE decoder; vllm/deepseek_ocr.py:364-553) is, from a dataflow standpoint,
one expensive deterministic scalar function ``page → grounded markdown``
(greedy decode, temperature=0.0, run_dpsk_ocr_eval_batch.py:40). No GPU or
weights exist in this sandbox, so this module provides a deterministic,
model-free kernel with the same signature and the same OUTPUT GRAMMAR:

    <|ref|>{label}<|/ref|><|det|>[[x1,y1,x2,y2]]<|/det|>\\n{markdown block}

(coords on the 0-999 virtual grid, image.py:99-103), with a trailing
``<｜end▁of▁sentence｜>`` on well-formed pages (pdf.py:289) and no EOS on
degenerate/"repeating" pages, so the SKIP_REPEAT path is exercised.

Extraction itself is the north_rule's "HTML boilerplate strip + DOM
heuristics": strip <nav>/<header>/<footer>/<aside>/<script>/<style> and
ad/sidebar-classed containers, walk content blocks in document order, emit
markdown. Page fan-out mirrors the PDF page source (pdf.py:64-95): documents
carry ``<div class="page" data-page="k">`` sections.

Pure Python + stdlib only: a strict-subset regex scanner feeds the block
extractor's handlers on well-formed pages, and stdlib html.parser parses
every other page (see ``feed_strict``). Shared verbatim by the single-node
oracle and the Spark pandas UDFs (byte-identity by construction).
"""

from __future__ import annotations

from dataclasses import dataclass
from html.parser import HTMLParser

from deepseek_ocr_spark.config import EOS_TOKEN, MAX_OUTPUT_TOKENS

# Default page pixel dims when the page carries none (A4-ish at dpi=144,
# the reference's render dpi, pdf.py:72-73).
DEFAULT_WIDTH = 1190
DEFAULT_HEIGHT = 1684

BOILERPLATE_TAGS = frozenset({"nav", "header", "footer", "aside", "script", "style"})

# HTML void elements never emit an end tag — they must not affect any
# depth counter (an unclosed <img> inside <nav> would otherwise desync the
# boilerplate skip and swallow the rest of the page).
VOID_TAGS = frozenset(
    {"img", "br", "hr", "meta", "link", "input", "source", "area",
     "base", "col", "embed", "track", "wbr"}
)
BOILERPLATE_CLASS_HINTS = ("sidebar", "banner", "cookie", "menu", "advert", "promo")

BLOCK_LABELS = {
    "h1": "title",
    "h2": "sub_title",
    "h3": "sub_title",
    "p": "text",
    "ul": "list",
    "ol": "list",
    "pre": "code",
    "table": "table",
    "img": "image",
    "blockquote": "text",
}


_INT32_MAX = 2**31 - 1


def _clamp_i32(v: int, default: int) -> int:
    """Attribute values must fit the engine's int32 page schema — a hostile
    data-page="6442450944" would otherwise pass Python int() but crash the
    Arrow conversion, killing the whole batch job while the oracle succeeds."""
    return v if 0 <= v <= _INT32_MAX else default


def _int_attr(attrs: dict, key: str, default: int) -> int:
    """Malformed attribute values (data-width="12px") fall back to the
    default instead of crashing the parse."""
    try:
        return _clamp_i32(int(attrs.get(key, default)), default)
    except (TypeError, ValueError):
        return default


def _clamp_dim(v: int, default: int) -> int:
    """Page dimensions additionally exclude 0: a hostile data-height="0"
    would reach tile planning and raise ZeroDivisionError in the oracle and
    DIVIDE_BY_ZERO under Spark ANSI mode, killing the whole batch (page_no
    may legitimately be 0, so this is dims-specific)."""
    return v if 1 <= v <= _INT32_MAX else default


def _dim_attr(attrs: dict, key: str, default: int) -> int:
    try:
        return _clamp_dim(int(attrs.get(key, default)), default)
    except (TypeError, ValueError):
        return default


@dataclass
class PageRecord:
    page_no: int
    width: int
    height: int
    html: str  # outer HTML of the page section (or whole doc if single-page)
    degenerate: bool = False


import re as _re

# Fast page-splitter scan: only div tags matter for page-section boundaries,
# so a compiled regex over div open/close tags (tracking nesting depth) is
# ~10x cheaper than a full HTMLParser pass — measured as the dominant cost
# of the split stage at bench scale. Heuristic limits (documented): assumes
# '>' does not appear inside attribute values of div tags.
_DIV_TAG_RE = _re.compile(r"<div\b[^>]*>|</div\s*>", _re.IGNORECASE)
# attribute values may be double- or single-quoted
_CLASS_PAGE_RE = _re.compile(
    r"class\s*=\s*(?:\"[^\"]*\bpage\b[^\"]*\"|'[^']*\bpage\b[^']*')", _re.IGNORECASE
)
_ATTR_RES = {
    "page": _re.compile(r"data-page\s*=\s*[\"'](\d+)[\"']"),
    "width": _re.compile(r"data-width\s*=\s*[\"'](\d+)[\"']"),
    "height": _re.compile(r"data-height\s*=\s*[\"'](\d+)[\"']"),
    "degen": _re.compile(r"data-degenerate\s*=\s*[\"']1[\"']"),
}


class _PageSplitter(HTMLParser):
    """Split a document into ``div.page`` sections (outer HTML, attrs kept)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pages: list[PageRecord] = []
        self._depth = 0  # div nesting depth inside a page section
        self._buf: list[str] | None = None
        self._cur: PageRecord | None = None

    def handle_starttag(self, tag, attrs):
        if self._buf is not None:
            self._buf.append(self.get_starttag_text())
            if tag == "div":
                self._depth += 1
            return
        if tag == "div":
            a = dict(attrs)
            if "page" in (a.get("class") or "").split():
                self._cur = PageRecord(
                    page_no=_int_attr(a, "data-page", len(self.pages)),
                    width=_dim_attr(a, "data-width", DEFAULT_WIDTH),
                    height=_dim_attr(a, "data-height", DEFAULT_HEIGHT),
                    html="",
                    degenerate=a.get("data-degenerate") == "1",
                )
                self._buf = [self.get_starttag_text()]
                self._depth = 1

    def handle_startendtag(self, tag, attrs):
        if self._buf is not None:
            self._buf.append(self.get_starttag_text())

    def handle_endtag(self, tag):
        if self._buf is None:
            return
        if tag == "div":
            self._depth -= 1
            if self._depth == 0:
                self._buf.append("</div>")
                self._cur.html = "".join(self._buf)
                self.pages.append(self._cur)
                self._buf = None
                self._cur = None
                return
        self._buf.append(f"</{tag}>")

    def handle_data(self, data):
        if self._buf is not None:
            self._buf.append(data)


def split_pages(html: str | bytes | None) -> list[PageRecord]:
    """Document → ordered page sections (the O-2 fan-out analog).

    Fast div-scan splitter (see _DIV_TAG_RE note); shared verbatim by the
    oracle and the Spark stages. Documents without explicit ``div.page``
    sections are one page whose section is the whole document. Falls back
    to the HTMLParser-based splitter when the div nesting is unbalanced
    (malformed HTML), so behavior degrades identically in both engines.

    Input normalization lives HERE (the shared kernel), not in callers:
    None → empty doc; bytes → utf-8 with replacement. Forking that guard
    per call site is how the engines drift apart.
    """
    if html is None:
        html = ""
    elif isinstance(html, (bytes, bytearray, memoryview)):
        html = bytes(html).decode("utf-8", errors="replace")
    pages: list[PageRecord] = []
    depth = 0
    start = -1
    cur_tag = ""
    balanced = True
    for m in _DIV_TAG_RE.finditer(html):
        tag = m.group(0)
        if tag[1] != "/":  # open
            if depth == 0:
                if _CLASS_PAGE_RE.search(tag):
                    start = m.start()
                    cur_tag = tag
                    depth = 1
            else:
                depth += 1
        else:  # close
            if depth > 0:
                depth -= 1
                if depth == 0 and start >= 0:
                    pages.append(_page_record(cur_tag, html[start : m.end()], len(pages)))
                    start = -1
    if depth != 0:
        balanced = False
    if not balanced:
        return _split_pages_htmlparser(html)
    if pages:
        pages.sort(key=lambda p: p.page_no)
        return pages
    return [PageRecord(0, DEFAULT_WIDTH, DEFAULT_HEIGHT, html, False)]


def _page_record(open_tag: str, section: str, default_no: int) -> PageRecord:
    m = _ATTR_RES["page"].search(open_tag)
    page_no = _clamp_i32(int(m.group(1)), default_no) if m else default_no
    m = _ATTR_RES["width"].search(open_tag)
    width = _clamp_dim(int(m.group(1)), DEFAULT_WIDTH) if m else DEFAULT_WIDTH
    m = _ATTR_RES["height"].search(open_tag)
    height = _clamp_dim(int(m.group(1)), DEFAULT_HEIGHT) if m else DEFAULT_HEIGHT
    return PageRecord(
        page_no, width, height, section, _ATTR_RES["degen"].search(open_tag) is not None
    )


def _split_pages_htmlparser(html: str) -> list[PageRecord]:
    """HTMLParser-based fallback for malformed/unbalanced div nesting."""
    splitter = _PageSplitter()
    splitter.feed(html)
    splitter.close()
    if splitter.pages:
        splitter.pages.sort(key=lambda p: p.page_no)
        return splitter.pages
    return [PageRecord(0, DEFAULT_WIDTH, DEFAULT_HEIGHT, html, False)]


# Strict-subset scanner: on pages where every "<" opens `<tag a="v" …>`,
# `<tag …/>` or `</tag>` with lowercase names, double-quoted values free of
# "<", ">" and "&", no "&" anywhere and no raw-text element, HTMLParser's
# (starttag | startendtag | endtag | data) event stream is fully determined
# by these two regexes, so the handlers can be fed without its per-char
# state machine (~60% of the oracle's single-process time, cProfile over
# the synthetic corpus). Every other page goes through
# HTMLParser, which stays the reference (tests/test_extract_kernel.py
# compares the two event streams).
_STRICT_TAG_RE = _re.compile(
    r'<(?:/([a-z][a-z0-9]*)|([a-z][a-z0-9]*)((?: [a-z][-a-z0-9]*="[^"<>&]*")*)( ?/)?)>'
)
_STRICT_ATTR_RE = _re.compile(r' ([a-z][-a-z0-9]*)="([^"]*)"')
# raw-text / escapable raw-text elements switch HTMLParser's tokenizer mode
# (a superset of its CDATA_CONTENT_ELEMENTS across Python versions)
_RAW_TEXT_TAG_RE = _re.compile(
    r"</?(?:script|style|textarea|title|xmp|iframe|noembed|noframes|noscript|plaintext)[ />]"
)


def feed_strict(handler, html: str) -> bool:
    """Feed ``html``'s events to ``handler``'s ``handle_*`` methods and
    return True when the page is in the strict subset; otherwise call
    nothing and return False (the caller falls back to HTMLParser).

    ``_STRICT_TAG_RE.split`` yields ``[data, end, start, attrs, slash,
    data, …]``; each match holds exactly one "<", so the page is in the
    subset iff there are as many matches as "<" characters."""
    if "&" in html or _RAW_TEXT_TAG_RE.search(html):
        return False
    toks = _STRICT_TAG_RE.split(html)
    if len(toks) != 5 * html.count("<") + 1:
        return False
    handle_data = handler.handle_data
    handle_starttag = handler.handle_starttag
    handle_startendtag = handler.handle_startendtag
    handle_endtag = handler.handle_endtag
    attr_findall = _STRICT_ATTR_RE.findall
    if toks[0]:
        handle_data(toks[0])
    for end, tag, attrs, slash, data in zip(
        toks[1::5], toks[2::5], toks[3::5], toks[4::5], toks[5::5]
    ):
        if end is not None:
            handle_endtag(end)
        elif slash is None:
            handle_starttag(tag, attr_findall(attrs) if attrs else [])
        else:
            handle_startendtag(tag, attr_findall(attrs) if attrs else [])
        if data:
            handle_data(data)
    return True


class _BlockExtractor(HTMLParser):
    """DOM-heuristic main-content walk over one page section."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str | None, str]] = []  # (label, bbox, md)
        self._skip_depth = 0
        self._stack: list[str] = []
        self._block_tag: str | None = None
        self._block_bbox: str | None = None
        self._text: list[str] = []
        self._list_items: list[str] = []
        self._in_li = False
        self._table_rows: list[list[str]] = []
        self._in_cell = False

    # -- boilerplate stripping ------------------------------------------
    def _is_boilerplate(self, tag, a) -> bool:
        if tag in BOILERPLATE_TAGS:
            return True
        cls = a.get("class")
        if not cls:
            return False
        cls = cls.lower()
        return any(h in cls for h in BOILERPLATE_CLASS_HINTS)

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if self._skip_depth:
            if tag not in VOID_TAGS:
                self._skip_depth += 1
            return
        if self._is_boilerplate(tag, a):
            self._skip_depth = 1
            return
        if self._block_tag is None:
            if tag in BLOCK_LABELS and tag != "img":
                self._block_tag = tag
                self._block_bbox = a.get("data-bbox")
                self._text = []
                self._list_items = []
                self._table_rows = []
            elif tag == "img":
                self.blocks.append(("image", a.get("data-bbox"), ""))
        else:
            if tag == "li":
                self._in_li = True
                self._text = []
            elif tag == "tr":
                self._table_rows.append([])
            elif tag in ("td", "th"):
                self._in_cell = True
                self._text = []
            elif tag == "img":
                # nested figure inside a block: emitted after the block
                pass

    def handle_startendtag(self, tag, attrs):
        a = dict(attrs)
        if self._skip_depth:
            return
        if tag == "img" and self._block_tag is None:
            self.blocks.append(("image", a.get("data-bbox"), ""))

    def handle_endtag(self, tag):
        if self._skip_depth:
            # symmetric with handle_starttag: explicit </img>/</br> closers
            # (common in XML-serialized html) must not end the skip early
            if tag not in VOID_TAGS:
                self._skip_depth -= 1
            return
        if self._block_tag is None:
            return
        if tag == "li" and self._in_li:
            self._list_items.append("".join(self._text).strip())
            self._in_li = False
            self._text = []
        elif tag in ("td", "th") and self._in_cell:
            if self._table_rows:
                self._table_rows[-1].append("".join(self._text).strip())
            self._in_cell = False
            self._text = []
        elif tag == self._block_tag:
            self._emit_block()

    def handle_data(self, data):
        if self._skip_depth:
            return
        if self._block_tag is not None:
            self._text.append(data)

    def close(self):
        super().close()
        # flush a block left open by malformed HTML (unclosed tag) so its
        # text is not silently dropped
        if self._block_tag is not None:
            if self._in_li:
                self._list_items.append("".join(self._text).strip())
                self._in_li = False
                self._text = []
            if self._in_cell and self._table_rows:
                self._table_rows[-1].append("".join(self._text).strip())
                self._in_cell = False
                self._text = []
            self._emit_block()

    # -- markdown emission ----------------------------------------------
    def _emit_block(self) -> None:
        tag = self._block_tag
        label = BLOCK_LABELS[tag]
        bbox = self._block_bbox
        if tag in ("ul", "ol"):
            md = "\n".join(f"- {it}" for it in self._list_items if it)
        elif tag == "table":
            md = self._table_md()
        elif tag == "pre":
            md = "```\n" + "".join(self._text).strip("\n") + "\n```"
        else:
            body = " ".join("".join(self._text).split())
            if tag == "h1":
                md = f"# {body}"
            elif tag in ("h2", "h3"):
                md = f"## {body}"
            elif tag == "blockquote":
                md = f"> {body}"
            else:
                md = body
        self.blocks.append((label, bbox, md))
        self._block_tag = None
        self._block_bbox = None
        self._text = []

    def _table_md(self) -> str:
        rows = [r for r in self._table_rows if r]
        if not rows:
            return ""
        out = ["| " + " | ".join(rows[0]) + " |"]
        out.append("|" + "---|" * len(rows[0]))
        for r in rows[1:]:
            out.append("| " + " | ".join(r) + " |")
        return "\n".join(out)


def _bbox_span(label: str, bbox: str | None) -> str:
    """Grounding span in the reference grammar (eval.py:71). Coords come in
    as the generator's ``data-bbox="x1,y1,x2,y2"`` on the 0-999 grid."""
    if not bbox:
        return ""
    parts = bbox.split(",")
    if len(parts) != 4:
        return ""
    coords = "[[" + ", ".join(p.strip() for p in parts) + "]]"
    return f"<|ref|>{label}<|/ref|><|det|>{coords}<|/det|>"


def _truncate_tokens(text: str, max_tokens: int) -> tuple[str, bool]:
    """Generation-cap analog (max_tokens=8192, eval.py:30,41): truncate at a
    whitespace-token boundary; a capped page emits no EOS (like a vLLM
    sequence that hit max_model_len).

    Fast path: str.split() counts exactly the tokens the scan counts
    (maximal non-space runs), so an under-cap page — almost every page —
    never takes the per-char walk."""
    if len(text.split()) <= max_tokens:
        return text, False
    n = 0
    for i, ch in enumerate(text):
        if ch.isspace():
            continue
        if i == 0 or text[i - 1].isspace():
            n += 1
            if n > max_tokens:
                return text[:i].rstrip(), True
    return text, False


def extract_page(page: PageRecord, max_tokens: int = MAX_OUTPUT_TOKENS) -> str:
    """One page section → raw grounded markdown (the "model" call).

    Deterministic: same bytes for the same page html, always. Degenerate
    pages emit a repeating body with NO trailing EOS (the SKIP_REPEAT
    observable, pdf.py:289-293); normal pages end with the EOS literal.
    """
    if page.degenerate:
        # repeating-output simulation: the decoder loops until the cap
        return ("the the the is is of of " * 64).rstrip()

    parser = _BlockExtractor()
    if not feed_strict(parser, page.html):
        parser.feed(page.html)
    parser.close()

    parts: list[str] = []
    for label, bbox, md in parser.blocks:
        span = _bbox_span(label, bbox)
        if label == "image":
            if span:
                parts.append(span + "\n")
            continue
        if not md:
            continue
        if span:
            parts.append(span + "\n" + md + "\n\n")
        else:
            parts.append(md + "\n\n")

    raw = "".join(parts)
    raw, capped = _truncate_tokens(raw, max_tokens)
    if capped:
        return raw
    return raw + EOS_TOKEN


def extract_document(html: str | bytes | None) -> list[dict]:
    """Whole document → ordered per-page raw outputs + dims + tile plan inputs.

    Returned dicts: page_no, width, height, raw (grounded markdown).
    This is the composition ``split_pages ∘ extract_page`` used by both the
    oracle and (page-at-a-time) the Spark plan.
    """
    out = []
    for rec in split_pages(html):
        out.append(
            {
                "page_no": rec.page_no,
                "width": rec.width,
                "height": rec.height,
                "raw": extract_page(rec),
            }
        )
    return out
