"""HTML main-content extraction (boilerplate strip).

A from-scratch DOM text-block heuristic in the style of Arc90 readability /
jusText / boilerpipe: segment the document into text blocks at block-level
element boundaries, score each block by link density and ancestor tag
context, keep content blocks, join with newlines.

The reference repo (pyhub-apps/pdfplumber-golang) is PDF-only; this path is
the HTML-row requirement from BASELINE.json ``north_rule`` ("HTML rows routed
through a parallel DOM boilerplate-strip heuristic (tag-density/text-ratio
scoring)"). Design follows the published block-scoring literature
(Kohlschütter et al. 2010 boilerpipe; Pomikálek 2011 jusText), not any
specific implementation.
"""

from __future__ import annotations

import re
from html import unescape as _unescape
from html.parser import HTMLParser

#: elements whose entire subtree is boilerplate by construction
_BOILERPLATE_ANCESTORS = frozenset(
    {"nav", "header", "footer", "aside", "form", "noscript", "menu"}
)
#: elements whose text content is never rendered
_INVISIBLE = frozenset({"script", "style", "head", "title", "template"})
#: elements that terminate a text block
_BLOCK_TAGS = frozenset(
    {
        "p", "div", "article", "section", "main", "body", "html",
        "ul", "ol", "li", "table", "tr", "td", "th", "h1", "h2", "h3",
        "h4", "h5", "h6", "blockquote", "pre", "nav", "header", "footer",
        "aside", "form", "br", "hr", "figure", "figcaption",
    }
)
#: a block is boilerplate if link chars / total chars exceeds this
MAX_LINK_DENSITY = 0.30
#: void elements (never pushed on the open-tag stack)
_VOID = frozenset(
    {"br", "hr", "img", "meta", "link", "input", "area", "base",
     "col", "embed", "source", "track", "wbr"}
)


class _Block:
    __slots__ = ("parts", "link_chars", "boiler", "invisible")

    def __init__(self, boiler: bool, invisible: bool):
        self.parts: list[str] = []
        self.link_chars = 0
        self.boiler = boiler
        self.invisible = invisible

    def text(self) -> str:
        return "".join(self.parts).strip()


class _BlockParser(HTMLParser):
    """Stream HTML into text blocks with (link_density, ancestor) features."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.stack: list[str] = []
        self.blocks: list[_Block] = []
        self.cur: _Block | None = None
        self.link_depth = 0

    # -- block lifecycle -------------------------------------------------
    def _flush(self) -> None:
        if self.cur is not None and self.cur.parts:
            self.blocks.append(self.cur)
        self.cur = None

    def _ensure(self) -> _Block:
        if self.cur is None:
            boiler = any(t in _BOILERPLATE_ANCESTORS for t in self.stack)
            invis = any(t in _INVISIBLE for t in self.stack)
            self.cur = _Block(boiler, invis)
        return self.cur

    # -- parser events ---------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a":
            self.link_depth += 1
        if tag not in _VOID:
            self.stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in _BLOCK_TAGS:
            self._flush()
        if tag == "a" and self.link_depth > 0:
            self.link_depth -= 1
        # pop to matching open tag (tolerates misnesting)
        if tag in self.stack:
            while self.stack and self.stack[-1] != tag:
                self.stack.pop()
            if self.stack:
                self.stack.pop()

    def handle_data(self, data: str) -> None:
        if not data or data.isspace():
            return
        blk = self._ensure()
        blk.parts.append(data)
        if self.link_depth > 0:
            blk.link_chars += len(data)


def _collect(blocks: list[_Block]) -> str:
    out: list[str] = []
    for blk in blocks:
        if blk.invisible or blk.boiler:
            continue
        txt = blk.text()
        if not txt:
            continue
        if blk.link_chars / len(txt) > MAX_LINK_DENSITY:
            continue
        out.append(txt)
    return "\n".join(out)


def extract_html_text_reference(raw: bytes | str) -> str:
    """stdlib-HTMLParser implementation (cross-check oracle for the fast
    scanner below; identical block semantics)."""
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = bytes(raw).decode("utf-8", errors="replace")
    p = _BlockParser()
    p.feed(raw)
    p.close()
    p._flush()
    return _collect(p.blocks)


# -- the fast scanner ------------------------------------------------------
#
# One C-level ``re.split`` turns a document into a flat list
# ``[text, name, attrs, text, name, attrs, ..., text]`` and one loop walks
# it.  ``name`` is a tag's spelling with its "/" if it closes (``"p"``,
# ``"/DIV"``); ``attrs`` is the text between the name and the ">", or None
# when that is empty (only attrs ending in "/" can make a start tag
# self-closing).  A comment, doctype, PI or CDATA section, and a whole
# script/style element, is a token whose name is None: it only separates
# text.  So a script/style start tag reaches the walk only self-closing.

#: a tag's attributes, up to the first ">" outside a quoted value.  That
#: end is the only one a ">" can follow, so the group is atomic: a "<"
#: whose tag never closes costs one scan, not a backtrack through it
_ATTRS = r"""(?>[^>"']*(?:(?:"[^"]*"|'[^']*')[^>"']*)*)"""
_NAME_END = r"(?![a-zA-Z0-9-])"
_SCRIPT = r"[sS][cC][rR][iI][pP][tT]"
_STYLE = r"[sS][tT][yY][lL][eE]"
#: comments/doctype/PI/CDATA; a doctype or PI ends at the first ">", so
#: its scan is atomic too (a PI's "?>" needs a char after "<?")
_DECL = (
    r"<!--.*?(?:-->|$)"
    r"|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<![^>]*+>"
    r"|<\?(?=[^>])[^>]*+(?<=\?)>"
)
#: a start/end tag
_TAG = rf"<(/?[a-zA-Z][a-zA-Z0-9-]*)(?:>|({_ATTRS})>)"


def _raw_element(name: str, lower: str) -> str:
    """A raw-text element whose start tag does not end in "/", through its
    end tag or the end of the document."""
    close = rf"/(?i:{lower})\s*>"
    return rf"<{name}{_NAME_END}{_ATTRS}(?<!/)>[^<]*(?:<(?!{close})[^<]*)*(?:<{close})?"


_MARKUP_RE = re.compile(f"{_DECL}|{_TAG}", re.S)
#: the tokenizer, exact unless _needs_scan says otherwise; a raw-text
#: element must match before its start tag does
_SPLIT_RE = re.compile(
    "|".join(
        (_DECL, _raw_element(_SCRIPT, "script"), _raw_element(_STYLE, "style"), _TAG)
    ),
    re.S,
)
#: a script/style start tag whose attributes end in "/"
_RAW_SLASH_RE = re.compile(rf"<(?:{_SCRIPT}|{_STYLE}){_NAME_END}({_ATTRS})(?<=/)>")
_RAWTEXT_END = {
    "script": re.compile(r"</script\s*>", re.I),
    "style": re.compile(r"</style\s*>", re.I),
}


def _self_closing(attrs: str) -> bool:
    """Whether a start tag whose attribute text ``attrs`` ends in "/" is
    self-closing.

    HTMLParser fires handle_startendtag (= start + immediate end, net zero
    state) when, after consuming the attributes, the remainder is exactly
    "/>".  The trailing "/" belongs to an attribute only when it is
    swallowed by an UNQUOTED value in progress with no whitespace before
    the "/" — "<a href=x/>" and "<a href= y/>" are START tags there — while
    whitespace before the "/" ("<a href=y />"), a valueless attribute
    ("<a foo/>"), or a completed quoted value ("<a href='x'/>") leaves the
    "/" to close the tag.
    """
    head = attrs[:-1]
    if head == "" or head[-1].isspace():
        return True
    parts = head.split()
    last = parts[-1]
    prev = parts[-2] if len(parts) > 1 else ""
    in_value = ("=" in last and not last.endswith(('"', "'"))) or (
        "=" not in last and prev.endswith("=")
    )
    return not in_value


def _needs_scan(text: str) -> bool:
    """Whether ``text`` holds a script/style start tag that ends in "/" but
    is not self-closing (``<script src=a.js/>``): its raw text begins
    where ``_SPLIT_RE`` cannot see it, so ``_scan_tokens`` tokenizes."""
    return "/>" in text and any(
        not _self_closing(m.group(1)) for m in _RAW_SLASH_RE.finditer(text)
    )


def _scan_tokens(text: str) -> list:
    """``_SPLIT_RE.split(text)`` from a positional search loop, which
    decides every script/style start tag before skipping its raw text."""
    toks: list = []
    pos = 0
    search = _MARKUP_RE.search
    while (m := search(text, pos)) is not None:
        piece = text[pos : m.start()]
        name, attrs = m.groups()
        pos = m.end()
        raw_end = _RAWTEXT_END.get(name.lower()) if name is not None else None
        if raw_end is not None and (
            attrs is None or attrs[-1] != "/" or not _self_closing(attrs)
        ):
            em = raw_end.search(text, pos)
            pos = em.end() if em else len(text)
            name = attrs = None
        toks += piece, name, attrs
    toks.append(text[pos:])
    return toks


_F_BLOCK, _F_VOID, _F_HIDE, _F_ANCHOR = 1, 2, 4, 8


def _tag_table() -> dict[str, tuple[str, bool, int]]:
    """Spelling -> (lower-case tag, closing, flags), for the tags with a
    flag in lower, upper and capitalised spelling.  Fixed at import; any
    other spelling goes through _tag_entry."""
    flags: dict[str, int] = {}
    for tags, f in (
        (_BLOCK_TAGS, _F_BLOCK),
        (_VOID, _F_VOID),
        (_BOILERPLATE_ANCESTORS | _INVISIBLE, _F_HIDE),
        (("a",), _F_ANCHOR),
    ):
        for t in tags:
            flags[t] = flags.get(t, 0) | f
    table = {}
    for t, f in flags.items():
        for s in (t, t.upper(), t.capitalize()):
            table[s] = (t, False, f)
            table["/" + s] = (t, True, f)
    return table


_TAG_TABLE = _tag_table()
_HIDING = _BOILERPLATE_ANCESTORS | _INVISIBLE


def _tag_entry(name: str) -> tuple[str, bool, int]:
    low = name.lower()
    entry = _TAG_TABLE.get(low)
    if entry is not None:
        return entry
    if low[0] == "/":
        return low[1:], True, 0
    return low, False, 0


def _emit(out: list[str], parts: list[str], link_chars: int) -> None:
    """Append a block's text to ``out`` if it is content (as _collect)."""
    txt = "".join(parts).strip()
    if txt and not link_chars / len(txt) > MAX_LINK_DENSITY:
        out.append(txt)


def extract_html_text(raw: bytes | str) -> str:
    """Extract main-content text: content blocks (link density <=
    MAX_LINK_DENSITY, no boilerplate/invisible ancestor) joined by '\\n'.

    One ``re.split`` per document and one table-driven walk over its
    tokens.  Over the 3,992 html_text benchmark payloads of seed 70
    (5.1 MB, one core) it takes 0.20 s of CPU, against 0.36-0.41 s for the
    per-tag search loop it replaced and 1.45 s for the stdlib parser.
    Output is pinned by tests: to extract_html_text_reference over the
    corpus, and to a digest of the replaced scanner's output over seeded
    tag soups.
    """
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = bytes(raw).decode("utf-8", errors="replace")
    toks = _scan_tokens(raw) if _needs_scan(raw) else _SPLIT_RE.split(raw)
    toks += None, None
    table = _TAG_TABLE.get
    out: list[str] = []
    stack: list[str] = []
    open_count: dict[str, int] = {}
    # cur: None = no block; False = a block that is discarded (it began
    # under a boilerplate/invisible element); list = a block's text parts
    cur: list[str] | bool | None = None
    link_chars = 0
    link_depth = 0
    hide_depth = 0  # open boilerplate-ancestor or invisible elements
    it = iter(toks)
    for text, name, attrs in zip(it, it, it):
        if text and cur is not False and not text.isspace():
            if cur is None:
                if hide_depth:
                    cur = False
                else:
                    if "&" in text:
                        text = _unescape(text)
                    cur = [text]
                    link_chars = len(text) if link_depth else 0
            else:
                if "&" in text:
                    text = _unescape(text)
                cur.append(text)
                if link_depth:
                    link_chars += len(text)
        if name is None:
            continue
        entry = table(name)
        if entry is None:
            entry = _tag_entry(name)
        tag, closing, flags = entry
        if flags & _F_BLOCK and cur is not None:
            if cur:
                _emit(out, cur, link_chars)
            cur = None
        if closing:
            if flags & _F_ANCHOR and link_depth:
                link_depth -= 1
            if open_count.get(tag):
                # pop to the matching open tag (tolerates misnesting)
                while True:
                    t = stack.pop()
                    open_count[t] -= 1
                    if t in _HIDING:
                        hide_depth -= 1
                    if t == tag:
                        break
        elif attrs is None or attrs[-1] != "/" or not _self_closing(attrs):
            if flags & _F_ANCHOR:
                link_depth += 1
            if not flags & _F_VOID:
                stack.append(tag)
                open_count[tag] = open_count.get(tag, 0) + 1
                if flags & _F_HIDE:
                    hide_depth += 1
    if cur:
        _emit(out, cur, link_chars)
    return "\n".join(out)

