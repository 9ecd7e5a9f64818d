"""From-scratch DOM boilerplate stripper (no lxml / bs4 / html.parser).

Single-pass HTML tokenizer -> arena-allocated *block* array (parallel
NumPy arrays over one contiguous text buffer, NOT per-node Python
objects) -> text-density + link-density scoring in the style of
Boilerpipe / trafilatura -> main-content selection.

Fills the role the reference's parse stage plays
(reference: src/processor/app/main.py:100-102, parse -> parsed_data) for
HTML payloads; the scoring replaces structure recognition the reference
delegated to pandas/openpyxl (src/api/app/parsers/excel_parser.py:40-113).

Canonical main_text form (the byte-identity invariant, BASELINE.json
north_rule):
  * UTF-8, '\n' between blocks, no trailing newline
  * within a block, every whitespace run collapsed to a single U+0020
  * block text stripped at both ends; empty blocks dropped
  * no unicode normalization, entities decoded exactly once
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

# --- tag taxonomy ----------------------------------------------------------

# Tags that terminate/flush a text block (display:block-ish).
BLOCK_TAGS = frozenset(
    """p div section article h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead
    tbody tfoot tr blockquote pre br hr header footer nav aside main
    form figure figcaption address fieldset legend details summary title
    body html head center caption""".split()
)

# Table cells are inline within their row block but contribute a cell
# separator, so '<td>A</td><td>1</td>' canonicalizes to 'A 1'.
CELL_TAGS = frozenset(("td", "th"))

# Raw-text elements whose content is never document text.
RAWTEXT_TAGS = frozenset("script style noscript template textarea".split())

# The close tag that ends each raw-text element's content.
_RAWTEXT_CLOSE_RE = {
    t: re.compile(r"</" + t + r"\s*>", re.IGNORECASE) for t in RAWTEXT_TAGS
}

_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")

# Containers whose entire subtree is presumed boilerplate chrome.
BOILER_CONTAINERS = frozenset("nav header footer aside form".split())

# Void elements (never pushed on the open stack).
VOID_TAGS = frozenset(
    "br hr img input meta link area base col embed source track wbr".split()
)

_TAG_IDS: dict[str, int] = {}


def _tag_id(name: str) -> int:
    tid = _TAG_IDS.get(name)
    if tid is None:
        tid = len(_TAG_IDS) + 1
        _TAG_IDS[name] = tid
    return tid


# --- entity decoding --------------------------------------------------------

_NAMED_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "#39": "'",
    "nbsp": " ",
    "copy": "©",
    "mdash": "—",
    "ndash": "–",
    "hellip": "…",
    "laquo": "«",
    "raquo": "»",
    "times": "×",
    "yen": "¥",
    "euro": "€",
    "pound": "£",
}

_ENTITY_RE = re.compile(r"&(#x[0-9a-fA-F]{1,6}|#[0-9]{1,7}|[a-zA-Z][a-zA-Z0-9]{1,31});")


def _entity_sub(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#x") or body.startswith("#X"):
        try:
            cp = int(body[2:], 16)
            return chr(cp) if 0 < cp <= 0x10FFFF else m.group(0)
        except ValueError:
            return m.group(0)
    if body.startswith("#"):
        try:
            cp = int(body[1:])
            return chr(cp) if 0 < cp <= 0x10FFFF else m.group(0)
        except ValueError:
            return m.group(0)
    rep = _NAMED_ENTITIES.get(body)
    return rep if rep is not None else m.group(0)


def decode_entities(s: str) -> str:
    if "&" not in s:
        return s
    return _ENTITY_RE.sub(_entity_sub, s)


# attribute tokenizer: name = "..." | '...' | bare. Quoted values are
# consumed atomically, so an 'href=' INSIDE another attribute's quoted
# value can never be mistaken for the real href, and a data-href /
# xlink:href name never matches the plain 'href' lookup.
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))"""
)


def _extract_href(tag_body: str) -> str | None:
    for m in _ATTR_RE.finditer(tag_body):
        if m.group(1).lower() == "href":
            v = m.group(3)
            if v is None:
                v = m.group(4)
            if v is None:
                v = m.group(5) or ""
            return v.strip()
    return None


def collapse_ws(s: str) -> str:
    """Canonical whitespace form: runs (incl. NBSP) -> one space, strip.

    str.split() and the regex \\s both test Py_UNICODE_ISSPACE, so this
    equals re.sub(r"\\s+", " ", s).strip() for every code point."""
    return " ".join(s.split())


# --- block arena ------------------------------------------------------------


@dataclass
class BlockArena:
    """Arena-allocated block array for ONE document.

    `buf` is the contiguous decoded-text arena; every other field is a
    parallel NumPy array with one entry per block. No per-node Python
    objects survive parsing (north_star requirement).
    """

    buf: str
    start: np.ndarray  # int64  offset of block text in buf
    length: np.ndarray  # int32  char length of block text
    link_chars: np.ndarray  # int32  chars that came from inside <a>
    n_words: np.ndarray  # int32
    depth: np.ndarray  # int16  open-stack depth at block start
    tag_id: np.ndarray  # int16  nearest enclosing block tag
    boiler: np.ndarray  # bool   inside nav/header/footer/aside/form or <head>

    def text(self, i: int) -> str:
        s = int(self.start[i])
        return self.buf[s : s + int(self.length[i])]

    def __len__(self) -> int:
        return int(self.start.shape[0])


class _Parser:
    """Single forward pass; O(len(html)); no recursion, no DOM objects."""

    __slots__ = (
        "html",
        "n",
        "i",
        "parts",
        "part_is_link",
        "stack",
        "link_depth",
        "boiler_depth",
        "head_depth",
        "blocks",
        "cur_tag",
        "tables",
        "table_stack",
        "cell_parts",
        "links",
        "anchor_parts",
        "pending_href",
    )

    def __init__(self, html: str):
        self.html = html
        self.n = len(html)
        self.i = 0
        self.parts: list[str] = []
        self.part_is_link: list[bool] = []
        self.stack: list[str] = []
        self.link_depth = 0
        self.boiler_depth = 0
        self.head_depth = 0
        self.cur_tag = "body"
        # accumulated raw blocks: (text, link_chars, depth, tag, boiler)
        self.blocks: list[tuple[str, int, int, str, bool]] = []
        # passive table recorder (structured twin of the reference's
        # sheets/tables shape, excel_validator.py:394-429): completed
        # tables as list[list[row cells]]; never touches the block
        # buffer, so main_text bytes are unaffected
        self.tables: list[list[list[str]]] = []
        self.table_stack: list[dict] = []
        self.cell_parts: list[str] | None = None
        # passive outlink recorder (the WAT side of a crawl extract):
        # completed anchors as (href, anchor_text) in document order.
        # Like the table recorder it never touches the block buffer —
        # main_text bytes are unaffected. Nested <a> (invalid HTML) is
        # handled leniently: text accrues to the innermost open anchor.
        self.links: list[tuple[str, str]] = []
        self.anchor_parts: list[tuple[str, list[str]]] = []
        self.pending_href: str | None = None

    # -- block flush --
    def _flush(self) -> None:
        if not self.parts:
            return
        parts, part_is_link = self.parts, self.part_is_link
        text = collapse_ws(decode_entities("".join(parts)))
        link_chars = 0
        if text and True in part_is_link:
            link_raw = "".join(p for p, is_l in zip(parts, part_is_link) if is_l)
            link_chars = len(collapse_ws(decode_entities(link_raw)))
        parts.clear()
        part_is_link.clear()
        if not text:
            return
        self.blocks.append(
            (
                text,
                link_chars,
                len(self.stack),
                self.cur_tag,
                self.boiler_depth > 0 or self.head_depth > 0,
            )
        )

    # -- table recorder (tolerates omitted </td>/</tr>) --
    def _cell_end(self) -> None:
        if self.cell_parts is not None and self.table_stack:
            text = collapse_ws(decode_entities("".join(self.cell_parts)))
            self.table_stack[-1]["row"].append(text)
        self.cell_parts = None

    def _row_end(self) -> None:
        self._cell_end()
        if self.table_stack:
            t = self.table_stack[-1]
            if t["row"]:
                t["rows"].append(t["row"])
            t["row"] = []

    def _table_open(self) -> None:
        self._row_end()
        self.table_stack.append({"rows": [], "row": []})

    def _table_close(self) -> None:
        self._row_end()
        if self.table_stack:
            t = self.table_stack.pop()
            if t["rows"]:
                self.tables.append(t["rows"])

    # -- outlink recorder --
    def _anchor_end(self) -> None:
        if not self.anchor_parts:
            return
        href, parts = self.anchor_parts.pop()
        if href:
            self.links.append(
                (decode_entities(href), collapse_ws(decode_entities("".join(parts))))
            )

    def _open(self, name: str) -> None:
        if name == "table":
            self._table_open()
        elif name == "tr":
            self._row_end()
        elif name in CELL_TAGS:
            self._cell_end()
            if self.table_stack:
                self.cell_parts = []
        if name == "body" and "head" in self.stack:
            # HTML5 allows omitting </head>; <body> implies it. Without
            # this, an unclosed head flags the whole document boiler and
            # the page extracts empty.
            self._close("head")
        if name in BLOCK_TAGS:
            self._flush()
            self.cur_tag = name
        if name in VOID_TAGS:
            return
        self.stack.append(name)
        if name == "a":
            self.link_depth += 1
            href = self.pending_href
            self.pending_href = None
            # fragment-only hrefs are same-page jumps, not outlinks
            if href and not href.startswith("#"):
                self.anchor_parts.append((href, []))
            else:
                self.anchor_parts.append(("", []))
        if name in BOILER_CONTAINERS:
            self.boiler_depth += 1
        if name == "head":
            self.head_depth += 1

    def _close(self, name: str) -> None:
        if name == "table":
            self._table_close()
        elif name == "tr":
            self._row_end()
        elif name in CELL_TAGS:
            self._cell_end()
            if self.parts:
                self._text(" ")
        if name in BLOCK_TAGS:
            self._flush()
        # pop up to the matching open tag (tolerates misnesting)
        if name in self.stack:
            while self.stack:
                top = self.stack.pop()
                if top == "a":
                    self.link_depth = max(0, self.link_depth - 1)
                    self._anchor_end()
                if top in BOILER_CONTAINERS:
                    self.boiler_depth = max(0, self.boiler_depth - 1)
                if top == "head":
                    self.head_depth = max(0, self.head_depth - 1)
                if top == name:
                    break
        if name in BLOCK_TAGS:
            for t in reversed(self.stack):
                if t in BLOCK_TAGS:
                    self.cur_tag = t
                    break
            else:
                self.cur_tag = "body"

    def parse(self) -> BlockArena:
        html, n = self.html, self.n
        i = 0
        find = html.find
        tag_name = _TAG_NAME_RE.match
        while i < n:
            lt = find("<", i)
            if lt == -1:
                self._text(html[i:])
                break
            if lt > i:
                self._text(html[i:lt])
            if lt + 1 < n and html[lt + 1] in "!?":
                if html.startswith("<!--", lt):  # comment
                    end = find("-->", lt + 4)
                    i = n if end == -1 else end + 3
                else:  # doctype / CDATA / other markup declarations
                    gt = find(">", lt)
                    i = n if gt == -1 else gt + 1
                continue
            gt = find(">", lt)
            if gt == -1:  # truncated tag at EOF
                break
            tag_body = html[lt + 1 : gt]
            i = gt + 1
            closing = tag_body.startswith("/")
            if closing:
                tag_body = tag_body[1:]
            # quoted '>' inside attributes: cheap re-scan only when quotes present
            if not closing and ('"' in tag_body or "'" in tag_body):
                if tag_body.count('"') % 2 == 1 or tag_body.count("'") % 2 == 1:
                    gt2 = self._find_tag_end(lt)
                    if gt2 != -1:
                        tag_body = html[lt + 1 : gt2]
                        i = gt2 + 1
            self_closing = tag_body.endswith("/")
            if self_closing:
                tag_body = tag_body[:-1]
            m = tag_name(tag_body)
            if not m:
                continue
            name = m.group(0).lower()
            if closing:
                self._close(name)
                continue
            if name in RAWTEXT_TAGS and not self_closing:
                # skip raw content up to the matching close tag
                cm = _RAWTEXT_CLOSE_RE[name].search(html, i)
                i = n if cm is None else cm.end()
                continue
            if name == "a":
                self.pending_href = _extract_href(tag_body)
            self._open(name)
            if self_closing and name not in VOID_TAGS:
                self._close(name)
        self._flush()
        while self.table_stack:  # unclosed tables at EOF
            self._table_close()
        while self.anchor_parts:  # unclosed anchors at EOF
            self._anchor_end()
        return self._finalize()

    def _find_tag_end(self, lt: int) -> int:
        """Find '>' respecting quoted attribute values."""
        html, n = self.html, self.n
        j = lt + 1
        quote = ""
        while j < n:
            c = html[j]
            if quote:
                if c == quote:
                    quote = ""
            elif c in "\"'":
                quote = c
            elif c == ">":
                return j
            j += 1
        return -1

    def _text(self, chunk: str) -> None:
        if not chunk:
            return
        self.parts.append(chunk)
        self.part_is_link.append(self.link_depth > 0)
        if self.cell_parts is not None:
            self.cell_parts.append(chunk)
        if self.anchor_parts:
            self.anchor_parts[-1][1].append(chunk)

    def _finalize(self) -> BlockArena:
        blocks = self.blocks
        nb = len(blocks)
        bufs: list[str] = []
        start = np.empty(nb, dtype=np.int64)
        length = np.empty(nb, dtype=np.int32)
        link_chars = np.empty(nb, dtype=np.int32)
        n_words = np.empty(nb, dtype=np.int32)
        depth = np.empty(nb, dtype=np.int16)
        tag_id = np.empty(nb, dtype=np.int16)
        boiler = np.empty(nb, dtype=np.bool_)
        off = 0
        for k, (text, lc, d, tag, b) in enumerate(blocks):
            bufs.append(text)
            start[k] = off
            length[k] = len(text)
            link_chars[k] = lc
            n_words[k] = text.count(" ") + 1
            # clamp: pathological docs (e.g. 40k unclosed <li>) overflow
            # int16 — OverflowError on numpy>=2, silent wrap on 1.x
            depth[k] = min(d, 32767)
            tag_id[k] = _tag_id(tag)
            boiler[k] = b
            off += len(text)
        return BlockArena(
            buf="".join(bufs),
            start=start,
            length=length,
            link_chars=link_chars,
            n_words=n_words,
            depth=depth,
            tag_id=tag_id,
            boiler=boiler,
        )


def parse_blocks(html: str) -> BlockArena:
    """Tokenize HTML into the arena block array."""
    return _Parser(html).parse()


def parse_document(html: str) -> tuple[BlockArena, list[dict]]:
    """Arena blocks + structured tables in one pass.

    Tables mirror the reference's canonical tabular shape
    (tables: array<struct{headers, data}>, excel_validator.py:394-429):
    each is {table_index, headers: [...], rows: [[...]]} with the header
    split decided by the reference's heuristic (first row non-numeric
    while the body is numeric for more than half the columns,
    api/excel_parser.py:394-418). Known limit: a table nested inside a
    cell truncates the outer cell's text at the nesting point."""
    p = _Parser(html)
    arena = p.parse()
    return arena, [
        {"table_index": i, **_split_header(rows)}
        for i, rows in enumerate(p.tables)
    ]


def parse_document_links(
    html: str, base_url: str = ""
) -> tuple[BlockArena, list[dict], list[dict]]:
    """parse_document plus the passive outlink record (the WAT triple a
    crawl pipeline publishes next to the WET text): every anchor's raw
    href, its absolute resolution against base_url, and the anchor
    text, in document order."""
    p = _Parser(html)
    arena = p.parse()
    tables = [
        {"table_index": i, **_split_header(rows)}
        for i, rows in enumerate(p.tables)
    ]
    parts = _split_base(base_url)
    links = [
        {"href": href, "resolved": _resolve_with(parts, base_url, href), "anchor": text}
        for href, text in p.links
    ]
    return arena, tables, links


# --- RFC-3986-lite reference resolution --------------------------------------

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 over '/'-separated segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # a trailing '.' / '..' keeps the directory slash
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    return "/".join(out)


_BASE_RE = re.compile(r"^(https?)://([^/?#]*)([^?#]*)")


def _split_base(base: str) -> tuple[str, str, str] | None:
    """base url -> (scheme, host, directory-path) or None; parsed ONCE
    per document (parse_document_links), not once per link."""
    m = _BASE_RE.match(base)
    if not m:
        return None
    path = m.group(3) or "/"
    return m.group(1), m.group(2), path[: path.rfind("/") + 1] or "/"


def _resolve_with(parts: tuple[str, str, str] | None, base: str, href: str) -> str:
    if not href:
        return base
    if _SCHEME_RE.match(href):
        return href
    if parts is None:
        return href
    scheme, host, base_dir = parts
    if href.startswith("//"):
        return f"{scheme}:{href}"
    if href.startswith("/"):
        return f"{scheme}://{host}{_remove_dot_segments(href)}"
    return f"{scheme}://{host}{_remove_dot_segments(base_dir + href)}"


def resolve_url(base: str, href: str) -> str:
    """Resolve href against an absolute http(s) base URL.

    Covers the reference forms a crawler meets: absolute URLs (and any
    other-scheme href like mailto:) pass through; '//host/p' adopts the
    base scheme; '/p' is host-relative; everything else resolves
    against the base path's directory with ./.. normalization. Query
    strings survive; fragments are the caller's concern (the recorder
    already drops fragment-only hrefs). Never raises: with no parseable
    base the href is returned as-is."""
    return _resolve_with(_split_base(base), base, href)


def _split_header(rows: list[list[str]]) -> dict:
    from .normalize import is_numeric

    if len(rows) >= 2:
        first, body = rows[0], rows[1:]
        ncols = max(len(first), 1)
        numeric_cols = 0
        for ci in range(len(first)):
            vals = [r[ci] for r in body[:50] if ci < len(r) and r[ci]]
            if vals and all(is_numeric(v) for v in vals):
                numeric_cols += 1
        if not any(is_numeric(c) for c in first if c) and numeric_cols * 2 > ncols:
            return {"headers": first, "rows": body}
    return {"headers": [], "rows": rows}


# --- content scoring ---------------------------------------------------------

# Thresholds in the Boilerpipe NumWordsRules spirit, frozen for byte-identity.
LINK_DENSITY_MAX = 0.4  # block mostly links -> boilerplate
SHORT_BLOCK_WORDS = 3  # blocks shorter than this need clean context
TITLE_TAG = "title"


def classify_blocks(arena: BlockArena) -> np.ndarray:
    """Vectorized content/boilerplate classification. True = content."""
    nb = len(arena)
    if nb == 0:
        return np.zeros(0, dtype=np.bool_)
    length = arena.length.astype(np.float64)
    link_density = arena.link_chars / np.maximum(length, 1.0)
    is_title = arena.tag_id == _tag_id(TITLE_TAG)
    content = (
        (~arena.boiler)
        & (~is_title)
        & (link_density <= LINK_DENSITY_MAX)
    )
    # short, link-tainted blocks are list/menu debris
    short = arena.n_words < SHORT_BLOCK_WORDS
    content &= ~(short & (arena.link_chars > 0))
    return content


def main_text_from_arena(arena: BlockArena) -> str:
    keep = classify_blocks(arena)
    if not keep.any():
        return ""
    idx = np.nonzero(keep)[0]
    return "\n".join(arena.text(int(i)) for i in idx)


def extract_main_text(html: str) -> str:
    """Full stripper: HTML string -> canonical main_text."""
    return main_text_from_arena(parse_blocks(html))


HEADING_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")


def sections_from_arena(arena: BlockArena) -> list[dict]:
    """Segment the kept content blocks into heading-delimited sections
    (reference report shape: sections array<struct{title, content}>,
    excel_validator.py:455-474). A heading block (h1-h6) starts a new
    section titled by its text; content is the following kept blocks
    joined by '\\n' (the exact substrings main_text is made of). Content
    before the first heading lands in an untitled preamble section."""
    keep = classify_blocks(arena)
    heading_ids = {_tag_id(t) for t in HEADING_TAGS}
    sections: list[dict] = []
    cur_title = ""
    cur: list[str] = []
    started = False
    for i in np.nonzero(keep)[0]:
        if int(arena.tag_id[i]) in heading_ids:
            if started or cur:
                sections.append({"title": cur_title, "content": "\n".join(cur)})
            cur_title = arena.text(int(i))
            cur = []
            started = True
        else:
            cur.append(arena.text(int(i)))
    if started or cur:
        sections.append({"title": cur_title, "content": "\n".join(cur)})
    return sections


# --- payload sniffing ---------------------------------------------------------


def sniff_kind(payload: bytes) -> str:
    """Content sniffing replaces the reference's filename-extension dispatch
    (reference: src/processor/app/parsers/excel_parser.py:32-40)."""
    if not payload:
        return "empty"
    if payload[:8] == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":
        # OLE2 compound file: legacy .xls (BIFF8). The reference
        # accepts xls uploads (file_validator.py:15-57); parse_xls
        # validates structurally and degrades to empty sheets when the
        # container holds no Workbook stream.
        return "xls"
    if payload[:4] == b"PK\x03\x04":
        # zip container (magic at offset 0, no lstrip): xlsx iff it holds
        # a workbook part, docx iff a wordprocessing main part. Member
        # names appear verbatim in local file headers and the central
        # directory, so a single bytes scan decides — no ZipFile
        # construction / directory parse in the per-row hot path
        # (parse_xlsx/parse_docx still validate structurally and degrade
        # to empty content on a false positive).
        if b"xl/workbook.xml" in payload:
            return "xlsx"
        if b"word/document.xml" in payload:
            return "docx"
        return "binary"
    head = payload[:2048].lstrip()
    if head.startswith(b"%PDF-"):
        return "pdf"
    low = head[:256].lower()
    if low.startswith(b"<!doctype") or low.startswith(b"<html") or low.startswith(b"<"):
        return "html"
    # CSV heuristic: >=2 lines sharing a delimiter count
    sample = payload[:4096]
    try:
        stext = sample.decode("utf-8")
    except UnicodeDecodeError:
        try:
            stext = sample.decode("cp932")
        except UnicodeDecodeError:
            return "binary"
    lines = [ln for ln in stext.splitlines() if ln.strip()][:20]
    if len(lines) >= 2:
        for delim in (",", ";", "\t", "|"):
            counts = [ln.count(delim) for ln in lines]
            if counts[0] > 0 and len(set(counts)) == 1:
                return "csv"
    return "text"
