"""From-scratch minimal PDF text extractor with x-y-cut block ordering.

Implements the capability the reference declares but never built — its
requirements.txt pins PyPDF2 / pdfplumber / layoutparser with zero call
sites (reference: requirements.txt:27-33). Scope (SURVEY.md §7.3): the
fixture emitter's own subset — classic xref PDFs whose page content
streams use BT/ET text objects with Tf/Td/TD/Tm/T*/Tj/TJ/' operators,
stored uncompressed or FlateDecode (stdlib zlib).

Pipeline: object scan -> stream decode -> content-stream tokenizer ->
glyph runs (x, y, text) -> recursive x-y-cut segmentation -> reading
order (top-to-bottom, left-to-right) -> canonical main_text (same
whitespace canon as kernels.html: blocks joined by '\n').

Float ties are quantized (0.1 pt grid) before sorting so ordering is
stable across platforms (SURVEY.md §7.3 hard-part #2).
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass

import numpy as np

# ---------------------------------------------------------------------------
# Emitter (used by datagen + tests; the parser must round-trip its output)
# ---------------------------------------------------------------------------


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def emit_pdf(pages: list[list[tuple[float, float, str]]], compress: bool = False) -> bytes:
    """Build a minimal valid PDF.

    pages: one list per page of (x, y, text) runs in PDF user space
    (y grows upward). Text must be latin-1 encodable (fixture subset).
    """
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)  # 1-based object number

    font_num = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    page_nums: list[int] = []
    content_nums: list[int] = []
    for runs in pages:
        ops = [b"BT", b"/F1 12 Tf"]
        for x, y, text in runs:
            ops.append(f"1 0 0 1 {x:.2f} {y:.2f} Tm".encode("latin-1"))
            ops.append(b"(" + _esc(text).encode("latin-1") + b") Tj")
        ops.append(b"ET")
        stream = b"\n".join(ops)
        if compress:
            stream = zlib.compress(stream)
            head = b"<< /Length %d /Filter /FlateDecode >>" % len(stream)
        else:
            head = b"<< /Length %d >>" % len(stream)
        content_nums.append(add(head + b"\nstream\n" + stream + b"\nendstream"))

    pages_num_placeholder = len(objs) + len(pages) + 1
    for cn in content_nums:
        page_nums.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> >> /Contents %d 0 R >>"
                % (pages_num_placeholder, font_num, cn)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_nums)
    pages_num = add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_nums))
    )
    assert pages_num == pages_num_placeholder
    catalog_num = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_num)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_off = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog_num, xref_off)
    )
    return bytes(out)


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.DOTALL)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_PAGE_TYPE_RE = re.compile(rb"/Type\s*/Page\b")


@dataclass
class GlyphRun:
    x: float
    y: float
    text: str


_STREAM_START_RE = re.compile(rb"stream\r?\n")
# direct /Length only — (?!\d) pins the full number (no backtracked digit
# prefix), then (?!...) rejects the indirect `/Length 5 0 R` form
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\d)(?!\s+\d+\s+R)")


def _decode_stream(obj_body: bytes) -> bytes | None:
    """Slice the stream by /Length when available: delimiter regexes are
    not binary-safe — FlateDecode data ending in 0x0d ('\\r') loses that
    byte to the `\\r?\\nendstream` match (~1/256 of compressed streams)
    and fails to inflate. The regex remains as the Length-less fallback."""
    sm = _STREAM_START_RE.search(obj_body)
    if sm is None:
        return None
    lm = _LENGTH_RE.search(obj_body[: sm.start()])
    if lm is not None:
        data = obj_body[sm.end() : sm.end() + int(lm.group(1))]
    else:
        m = _STREAM_RE.search(obj_body)
        if m is None:
            return None
        data = m.group(1)
    if b"/FlateDecode" in obj_body[: sm.start()]:
        try:
            data = zlib.decompress(data)
        except zlib.error:
            return None
    return data


# one literal string operand, e.g. each (..) inside a TJ array
_STRING_RE = re.compile(rb"\((?:[^()\\]|\\.)*\)")
_TOKEN_RE = re.compile(
    rb"\((?:[^()\\]|\\.)*\)"  # string
    rb"|\[(?:[^\]\\]|\\.)*\]"  # array (TJ operand)
    rb"|/[A-Za-z0-9.+-]+"  # name
    rb"|[-+]?\d*\.?\d+"  # number
    rb"|[A-Za-z'\"*]+"  # operator
)

_PDF_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_string(tok: bytes) -> str:
    """Decode a (...) literal string (latin-1 subset + octal escapes)."""
    body = tok[1:-1]
    out = bytearray()
    i, n = 0, len(body)
    while i < n:
        c = body[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = body[i + 1 : i + 2]
            if nxt.isdigit():  # octal escape, up to 3 digits
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and body[j : j + 1].isdigit():
                    oct_digits += body[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            out += _PDF_ESC.get(nxt, nxt)
            i += 2
            continue
        out += c
        i += 1
    return out.decode("latin-1")


def _tokenize_content(
    stream: bytes,
    xobjects: dict[str, bytes] | None = None,
    depth: int = 0,
) -> list[GlyphRun]:
    """Interpret the text-positioning subset of the content stream.

    xobjects maps /Name -> decoded Form XObject stream; the `Do`
    operator recurses into it (depth-capped — bounded-work probes per
    SURVEY §4). Form coordinates are taken as-is (identity matrix
    subset, matching the emitter)."""
    runs: list[GlyphRun] = []
    x = y = 0.0
    line_x = line_y = 0.0
    leading = 14.4  # default 1.2 * 12pt; TL overrides
    stack_nums: list[float] = []
    pending_strings: list[bytes] = []
    last_name = ""

    for m in _TOKEN_RE.finditer(stream):
        tok = m.group(0)
        c0 = tok[:1]
        if c0 == b"(":
            pending_strings.append(tok)
            continue
        if c0 == b"[":
            pending_strings.append(tok)
            continue
        if c0 == b"/":
            last_name = tok[1:].decode("latin-1", "replace")
            continue
        if c0 in b"-+.0123456789":
            stack_nums.append(float(tok))
            continue
        op = tok
        if op == b"Tm" and len(stack_nums) >= 6:
            x, y = stack_nums[-2], stack_nums[-1]
            line_x, line_y = x, y
        elif op in (b"Td", b"TD") and len(stack_nums) >= 2:
            line_x += stack_nums[-2]
            line_y += stack_nums[-1]
            x, y = line_x, line_y
            if op == b"TD":
                leading = -stack_nums[-1]
        elif op == b"TL" and stack_nums:
            leading = stack_nums[-1]
        elif op == b"T*":
            line_y -= leading
            x, y = line_x, line_y
        elif op == b"Tj" and pending_strings:
            s = _pdf_string(pending_strings[-1])
            if s:
                runs.append(GlyphRun(x, y, s))
        elif op == b"'" and pending_strings:
            line_y -= leading
            x, y = line_x, line_y
            s = _pdf_string(pending_strings[-1])
            if s:
                runs.append(GlyphRun(x, y, s))
        elif op == b"TJ" and pending_strings:
            arr = pending_strings[-1]
            parts = _STRING_RE.findall(arr)
            s = "".join(_pdf_string(p) for p in parts)
            if s:
                runs.append(GlyphRun(x, y, s))
        elif op == b"BT":
            x = y = line_x = line_y = 0.0
        elif op == b"Do" and xobjects and depth < 8:
            sub = xobjects.get(last_name)
            if sub is not None:
                runs.extend(_tokenize_content(sub, xobjects, depth + 1))
        stack_nums.clear()
        pending_strings.clear()
    return runs


def parse_objects(pdf: bytes) -> dict[int, bytes]:
    return {int(m.group(1)): m.group(3) for m in _OBJ_RE.finditer(pdf)}


def page_runs(pdf: bytes) -> list[list[GlyphRun]]:
    """Glyph runs per page, in document page order."""
    objs = parse_objects(pdf)
    # page discovery: /Type /Pages Kids order if present, else /Type /Page scan
    page_objs: list[int] = []
    for num, body in sorted(objs.items()):
        if b"/Type" in body and b"/Pages" in body and b"/Kids" in body:
            km = _KIDS_RE.search(body)
            if km:
                page_objs = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
                break
    if not page_objs:
        page_objs = [
            n for n, b in sorted(objs.items())
            if b"/Type" in b and _PAGE_TYPE_RE.search(b)
        ]
    pages: list[list[GlyphRun]] = []
    for pnum in page_objs:
        body = objs.get(pnum, b"")
        cm = _CONTENTS_RE.search(body)
        if not cm:
            pages.append([])
            continue
        stream = _decode_stream(objs.get(int(cm.group(1)), b""))
        xobjects = _page_xobjects(body, objs)
        pages.append(_tokenize_content(stream, xobjects) if stream else [])
    return pages


_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<([^>]*)>>")
_XOBJ_PAIR_RE = re.compile(rb"/([A-Za-z0-9.+-]+)\s+(\d+)\s+\d+\s+R")


def _page_xobjects(page_body: bytes, objs: dict[int, bytes]) -> dict[str, bytes]:
    """Resolve the page's /Resources /XObject name -> decoded stream map
    (Form XObjects only; images have no text and decode to None)."""
    dm = _XOBJ_DICT_RE.search(page_body)
    if not dm:
        return {}
    out: dict[str, bytes] = {}
    for name, num in _XOBJ_PAIR_RE.findall(dm.group(1)):
        stream = _decode_stream(objs.get(int(num), b""))
        if stream is not None:
            out[name.decode("latin-1")] = stream
    return out


# ---------------------------------------------------------------------------
# x-y-cut block segmentation + reading order
# ---------------------------------------------------------------------------

QUANT = 0.1  # pt grid for tie-stable sorting
LINE_GAP = 30.0  # vertical gap (pt) that splits blocks (> line leading)
COL_GAP = 36.0  # horizontal gap (pt) that splits columns


def _quant(v: float) -> float:
    return round(v / QUANT) * QUANT


def xy_cut_blocks(runs: list[GlyphRun]) -> list[list[GlyphRun]]:
    """Recursive x-y-cut: split on the largest axis gap until atomic.

    Returns blocks in reading order (top-to-bottom, then left-to-right).
    Implemented on quantized NumPy coordinate arrays for determinism.
    """
    if not runs:
        return []
    xs = np.array([_quant(r.x) for r in runs])
    ys = np.array([_quant(r.y) for r in runs])
    idx = np.arange(len(runs))

    def cut(sel: np.ndarray, depth: int) -> list[np.ndarray]:
        if len(sel) <= 1 or depth > 16:
            return [sel]
        # try horizontal cut (split stacked vertically) first: y gaps
        order = sel[np.lexsort((xs[sel], -ys[sel]))]
        yy = ys[order]
        gaps = yy[:-1] - yy[1:]  # descending y
        cut_at = np.nonzero(gaps > LINE_GAP)[0]
        if len(cut_at):
            out: list[np.ndarray] = []
            prev = 0
            for c in cut_at:
                out.extend(cut(order[prev : c + 1], depth + 1))
                prev = c + 1
            out.extend(cut(order[prev:], depth + 1))
            return out
        # vertical cut: x gaps (column split)
        order = sel[np.lexsort((-ys[sel], xs[sel]))]
        xx = xs[order]
        gaps = xx[1:] - xx[:-1]
        cut_at = np.nonzero(gaps > COL_GAP)[0]
        if len(cut_at):
            out = []
            prev = 0
            for c in cut_at:
                out.extend(cut(order[prev : c + 1], depth + 1))
                prev = c + 1
            out.extend(cut(order[prev:], depth + 1))
            return out
        return [order]

    blocks = cut(idx, 0)
    # reading order across blocks: top-to-bottom, left-to-right on block bbox
    keyed = []
    for b in blocks:
        keyed.append((-float(ys[b].max()), float(xs[b].min()), b))
    keyed.sort(key=lambda t: (t[0], t[1]))
    out_blocks: list[list[GlyphRun]] = []
    for _, _, b in keyed:
        # within block: lines descending y, runs ascending x
        order = b[np.lexsort((xs[b], -ys[b]))]
        out_blocks.append([runs[int(i)] for i in order])
    return out_blocks


def block_text(block: list[GlyphRun]) -> str:
    """One block -> text: same-y runs joined by ' ', visual lines by '\n'
    (line structure is load-bearing for labeled-field extraction)."""
    from .html import collapse_ws

    lines: list[str] = []
    cur_y: float | None = None
    cur: list[str] = []
    for r in block:  # already sorted: y desc, x asc
        qy = _quant(r.y)
        if cur_y is None or qy == cur_y:
            cur.append(r.text)
        else:
            lines.append(collapse_ws(" ".join(cur)))
            cur = [r.text]
        cur_y = qy
    if cur:
        lines.append(collapse_ws(" ".join(cur)))
    return "\n".join(ln for ln in lines if ln)


def extract_pdf_text(pdf: bytes) -> str:
    """Full PDF path: bytes -> canonical main_text ('\n' between blocks,
    pages separated like blocks)."""
    texts: list[str] = []
    for runs in page_runs(pdf):
        for block in xy_cut_blocks(runs):
            t = block_text(block)
            if t:
                texts.append(t)
    return "\n".join(texts)
