"""Equivalence guards for the kernel fast paths (no Spark).

detect_doc_type scores ASCII samples lowercased against case-sensitive
patterns, and collapse_ws splits on str.isspace() instead of running a
regex. Each test compares the kernel with the plain form it replaced,
kept here as the reference.
"""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ai_ocr_spark.kernels.fields import _TYPE_ORDER, _TYPE_PATTERNS, detect_doc_type
from ai_ocr_spark.kernels.html import collapse_ws

_REF_PATTERNS = {
    t: tuple(re.compile(p.pattern, re.IGNORECASE) for p in pats)
    for t, pats in _TYPE_PATTERNS.items()
}


def _ref_doc_type(main_text: str) -> str:
    """Every sample scored with the IGNORECASE patterns."""
    sample = main_text[:4000]
    best, best_score = "generic", 1
    for t in _TYPE_ORDER:
        strong, weak = _REF_PATTERNS[t]
        score = 2 * len(strong.findall(sample)) + len(weak.findall(sample))
        if score > best_score:
            best, best_score = t, score
    return best


_FRAGMENTS = (
    "invoice", "請求書", "total amount", "due date", "bill to", "vendor", "税込",
    "report", "レポート", "sales", "売上", "summary", "quarter", "q1", "Q3",
    "q5", "market share", "yoy", "inventory", "在庫", "catalog", "stock",
    "product_id", "sku", "prd-", "form", "forms", "platform", "申込",
    "application", "field name", "signature", "checkbox", "登録", "random",
    "words", "42",
    # IGNORECASE folds U+212A to 'k' and U+017F to 's'; 'İ'.lower() is
    # two code points. These must take the non-ASCII path.
    "K", "ſ", "İ", "sKu", "ſales", "İnvoice",
    "formİ", "İform",
)
_SEPARATORS = (" ", "", "\n", "_", "-", ".", ": ", "\xa0", "　", "é", "İ")


@st.composite
def _samples(draw):
    parts = []
    for _ in range(draw(st.integers(0, 24))):
        frag = draw(st.sampled_from(_FRAGMENTS))
        flips = draw(st.integers(0, 2 ** len(frag) - 1))  # one bit per char
        parts.append(
            "".join(c.swapcase() if flips >> k & 1 else c for k, c in enumerate(frag))
        )
        parts.append(draw(st.sampled_from(_SEPARATORS)))
    return "".join(parts)


@settings(max_examples=1000, deadline=None)
@given(_samples())
def test_detect_doc_type_matches_ignorecase_reference(text):
    assert detect_doc_type(text) == _ref_doc_type(text)


def test_detect_doc_type_ascii_gate_looks_at_the_sample_only():
    # ASCII inside the 4000-char sample, non-ASCII after it: fast path
    text = ("Invoice total amount " * 200)[:4000] + "İK"
    assert detect_doc_type(text) == _ref_doc_type(text) == "invoice"
    # one non-ASCII char inside the sample keeps the IGNORECASE path
    for odd in ("ſales ſummary", "İform", "sKu K"):
        text = "x " + odd
        assert detect_doc_type(text) == _ref_doc_type(text)


_WS_RE = re.compile(r"\s+")


def _ref_collapse_ws(s: str) -> str:
    return _WS_RE.sub(" ", s.replace("\xa0", " ")).strip()


def test_collapse_ws_matches_regex_form_for_every_code_point():
    mismatched = []
    for cp in range(0x110000):
        c = chr(cp)
        s = c + "a" + c + c + "b" + c
        if collapse_ws(s) != _ref_collapse_ws(s):
            mismatched.append(hex(cp))
    assert mismatched == []
