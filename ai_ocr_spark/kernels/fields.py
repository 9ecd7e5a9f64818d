"""Deterministic field extraction over canonical main_text.

Replaces the reference's LLM extraction node (reference:
src/processor/app/extractors/langchain_extractor.py:446-580) with
pattern/position extraction that reproduces the reference's target field
sets: invoice (invoice_number, date, due_date, total_amount, vendor.*,
line_items[] — schema_validator.py:23-63), report (title, date,
sections — :66-89), form (:92-103).

Every extracted field carries a byte span (UTF-8 offsets into
main_text) — the north_rule "identical field spans per url" invariant.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .normalize import detect_language


@dataclass(frozen=True)
class Field:
    name: str
    value: str
    span_start: int  # UTF-8 byte offset into main_text
    span_end: int


# --- doc-type detection ------------------------------------------------------

# Keyword scoring mirrors the reference's two detectors:
#  * response-keyword chain (langchain_extractor.py:386-394):
#    sales/売上 -> report; invoice/請求書 -> invoice; inventory/在庫 -> inventory
#  * sheet/header pattern scoring (excel_validator.py:326-381): +2 strong hit,
#    +1 weak hit, argmax with first-match tie-break.
_TYPE_PATTERNS: dict[str, tuple[re.Pattern, re.Pattern]] = {
    # doc_type: (strong pattern [+2], weak pattern [+1])
    "invoice": (
        re.compile(r"invoice|請求書", re.IGNORECASE),
        re.compile(r"total amount|due date|bill to|vendor|税込", re.IGNORECASE),
    ),
    "report": (
        re.compile(r"report|レポート|sales|売上", re.IGNORECASE),
        re.compile(r"summary|quarter|q[1-4]|market share|yoy", re.IGNORECASE),
    ),
    "inventory": (
        re.compile(r"inventory|在庫|catalog", re.IGNORECASE),
        re.compile(r"stock|product_id|sku|prd-", re.IGNORECASE),
    ),
    "form": (
        re.compile(r"\bform\b|申込|application", re.IGNORECASE),
        re.compile(r"field name|signature|checkbox|登録", re.IGNORECASE),
    ),
}

# Case-sensitive twins of _TYPE_PATTERNS for lowercased ASCII samples.
# An IGNORECASE alternation over mixed ASCII/CJK costs ~20 us per pattern
# on a 300-char sample; lowercasing first and matching case-sensitively
# gives the same matches, but ONLY on ASCII text: IGNORECASE folds
# U+212A KELVIN SIGN to 'k' and U+017F LONG S to 's', and 'İ'.lower()
# is two code points, which moves \b boundaries. detect_doc_type gates
# on isascii(); every pattern's ASCII part is already lowercase.
_TYPE_PATTERNS_LOWER: dict[str, tuple[re.Pattern, re.Pattern]] = {
    t: tuple(re.compile(p.pattern) for p in pats)
    for t, pats in _TYPE_PATTERNS.items()
}

_TYPE_ORDER = ("invoice", "report", "inventory", "form")


def detect_doc_type(main_text: str) -> str:
    """Argmax keyword score; ties broken by _TYPE_ORDER.

    A minimum score of 2 (one strong hit or two weak hits) is required
    to assign a type — a single weak keyword in passing prose must not
    reclassify a generic page (mirrors the scoring floor of
    excel_validator.py:354-381 where one +1 header hit never beats the
    default)."""
    sample = main_text[:4000]
    if sample.isascii():
        patterns, sample = _TYPE_PATTERNS_LOWER, sample.lower()
    else:
        patterns = _TYPE_PATTERNS
    best, best_score = "generic", 1  # threshold: score must reach 2
    for t in _TYPE_ORDER:
        strong, weak = patterns[t]
        score = 2 * len(strong.findall(sample)) + len(weak.findall(sample))
        if score > best_score:
            best, best_score = t, score
    return best


# --- labeled-field extraction -------------------------------------------------

# 'Label: value' line grammar (the fixture families render all scalar fields
# this way; datagen and this table are the two halves of one contract).
_LABEL_TO_FIELD = {
    "invoice number": "invoice_number",
    "請求書番号": "invoice_number",
    "date": "date",
    "日付": "date",
    "due date": "due_date",
    "支払期限": "due_date",
    "customer": "customer",
    "顧客": "customer",
    "total amount": "total_amount",
    "合計金額": "total_amount",
    "vendor": "vendor.name",
    "vendor address": "vendor.address",
    "vendor tax id": "vendor.tax_id",
    "title": "title",
    "author": "author",
    "form type": "form_type",
    "region": "region",
    "period": "period",
    # workbook metadata lines rendered by the xlsx branch (S5)
    "created": "created",
    "sheets": "n_sheets",
    "merged cells": "n_merged_cells",
    "formulas": "n_formulas",
    # wordprocessing metadata lines rendered by the docx branch
    "paragraphs": "n_paragraphs",
    "tables": "n_body_tables",
}

_LABEL_RE = re.compile(
    r"^([A-Za-z ぀-ヿ一-鿿]{2,24}?)[:：]\s*(.+?)\s*$", re.MULTILINE
)

_ITEM_RE = re.compile(
    r"^Item: (?P<description>.+?) \| Qty: (?P<quantity>[\d.,]+) "
    r"\| Unit Price: (?P<unit_price>[\d.,]+) \| Amount: (?P<amount>[$¥\d.,]+)\s*$",
    re.MULTILINE,
)

_FORM_FIELD_RE = re.compile(r"^Field (?P<name>[\w ]+): (?P<value>.+?)\s*$", re.MULTILINE)


def extract_fields(main_text: str, doc_type: str) -> list[Field]:
    fields: list[Field] = []
    text = main_text
    ascii_only = text.isascii()

    def boff(char_off: int) -> int:
        return char_off if ascii_only else len(text[:char_off].encode("utf-8"))

    for m in _LABEL_RE.finditer(text):
        label = m.group(1).strip().lower()
        name = _LABEL_TO_FIELD.get(label)
        if name is None:
            continue
        fields.append(Field(name, m.group(2), boff(m.start(2)), boff(m.end(2))))

    item_idx = 0
    for m in _ITEM_RE.finditer(text):
        for part in ("description", "quantity", "unit_price", "amount"):
            fields.append(
                Field(
                    f"line_items[{item_idx}].{part}",
                    m.group(part),
                    boff(m.start(part)),
                    boff(m.end(part)),
                )
            )
        item_idx += 1

    if doc_type == "form":
        for m in _FORM_FIELD_RE.finditer(text):
            fields.append(
                Field(
                    f"fields.{m.group('name').strip().lower().replace(' ', '_')}",
                    m.group("value"),
                    boff(m.start("value")),
                    boff(m.end("value")),
                )
            )
    return fields


def language_of(main_text: str, url: str = "") -> str:
    """F1 semantics: sample = url tail + first blocks of text
    (reference samples filename + sheet names + first-3-row strings,
    langchain_extractor.py:256-284)."""
    sample = (url.rsplit("/", 1)[-1] + " " + main_text[:2000]) if url else main_text[:2000]
    return detect_language(sample)
