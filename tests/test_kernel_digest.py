"""Pinned digest of the single-document oracle over the seeded page mix.

The per-family goldens check chosen fields; this checks every byte of
extract_one's output (main_text, fields and spans, tables, sections,
links, doc_type, validation) over 300 datagen pages covering all 12
families. A kernel rewrite that is meant to be output-preserving must
leave the digest unchanged; a change that means to alter output updates
it and says why.
"""

import hashlib
import json

from ai_ocr_spark.datagen import FAMILY_WEIGHTS, family_of, make_page
from ai_ocr_spark.kernels.oracle import extract_one

N_PAGES = 300
SEED = 42
DIGEST = "26daa6324e916077ad3e82a49469a97e318ffc1c7f2c53360db7d96eaa0eaaa4"


def test_pages_cover_every_family():
    assert {family_of(i, SEED) for i in range(N_PAGES)} == {f for f, _ in FAMILY_WEIGHTS}


def test_extract_one_digest_is_pinned():
    h = hashlib.sha256()
    for i in range(N_PAGES):
        page = make_page(i, SEED)
        out = extract_one(page["url"], page["html"])
        h.update(json.dumps(out, sort_keys=True, default=str).encode())
        h.update(b"\n")
    assert h.hexdigest() == DIGEST
