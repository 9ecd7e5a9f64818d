"""Deterministic seeded synthetic pages generator.

Emits the authoritative input schema (BASELINE.json input_hint):

    pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)

Fixes the reference's unseeded generators (reference:
src/processor/create_test_data.py:8 — bare `random` with no seed) by
deriving every document from ``hash(seed, doc_index)`` so generation is
order-independent and partition-parallel.

Payload families (FIXTURES.md §2-5): invoice/report/form HTML wrapped in
boilerplate chrome, CSV product catalogs, multi-page PDFs (own emitter),
Japanese pages, plain text, empty, truncated-HTML and binary-junk
malformed docs. Domains are Zipf-skewed and sizes heavy-tailed to
exercise the size-dealt repartition (north_rule skew axis).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

from .kernels.pdf import emit_pdf

SEED = 42
N_DOMAINS = 100
EPOCH = datetime(2025, 3, 1, tzinfo=timezone.utc)

_WORDS = (
    "data quality signal metric page crawl web corpus token filter score "
    "model batch sample layout table row column field value record text "
    "index shard block segment stream archive snapshot partition merge"
).split()

_JA_SENTENCES = (
    "売上データの月次概要です。",
    "請求書の合計金額を確認してください。",
    "在庫数量は毎週更新されます。",
    "顧客満足度レポートの要約。",
)


def _rng(i: int, seed: int = SEED) -> random.Random:
    return random.Random(f"{seed}:{i}")


# --- domain skew -------------------------------------------------------------

_HARMONIC = [1.0 / r for r in range(1, N_DOMAINS + 1)]
_HSUM = sum(_HARMONIC)
_CDF = []
_acc = 0.0
for _w in _HARMONIC:
    _acc += _w / _HSUM
    _CDF.append(_acc)


def _domain(rng: random.Random) -> str:
    u = rng.random()
    lo, hi = 0, N_DOMAINS - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if _CDF[mid] < u:
            lo = mid + 1
        else:
            hi = mid
    return f"site{lo:03d}.example.com"


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _sentences(rng: random.Random, n: int) -> str:
    return " ".join(
        _words(rng, rng.randint(6, 14)).capitalize() + "." for _ in range(n)
    )


# --- HTML chrome -------------------------------------------------------------

_CHROME_HEAD = (
    "<!DOCTYPE html><html><head><title>{title}</title>"
    "<style>body{{margin:0}}</style>"
    "<script>var t=1;</script></head><body>"
    '<nav><a href="/">Home</a> <a href="/products">Products</a> '
    '<a href="/about">About</a> <a href="/contact">Contact</a></nav>'
    '<aside><a href="/ad">Buy now! Limited offer!</a></aside>'
)
_CHROME_FOOT = (
    '<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a> '
    '<a href="/sitemap">Sitemap</a></footer></body></html>'
)


def wrap_chrome(title: str, body_html: str) -> str:
    return _CHROME_HEAD.format(title=title) + body_html + _CHROME_FOOT


# --- fixture families --------------------------------------------------------


def invoice_content(rng: random.Random, golden: bool) -> tuple[str, str]:
    """-> (body_html, plain_text). golden=True emits the exact FIXTURES.md
    §2 values (test_extraction.py:56-104 fixture)."""
    if golden:
        num, date, due = "INV-2025-001", "2025-03-26", "2025-04-25"
        customer = "ACME Corporation"
        vendor = ("Example Vendor Inc.", "123 Vendor Street, Vendor City", "TAX-12345-678")
        items = [
            ("Product A", 10, 100.00, 1000.00),
            ("Service B", 5, 200.00, 1000.00),
            ("Maintenance", 1, 10345.67, 10345.67),
        ]
        total_s = "$12,345.67"
    else:
        num = f"INV-2025-{rng.randint(2, 999):03d}"
        d0 = EPOCH + timedelta(days=rng.randint(0, 60))
        date = d0.strftime("%Y-%m-%d") if rng.random() < 0.7 else d0.strftime("%m/%d/%Y")
        due = (d0 + timedelta(days=30)).strftime("%Y-%m-%d")
        customer = f"Customer {rng.randint(1, 500)} Corp"
        vendor = (
            f"Vendor {rng.randint(1, 99)} Inc.",
            f"{rng.randint(1, 999)} Vendor Street, City {rng.randint(1, 50)}",
            f"TAX-{rng.randint(10000, 99999)}-{rng.randint(100, 999)}",
        )
        items = []
        for k in range(rng.randint(1, 6)):
            qty = rng.randint(1, 20)
            unit = round(rng.uniform(5, 500), 2)
            items.append((f"Item {k + 1}", qty, unit, round(qty * unit, 2)))
        total = round(sum(a for _, _, _, a in items), 2)
        total_s = f"${total:,.2f}"
    lines = [
        "<h1>INVOICE</h1>",
        f"<p>Invoice Number: {num}</p>",
        f"<p>Date: {date}</p>",
        f"<p>Due Date: {due}</p>",
        f"<p>Customer: {customer}</p>",
        f"<p>Vendor: {vendor[0]}</p>",
        f"<p>Vendor Address: {vendor[1]}</p>",
        f"<p>Vendor Tax ID: {vendor[2]}</p>",
    ]
    for desc, qty, unit, amt in items:
        lines.append(
            f"<p>Item: {desc} | Qty: {qty} | Unit Price: {unit:.2f} "
            f"| Amount: {amt:.2f}</p>"
        )
    lines.append(f"<p>Total Amount: {total_s}</p>")
    body = "".join(lines)
    plain = "\n".join(
        s.replace("<p>", "").replace("</p>", "").replace("<h1>", "").replace("</h1>", "")
        for s in lines
    )
    return body, plain


def report_content(rng: random.Random, golden: bool) -> tuple[str, str]:
    if golden:
        title, date, author = "Monthly Sales Report", "2025-03-01", "John Doe"
        cats = [
            ("Electronics", 10000, 12000, 15000, 20000, 57000),
            ("Furniture", 8000, 7500, 8200, 9000, 32700),
            ("Office Supplies", 5000, 5200, 5100, 5300, 20600),
            ("Services", 12000, 13000, 14000, 15000, 54000),
        ]
        regions = [
            ("North", 25000, "35%", "12%"),
            ("South", 18000, "25%", "8%"),
            ("East", 15000, "21%", "5%"),
            ("West", 14000, "19%", "3%"),
        ]
    else:
        title = f"Sales Report {rng.randint(1, 12):02d}"
        date = (EPOCH + timedelta(days=rng.randint(0, 90))).strftime("%Y-%m-%d")
        author = f"Author {rng.randint(1, 40)}"
        cats = []
        for c in ("Electronics", "Furniture", "Office Supplies", "Services"):
            qs = [rng.randint(1000, 20000) for _ in range(4)]
            cats.append((c, *qs, sum(qs)))
        regions = [
            (r, rng.randint(5000, 30000), f"{rng.randint(5, 40)}%", f"{rng.randint(1, 20)}%")
            for r in ("North", "South", "East", "West")
        ]
    rows = ["<h1>" + title + "</h1>", f"<p>Title: {title}</p>", f"<p>Date: {date}</p>",
            f"<p>Author: {author}</p>",
            "<table><tr><td>Category</td><td>Q1</td><td>Q2</td><td>Q3</td>"
            "<td>Q4</td><td>Total</td></tr>"]
    for c, q1, q2, q3, q4, tot in cats:
        rows.append(
            f"<tr><td>{c}</td><td>{q1}</td><td>{q2}</td><td>{q3}</td>"
            f"<td>{q4}</td><td>{tot}</td></tr>"
        )
    rows.append("</table><table><tr><td>Region</td><td>Sales</td>"
                "<td>Market Share</td><td>YoY Growth</td></tr>")
    for r, s, ms, yg in regions:
        rows.append(f"<tr><td>{r}</td><td>{s}</td><td>{ms}</td><td>{yg}</td></tr>")
    rows.append("</table>")
    body = "".join(rows)
    plain_rows = [title, f"Title: {title}", f"Date: {date}", f"Author: {author}"]
    plain_rows.append("Category Q1 Q2 Q3 Q4 Total")
    plain_rows.extend(" ".join(str(x) for x in c) for c in cats)
    plain_rows.append("Region Sales Market Share YoY Growth")
    plain_rows.extend(" ".join(str(x) for x in r) for r in regions)
    return body, "\n".join(plain_rows)


def form_content(rng: random.Random) -> tuple[str, str]:
    ftype = rng.choice(["registration", "survey", "application"])
    fields = [("Field Name", f"User {rng.randint(1, 900)}"),
              ("Field Email", f"user{rng.randint(1, 900)}@example.com"),
              ("Field Country", rng.choice(["US", "JP", "DE", "FR"]))]
    lines = ["<h1>Application Form</h1>", f"<p>Form Type: {ftype}</p>"]
    lines += [f"<p>{k}: {v}</p>" for k, v in fields]
    body = "".join(lines)
    plain = "\n".join(["Application Form", f"Form Type: {ftype}"] +
                      [f"{k}: {v}" for k, v in fields])
    return body, plain


_CATEGORIES = ("Electronics", "Furniture", "Office Supplies", "Software", "Hardware")


def catalog_csv(rng: random.Random) -> bytes:
    """Product-catalog CSV (create_test_data.py:318-357 family)."""
    n = rng.randint(5, 40)
    delim = rng.choice([",", ";", "\t"])
    rows = [delim.join(["product_id", "product_name", "category", "price", "stock"])]
    for k in range(n):
        rows.append(
            delim.join(
                [
                    f"PRD-{rng.randint(0, 9999):04d}",
                    f"Product {k}",
                    rng.choice(_CATEGORIES),
                    f"{rng.uniform(1, 2000):.2f}",
                    str(rng.randint(0, 500)),
                ]
            )
        )
    return "\n".join(rows).encode("utf-8")


def pdf_payload(rng: random.Random) -> bytes:
    n_pages = rng.randint(1, 3)
    date = (EPOCH + timedelta(days=rng.randint(0, 90))).strftime("%Y-%m-%d")
    title = f"Quarterly Report {rng.randint(1, 99)}"
    pages = []
    for p in range(n_pages):
        runs = []
        y = 750.0
        runs.append((72.0, y, f"Report Page {p + 1}"))
        y -= 50  # > LINE_GAP so header is its own block
        if p == 0:
            runs.append((72.0, y, f"Title: {title}"))
            y -= 16
            runs.append((72.0, y, f"Date: {date}"))
            y -= 16
        for _ in range(rng.randint(2, 6)):
            runs.append((72.0, y, _sentences(rng, 1)))
            y -= 16
        # two-column block to exercise the x cut
        runs.append((72.0, y - 50, "Left column alpha"))
        runs.append((320.0, y - 50, "Right column beta"))
        pages.append(runs)
    return emit_pdf(pages, compress=rng.random() < 0.5)


def japanese_page(rng: random.Random) -> tuple[str, str]:
    date = (EPOCH + timedelta(days=rng.randint(0, 90))).strftime("%Y-%m-%d")
    body_lines = ["<h1>売上レポート</h1>",
                  "<p>Title: 売上レポート</p>", f"<p>日付: {date}</p>"]
    plain = ["売上レポート", "Title: 売上レポート", f"日付: {date}"]
    for _ in range(rng.randint(2, 5)):
        s = rng.choice(_JA_SENTENCES)
        body_lines.append(f"<p>{s}</p>")
        plain.append(s)
    return "".join(body_lines), "\n".join(plain)


# --- document assembly --------------------------------------------------------

FAMILY_WEIGHTS = (
    ("invoice", 24),
    ("workbook", 4),  # xlsx payloads (the reference's primary format)
    ("report", 18),
    ("form", 10),
    ("catalog_csv", 10),
    ("pdf", 10),
    ("japanese", 5),
    ("plain", 6),
    ("empty", 3),
    ("malformed", 5),
    ("binary", 3),
    ("bloat", 2),  # multi-hundred-KB pages: heavy-tail size axis
)
_FAM_TOTAL = sum(w for _, w in FAMILY_WEIGHTS)


def family_of(i: int, seed: int = SEED) -> str:
    if i == 0:
        return "invoice"  # golden invoice fixture
    if i == 1:
        return "report"  # golden report fixture
    # distinct RNG stream from make_page's (seed offset) so the family
    # draw respects the caller's seed and is uncorrelated with the
    # domain draw that consumes the same per-i stream
    r = _rng(i, seed ^ 0x5F0F1E5).randint(0, _FAM_TOTAL - 1)
    acc = 0
    for fam, w in FAMILY_WEIGHTS:
        acc += w
        if r < acc:
            return fam
    return "plain"


def make_page(i: int, seed: int = SEED) -> dict:
    """One deterministic page row (url, warc_ts, html, text, lang)."""
    rng = _rng(i, seed)
    fam = family_of(i, seed)
    domain = _domain(rng)
    warc_ts = EPOCH + timedelta(seconds=(i * 137) % (45 * 86400))
    url = f"https://{domain}/{fam}/{i}"
    lang = "en"
    text: str | None = None
    if fam == "invoice":
        body, plain = invoice_content(rng, golden=(i == 0))
        html = wrap_chrome("Invoice", body).encode("utf-8")
        text = plain
    elif fam == "report":
        body, plain = report_content(rng, golden=(i == 1))
        html = wrap_chrome("Report", body).encode("utf-8")
        text = plain
    elif fam == "form":
        body, plain = form_content(rng)
        html = wrap_chrome("Form", body).encode("utf-8")
        text = plain
    elif fam == "catalog_csv":
        html = catalog_csv(rng)
        text = None
    elif fam == "workbook":
        from .kernels.xlsx import emit_xlsx

        n = rng.randint(2, 8)
        items = [["sku", "qty", "price"]] + [
            [f"PRD-{rng.randint(100, 999)}", rng.randint(1, 50), rng.randint(5, 900)]
            for _ in range(n)
        ]
        total = sum(r[1] * r[2] for r in items[1:])
        summary = [["metric", "value", "rank"], ["total", total, 1], ["rows", n, 2]]
        if rng.random() < 0.35:
            # legacy BIFF8 container for a slice of the corpus — same
            # family draw (so pinned fixtures don't shift), different
            # container; props ride the SummaryInformation stream
            from .kernels.xls import emit_xls

            html = emit_xls(
                [("Items", items), ("Summary", summary)],
                merged={"Summary": [(0, 0, 0, 2)]} if rng.random() < 0.7 else None,
                title=f"Workbook {i}",
                author=f"clerk-{rng.randint(0, 9)}",
                created="2025-03-01T00:00:00Z",
            )
        else:
            html = emit_xlsx(
                [("Items", items), ("Summary", summary)],
                title=f"Workbook {i}",
                author=f"clerk-{rng.randint(0, 9)}",
                merged={"Summary": ["A1:C1"]} if rng.random() < 0.7 else None,
                formulas={"Summary": {"B2": ("SUM(Items!C:C)", total)}}
                if rng.random() < 0.7
                else None,
            )
        text = None
    elif fam == "pdf":
        html = pdf_payload(rng)
        text = None
    elif fam == "japanese":
        body, plain = japanese_page(rng)
        html = wrap_chrome("売上", body).encode("utf-8")
        text = plain
        lang = "ja"
    elif fam == "plain":
        text = _sentences(rng, rng.randint(3, 12))
        html = text.encode("utf-8")
    elif fam == "empty":
        html = b""
        text = None
    elif fam == "malformed":
        body, plain = invoice_content(rng, golden=False)
        whole = wrap_chrome("Broken", body)
        html = whole[: len(whole) // 2].encode("utf-8")  # truncated mid-tag
        text = None
    elif fam == "binary":
        html = bytes(rng.getrandbits(8) for _ in range(rng.randint(64, 512)))
        text = None
        lang = None
    else:  # bloat: big page, main content + huge boilerplate lists
        paras = [f"<p>{_sentences(rng, 8)}</p>" for _ in range(rng.randint(50, 400))]
        menu = "".join(
            f'<li><a href="/x{k}">link {k}</a></li>' for k in range(500)
        )
        body = "".join(paras) + f"<ul>{menu}</ul>"
        html = wrap_chrome("Big", body).encode("utf-8")
        text = None
    if rng.random() < 0.1:
        lang = None
    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html,
        "text": text,
        "lang": lang,
        "family": fam,  # dropped before writing the pages table
    }


def generate_pages(n_docs: int, seed: int = SEED) -> list[dict]:
    return [make_page(i, seed) for i in range(n_docs)]


def write_pages_parquet(path: str, n_docs: int, seed: int = SEED) -> None:
    """Write the pages table with pyarrow (no Spark needed for fixtures)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = generate_pages(n_docs, seed)
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array(
                [r["warc_ts"].replace(tzinfo=None) for r in rows],
                pa.timestamp("us"),
            ),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    pq.write_table(table, path)
