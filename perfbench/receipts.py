"""Receipt images for ``receipt_ingest``, the OCR backend that reads them,
and the curated rows the pipeline must produce from them.

An image is a ``STUB8x8`` file (``multimodal/images.py``): the magic, 64
luma bytes that fix its aHash, then random padding to a seeded size of
50-200 KB, so its ``content`` costs what a scanned receipt costs to move.
About a quarter of the images re-scan an earlier receipt: same luma bytes,
so same aHash, with new padding.

``ReceiptOcr`` stands in for Textract. It derives a full AnalyzeExpense
document from the aHash alone (vendor, date, totals, currency and 1-10
line items), and ``receipt_truth`` derives the curated rows the same way.
"""

from __future__ import annotations

import os
import random
from datetime import datetime
from decimal import Decimal

import numpy as np

from receiptanalyzerpipeline_spark.multimodal.images import STUB_MAGIC, _ahash_hex

BATCH_IMAGES = 50
RESCAN_SHARE = 0.25
VENDORS = ["CORNER MARKET", "FRESH FOODS", "HARDWARE HUT", "CITY PHARMACY", "BOOK NOOK", "CAFE ROMA"]
ITEMS = ["MILK", "BREAD", "EGGS", "COFFEE", "SOAP", "PENCILS", "RICE", "APPLES", "TEA", "BATTERIES"]
CURRENCIES = [("$", "US Dollars"), ("€", "Euro"), ("£", "Pound Sterling")]
MONTHS = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN", "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]


def _receipt(ahash: str) -> dict:
    """The receipt an aHash stands for; amounts in cents."""
    r = random.Random(int(ahash, 16))
    items = [
        (r.choice(ITEMS), r.randint(99, 4999), r.randint(1, 5)) for _ in range(r.randint(1, 10))
    ]
    sub = sum(price * qty for _, price, qty in items)
    tax = sub * r.randint(0, 10) // 100
    when = datetime(2022, r.randint(1, 12), r.randint(1, 28), r.randint(0, 23), r.randint(0, 59))
    return {
        "vendor": r.choice(VENDORS),
        "date": when,
        "items": items,
        "sub": sub,
        "tax": tax,
        "total": sub + tax,
        "currency": r.choice(CURRENCIES),
    }


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def _field(kind: str, text: str, label: str | None = None) -> dict:
    det = {"Text": text, "Confidence": 99.0, "Geometry": None}
    return {
        "PageNumber": 1,
        "Type": {"Text": kind, "Confidence": 99.0},
        "LabelDetection": None if label is None else {"Text": label, "Confidence": 99.0, "Geometry": None},
        "ValueDetection": det,
    }


class ReceiptOcr:
    """``OcrBackend`` that reads a receipt off its aHash. Each call adds
    one to ``calls``, a Spark accumulator, so calls made in executor
    Python workers are counted on the driver."""

    def __init__(self, calls):
        self.calls = calls

    def analyze(self, content: bytes, ahash: str) -> dict:
        self.calls.add(1)
        rc = _receipt(ahash)
        sym = rc["currency"][0]
        when = rc["date"]
        summary = [
            _field("VENDOR_NAME", rc["vendor"]),
            _field("INVOICE_RECEIPT_DATE", f"{MONTHS[when.month - 1]} {when.day},{when.year} {when:%H:%M}"),
            _field("SUBTOTAL", f"{sym}{_cents(rc['sub'])}", "Subtotal"),
            _field("TAX", f"{sym}{_cents(rc['tax'])}", "Tax"),
            _field("TOTAL", f"{sym}{_cents(rc['total'])}", "Total"),
        ]
        lines = [
            {
                "LineItemExpenseFields": [
                    {"PageNumber": 1, "Type": {"Text": t, "Confidence": 99.0},
                     "ValueDetection": {"Text": v, "Confidence": 99.0, "Geometry": None}}
                    for t, v in (("ITEM", name), ("PRICE", _cents(price)), ("QUANTITY", str(qty)))
                ]
            }
            for name, price, qty in rc["items"]
        ]
        return {
            "img_id": ahash,
            "DocumentMetadata": {"Pages": 1},
            "ExpenseDocuments": [
                {
                    "ExpenseIndex": 1,
                    "SummaryFields": summary,
                    "LineItemGroups": [{"LineItemGroupIndex": 1, "LineItems": lines}],
                }
            ],
        }


def receipt_truth(ahash: str) -> tuple[tuple, list[tuple]]:
    """(summary row, line-item rows) the curated tables must hold for an
    image: ``(img_id, vendor, date, total, sub_total, tax, currency)`` and
    ``(img_id, line_no, item_name, price, quantity)``."""
    rc = _receipt(ahash)
    d = lambda c: Decimal(_cents(c))  # noqa: E731
    summary = (ahash, rc["vendor"], rc["date"], d(rc["total"]), d(rc["sub"]), d(rc["tax"]), rc["currency"][1])
    items = [(ahash, i + 1, name, d(price), qty) for i, (name, price, qty) in enumerate(rc["items"])]
    return summary, items


class ImageStream:
    """Seeded batches of receipt images, written as landing directories."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.lumas: list[bytes] = []
        self.hashes: set[str] = set()
        self.sizes: list[int] = []
        self.rescans = 0

    def _new_luma(self) -> bytes:
        while True:
            luma = self.rng.integers(0, 256, 64, dtype=np.uint8).tobytes()
            h = _ahash_hex(STUB_MAGIC + luma)
            if h not in self.hashes:
                self.hashes.add(h)
                self.lumas.append(luma)
                return luma

    def write_batch(self, out_dir: str, n: int = BATCH_IMAGES) -> tuple[int, int]:
        """Write ``n`` images; returns (images, bytes)."""
        os.makedirs(out_dir, exist_ok=True)
        total = 0
        for i in range(n):
            if self.lumas and self.rng.random() < RESCAN_SHARE:
                luma = self.lumas[int(self.rng.integers(0, len(self.lumas)))]
                self.rescans += 1
            else:
                luma = self._new_luma()
            size = int(self.rng.integers(50_000, 200_001))
            body = STUB_MAGIC + luma
            content = body + self.rng.bytes(size - len(body))
            tmp = os.path.join(out_dir, f".img{i:03d}.tmp")
            with open(tmp, "wb") as f:
                f.write(content)
            os.replace(tmp, os.path.join(out_dir, f"img{i:03d}.png"))
            self.sizes.append(size)
            total += size
        return n, total
