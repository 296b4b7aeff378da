"""Multimodal (aHash, near-dup, OCR boundary) + streaming ingest tests
(FIXTURES.md A5: exact-dup pair, 1-bit near-dup pair, distinct image,
non-image rejected; SURVEY §5.2.5: replay without duplication)."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.multimodal.images import (
    STUB_MAGIC,
    ahash_neardup_pairs,
    with_ahash,
)


def stub_image(pixels: list[int]) -> bytes:
    assert len(pixels) == 64
    return STUB_MAGIC + bytes(pixels)


# 32 dark / 32 bright: mean well-separated, so one dark→bright flip moves
# exactly one bit of the aHash.
IMG_A = stub_image([10] * 32 + [200] * 32)
IMG_A2 = stub_image([10] * 32 + [200] * 32)  # exact duplicate content
IMG_B = stub_image([200] + [10] * 31 + [200] * 32)  # 1-bit near-dup of A
IMG_C = stub_image([0, 255] * 32)  # checkerboard, far from A


def images_df(spark, named: dict[str, bytes]):
    return spark.createDataFrame(
        [(name, content) for name, content in named.items()], ["path", "content"]
    )


def test_ahash_properties(spark):
    df = with_ahash(images_df(spark, {"a": IMG_A, "a2": IMG_A2, "b": IMG_B, "c": IMG_C}))
    rows = {r["path"]: r for r in df.collect()}
    assert rows["a"]["ahash"] == rows["a2"]["ahash"], "identical content → identical hash"
    assert len(rows["a"]["ahash"]) == 16
    # ahash_bits carries the exact bit pattern (two's complement int64)
    for r in rows.values():
        unsigned = int(r["ahash"], 16)
        expect = unsigned - (1 << 64) if unsigned >= (1 << 63) else unsigned
        assert r["ahash_bits"] == expect
    ham = bin(rows["a"]["ahash_bits"] ^ rows["b"]["ahash_bits"]).count("1")
    assert ham == 1, f"crafted near-dup should differ by exactly 1 bit, got {ham}"


@pytest.mark.slow
def test_ahash_neardup_pairs(spark):
    df = with_ahash(images_df(spark, {"a": IMG_A, "a2": IMG_A2, "b": IMG_B, "c": IMG_C}))
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in ahash_neardup_pairs(df, max_hamming=2).collect()
    }
    assert pairs[("a", "a2")] == 0
    assert pairs[("a", "b")] == 1
    assert pairs[("a2", "b")] == 1
    assert not any("c" in k for k in pairs), "checkerboard is not a near-dup"


@pytest.fixture()
def stream_dirs(tmp_path: Path) -> dict[str, str]:
    d = {k: str(tmp_path / k) for k in ["landing", "checkpoint", "raw", "summary", "items"]}
    Path(d["landing"]).mkdir()
    return d


def _ingest(spark, d):
    from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend
    from receiptanalyzerpipeline_spark.streaming.ingest import run_ingest

    run_ingest(
        spark,
        d["landing"],
        d["checkpoint"],
        d["raw"],
        d["summary"],
        d["items"],
        StubBackend(),
        available_now=True,
    )


def _summary_count(spark, d) -> int:
    return spark.read.parquet(d["summary"]).count()


def test_streaming_ingest_idempotent(spark, stream_dirs):
    d = stream_dirs
    landing = Path(d["landing"])
    (landing / "scan_001.png").write_bytes(IMG_A)
    (landing / "scan_002.png").write_bytes(IMG_A2)  # duplicate content
    (landing / "scan_003.png").write_bytes(IMG_C)
    (landing / "notes.txt").write_bytes(b"not an image")  # glob-filtered

    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 2  # a==a2 collapse, c distinct
    raw = spark.read.parquet(d["raw"])
    assert raw.count() == 2, "OCR ran once per distinct ahash (memoized)"

    # Replay with same checkpoint: no new files → no change.
    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 2

    # New file with ALREADY-SEEN content: stream processes it, but the
    # idempotent merge + OCR cache keep outputs unchanged.
    (landing / "scan_004.png").write_bytes(IMG_A)
    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 2
    assert spark.read.parquet(d["raw"]).count() == 2

    # Genuinely new content → exactly one new summary row.
    (landing / "scan_005.png").write_bytes(IMG_B)
    _ingest(spark, stream_dirs)
    assert _summary_count(spark, d) == 3

    # Curated rows came from the stub backend's canned documents.
    vendors = {
        r["vendor_name"] for r in spark.read.parquet(d["summary"]).collect()
    }
    assert all(v.startswith("STUB VENDOR ") for v in vendors)


def test_ocr_with_cache_single_invocation(spark, tmp_path):
    """Regression (ADVICE r1): the cache probe must not execute the OCR
    stage — each distinct image is analyzed exactly ONCE across repeated
    ocr_with_cache calls, and an empty input with no cache yet returns an
    empty frame instead of raising."""
    from receiptanalyzerpipeline_spark.multimodal.images import with_ahash
    from receiptanalyzerpipeline_spark.multimodal.ocr import ocr_with_cache

    class _LoggingBackend:
        """Appends one line per analyze() call to a shared file — visible
        across Python worker processes, so the test can count exactly how
        many times the paid OCR call ran. (Defined inside the test so
        cloudpickle ships it by value to the workers.)"""

        def __init__(self, log_path: str):
            self.log_path = log_path

        def analyze(self, content: bytes, ahash: str) -> dict:
            with open(self.log_path, "a") as f:
                f.write(ahash + "\n")
            from receiptanalyzerpipeline_spark.multimodal.ocr import StubBackend

            return StubBackend().analyze(content, ahash)

    log = tmp_path / "calls.log"
    cache = str(tmp_path / "ocr_cache")
    backend = _LoggingBackend(str(log))

    imgs = with_ahash(images_df(spark, {"a": IMG_A, "a2": IMG_A2, "c": IMG_C}))
    out1 = ocr_with_cache(spark, imgs, cache, backend)
    assert out1.count() == 2  # a==a2 collapse
    calls = log.read_text().splitlines()
    assert len(calls) == 2, f"each distinct ahash OCR'd exactly once, got {calls}"

    # Re-run with the same inputs: all hits, zero new backend calls.
    out2 = ocr_with_cache(spark, imgs, cache, backend)
    assert out2.count() == 2
    assert len(log.read_text().splitlines()) == 2

    # One genuinely new image → exactly one more call.
    more = with_ahash(images_df(spark, {"a": IMG_A, "b": IMG_B}))
    out3 = ocr_with_cache(spark, more, cache, backend)
    assert out3.count() == 2
    assert len(log.read_text().splitlines()) == 3

    # Empty input against a cache path that was never created: empty result.
    empty = with_ahash(images_df(spark, {"a": IMG_A})).limit(0)
    out4 = ocr_with_cache(spark, empty, str(tmp_path / "never_written"), backend)
    assert out4.count() == 0
    assert len(log.read_text().splitlines()) == 3


def test_process_receipt_batch_computes_each_batch_once(spark, tmp_path):
    """Two batches through process_receipt_batch — an in-batch duplicate
    (a == a2) and a cross-batch re-scan (a3 == a). The curated tables hold
    one summary row and its line items per distinct aHash, the backend runs
    once per new aHash, and the upstream ``content`` is evaluated once per
    input row: the memo probe, the OCR write, the raw-zone semi-join and
    both merges read one persisted copy of the hashed batch."""
    from decimal import Decimal

    from receiptanalyzerpipeline_spark.multimodal.images import _ahash_hex
    from receiptanalyzerpipeline_spark.streaming.ingest import process_receipt_batch

    class _ReceiptBackend:
        """One line per analyze() call in a shared file; a receipt with a
        vendor, a total and two line items derived from the aHash."""

        def __init__(self, log_path: str):
            self.log_path = log_path

        def analyze(self, content: bytes, ahash: str) -> dict:
            with open(self.log_path, "a") as f:
                f.write(ahash + "\n")

            def field(kind: str, text: str) -> dict:
                return {
                    "PageNumber": 1,
                    "Type": {"Text": kind, "Confidence": 99.0},
                    "ValueDetection": {"Text": text, "Confidence": 99.0, "Geometry": None},
                }

            lines = [
                [field("ITEM", f"ITEM {ahash[:4]}"), field("PRICE", "2.50"), field("QUANTITY", "2")],
                [field("ITEM", "BAG"), field("PRICE", "0.10")],
            ]
            summary = [field("VENDOR_NAME", f"VENDOR {ahash[:4]}"), field("TOTAL", "$5.10")]
            return {
                "img_id": ahash,
                "ExpenseDocuments": [
                    {
                        "ExpenseIndex": 1,
                        "SummaryFields": summary,
                        "LineItemGroups": [
                            {
                                "LineItemGroupIndex": 1,
                                "LineItems": [{"LineItemExpenseFields": f} for f in lines],
                            }
                        ],
                    }
                ],
            }

    content_log = str(tmp_path / "content.log")
    ocr_log = tmp_path / "ocr.log"

    def log_rows(content: pd.Series) -> pd.Series:
        with open(content_log, "a") as f:
            f.write("row\n" * len(content))
        return content

    # Nondeterministic, as a file scan is: a deterministic UDF would be
    # inlined into with_ahash's UDF chain and run twice in one pass.
    logged = F.pandas_udf(log_rows, "binary").asNondeterministic()

    zones = {k: str(tmp_path / k) for k in ("raw", "summary", "items")}
    backend = _ReceiptBackend(str(ocr_log))

    def ingest(named: dict[str, bytes]) -> None:
        images = images_df(spark, named).withColumn("content", logged("content"))
        process_receipt_batch(images, zones["raw"], zones["summary"], zones["items"], backend)

    def log_lines(path) -> list[str]:
        return Path(path).read_text().splitlines()

    ingest({"a": IMG_A, "a2": IMG_A2, "c": IMG_C})
    assert len(log_lines(content_log)) == 3, "content evaluated once per input row"
    assert sorted(log_lines(ocr_log)) == sorted({_ahash_hex(IMG_A), _ahash_hex(IMG_C)})

    ingest({"a3": IMG_A, "b": IMG_B})
    assert len(log_lines(content_log)) == 5, "content evaluated once per input row"
    hashes = {_ahash_hex(img) for img in (IMG_A, IMG_B, IMG_C)}
    assert sorted(log_lines(ocr_log)) == sorted(hashes), "one OCR call per new distinct aHash"

    summary = (
        spark.read.parquet(zones["summary"]).select("img_id", "vendor_name", "total").collect()
    )
    assert sorted(map(tuple, summary)) == sorted(
        (h, f"VENDOR {h[:4]}", Decimal("5.10")) for h in hashes
    )
    items = (
        spark.read.parquet(zones["items"])
        .select("img_id", "line_no", "item_name", "price", "quantity", "item_key")
        .collect()
    )
    assert sorted(map(tuple, items)) == sorted(
        row
        for h in hashes
        for row in (
            (h, 1, f"ITEM {h[:4]}", Decimal("2.50"), 2, f"{h}#1"),
            (h, 2, "BAG", Decimal("0.10"), 1, f"{h}#2"),
        )
    )


def test_merge_treats_only_a_missing_target_as_empty(spark, tmp_path):
    """A missing curated table is created by the first merge; an unreadable
    one raises instead of being re-appended to as if it were empty."""
    import warnings

    from py4j.protocol import Py4JJavaError

    from receiptanalyzerpipeline_spark.multimodal.ocr import read_parquet_or_none
    from receiptanalyzerpipeline_spark.streaming.ingest import _merge_append_new

    batch = spark.createDataFrame([("k1", 1), ("k2", 2)], "img_id string, v int")
    target = tmp_path / "summary"
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        assert read_parquet_or_none(spark, str(target), batch.schema) is None
    _merge_append_new(batch, str(target), "img_id")
    _merge_append_new(batch, str(target), "img_id")  # replay: no new rows
    assert spark.read.parquet(str(target)).count() == 2

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not parquet")
    with pytest.raises(Py4JJavaError):  # the failed read, from the write job
        _merge_append_new(batch, str(corrupt), "img_id")
    assert [p.name for p in corrupt.iterdir()] == ["part-00000.parquet"]
