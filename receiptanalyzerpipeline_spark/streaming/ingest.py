"""Streaming receipt ingest: the reference's two-stage watcher topology
(anarcpt/main.py:108-132, watcher.py) as ONE structured stream.

Reference → engine mapping (SURVEY §3.2, §2.9):

    watchdog observers on dirs      → readStream.format("binaryFile")
    openability/size-stability poll → atomic write-then-rename ingestion
                                       contract (file source lists
                                       complete files only)          (T2)
    hash → rename → move            → with_ahash column; no rename — the
                                       hash IS a column              (K6)
    bounded queue + sentinel flush  → micro-batches; maxFilesPerTrigger
                                       for backpressure           (T3/T4)
    per-event try/except            → OCR error column + quarantine  (T5)
    at-most-once lossy queue        → checkpointed exactly-once
                                       foreachBatch + idempotent
                                       anti-join merge on img_id     (T7)

The batch transforms are the SAME DataFrame functions proven against the
DuckDB oracle (flatten/pivot) — Spark's batch/streaming unification means
the streaming path inherits their correctness.

Each batch is computed once. ``parsed_batch`` persists two frames: the
distinct ``(ahash, content)`` rows, which the memo probe, the OCR write and
the raw-zone semi-join all read, and the parsed documents, which both
merges read. Unpersisted, each of those actions would re-run the aHash UDF
over the image bytes (a Python task per partition) and re-parse the JSON.
The cost is memory: one batch's distinct image bytes stay in the block
manager (spilling to disk past memory) until the batch's last merge
commits.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from receiptanalyzerpipeline_spark.multimodal.images import with_ahash
from receiptanalyzerpipeline_spark.multimodal.ocr import (
    OcrBackend,
    ocr_with_cache,
    parse_ocr_documents,
    read_parquet_or_none,
)
from receiptanalyzerpipeline_spark.sources.textract import (
    extract_line_items,
    flatten_summary_fields,
    pivot_receipt_summary,
)

BINARY_FILE_SCHEMA = StructType(
    [
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ]
)


def read_image_stream(
    spark: SparkSession,
    landing_dir: str,
    glob: str = "*.{png,jpg,jpeg}",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over the landing directory (S3/local alike)."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(landing_dir)


def _merge_append_new(batch: DataFrame, target_path: str, key: str) -> None:
    """Idempotent merge: append only keys absent from the target.

    Parquet stand-in for MERGE INTO (no Delta in this environment): the
    anti-join on the natural key makes replays no-ops, which together with
    the checkpoint gives exactly-once *effects* (SURVEY §7.3.6). Only a
    missing target counts as empty; an unreadable one raises rather than
    re-appending the whole batch."""
    existing = read_parquet_or_none(
        batch.sparkSession, target_path, StructType([batch.schema[key]])
    )
    fresh = batch if existing is None else batch.join(existing, key, "left_anti")
    fresh.write.mode("append").parquet(target_path)


@contextmanager
def parsed_batch(images: DataFrame, raw_zone: str, backend: OcrBackend) -> Iterator[DataFrame]:
    """hash → memoized OCR → parse, computed once for all the caller's
    actions: yields the parsed documents of ``images``' distinct aHashes.
    The distinct hashed images and the documents stay persisted until the
    block exits."""
    hashed = with_ahash(images).select("ahash", "content").dropDuplicates(["ahash"]).persist()
    try:
        ocr = ocr_with_cache(images.sparkSession, hashed, raw_zone, backend)
        docs = parse_ocr_documents(ocr).persist()
        try:
            yield docs
        finally:
            docs.unpersist()
    finally:
        hashed.unpersist()


def process_receipt_batch(
    images: DataFrame,
    raw_zone: str,
    curated_summary: str,
    curated_items: str,
    backend: OcrBackend,
) -> None:
    """One micro-batch: hash → memoized OCR → flatten/pivot → merge."""
    with parsed_batch(images, raw_zone, backend) as docs:
        summary = pivot_receipt_summary(flatten_summary_fields(docs))
        items = extract_line_items(docs)
        _merge_append_new(summary, curated_summary, "img_id")
        _merge_append_new(
            items.withColumn("item_key", F.concat_ws("#", "img_id", "line_no")),
            curated_items,
            "item_key",
        )


def run_ingest(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    raw_zone: str,
    curated_summary: str,
    curated_items: str,
    backend: OcrBackend,
    available_now: bool = True,
) -> None:
    """Drain the landing dir through the pipeline. availableNow=True
    processes the backlog and stops (test/replay mode); False runs
    continuously with default micro-batch triggers."""
    stream = read_image_stream(spark, landing_dir)

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        process_receipt_batch(batch, raw_zone, curated_summary, curated_items, backend)

    writer = stream.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    else:  # pragma: no cover - continuous mode not exercised in tests
        writer.start()
