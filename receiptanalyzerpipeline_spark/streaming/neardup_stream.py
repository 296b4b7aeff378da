"""Streaming MinHash-LSH near-dup building blocks, used by the near-dup
stage of ``curation_stream.curation_sink`` (``curate-stream
--near-dedup``) — the streaming twin of the batch incremental dedup
(q_d9) and MinHash-LSH (q_d3) operators.

- ``dedup_in_batch_neardup``: LSH candidate pairs → exact Jaccard →
  connected components → keep each cluster's smallest id;
- ``_band_buckets``: (doc_id, band, vals) rows — the persisted bucket
  state new docs probe with a band-bucket equi-join, so each micro-batch
  costs O(batch × collisions), never O(batch × corpus);
- ``minhash_estimate``: text-free verification of probe candidates
  against persisted signatures;
- ``check_minhash_family``: refuses persisted LSH state written under a
  different signature hash family.

100 TB posture: signatures are map-side; the probe is a bucketed
equi-join; the bucket table grows O(survivors × bands) and compacts like
any snapshot table (cluster it by band for probe locality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from receiptanalyzerpipeline_spark.operators.components import connected_components
from receiptanalyzerpipeline_spark.operators.dedup import (
    MINHASH_FAMILY,
    minhash_lsh_jaccard_pairs,
)
from receiptanalyzerpipeline_spark.sources import snapshots as snap


def stamped_minhash_family(path: str) -> str | None:
    """The MinHash hash family a persisted LSH state table was written
    under, or None if the table doesn't exist / predates stamping.
    Newest stamp wins (every commit carries the same value once a sink
    is constructed)."""
    for v in reversed(snap.versions(path)):
        fam = snap._read_manifest(path, v).get("minhash_family")
        if fam is not None:
            return str(fam)
    return None


def check_minhash_family(*paths: str) -> None:
    """Refuse to probe LSH state written by a different signature hash
    family (ADVICE r10). Signatures from different families never
    collide, so a family change would make every near-dup probe against
    pre-existing state silently miss (estimate ~0, no error) — the
    failure mode this guard turns into a loud construction-time error.
    Non-empty state with NO stamp is treated as unknown-family and also
    refused: it predates the stamp, so nothing proves it matches."""
    for path in paths:
        if not snap.versions(path):
            continue  # fresh table: this sink's own commits will stamp it
        fam = stamped_minhash_family(path)
        if fam != MINHASH_FAMILY:
            raise ValueError(
                f"LSH state at {path} was written by MinHash hash family "
                f"{fam or 'unknown (pre-stamp)'} but this engine computes "
                f"{MINHASH_FAMILY}; probing it would silently miss every "
                "near-dup against the existing corpus. Rebuild the state "
                "tables with the current engine (re-run the stream from "
                "the source corpus), or run the matching engine version."
            )


def _band_buckets(sigs: DataFrame, n_hashes: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, vals) — one row per band per doc."""
    n_bands = n_hashes // rows_per_band
    return sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                lambda b: F.struct(
                    b.cast("long").alias("band"),
                    F.slice(
                        F.col("sig"), b * rows_per_band + 1, rows_per_band
                    ).alias("vals"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.vals")


def dedup_in_batch_neardup(
    batch: DataFrame,
    k: int,
    threshold: float,
    n_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    """Drop in-batch near-dups, keeping each LSH cluster's smallest
    doc_id (columns must be (doc_id, text))."""
    pairs = minhash_lsh_jaccard_pairs(
        batch, "doc_id", "text",
        k=k, threshold=threshold, n_hashes=n_hashes, rows_per_band=rows_per_band,
    )
    labels = connected_components(pairs.select("id_a", "id_b")).select(
        F.col("id").alias("__id"), F.col("component").alias("__comp")
    )
    return (
        batch.join(labels, batch["doc_id"] == labels["__id"], "left")
        .where(F.col("__comp").isNull() | (F.col("doc_id") == F.col("__comp")))
        .drop("__id", "__comp")
    )


def minhash_estimate(sig_a, sig_b, n_hashes: int):
    """Unbiased MinHash Jaccard estimate: the fraction of equal signature
    components. Text-free — verifies candidates against persisted
    signatures when the corpus text is not retained."""
    eq = F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda b: b)
    return F.size(eq).cast("double") / F.lit(float(n_hashes))

