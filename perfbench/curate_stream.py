"""``curate_stream``: streaming curation over a growing dedup state.

``run_streaming_curation`` with the ``curate-stream`` CLI defaults: one
file per trigger, ``availableNow``, exact dedup, 16 shards. One op is one
micro-batch, timed by its ``triggerExecution`` duration. The client drops
``BATCHES`` files into the landing directory and drains them, one per
micro-batch: a closed loop with one client, whose dedup state (the
snapshot table) is read and written by every batch and keeps growing.
"""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

from perfbench.common import Ops, dir_bytes, tree_cpu_s
from perfbench.corpus import Corpus
from perfbench.tracing import MB, spark_layer

#: Micro-batches in a run, one file each, all landed in one round: one
#: batch takes 1-2.5 s on 4 vCPUs, and a run with its set-up must stay
#: under 49 s (README.md, Budget).
BATCHES = 8
PHASES = {
    "stream.add_batch_s": "addBatch",
    "stream.query_planning_s": "queryPlanning",
    "stream.wal_commit_s": "walCommit",
    "stream.commit_offsets_s": "commitOffsets",
    "stream.latest_offset_s": "latestOffset",
    "stream.get_batch_s": "getBatch",
}


def _schema():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType([StructField("doc_id", LongType()), StructField("text", StringType())])


class Stream:
    """One set of landing, checkpoint, snapshot and shard directories,
    and the corpus feeding it."""

    def __init__(self, root: str, seed: int):
        self.corpus = Corpus(seed)
        self.dirs = {k: os.path.join(root, k) for k in ("landing", "staging", "snapshot", "shards", "checkpoint")}
        for k in ("landing", "staging"):
            os.makedirs(self.dirs[k], exist_ok=True)
        self.rows: list[int] = []

    def round(self, spark, n_files: int) -> tuple[list[dict], float]:
        """Land ``n_files`` files and drain them; returns the progress of
        every micro-batch that processed data, and the CPU time of the
        drain."""
        from receiptanalyzerpipeline_spark.streaming.curation_stream import run_streaming_curation

        for _ in range(n_files):
            self.rows.append(self.corpus.write_file(self.dirs["landing"], self.dirs["staging"]))
        cpu0 = tree_cpu_s()
        q = run_streaming_curation(
            spark,
            self.dirs["landing"],
            snapshot_path=self.dirs["snapshot"],
            shards_path=self.dirs["shards"],
            checkpoint=self.dirs["checkpoint"],
            schema=_schema(),
        )
        q.awaitTermination()
        cpu_s = tree_cpu_s() - cpu0
        progress = [json.loads(p.json) for p in q.recentProgress]
        return [p for p in progress if "addBatch" in p.get("durationMs", {})], cpu_s


class CurateStream:
    name = "curate_stream"

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.stream = Stream(ctx.path("stream"), seed)
        self.warm = 0
        self.batches: list[dict] = []
        self.info: dict = {}

    def warm_up(self, spark) -> None:
        """One round of one file through a throwaway stream."""
        self.warm += 1
        Stream(self.ctx.path(f"warm{self.warm}"), self.ctx.seed + 7919).round(spark, 1)

    ops = BATCHES

    def measure(self, spark, n_ops: int, tracer=None) -> Ops:
        ops = Ops()
        done = 0
        while done < n_ops:
            batches, cpu_s = self.stream.round(spark, n_ops - done)
            ops.cpu_s += cpu_s
            for p in batches:
                file_rows = self.stream.rows[len(self.batches)]
                p["bench_rows"] = file_rows
                p["traced"] = tracer is not None
                self.batches.append(p)
                ops.latencies.append(p["durationMs"]["triggerExecution"] / 1e3)
                ops.items += file_rows
            done += len(batches)
            if not batches:
                ops.failures.append("a round processed no batch")
                break
        if len(self.batches) != len(self.stream.rows):
            ops.failures.append(f"{len(self.batches)} batches for {len(self.stream.rows)} files")
        return ops

    def verify(self, spark) -> list[str]:
        """The exported survivors and the dedup state must both equal the
        generator's survivor set."""
        from receiptanalyzerpipeline_spark.sources import snapshots as snap
        from receiptanalyzerpipeline_spark.streaming.curation_stream import read_shard_membership

        c = self.stream.corpus
        exported = [r[0] for r in read_shard_membership(spark, self.stream.dirs["shards"]).select("doc_id").collect()]
        state = [r[0] for r in snap.read_snapshot(spark, self.stream.dirs["snapshot"]).select("doc_id").collect()]
        failures = []
        for name, got in (("shard export", exported), ("snapshot state", state)):
            if len(got) != len(set(got)):
                failures.append(f"{name} holds {len(got) - len(set(got))} repeated ids")
            missing, extra = c.survivors - set(got), set(got) - c.survivors
            if missing or extra:
                failures.append(f"{name}: {len(missing)} survivors missing, {len(extra)} extra rows")
        kept = set(exported)
        kinds = c.kinds
        low = [i for i, k in kinds.items() if k == "low_quality"]
        dups = [i for i, k in kinds.items() if k == "exact_dup"]
        self.curation = {
            "curation.quality_drop_ratio": sum(i not in kept for i in low) / max(1, len(low)),
            "curation.exact_dup_drop_ratio": sum(i not in kept for i in dups) / max(1, len(dups)),
            "curation.missed_dups": float(sum(i in kept for i in dups)),
        }
        d = self.stream.dirs
        self.stored = dir_bytes(d["snapshot"]) + dir_bytes(d["shards"])
        versions = snap.versions(d["snapshot"])
        with open(os.path.join(d["snapshot"], "manifests", f"{versions[-1]}.json")) as f:
            live = snap.manifest_file_count(json.load(f))
        self.snapshots = {
            "snapshots.versions": float(len(versions)),
            "snapshots.live_files": float(live),
            "snapshots.state_mb": dir_bytes(d["snapshot"]) / MB,
            "snapshots.bytes_written_mb": self.stored / MB / len(self.batches),
        }
        self.info = {"files": c.files, "documents": len(kinds), **{f"{k}_share": v for k, v in c.shares().items()}}
        return failures

    def extra_metrics(self) -> dict:
        return {"stored_bytes_per_input_byte": (self.stored / self.stream.corpus.input_bytes, "ratio")}

    def layers(self, tracer, ops: Ops) -> dict:
        traced = [p for p in self.batches if p["traced"]]
        for p in traced:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3
            end = start + p["durationMs"]["triggerExecution"]
            tracer.group_window(f"batch{p['batchId']}", p["runId"], start, end)
        out = spark_layer(
            tracer,
            [[f"batch{p['batchId']}"] for p in traced],
            [p["durationMs"]["triggerExecution"] / 1e3 for p in traced],
            self.ctx.cpus,
        )
        for metric, phase in PHASES.items():
            out[metric] = statistics.mean(p["durationMs"].get(phase, 0) / 1e3 for p in traced)
        trigger = statistics.mean(p["durationMs"]["triggerExecution"] / 1e3 for p in traced)
        out["trace.unaccounted_s"] = trigger - sum(out[m] for m in PHASES)
        out.update(self.curation)
        out.update(self.snapshots)
        return out
