"""The measurement protocol every workload follows.

Untraced (``--trace 0``): the set-up (JVM and session start, then the
workload's warm-up op), then the ``wl.ops`` timed ops of a closed loop with
one client, then the output checks. This gives the end-to-end metrics.

Traced (``--trace 1``): two phases, each a new session with its own
warm-up: traced, then untraced. The traced phase turns the event log on
and calls each layer inside its own span; the per-layer metrics come from
it. The tracing overhead is the traced ops' mean end-to-end time minus
that of the untraced ops.
"""

from __future__ import annotations

import os
import statistics

from perfbench.common import end_to_end, peak_rss_mb, start_session, tail, timed_setup
from perfbench.tracing import Tracer

#: Every per-layer metric, with its unit. A workload that never calls a
#: layer reports that layer's work as 0.
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "spark.output_mb": "MB",
    "spark.failed_tasks": "count",
    "spark.slot_busy_ratio": "ratio",
    "collect.s": "s",
    "collect.rows": "count",
    "collect.arrow_mb": "MB",
    "python.to_worker_mb": "MB",
    "python.from_worker_mb": "MB",
    "images.ahash_s": "s",
    "ocr.s": "s",
    "ocr.calls": "count",
    "ocr.memo_hit_ratio": "ratio",
    "ocr.quarantined": "count",
    "textract.s": "s",
    "ingest.merge_s": "s",
    "stream.add_batch_s": "s",
    "stream.query_planning_s": "s",
    "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "stream.latest_offset_s": "s",
    "stream.get_batch_s": "s",
    "snapshots.versions": "count",
    "snapshots.live_files": "count",
    "snapshots.state_mb": "MB",
    "snapshots.bytes_written_mb": "MB",
    "curation.quality_drop_ratio": "ratio",
    "curation.exact_dup_drop_ratio": "ratio",
    "curation.missed_dups": "count",
    "trace.op_s": "s",
    "trace.untraced_op_s": "s",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}


#: The end-to-end metrics in the result line: those whose spread across
#: runs on a shared virtual machine stays inside a bound of 0.25. Wall-clock
#: set-up, throughput and latency drift with the host (see README.md) and
#: are printed above the result line instead.
GATED = ("setup_s", "cpu_s_per_op", "peak_rss_mb")


def _result(ops, metrics: dict) -> dict:
    return {
        "correct": not ops.failures,
        "attempted": ops.attempted,
        "failed": min(len(ops.failures), ops.attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def measure(wl, ctx, traced: bool, twin=None) -> tuple[dict, list[str]]:
    """``twin()`` makes a workload like ``wl``, with the same seed and fresh
    state of its own, for the untraced phase of a traced run."""
    if not traced:
        spark, setup_s, setup_wall_s = timed_setup(wl.warm_up)
        try:
            ops = wl.measure(spark, wl.ops)
            ops.failures += wl.verify(spark)
            rss = peak_rss_mb()
        finally:
            spark.stop()
        e2e = end_to_end(setup_s, ops, rss)
        e2e["setup_wall_s"] = (setup_wall_s, "s")
        lines = [f"# {k} = {v:.6g} {u}" for k, (v, u) in e2e.items()]
        pct, tail_s = tail(ops.latencies)
        lines.append(f"# op_tail_s = {tail_s:.6g} s (p{pct} of {ops.attempted} ops)")
        lines.append(f"# failed_ratio = {len(ops.failures) / ops.attempted:.6g} ratio")
        lines += [f"# {k} = {v:.6g} {u}" for k, (v, u) in wl.extra_metrics().items()]
        lines += [f"# failure: {f}" for f in ops.failures[:20]]
        return _result(ops, {k: e2e[k] for k in GATED}), lines

    def phase(w, tracer=None):
        # Settings of the session that launched the JVM become its system
        # properties and carry over to later sessions, so the untraced
        # phase turns the event log off explicitly.
        spark = start_session(tracer.conf() if tracer else {"spark.eventLog.enabled": "false"})
        try:
            w.warm_up(spark)
            ops = w.measure(spark, share, tracer)
            ops.failures += w.verify(spark)
        finally:
            spark.stop()
        return ops

    # Both phases make the same ops from the same seed, each on fresh
    # state, so the overhead compares like with like (the first receipt
    # batch creates the curated tables, a later one merges into them). The
    # traced phase comes first, where an untraced run times its ops; the
    # untraced phase after it runs on a warmer JVM, so the overhead it
    # gives is an upper bound.
    share = max(1, wl.ops // 2)
    tracer = Tracer(ctx.path("eventlog"))
    ops = phase(wl, tracer)
    after = phase(twin())
    tracer.read_log()
    layers = {k: 0.0 for k in PER_LAYER}
    layers.update(wl.layers(tracer, ops))
    layers["trace.op_s"] = statistics.mean(ops.latencies)
    layers["trace.untraced_op_s"] = statistics.mean(after.latencies)
    layers["trace.overhead_s"] = layers["trace.op_s"] - layers["trace.untraced_op_s"]
    tracer.write(os.path.join(ctx.work, "traces", f"{wl.name}-seed{ctx.seed}.jsonl"))
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
    lines = [f"# {k} = {v:.6g} {PER_LAYER[k]}" for k, v in layers.items()]
    ops.latencies += after.latencies
    ops.failures += after.failures
    lines += [f"# failure: {f}" for f in ops.failures[:20]]
    return _result(ops, {k: (v, PER_LAYER[k]) for k, v in layers.items()}), lines
