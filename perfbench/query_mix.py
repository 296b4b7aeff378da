"""``query_mix``: registry queries on fresh plans, one client, closed loop.

One op is ``REGISTRY[name].spark(spark, sf_dir)`` followed by ``toArrow()``
on that new DataFrame until the last batch arrives. Building the DataFrame
anew gives every op its own QueryExecution, so every stage runs; the
fresh-plan guard checks that by counting the stages of the op's action.
"""

from __future__ import annotations

import io
import json
import os
import random
import statistics
import time
from contextlib import redirect_stdout

from perfbench.common import Ops, executed_stages, job_group, tree_cpu_s
from perfbench.tracing import MB, spark_layer

#: Ten of the registry's 22 bench queries, what one run's time allows (see
#: README.md): aggregation, joins, a window, the largest collect (q_er2),
#: MinHash (q_d3, q_x24), many-stage plans (q_x24, q_x28), text rules
#: (q_x16) and the heaviest build (q_x5).
QUERIES = [
    "q_a3_tpch_q1",
    "q_d3_minhash_lsh",
    "q_er2_qgram_edit_join",
    "q_j1_multijoin_revenue",
    "q_p1_filter_project",
    "q_w2_lag_running",
    "q_x16_heuristic_quality",
    "q_x24_curation_pipeline",
    "q_x28_bm25_retrieval",
    "q_x5_ann_lsh",
]
WARM_UP = "q_j1_multijoin_revenue"
SF = 0.01
#: Passes over ``QUERIES`` in a run: one pass takes 20-30 s on 4 vCPUs,
#: and a run with its set-up must stay under 49 s (README.md, Budget).
PASSES = 1


def run_op(spark, sf_dir: str, name: str, group: str):
    """One op: (arrow table, schema, latency). Its action runs in job
    group ``<group>/action``."""
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    t0 = time.perf_counter()
    job_group(spark, f"{group}/build")
    df = REGISTRY[name].spark(spark, sf_dir)
    job_group(spark, f"{group}/action")
    table = df.toArrow()
    return table, df.schema, time.perf_counter() - t0


def traced_op(tracer, spark, sf_dir: str, name: str, group: str):
    """``run_op`` with a span around each of its two calls, the build and
    the Arrow collect (job group ``<group>/action``); the latency is timed
    around both, as in ``run_op``. Outside the op's latency, two spans on
    fresh QueryExecutions of the same DataFrame follow: ``plan`` plans one
    without executing it (``explain``), ``execute`` plans and runs one
    into the noop sink."""
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    t0 = time.perf_counter()
    with tracer.span(spark, group, "build", query=name):
        df = REGISTRY[name].spark(spark, sf_dir)
    with tracer.span(spark, group, "action") as collect:
        table = df.toArrow()
    latency = time.perf_counter() - t0
    with tracer.span(spark, group, "plan"), redirect_stdout(io.StringIO()):
        df.select("*").explain()
    with tracer.span(spark, group, "execute"):
        df.write.format("noop").mode("overwrite").save()
    collect.update(rows=table.num_rows, arrow_mb=table.nbytes / MB, latency=latency)
    return table, df.schema, latency


def guard(stages: int, first: int) -> str | None:
    """The fresh-plan guard: an op's action must run as many stages as the
    query's first fresh run did. A prepared re-execution reuses the shuffle
    output of the earlier run and runs only the final stage(s).

    Fresh runs of the few queries with dozens of stages launch a varying
    number of jobs (q_x24 15-16, q_x30 70-72, q_x22 95-101 on 4 CPUs), so
    a shortfall of a tenth, rounded down, is allowed; below ten stages the
    count must match."""
    if stages < first - first // 10:
        return f"action ran {stages} stages, the first fresh run ran {first}"
    return None


class QueryMix:
    name = "query_mix"

    def __init__(self, ctx, seed: int):
        from perfbench.tables import ensure_tables, expected_digests

        self.ctx = ctx
        self.sf_dir = ensure_tables(ctx.data_dir, SF)
        self.expected = expected_digests(
            self.sf_dir, QUERIES, os.path.join(ctx.data_dir, f"expected-sf{SF}.json")
        )
        # ``data_dir`` is keyed on the code, so a change to a query's plan
        # gets its own reference, taken from its first fresh run.
        self.ref_path = os.path.join(ctx.data_dir, f"stages-sf{SF}-cpus{ctx.cpus}.json")
        self.reference: dict[str, int] = {}
        if os.path.exists(self.ref_path):
            with open(self.ref_path) as f:
                self.reference = json.load(f)
        self.rng = random.Random(seed)
        self.n_ops = 0
        self.info = {"sf": SF, "queries": len(QUERIES)}

    def warm_up(self, spark) -> None:
        from receiptanalyzerpipeline_spark.plans import REGISTRY

        REGISTRY[WARM_UP].spark(spark, self.sf_dir).toArrow()

    ops = PASSES

    def measure(self, spark, passes: int, tracer=None) -> Ops:
        from perfbench.tables import check

        ops = Ops()
        for _ in range(passes):
            order = list(QUERIES)
            self.rng.shuffle(order)
            for name in order:
                self.n_ops += 1
                group = f"op{self.n_ops}/{name}"
                cpu0 = tree_cpu_s()
                if tracer is not None:
                    table, schema, latency = traced_op(tracer, spark, self.sf_dir, name, group)
                else:
                    table, schema, latency = run_op(spark, self.sf_dir, name, group)
                ops.cpu_s += tree_cpu_s() - cpu0
                stages = executed_stages(spark, f"{group}/action")
                ops.latencies.append(latency)
                ops.items += table.num_rows
                first = self.reference.setdefault(name, stages)
                problem = guard(stages, first) or check(table, schema, self.expected[name])
                if problem:
                    ops.failures.append(f"{name}: {problem}")
        self.save_reference()
        return ops

    def save_reference(self) -> None:
        tmp = self.ref_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.reference, f, indent=1, sort_keys=True)
        os.replace(tmp, self.ref_path)

    def verify(self, spark) -> list[str]:
        return []  # every op is checked as it completes

    def extra_metrics(self) -> dict:
        return {}

    def layers(self, tracer, ops: Ops) -> dict:
        """Means per op. ``collect.s`` is the collect span minus the noop
        run of a fresh plan, both of which plan their QueryExecution; the
        remainder is the op latency, timed around the whole op, minus the
        build and collect spans."""

        def mean(layer: str) -> float:
            return statistics.mean(tracer.seconds(layer))

        collects = [s for s in tracer.spans if s["layer"] == "action"]
        executes = tracer.seconds("execute")
        out = spark_layer(
            tracer, [[s["op"] + "/execute"] for s in collects], executes, self.ctx.cpus
        )
        builds = [s["op"] + "/build" for s in collects]
        out["plans.build_s"] = mean("build")
        out["plans.build_jobs"] = tracer.work(builds)["jobs"] / len(builds)
        out["plans.plan_s"] = mean("plan")
        out["spark.execute_s"] = mean("execute")
        out["collect.s"] = mean("action") - out["spark.execute_s"]
        out["collect.rows"] = statistics.mean(s["rows"] for s in collects)
        out["collect.arrow_mb"] = statistics.mean(s["arrow_mb"] for s in collects)
        accounted = out["plans.build_s"] + out["spark.execute_s"] + out["collect.s"]
        out["trace.unaccounted_s"] = statistics.mean(s["latency"] for s in collects) - accounted
        return out
