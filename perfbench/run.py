"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it name every metric with its unit, and describe the run
(seed, cpus, versions, measured input shares).

Generated inputs, cached oracle results and per-run scratch files live in
``perfbench/.work``. The first run of a version of the code writes the
query tables and the oracle cache there.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "receipt_ingest", "curate_stream")
PACKAGE = "receiptanalyzerpipeline_spark"
#: The driver heap the benchmark runs with, unless ``SPARK_GRAFT_DRIVER_MEM``
#: is set; ``session.get_spark`` defaults to 8g. Under 8g the JVM's peak RSS
#: follows how far G1 happens to grow the heap: over ten seeds of
#: receipt_ingest ``peak_rss_mb`` ranged 3.6-6.2 GB, an interquartile range
#: of 0.22 of its median, against 2.9-3.2 GB (0.05) under 2g, where the
#: JVM stays near 1.6 GB. 2g also keeps the benchmark small on a machine
#: it shares.
DRIVER_MEM = "2g"


class Context:
    """Directories and settings one run shares with its workload."""

    def __init__(self, seed: int):
        import duckdb

        from perfbench.common import cache_dir, code_key

        self.work = os.path.join(HERE, ".work")
        # Generated tables, oracle results and stage counts hold for the
        # code that made them: the package, the benchmark and DuckDB.
        key = code_key([os.path.join(ROOT, PACKAGE), HERE], f"duckdb {duckdb.__version__}")
        self.data_dir = cache_dir(os.path.join(self.work, "cache"), key)
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.seed = seed
        os.makedirs(self.run_dir, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def sub(self, name: str) -> "Context":
        """This run's context, with its scratch files under ``name``."""
        c = copy.copy(self)
        c.run_dir = self.path(name)
        os.makedirs(c.run_dir, exist_ok=True)
        return c


def _environment() -> None:
    """Pin the program's inputs from the environment: the CPU budget, the
    driver heap, and every scratch directory inside the checkout."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _program_present() -> bool:
    """The package under test must be the checkout's own copy."""
    # The script's own directory comes first on sys.path; import the
    # benchmark as the ``perfbench`` package from the checkout root instead.
    sys.path[0] = ROOT
    try:
        import receiptanalyzerpipeline_spark as pkg
    except ImportError:
        return False
    return os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) == ROOT


def _workload(name: str, ctx: Context):
    if name == "query_mix":
        from perfbench.query_mix import QueryMix

        return QueryMix(ctx, ctx.seed)
    if name == "receipt_ingest":
        from perfbench.receipt_ingest import ReceiptIngest

        return ReceiptIngest(ctx, ctx.seed)
    from perfbench.curate_stream import CurateStream

    return CurateStream(ctx, ctx.seed)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM process to exit
    (it otherwise outlives this process by a moment)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _versions() -> dict:
    import subprocess

    import duckdb
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java.splitlines()[0] if java else "unknown",
        "python": sys.version.split()[0],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # Each workload runs a fixed number of ops (README.md, Budget); the
    # option is accepted for the benchmark's command-line interface.
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print("receiptanalyzerpipeline_spark is not in this checkout", file=sys.stderr)
        return 2
    _environment()

    from perfbench.measure import measure

    ctx = Context(args.seed)
    try:
        wl = _workload(args.workload, ctx)
        twin = lambda: _workload(args.workload, ctx.sub("untraced"))  # noqa: E731
        result, lines = measure(wl, ctx, bool(args.trace), twin)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    info = {"workload": args.workload, "seed": args.seed, "cpus": ctx.cpus, **_versions()}
    info.update(wl.info)
    print("# run " + json.dumps(info, sort_keys=True))
    for line in lines:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
