"""Star-schema tables for the ``query_mix`` workload, and their oracle checks.

The registry queries read ten parquet tables (``catalog.TABLES``). This
module writes them from a fixed seed, with the column names, physical types
and value domains of the test data the package's test suite reads: a
TPC-H-like star schema, an ``events`` click stream, a ``documents`` corpus
over a small vocabulary and clustered unit-norm ``embeddings``. Every column
is drawn independently and uniformly, except for a small share of
exact-duplicate documents.

Like that test data, money columns are DOUBLE and dates and ``events.ts``
are TIMESTAMP(MICROS). Data written as DECIMAL money and
TIMESTAMP(NANOS) ``events.ts``, which ``catalog._read`` also accepts (it
rebuilds microseconds from the nanos), would take other paths, which this
workload does not exercise.

Expected query results come from the DuckDB oracle (``Query.oracle``) and
are cached as digests of ``oracle.canon_frame``, so each timed op is checked
against DuckDB without running DuckDB again.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // _DAY_US, _epoch_us(*hi) // _DAY_US
    return pa.array(rng.integers(a, b + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def generate(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (sf 1 has 6 M lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_users = int(1_500_000 * sf), max(10, int(15_000 * sf))
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25), i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    orderkey = np.repeat(np.arange(n_ord), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(orderkey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(linenumber, i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, (1995, 1, 2), (2001, 11, 4)),
        }
    )
    t0 = _epoch_us(2024, 1, 1)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events)),
            "ts": pa.array(t0 + rng.integers(0, 30 * _DAY_US, n_events), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": _money(rng, n_events, 0.01, 500.0),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    texts = [
        " ".join(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 101, n_docs)
    ]
    for i in rng.choice(np.arange(1, n_docs), max(1, n_docs // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": _pick(rng, [f"src{i}" for i in range(20)], n_docs),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(scale=1.2, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, i32),
        }
    )
    return t


def ensure_tables(data_dir: str, sf: float) -> str:
    """Write the tables once under ``data_dir``; returns the sf directory."""
    out = os.path.join(data_dir, f"sf{sf}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out, exist_ok=True)
        for name, table in generate(sf).items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        with open(done, "w") as f:
            f.write("ok\n")
    return out


def canon_digest(pdf) -> dict:
    """Row count, column types and a digest of the strict canonical rows
    (``oracle.canon_frame``: type name + str per cell, rows sorted)."""
    from receiptanalyzerpipeline_spark.oracle import canon_frame

    dtypes, rows = canon_frame(pdf)
    h = hashlib.sha256(repr(rows).encode()).hexdigest()
    return {"rows": len(rows), "dtypes": dtypes, "sha256": h}


def expected_digests(sf_dir: str, names: list[str], cache_path: str) -> dict[str, dict]:
    """DuckDB-oracle digests for ``names``, computed once and cached."""
    from receiptanalyzerpipeline_spark.oracle import duckdb_connect
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    cache: dict[str, dict] = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    missing = [n for n in names if n not in cache]
    if missing:
        con = duckdb_connect(sf_dir)
        try:
            for n in missing:
                cache[n] = canon_digest(con.execute(REGISTRY[n].oracle).df())
        finally:
            con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[n] for n in names}


def arrow_to_pandas(table: pa.Table, schema, timezone: str = "UTC"):
    """The Arrow result as ``DataFrame.toPandas`` would hand it back: the
    same ``to_pandas`` options and per-column Spark converters."""
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    columns = [f.name for f in schema.fields]
    if table.num_rows == 0:
        return pd.DataFrame(columns=columns)
    pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
        date_as_object=True, coerce_temporal_nanoseconds=True
    )
    pdf.columns = columns
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType, field.nullable, timezone=timezone, struct_in_pandas="dict"
            )(ser)
            for (_, ser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def check(table: pa.Table, schema, expected: dict) -> str | None:
    """None if the Spark result equals the oracle's, else what differs."""
    got = canon_digest(arrow_to_pandas(table, schema))
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != oracle {expected['rows']}"
    if [list(x) for x in got["dtypes"]] != [list(x) for x in expected["dtypes"]]:
        return f"dtypes {got['dtypes']} != oracle {expected['dtypes']}"
    if got["sha256"] != expected["sha256"]:
        return "values differ from the oracle"
    return None
