"""The benchmark's caches (tables, oracle digests, fresh-plan stage counts)
live in a directory keyed on the code that made them, so a change to the
code starts them afresh.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

from perfbench.common import cache_dir, code_key


def test_a_changed_code_key_rebuilds_the_cache(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "plans.py").write_text("STAGES = 4\n")
    (pkg / "__pycache__" / "plans.cpython-311.pyc").write_bytes(b"a")
    key = code_key([str(pkg)], "duckdb 1.0.0")
    assert code_key([str(pkg)], "duckdb 1.0.0") == key

    parent = str(tmp_path / "cache")
    old = cache_dir(parent, key)
    with open(os.path.join(old, "stages.json"), "w") as f:
        f.write('{"q_a3_tpch_q1": 4}')
    assert cache_dir(parent, key) == old
    assert os.listdir(old) == ["stages.json"]

    # Compiled files are not code; a source change is.
    (pkg / "__pycache__" / "plans.cpython-311.pyc").write_bytes(b"b")
    assert code_key([str(pkg)], "duckdb 1.0.0") == key
    (pkg / "plans.py").write_text("STAGES = 3\n")
    changed = code_key([str(pkg)], "duckdb 1.0.0")
    assert changed != key
    assert code_key([str(pkg)], "duckdb 1.1.0") != changed

    new = cache_dir(parent, changed)
    assert new != old
    assert os.listdir(new) == []
    assert not os.path.exists(old)
