"""The fresh-plan guard of ``query_mix``: every timed op must execute the
whole query, not re-run the last stage of a plan that already ran.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench.common import executed_stages, job_group, start_session
from perfbench.query_mix import guard, run_op
from perfbench.tables import ensure_tables

QUERY = "q_a3_tpch_q1"  # scan, shuffle, aggregate, sort: 4 stages


@pytest.fixture(scope="module")
def spark():
    return start_session()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return ensure_tables(str(tmp_path_factory.mktemp("tables")), 0.001)


def test_every_op_runs_the_stages_of_a_fresh_plan(spark, sf_dir):
    run_op(spark, sf_dir, QUERY, "guard/fresh1")
    run_op(spark, sf_dir, QUERY, "guard/fresh2")
    first = executed_stages(spark, "guard/fresh1/action")
    second = executed_stages(spark, "guard/fresh2/action")
    assert first >= 3
    assert second == first
    assert guard(second, first) is None


def test_prepared_re_execution_is_refused(spark, sf_dir):
    from receiptanalyzerpipeline_spark.plans import REGISTRY

    df = REGISTRY[QUERY].spark(spark, sf_dir)
    job_group(spark, "guard/prepared1")
    df.toArrow()
    first = executed_stages(spark, "guard/prepared1")
    job_group(spark, "guard/prepared2")
    df.toArrow()  # the trap: the same DataFrame, its shuffle output reused
    again = executed_stages(spark, "guard/prepared2")
    assert again < first
    assert guard(again, first) is not None


def test_the_guard_allows_a_tenth_on_large_plans_only():
    assert guard(90, 100) is None
    assert guard(89, 100) is not None
    assert guard(15, 16) is None
    assert guard(3, 4) is not None
    assert guard(5, 4) is None
