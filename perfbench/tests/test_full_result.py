"""Guards on the benchmark's own measurement.

- The timed action of ``registry_batch`` (a noop write) executes at least
  every operator and every Python eval node of the ``collect()`` plan, for
  each of its queries.  A ``.count()`` fails this guard: Catalyst prunes
  the columns a count does not need, Python UDFs included.
- ``BENCHMARK.json`` names exactly the metrics the benchmark prints.

Run from the root of a checkout:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import time

import pytest

from perfbench import batch

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
PYTHON_NODES = ("EvalPython", "InPandas", "InArrow", "PythonUDTF", "ArrowEvalPython")


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from perfbench.common import build_session

    s = build_session("local[2]")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir():
    return batch.SF_DIR


def _executions(spark) -> dict[int, object]:
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    out = {}
    while it.hasNext():
        e = it.next()
        out[e.executionId()] = e
    return out


def _run_and_count(spark, action) -> tuple[int, int]:
    """(operators, Python eval nodes) over the plans of the SQL executions
    ``action`` starts, read from the SQL status store once they end."""
    before = set(_executions(spark))
    action()
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.time() + 30
    while True:
        new = {k: e for k, e in _executions(spark).items() if k not in before}
        if new and all(e.completionTime().isDefined() for e in new.values()):
            break
        if time.time() > deadline:
            raise TimeoutError("SQL executions did not complete in the status store")
        time.sleep(0.05)
    ops = py = 0
    for exec_id in new:
        nodes = store.planGraph(exec_id).allNodes()
        for i in range(nodes.size()):
            name = nodes.apply(i).name()
            ops += 1
            py += any(tag in name for tag in PYTHON_NODES)
    return ops, py


@pytest.mark.parametrize("name", batch.QUERIES)
def test_timed_action_runs_the_whole_plan(spark, sf_dir, name):
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    fn = REGISTRY[name].fn
    full = _run_and_count(spark, lambda: fn(spark, sf_dir).collect())
    timed = _run_and_count(spark, lambda: batch.full_result(fn(spark, sf_dir)))
    assert timed[0] >= full[0], f"{name}: timed plan has {timed[0]} operators, collect {full[0]}"
    assert timed[1] >= full[1], f"{name}: timed plan has {timed[1]} Python nodes, collect {full[1]}"


def test_guard_catches_a_pruning_count(spark, sf_dir):
    """The guard has teeth: ``.count()`` drops the TimestampToString UDF
    of currency_conversion."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    fn = REGISTRY["currency_conversion"].fn
    full = _run_and_count(spark, lambda: fn(spark, sf_dir).collect())
    counted = _run_and_count(spark, lambda: fn(spark, sf_dir).count())
    assert full[1] > 0
    assert counted[1] < full[1]


def test_benchmark_json_names_the_printed_metrics():
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import LAYER_UNITS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
