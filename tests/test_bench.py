"""Guards on ``bench.py``, the headline benchmark CLI.

- The action it times is ``perfbench.batch.full_result``, and for every
  headline query that action executes at least every operator and every
  Python eval node of the ``collect()`` plan.  A ``.count()`` fails this:
  Catalyst prunes the columns a count does not need, Python UDFs included.
- The printed JSON line fits the 2,000-char stdout window its callers keep.
- The headline execution order is pinned.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs
from perfbench import batch
from perfbench.tests.test_full_result import _run_and_count
from tests.conftest import SF_SMOKE

_BENCH_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")

HEADLINE = sorted(n for n, s in all_specs().items() if s.headline)


@pytest.fixture()
def bench_mod():
    spec = importlib.util.spec_from_file_location("bench_under_test", _BENCH_PATH)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_under_test"] = mod
    spec.loader.exec_module(mod)
    yield mod
    sys.modules.pop("bench_under_test", None)


@pytest.mark.parametrize("name", HEADLINE)
def test_timed_action_runs_the_whole_plan(spark, bench_mod, name):
    assert bench_mod.full_result is batch.full_result
    spec = all_specs()[name]
    full = _run_and_count(spark, lambda: spec.fn(spark, SF_SMOKE).collect())
    timed = _run_and_count(spark, lambda: bench_mod.time_query(spark, spec, SF_SMOKE))
    assert timed[0] >= full[0], f"{name}: timed plans have {timed[0]} operators, collect {full[0]}"
    assert timed[1] >= full[1], f"{name}: timed plans have {timed[1]} Python nodes, collect {full[1]}"


def test_result_line_fits_stdout_window(bench_mod):
    """Callers keep the last 2,000 chars of stdout and json-parse
    them; the line must fit with margin even with long query names."""
    timings = {f"a_realistically_long_headline_query_name_{i:02d}": 123.456 for i in range(15)}
    rates = {
        "streaming_interval_join_recs_per_sec": 32123.4,
        "kinesis_sim_scan_recs_per_sec": 301234.5,
        "kinesis_sim_sdk_scan_recs_per_sec": 287654.3,
    }
    state = {n: 123456 for n in bench_mod.STATE_QUERIES}
    line = bench_mod.result_line(timings, 0.1, 9.876, rates, state)
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["action"] == "noop_write"
    assert out["queries"] == timings and out["value"] == round(sum(timings.values()), 3)
    for key in ("metric", "unit", "sf", "streaming_state_max_rows", *rates):
        assert key in out


def test_pinned_headline_order_is_rotation_proof(bench_mod):
    """VERDICT r16 #1: the headline loop's execution order must be a
    constant across rounds — registry rotation reshuffling it is exactly
    what manufactured the duplicate_span_removal 'creep'.  Pinned names
    come out in PINNED_HEADLINE_ORDER no matter how the input dict is
    ordered; unpinned newcomers append at the tail without moving
    anyone."""
    pinned = bench_mod.PINNED_HEADLINE_ORDER
    # adversarial input order: reversed, plus a newcomer inserted first
    scrambled = {"brand_new_headliner": object()}
    for n in reversed(pinned):
        scrambled[n] = object()
    out = list(bench_mod._pinned_headline(scrambled))
    assert out == pinned + ["brand_new_headliner"]
    # subset (a headliner retired) keeps relative order of the rest
    subset = {n: object() for n in reversed(pinned[2:7])}
    assert list(bench_mod._pinned_headline(subset)) == pinned[2:7]


def test_time_strides_era_grouping():
    """make_scaled_data --extend-time-axis (VERDICT r15 #4): datetime
    columns with overlapping ranges share ONE stride (cross-table time
    relationships survive); disjoint eras get their own (a global stride
    spanning the generator's 1995↔2024 era gap would overflow pandas'
    ns arithmetic by copy ~8)."""
    import importlib.util

    import pandas as pd

    path = os.path.join(os.path.dirname(_BENCH_PATH), "tools", "make_scaled_data.py")
    spec = importlib.util.spec_from_file_location("msd_under_test", path)
    msd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(msd)

    ts = pd.to_datetime
    fact_dfs = {
        "orders": pd.DataFrame({"o_orderdate": [ts("1995-01-01"), ts("2001-08-01")]}),
        "lineitem": pd.DataFrame({"l_shipdate": [ts("1995-01-02"), ts("2001-11-04")]}),
        "events": pd.DataFrame({"ts": [ts("2024-01-01"), ts("2024-01-30 23:59:59")]}),
        "customer": pd.DataFrame({"c_custkey": [1, 2]}),  # no datetime col
    }
    strides = msd._time_strides(fact_dfs)
    assert set(strides) == {("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                            ("events", "ts")}
    # orders/lineitem overlap -> one shared stride covering BOTH ranges
    assert strides[("orders", "o_orderdate")] == strides[("lineitem", "l_shipdate")]
    assert strides[("orders", "o_orderdate")] == pd.Timedelta(days=(ts("2001-11-04") - ts("1995-01-01")).days + 2)
    # events is its own era with its own (1-month) stride
    assert strides[("events", "ts")] == pd.Timedelta(days=31)
    # 10 copies of the orders era stay ns-representable (the bug the
    # grouping fixes): max shift ~9 x 2500 days ~ 61 years < year 2262
    assert ts("2001-11-04") + 9 * strides[("orders", "o_orderdate")] < ts("2080-01-01")
