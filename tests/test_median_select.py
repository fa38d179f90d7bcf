"""exact_median_select semantics beyond the oracle hash-match."""

from __future__ import annotations

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY


def _run_on(spark, values):
    # scratch events.parquet in the exact TESTDATA flavor (pyarrow,
    # timestamp[us]) so the source-boundary normalization sees what the
    # driver's generator produces
    import os
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="median_")
    n = len(values)
    pdf = pd.DataFrame({
        "event_id": pd.array(range(n), dtype="int64"),
        "ts": pd.to_datetime(["2026-01-01"] * n).astype("datetime64[us]"),
        "user_id": pd.array([0] * n, dtype="int64"),
        "event_type": ["x"] * n,
        "value": [float(v) for v in values],
        "props": [None] * n,
    })
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(d, "events.parquet"))
    return REGISTRY["exact_median_select"].fn(spark, d).collect()


def test_lower_median_odd_even_and_duplicates(spark):
    # odd count: strict middle
    out = _run_on(spark, [5, 1, 9, 3, 7])
    assert len(out) == 1 and out[0]["median_value"] == 5.0 and out[0]["k"] == 3
    # even count: LOWER median (k = ceil(n/2) = 2 of [1,3,7,9] -> 3)
    out = _run_on(spark, [9, 1, 7, 3])
    assert out[0]["median_value"] == 3.0 and out[0]["k"] == 2
    # heavy duplicates: ties broken by event_id, value still correct
    out = _run_on(spark, [2, 2, 2, 2, 2, 8, 8])
    assert out[0]["median_value"] == 2.0 and out[0]["k"] == 4


def test_degenerate_all_equal_values(spark):
    out = _run_on(spark, [4.25] * 9)
    assert out[0]["median_value"] == 4.25 and out[0]["k"] == 5


def test_robust_mad_select_final_join_is_broadcast(spark):
    """robust_mad_select's final med ⋈ mad ⋈ n join chain is
    broadcast-hinted (all sides are one-row-per-group frames; the
    checkpointed med side's LogicalRDD has no size estimate, so the
    unhinted planner kept that join a SortMergeJoin even in the AQE-final
    plan).  Pin: the output joins — the first two join nodes of the
    static physical plan, which the hint controls directly (AQE
    conversion of the operator-internal estimate-based SMJs is runtime-
    and size-dependent, so the executed sf0.1 dump in plans/r18/ carries
    that half of the evidence) — are BroadcastHashJoin."""
    from tests.conftest import SF_SMOKE

    df = REGISTRY["robust_mad_select"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    joins = [l for l in plan.splitlines() if "Join" in l]
    assert len(joins) >= 2
    assert all("BroadcastHashJoin" in l for l in joins[:2]), joins[:2]


def test_robust_mad_select_median_pass_is_materialized(spark):
    """The r17 cut on ``q_robust_mad_select``: pass 1's per-group median
    frame is localCheckpoint-ed before pass 2 consumes it, so the final
    plan joins a materialized LogicalRDD instead of re-executing the
    whole histogram-selection pipeline in every branch that references
    it (~5x).  Value parity is pinned separately by the DuckDB oracle
    (driver gate + test_nonfinite_parity_pinned); this pins the plan
    shape so a refactor cannot silently reintroduce the re-execution."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    df = REGISTRY["robust_mad_select"].fn(spark, "/root/testdata/sf0.001")
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in optimized, (
        "median pass no longer materialized — pass 1 re-executes inside "
        "pass 2's selection branches"
    )
