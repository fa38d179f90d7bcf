"""Property-based check of the as-of join: on arbitrary generated inputs
— NULL keys, NULL timestamps on either side, duplicate right times,
empty sides — both directions must agree with a brute-force Python
evaluation of the documented contract: backward = latest right in
``(t − horizon, t]``, forward = earliest right in ``[t, t + horizon)``,
ties on right_time resolved by the tie-breaker column DESCENDING, NULL
keys/times never match (SQL equi-join and interval predicates are
NULL-rejecting), unmatched left rows survive with NULLs (left outer).

Complements test_extras.test_asof_picks_latest_not_all (a fixed
scenario) the same way test_interval_join_property complements the
interval-join unit tests.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.asof_join import as_of_join

T0 = datetime(2024, 1, 1, 12, 0, 0)
KEYS = ["EUR", "USD", None]
HORIZON_S = 60

_spark = None


def get_spark():
    global _spark
    if _spark is None:
        from amazon_kinesis_data_analytics_flinktableapi_spark.engine import build_spark

        _spark = build_spark(app_name="asof-prop", master="local[4]", shuffle_partitions=4)
        _spark.sparkContext.setLogLevel("ERROR")
    return _spark


# offsets intentionally tiny so ties and exact horizon-boundary hits are
# common; None timestamps exercise the NULL-rejection path
_offset = st.one_of(st.none(), st.integers(-90, 90))
orders_st = st.lists(
    st.tuples(st.integers(0, 10**6), _offset, st.sampled_from(KEYS)),
    min_size=0, max_size=10, unique_by=lambda t: t[0],
)
rates_st = st.lists(
    st.tuples(_offset, st.sampled_from(KEYS), st.integers(2, 9)),
    min_size=0, max_size=10,
)


def _ts(off):
    return None if off is None else T0 + timedelta(seconds=off)


def _brute(orders, rates, direction):
    want = {}
    for oid, ot, key in orders:
        best = None
        if ot is not None and key is not None:
            for rt, rkey, rate in rates:
                if rt is None or rkey != key:
                    continue
                if direction == "backward":
                    ok = ot - HORIZON_S < rt <= ot
                    rank = (rt, rate)          # max wins: latest, then highest
                else:
                    ok = ot <= rt < ot + HORIZON_S
                    rank = (-rt, rate)         # max wins: earliest, then highest
                if ok and (best is None or rank > best[0]):
                    best = (rank, (rt, rate))
        want[oid] = best[1] if best else None
    return want


def _run(orders, rates, direction):
    spark = get_spark()
    left = spark.createDataFrame(
        [(oid, _ts(ot), key) for oid, ot, key in orders],
        "id long, t timestamp, ccy string",
    )
    right = spark.createDataFrame(
        [(_ts(rt), key, rate) for rt, key, rate in rates],
        "rt timestamp, ccy string, rate int",
    )
    out = as_of_join(left, right, on="ccy", left_id="id", left_time="t",
                     right_time="rt", horizon=f"{HORIZON_S} seconds",
                     tie_breakers=["rate"], direction=direction)
    got = {}
    for r in out.collect():
        off = None if r.r_rt is None else int((r.r_rt - T0).total_seconds())
        got[r.id] = None if r.r_rate is None else (off, r.r_rate)
    return got


@given(orders=orders_st, rates=rates_st)
@settings(max_examples=25, deadline=None)
def test_asof_backward_matches_brute_force(orders, rates):
    got = _run(orders, rates, "backward")
    assert set(got) == {o[0] for o in orders}  # every left row survives
    assert got == _brute(orders, rates, "backward")


@given(orders=orders_st, rates=rates_st)
@settings(max_examples=25, deadline=None)
def test_asof_forward_matches_brute_force(orders, rates):
    got = _run(orders, rates, "forward")
    assert set(got) == {o[0] for o in orders}
    assert got == _brute(orders, rates, "forward")


def _brute_nearest(orders, rates):
    """Documented nearest contract: candidates = the UNION of the two
    one-sided half-open windows (ot−H, ot] ∪ [ot, ot+H); rank by min
    |rt−ot|, ties toward the EARLIER (backward) right row, then the
    tie-breaker column descending."""
    want = {}
    for oid, ot, key in orders:
        best = None
        if ot is not None and key is not None:
            for rt, rkey, rate in rates:
                if rt is None or rkey != key:
                    continue
                if not (ot - HORIZON_S < rt < ot + HORIZON_S):
                    continue
                rank = (-abs(rt - ot), -rt, rate)  # max wins
                if best is None or rank > best[0]:
                    best = (rank, (rt, rate))
        want[oid] = best[1] if best else None
    return want


@given(orders=orders_st, rates=rates_st)
@settings(max_examples=25, deadline=None)
def test_asof_nearest_matches_brute_force(orders, rates):
    """The nearest plan (one symmetric 3-bucket join) against the
    brute-force contract, NULL keys/times and ties included."""
    got = _run(orders, rates, "nearest")
    assert set(got) == {o[0] for o in orders}
    assert got == _brute_nearest(orders, rates)


def test_asof_nearest_matches_pandas_merge_asof(spark):
    """Published-reference cross-check: pandas merge_asof(direction=
    'nearest') implements the same contract this operator documents
    (nearest by |Δt|, ties toward backward).  Fixture keeps right times
    unique per key and off the exact horizon boundary, where the two
    APIs' inclusivity conventions differ (ours is the union of two
    half-open windows; pandas' tolerance is inclusive)."""
    import pandas as pd

    orders = [(i, T0 + timedelta(seconds=s), "EUR") for i, s in
              enumerate([0, 7, 23, 55, 119, 200])]
    rates = [(T0 + timedelta(seconds=s), "EUR", v) for s, v in
             [(-30, 2), (5, 3), (20, 4), (90, 5), (260, 6)]]
    left = spark.createDataFrame(orders, "id long, t timestamp, ccy string")
    right = spark.createDataFrame(rates, "rt timestamp, ccy string, rate int")
    out = as_of_join(left, right, on="ccy", left_id="id", left_time="t",
                     right_time="rt", horizon=f"{HORIZON_S} seconds",
                     tie_breakers=["rate"], direction="nearest")
    got = {r.id: r.r_rate for r in out.collect()}
    pl = pd.DataFrame(orders, columns=["id", "t", "ccy"]).sort_values("t")
    pr = pd.DataFrame(rates, columns=["rt", "ccy", "rate"]).sort_values("rt")
    ref = pd.merge_asof(pl, pr, left_on="t", right_on="rt", by="ccy",
                        direction="nearest",
                        tolerance=pd.Timedelta(seconds=HORIZON_S - 1))
    want = {int(r.id): (None if pd.isna(r.rate) else int(r.rate))
            for r in ref.itertuples()}
    assert got == want
