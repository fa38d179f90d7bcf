"""Extras operators: as-of join semantics + sketch accuracy bounds."""

from __future__ import annotations

from collections import Counter, defaultdict
from datetime import datetime, timedelta

import pandas as pd
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F

from amazon_kinesis_data_analytics_flinktableapi_spark.operators.asof_join import as_of_join
from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY
from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table
from tests.conftest import SF_SMOKE

T0 = datetime(2024, 1, 1, 12, 0, 0)


def test_asof_picks_latest_not_all(spark):
    orders = spark.createDataFrame(
        [(1, T0, "EUR"), (2, T0 + timedelta(seconds=30), "EUR"), (3, T0, "GBP")],
        "id int, t timestamp, ccy string",
    )
    rates = spark.createDataFrame(
        [
            (T0 - timedelta(seconds=10), "EUR", 10),  # older
            (T0 - timedelta(seconds=1), "EUR", 20),   # latest before order 1
            (T0 + timedelta(seconds=5), "EUR", 30),   # latest before order 2
        ],
        "rt timestamp, ccy string, rate int",
    )
    out = as_of_join(orders, rates, on="ccy", left_id="id", left_time="t",
                     right_time="rt", horizon="1 minute")
    got = {r.id: r.r_rate for r in out.collect()}
    assert got == {1: 20, 2: 30, 3: None}
    assert out.count() == 3  # exactly one row per left row — no fan-out


def test_approx_sketches_accuracy(spark):
    out = {r.event_type: r for r in REGISTRY["approx_sketches"].fn(spark, SF_SMOKE).collect()}
    ev = read_table(spark, SF_SMOKE, "events")
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("users"),
            F.expr("percentile(value, 0.5)").alias("p50"),
        ).collect()
    }
    for et, e in exact.items():
        a = out[et]
        # portable m=1024 HLL (r11): linear-counting regime here; a +2
        # absolute floor covers register collisions at tiny cardinality
        # (15 distinct at SF_SMOKE → ±1 observed)
        assert abs(a.approx_users - e.users) <= max(0.05 * e.users, 2), (
            et, a.approx_users, e.users,
        )
        assert abs(a.q50 - e.p50) / max(abs(e.p50), 1e-9) <= 0.05


def test_global_running_sum_partition_invariant(spark):
    """The running sum must be bit-identical for ANY partition count —
    offsets + local prefix sums compose to the same totals regardless of
    where the sampled range boundaries land."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.ranking import global_running_sum

    rows = [(i, (i * 37) % 11 + 1) for i in range(257)]
    df = spark.createDataFrame(rows, "id long, v long")
    expect = {}
    acc = 0
    for i, v in rows:  # ids are already in order
        acc += v
        expect[i] = acc
    for n in (1, 3, 8):
        got = {
            r["id"]: r["rs"]
            for r in global_running_sum(df, [F.col("id")], "v", sum_name="rs", num_partitions=n).collect()
        }
        assert got == expect, f"num_partitions={n} diverged"


def test_kmv_estimator_accuracy(spark):
    """The KMV estimator path (group cardinality > k): relative error stays
    within ~4/sqrt(k) of the exact distinct count on synthetic groups."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.extras import kmv_distinct

    df = spark.range(40_000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        # group 0: 20k candidate values with collisions -> ~9.9k distinct
        # group 1: distinct-per-row ids
        F.when(F.col("id") % 2 == 0, F.pmod(F.xxhash64("id"), 10_000)).otherwise(
            F.col("id") + 1_000_000
        ).alias("v"),
    )
    exact = {r["g"]: r["n"] for r in df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    got = {r["g"]: r["kmv_distinct"] for r in kmv_distinct(df, "g", "v", k=256).collect()}
    assert set(got) == set(exact)
    for g, n in exact.items():
        assert n > 256, "test must exercise the estimator path"
        rel = abs(got[g] - n) / n
        assert rel < 0.25, f"group {g}: est {got[g]} vs exact {n} (rel {rel:.3f})"


def test_cms_never_undercounts_and_is_tight_on_heavy_hitters(spark, tmp_path):
    # CMS property: estimate >= exact always; with 1024 cells over a small
    # vocab the top tokens should estimate exactly or nearly so
    import shutil

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.extras import (
        q_cms_frequency_sketch,
    )

    src = "/root/testdata/sf0.001"
    rows = q_cms_frequency_sketch(spark, src).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_estimate >= r.exact_n, f"CMS undercounted {r.tok}"
        assert r.cms_estimate <= r.exact_n * 2, f"CMS wildly loose on heavy hitter {r.tok}"


def test_three_sigma_outlier_exact_in_int64_overflow_regime(spark):
    """ADVICE r7: the seasonal 3σ multiply-through test must stay exact
    where its products exceed int64 (n·Σx² ~ n²V² up to ~1e32 here).
    Pin the DECIMAL(38,0) predicate against exact Python big-int
    arithmetic, and document that the old BIGINT form actually wraps —
    i.e. the decimal move changed behavior in this regime, not just types."""
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.queries.mining import (
        three_sigma_outlier,
    )

    # profile aggregates for a population of n values in cents, mean mu,
    # second moment chosen so variance is small; x probes both sides of
    # the 3σ boundary.  n up to 5e9 rows/bucket, V = 1e6 cents ($10k).
    cases = []
    for n, mu, var in [
        (5_000_000_000, 1_000_000, 10_000),   # n·V = 5e15: far past int64 wrap
        (40_000_000_000, 500_000, 250_000),   # n·V = 2e16
        (30, 120_000, 900),                   # tiny bucket: the tested-SF regime
    ]:
        s = n * mu
        s2 = n * (var + mu * mu)  # Σx² = n(σ² + μ²)
        sigma = int(var ** 0.5)
        for x in [mu, mu + 2 * sigma, mu + 3 * sigma, mu + 4 * sigma,
                  mu - 4 * sigma, mu + 3 * sigma + 1]:
            cases.append((x, n, s, s2))
    # the documented cliff: n·V = 3e18 at MAX variance (values split ±V),
    # where 9·(n·Σx² − Σ²) = 9n²V² ≈ 8.1e37 — the largest intermediate
    # DECIMAL(38,0) must still hold exactly (docstring bound)
    n, V = 3_000_000_000_000, 1_000_000
    cases += [(x, n, 0, n * V * V) for x in (V, -V, 1, 0)]

    exact = [
        (x * n - s) ** 2 > 9 * (n * s2 - s * s)  # Python ints: arbitrary precision
        for x, n, s, s2 in cases
    ]
    assert any(exact) and not all(exact), "cases must straddle the boundary"

    # s2 in the big-n cases exceeds int64 before the query even runs (the
    # aggregation the engine performs in decimal) — so feed the aggregates
    # in as decimal strings, same as the query's DECIMAL(38,0) sums
    df = spark.createDataFrame(
        [(str(x), str(n), str(s), str(s2)) for x, n, s, s2 in cases],
        "x string, n string, s string, s2 string",
    ).select(
        F.col("x").cast("decimal(38,0)").alias("x"),
        F.col("n").cast("decimal(38,0)").alias("n"),
        F.col("s").cast("decimal(38,0)").alias("s"),
        F.col("s2").cast("decimal(38,0)").alias("s2"),
    )
    got = [
        r.flag
        for r in df.select(
            three_sigma_outlier(F.col("x"), F.col("n"), F.col("s"), F.col("s2")).alias("flag")
        ).collect()
    ]
    assert got == exact

    # the int64 wrap is real: the same comparison in Python's simulated
    # two's-complement int64 gives a DIFFERENT verdict on at least one
    # overflow-regime case (this is what the engine used to compute)
    def wrap64(v):
        return (v + 2**63) % 2**64 - 2**63

    wrapped = [
        wrap64(wrap64(wrap64(x * n) - s) ** 2)
        > wrap64(9 * wrap64(wrap64(n * s2) - wrap64(s * s)))
        for x, n, s, s2 in cases
    ]
    assert wrapped != exact, "overflow regime not actually exercised"


# ---------------------------------------------------------------------------
# schema-evolution read path (r16): mixed-generation parquet through one
# declared schema — NULL fill for pre-column files, pruning of dropped
# columns, mergeSchema discovery mode, exactly-one-mode guard
# ---------------------------------------------------------------------------

def test_read_parquet_evolved_declared_schema_null_fills(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_parquet_evolved

    d = str(tmp_path / "t")
    spark.createDataFrame([(1,), (2,)], "a: long").write.mode("overwrite").parquet(d)
    spark.createDataFrame([(3, "x")], "a: long, b: string").write.mode("append").parquet(d)
    cur = StructType([StructField("a", LongType()), StructField("b", StringType())])
    rows = {r.a: r.b for r in read_parquet_evolved(spark, d, schema=cur).collect()}
    # gen-1 rows surface the added column as NULL; gen-2 keeps its value
    assert rows == {1: None, 2: None, 3: "x"}


def test_read_parquet_evolved_declared_schema_prunes_dropped_columns(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_parquet_evolved

    d = str(tmp_path / "t")
    spark.createDataFrame([(1, "junk")], "a: long, legacy: string").write.parquet(d)
    cur = StructType([StructField("a", LongType())])
    df = read_parquet_evolved(spark, d, schema=cur)
    assert df.columns == ["a"] and df.collect()[0].a == 1
    # and the scan itself reads only the declared column (column pruning)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<a:bigint>" in plan


def test_read_parquet_evolved_merge_schema_discovery(spark, tmp_path):
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_parquet_evolved

    d = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "a: long").write.mode("overwrite").parquet(d)
    spark.createDataFrame([(2, "x")], "a: long, b: string").write.mode("append").parquet(d)
    df = read_parquet_evolved(spark, d, merge_schema=True)
    assert sorted(df.columns) == ["a", "b"]
    assert {(r.a, r.b) for r in df.collect()} == {(1, None), (2, "x")}


def test_read_parquet_evolved_merge_schema_converts_ns_timestamps(spark, tmp_path):
    """ADVICE r16: discovery mode used to surface parquet timestamp[ns]
    columns as raw nanosAsLong longs; it must now apply read_parquet's
    DIV-1000 conversion — including when only a LATER generation carries
    the ns column (the one-footer probe would miss it)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_parquet_evolved

    d = tmp_path / "t"
    d.mkdir()
    # gen 1: no ts column at all (so a first-footer-only probe finds nothing)
    pq.write_table(pa.table({"a": [1]}), str(d / "gen1.parquet"))
    # gen 2: adds a timestamp[ns] column
    ts = dt.datetime(2024, 1, 2, 3, 4, 5, 123456)
    pq.write_table(
        pa.table({"a": [2], "ts": pa.array([ts], type=pa.timestamp("ns"))}),
        str(d / "gen2.parquet"),
    )
    df = read_parquet_evolved(spark, str(d), merge_schema=True)
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r.a: r.ts for r in df.collect()}
    assert got == {1: None, 2: ts}


def test_read_parquet_evolved_declared_schema_fails_loudly_on_ns(spark, tmp_path):
    """Declared mode's documented contract: a TimestampType declaration
    over an ns generation fails at scan, never silently corrupts."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql.types import StructField, StructType, TimestampType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_parquet_evolved

    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([dt.datetime(2024, 1, 1)], type=pa.timestamp("ns"))}),
        str(d / "a.parquet"),
    )
    cur = StructType([StructField("ts", TimestampType())])
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH|FAILED_READ_FILE"):
        read_parquet_evolved(spark, str(d), schema=cur).collect()


def test_read_parquet_evolved_requires_exactly_one_mode(spark, tmp_path):
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_parquet_evolved

    cur = StructType([StructField("a", LongType())])
    with pytest.raises(ValueError, match="exactly one mode"):
        read_parquet_evolved(spark, str(tmp_path), schema=None, merge_schema=False)
    with pytest.raises(ValueError, match="exactly one mode"):
        read_parquet_evolved(spark, str(tmp_path), schema=cur, merge_schema=True)


def _docs():
    return papq.read_table(f"{SF_SMOKE}/documents.parquet").to_pandas()


def test_tvd_drift_matches_straightline(spark):
    df = _docs()
    # pd.notna, not `is not None`: pandas surfaces parquet NULLs in
    # numeric columns as NaN, which passes `is not None` and then blows
    # up in int() — the reference must tolerate the NULLs the query
    # contract covers (ADVICE r15)
    rows = [
        (r.source, min(max(int(r.n_chars), 0) // 64, 31))
        for r in df.itertuples()
        if pd.notna(r.source) and pd.notna(r.n_chars)
    ]
    n = len(rows)
    per = defaultdict(Counter)
    glob = Counter()
    for s, b in rows:
        per[s][b] += 1
        glob[b] += 1
    want = {}
    for s, cnt in per.items():
        n_a = sum(cnt.values())
        n_b = n - n_a
        if n_b <= 0:
            continue
        num = sum(
            abs(cnt.get(b, 0) * n_b - (glob[b] - cnt.get(b, 0)) * n_a) for b in glob
        )
        want[s] = (n_a, n_b, num, num * 1_000_000 // (2 * n_a * n_b))
    got = {
        r.source: (r.n_a, r.n_b, r.tvd_num, r.tvd_micro)
        for r in REGISTRY["tvd_drift_by_source"].fn(spark, SF_SMOKE).collect()
    }
    assert got == want
    # sanity: TVD is a [0, 1] metric
    assert all(0 <= t[3] <= 1_000_000 for t in got.values())
