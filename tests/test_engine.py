"""TableEngine facade: the three entry points (SURVEY.md §3) end-to-end."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.types import IntegerType, StringType

from tests.conftest import SF_SMOKE


def test_register_parquet_dir_and_sql(engine):
    engine.register_parquet_dir(SF_SMOKE, ["region", "nation"])
    out = engine.sql(
        "SELECT r_name, count(*) AS n FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ).collect()
    assert {r.r_name for r in out} and all(r.n > 0 for r in out)


def test_register_python_udf(engine):
    engine.register_udf("double_it", lambda x: None if x is None else x * 2, IntegerType())
    assert engine.sql("SELECT double_it(21) AS v").collect()[0].v == 42


def test_register_pandas_udf(engine):
    import pandas as pd

    engine.register_pandas_udf("shout", lambda s: s.str.upper(), StringType())
    assert engine.sql("SELECT shout('abc') AS v").collect()[0].v == "ABC"


def test_register_table_and_query(engine, spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    engine.register_table("tiny", df)
    assert engine.sql("SELECT max(id) AS m FROM tiny").collect()[0].m == 2
    assert engine.table("tiny").count() == 2


def test_timestamp_to_string_matches_java_format(spark):
    """The registered TimestampToString must print java.sql.Timestamp.toString()
    format: trailing zeros stripped, ≥1 fractional digit."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
        timestamp_to_string_col,
    )

    register_timestamp_to_string(spark)
    rows = spark.sql(
        """
        SELECT TimestampToString(TIMESTAMP '2024-01-01 12:00:07') AS whole,
               TimestampToString(TIMESTAMP '2024-01-01 12:00:07.5') AS tenth,
               TimestampToString(TIMESTAMP '2024-01-01 12:00:07.123456') AS micros
        """
    ).collect()[0]
    assert rows.whole == "2024-01-01 12:00:07.0"
    assert rows.tenth == "2024-01-01 12:00:07.5"
    assert rows.micros == "2024-01-01 12:00:07.123456"
    # the pure-expression fast path agrees with the UDF
    df = spark.sql(
        "SELECT TIMESTAMP '2024-01-01 12:00:07.120' AS t"
    ).select(timestamp_to_string_col("t").alias("s"))
    assert df.collect()[0].s == "2024-01-01 12:00:07.12"


def test_csv_orc_round_trip(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_csv, read_orc

    schema = StructType([StructField("id", LongType()), StructField("name", StringType())])
    df = spark.createDataFrame([(1, "a"), (2, "b,with,commas"), (3, None)], schema)

    csv_dir = str(tmp_path / "t.csv")
    df.write.option("header", True).csv(csv_dir)
    got = read_csv(spark, csv_dir, schema)
    assert sorted((r.id, r.name) for r in got.collect()) == [(1, "a"), (2, "b,with,commas"), (3, None)]

    orc_dir = str(tmp_path / "t.orc")
    df.write.orc(orc_dir)
    got_orc = read_orc(spark, orc_dir)
    assert sorted((r.id, r.name) for r in got_orc.collect()) == [(1, "a"), (2, "b,with,commas"), (3, None)]
    assert got_orc.schema == schema


def test_csv_malformed_rows_null_out(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("id,n\n1,10\n2,notanint\n")
    schema = StructType([StructField("id", LongType()), StructField("n", LongType())])
    rows = sorted((r.id, r.n) for r in read_csv(spark, str(p), schema).collect())
    assert rows == [(1, 10), (2, None)]  # PERMISSIVE: bad field -> NULL, row kept


def test_observe_batch_metrics(engine, spark):
    from pyspark.sql import functions as F

    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    observed, obs = engine.observe(
        ev, "ingest", F.count(F.lit(1)).alias("rows"), F.max("value").alias("max_value")
    )
    kept = observed.filter(F.col("value") >= 0).count()
    # metrics ride the SAME action (no second scan) and cover pre-filter rows
    assert obs.get["rows"] == ev.count()
    assert obs.get["max_value"] > 0
    assert kept <= obs.get["rows"]


def test_read_table_never_yields_ntz(spark):
    """Environment canary (round-4 regression class): whatever timestamp
    flavor TESTDATA's parquet carries (ns, us-NTZ, us-UTC), read_table must
    hand every query plain TIMESTAMP columns."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

    for t in ["events", "orders", "lineitem"]:
        schema = read_table(spark, "/root/testdata/sf0.001", t).schema
        bad = [f.name for f in schema.fields if f.dataType.typeName() == "timestamp_ntz"]
        assert not bad, f"{t}: NTZ columns leaked through the source boundary: {bad}"


def test_vectorized_timestamp_to_string_matches_row_path_elementwise():
    """The r17-vectorized ``timestamp_to_string_pandas`` body
    (``s.dt.strftime`` + Series string ops, guide §4.2) must agree with
    the row-at-a-time ``timestamp_to_string_py`` on every element of a
    randomized micros distribution — including NaT, whole seconds
    (fraction '.0'), and trailing-zero micros ('.12' not '.120000')."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        timestamp_to_string_pandas,
        timestamp_to_string_py,
    )

    rng = np.random.RandomState(7)
    base = pd.Timestamp("2024-01-01")
    micros = rng.randint(0, 90 * 86_400 * 1_000_000, 5_000, dtype=np.int64)
    # force the edge classes in: whole seconds, single-digit fraction,
    # trailing-zero fraction, max fraction
    micros[:4] = [0, 500_000, 120_000, 999_999]
    s = pd.Series(base + pd.to_timedelta(micros, unit="us"))
    s[::97] = pd.NaT

    got = timestamp_to_string_pandas(s)
    want = s.map(timestamp_to_string_py, na_action="ignore").astype(object)
    want[s.isna()] = None

    assert got.dtype == object  # Arrow-convertible even when all-NaT slices exist
    assert list(got) == list(want)


def test_vectorized_timestamp_to_string_all_nat_stays_object():
    """An all-NaT batch must come back all-None with object dtype (the
    datetime64 dtype would fail the Arrow string conversion)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        timestamp_to_string_pandas,
    )

    s = pd.Series([pd.NaT, pd.NaT], dtype="datetime64[ns]")
    out = timestamp_to_string_pandas(s)
    assert out.dtype == object
    assert list(out) == [None, None]


def _partition_runner(tmp_path, mode: str) -> dict:
    import json
    import os
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "tests.partition_rule_runner", str(tmp_path), mode],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, f"runner failed:\n{proc.stdout}\n{proc.stderr}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_shuffle_partitions_follow_task_slots(tmp_path):
    """``build_spark`` sizes shuffle partitions to the session's task slots:
    ``local[3]`` gives 3, so the reference interval join (4 state stores
    per partition) opens 12 stores per micro-batch, and an explicit
    ``shuffle_partitions`` or ``extra_conf`` value still wins.  Runs in a SUBPROCESS
    (tests/partition_rule_runner.py): the rule reads the SparkContext's
    parallelism, fixed when a process builds its first session."""
    result = _partition_runner(tmp_path, "engine")
    assert result["default"] == "3", result
    assert result["reference"] == {"num_shuffle_partitions": 3, "num_state_store_instances": 12}
    assert result["explicit"] == "5", result
    assert result["extra_conf"] == "7", result


def test_driver_session_gets_partition_rule(tmp_path):
    """A bare ``SparkSession`` handed to ``__spark_entry__`` (Spark's
    default of 200 partitions, never set) gets the same rule: the
    replayed ``streaming_interval_join`` runs on ``local[2]``'s 2 slots,
    so every micro-batch opens 2 x 4 state stores, not 800.  A count the
    driver set itself is kept."""
    result = _partition_runner(tmp_path, "driver")
    assert result["bare"] == "200", result
    assert result["configured"] == "2", result
    assert result["rows"] > 0, result
    assert result["state_store_instances"] == [8], result
    assert result["driver_set"] == "6", result
