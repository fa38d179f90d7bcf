"""TableEngine facade: the three entry points (SURVEY.md §3) end-to-end."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
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


#: TimestampToString edge values: NULL, whole seconds ('.0'), '.5',
#: full micros, pre-1970, the last pandas-representable microsecond, and
#: Spark's largest timestamp
_TS_EDGES = [
    None,
    "2024-01-01 12:00:07",
    "2024-01-01 12:00:07.5",
    "2024-01-01 12:00:07.123456",
    "1969-12-31 23:59:59.25",
    "2262-04-11 23:47:16.854775",
    "9999-12-31 23:59:59.999999",
]


def _py_ts(v):
    from datetime import datetime

    return None if v is None else datetime.fromisoformat(v)


def _ts_edge_frame(spark):
    values = ", ".join(
        "(CAST(NULL AS TIMESTAMP))" if v is None else f"(TIMESTAMP '{v}')" for v in _TS_EDGES
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(ts)")


def _python_nodes(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("EvalPython")  # also matches ArrowEvalPython


def test_timestamp_to_string_impls_agree(spark):
    """The ``sql`` and ``pandas`` registrations of TimestampToString
    print strings equal to ``timestamp_to_string_py`` on every edge
    value; only the SQL-bodied one runs without a Python node.  PySpark
    hands a pandas UDF its timestamps as ``datetime64[ns]``, which ends
    in 2262, so the pandas path fails on year 9999 while the SQL one
    does not."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
        timestamp_to_string_py,
    )

    _ts_edge_frame(spark).createOrReplaceTempView("ts_edges")
    in_range = "ts IS NULL OR ts < TIMESTAMP '9999-01-01'"
    got = {}
    for impl in ("sql", "pandas"):
        register_timestamp_to_string(spark, impl)
        where = in_range if impl == "pandas" else "true"
        q = spark.sql(
            f"SELECT CAST(ts AS STRING) AS k, TimestampToString(ts) AS s FROM ts_edges WHERE {where}"
        )
        got[impl] = {r.k: r.s for r in q.collect()}
        assert _python_nodes(q) == (0 if impl == "sql" else 1), impl
    assert got["sql"] == {v: timestamp_to_string_py(_py_ts(v)) for v in _TS_EDGES}
    assert got["pandas"] == {k: v for k, v in got["sql"].items() if not (k or "").startswith("9999")}
    assert got["sql"][None] is None
    assert got["sql"]["2024-01-01 12:00:07"] == "2024-01-01 12:00:07.0"

    register_timestamp_to_string(spark, "pandas")
    with pytest.raises(Exception, match="out of bounds"):
        spark.sql("SELECT TimestampToString(ts) FROM ts_edges").collect()
    register_timestamp_to_string(spark)
    with pytest.raises(ValueError, match="impl must be 'sql' or 'pandas'"):
        register_timestamp_to_string(spark, "python")


def test_timestamp_to_string_last_registration_wins(spark):
    """Registering TimestampToString replaces whatever implementation the
    session had, in either direction (Spark refuses to CREATE OR REPLACE a
    Python UDF with a SQL function, so the SQL path drops it first)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
    )

    def nodes():
        q = spark.sql("SELECT TimestampToString(TIMESTAMP '2024-01-01 00:00:01.5') AS s")
        assert q.first().s == "2024-01-01 00:00:01.5"
        return _python_nodes(q)

    for first, second in (("sql", "pandas"), ("pandas", "sql")):
        register_timestamp_to_string(spark, first)
        assert nodes() == (first != "sql")
        register_timestamp_to_string(spark, second)
        assert nodes() == (second != "sql"), (first, second)
    register_timestamp_to_string(spark)


def _rule_runner(tmp_path, mode: str) -> dict:
    import json
    import os
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "tests.session_rule_runner", str(tmp_path), mode],
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
    ``shuffle_partitions`` or ``extra_conf`` value still wins.  The same
    local session gets the checkpoint rule (the FileSystem-API manager),
    and a manager passed through ``extra_conf`` wins there too.  Runs in a
    SUBPROCESS (tests/session_rule_runner.py): the rules read the
    SparkContext's master and parallelism, fixed when a process builds its
    first session."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import (
        FILESYSTEM_CHECKPOINT_MANAGER,
    )
    from tests.session_rule_runner import DEFAULT_MANAGER

    result = _rule_runner(tmp_path, "engine")
    assert result["default"] == "3", result
    assert result["reference"] == {"num_shuffle_partitions": 3, "num_state_store_instances": 12}
    assert result["explicit"] == "5", result
    assert result["extra_conf"] == "7", result
    assert result["manager"] == FILESYSTEM_CHECKPOINT_MANAGER, result
    assert result["extra_conf_manager"] == DEFAULT_MANAGER, result


def test_driver_session_gets_partition_rule(tmp_path):
    """A bare ``SparkSession`` handed to ``__spark_entry__`` (Spark's
    default of 200 partitions, never set) gets the same rule: the
    replayed ``streaming_interval_join`` runs on ``local[2]``'s 2 slots,
    so every micro-batch opens 2 x 4 state stores, not 800.  A count the
    driver set itself is kept."""
    result = _rule_runner(tmp_path, "driver")
    assert result["bare"] == "200", result
    assert result["configured"] == "2", result
    assert result["rows"] > 0, result
    assert result["state_store_instances"] == [8], result
    assert result["driver_set"] == "6", result


def test_checkpoint_rule_keeps_restart_and_checksums(tmp_path):
    """The checkpoint rule changes how checkpoint files are written, not
    what is checked.  On a bare driver session (no manager set, so
    Spark's default ``FileContext`` manager) the reference query over two
    ``kinesis_sim`` streams checkpoints one micro-batch and stops;
    ``__spark_entry__._configure`` then sets the ``FileSystem`` manager.
    Restarted from that checkpoint under the new manager, the sink holds
    every row of the batch twin below the final watermark exactly once.
    Restarted from a copy whose latest state delta has one flipped byte,
    the query fails on the file's checksum."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import (
        FILESYSTEM_CHECKPOINT_MANAGER,
    )
    from tests.session_rule_runner import DEFAULT_MANAGER

    result = _rule_runner(tmp_path, "checkpoint")
    assert result["bare_manager"] is None, result
    assert result["first_run_manager"] == DEFAULT_MANAGER, result
    assert 0 < result["first_run_rows"] < result["total_rows"], "want a mid-stream stop"
    assert result["configured_manager"] == FILESYSTEM_CHECKPOINT_MANAGER, result
    assert result["restart_manager"] == FILESYSTEM_CHECKPOINT_MANAGER, result
    assert result["matched_and_null_rows"] == [True, True], result
    assert result["expected_rows"] > 0 and result["exactly_once"], result
    error = result["corrupt_restart_error"] or ""
    assert "ChecksumException" in error and result["corrupted"] in error, result
