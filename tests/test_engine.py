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
#: full micros, pre-1970, the Julian-Gregorian cutover gap, a 3-digit
#: year, the last ``datetime64[ns]`` microsecond, and Spark's largest
#: timestamp
_TS_EDGES = [
    None,
    "2024-01-01 12:00:07",
    "2024-01-01 12:00:07.5",
    "2024-01-01 12:00:07.123456",
    "1969-12-31 23:59:59.25",
    "1582-10-10 01:02:03.5",
    "0999-03-04 05:06:07.1",
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
    value, NULL and year 9999 included (the pandas UDF reads
    ``unix_micros(ts)``, not ``datetime64[ns]``, which ends in 2262); only
    the SQL-bodied one runs without a Python node."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.functions.scalar import (
        register_timestamp_to_string,
        timestamp_to_string_py,
    )

    # one partition: NULL and year 9999 share the UDF's Arrow batch
    _ts_edge_frame(spark).coalesce(1).createOrReplaceTempView("ts_edges")
    got = {}
    for impl in ("sql", "pandas"):
        register_timestamp_to_string(spark, impl)
        q = spark.sql("SELECT CAST(ts AS STRING) AS k, TimestampToString(ts) AS s FROM ts_edges")
        got[impl] = {r.k: r.s for r in q.collect()}
        assert _python_nodes(q) == (0 if impl == "sql" else 1), impl
    assert got["sql"] == {v: timestamp_to_string_py(_py_ts(v)) for v in _TS_EDGES}
    assert got["pandas"] == got["sql"]
    assert got["pandas"]["9999-12-31 23:59:59.999999"] == "9999-12-31 23:59:59.999999"
    assert got["sql"][None] is None
    assert got["sql"]["2024-01-01 12:00:07"] == "2024-01-01 12:00:07.0"

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


def test_conf_source_rule_drops_provenance_only(tmp_path):
    """The conf-source rule empties the driver Hadoop conf's per-property
    source records and nothing else.  A bare session records a source
    for every one of its ~1,100 properties.  After
    ``__spark_entry__._configure``, and in a ``build_spark`` session with
    the same Hadoop settings, the conf holds the same keys, values and
    final parameters, no key has a source, and a ``newHadoopConf`` copy
    (what the stream-stream join and file scans broadcast) serializes at
    least 30% smaller.  The sources stay empty after a reference
    micro-batch and a parquet write and read, so no conf reload undoes
    the rule.  The bundled Hadoop must keep the map the rule empties: an
    upgrade that drops it fails here rather than losing the gain
    silently."""
    result = _rule_runner(tmp_path, "conf_sources")
    bare = result["bare"]
    assert bare["field"], result
    assert bare["keys_with_sources"] == bare["sources"] == bare["size"] > 1000, result
    for name in ("configured", "engine", "after_run"):
        state = result[name]
        assert state["field"], (name, result)
        assert [state[k] for k in ("size", "values", "finals")] == [
            bare[k] for k in ("size", "values", "finals")
        ], (name, result)
        assert state["sources"] == state["keys_with_sources"] == 0, (name, result)
        assert state["copy_bytes"] <= 0.7 * bare["copy_bytes"], (name, result)
    assert result["batches"] >= 1 and result["parquet_rows"] == 100, result


#: Fresh-interpreter prelude for the zip-cache rule tests: counts every
#: zip directory read, puts a one-module archive first on ``sys.path`` and
#: imports from it, so the archive has a ``zipimporter`` in
#: ``sys.path_importer_cache``.  ``rereads()`` runs one
#: ``importlib.invalidate_caches()`` and returns how many archive
#: directories it read.
_ZIP_PRELUDE = """
import importlib, json, os, sys, zipfile, zipimport

reads = []
_read_directory = zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or _read_directory(archive)

def write_archive(modules):
    with zipfile.ZipFile(ARCHIVE, "w") as z:
        for name, body in modules.items():
            z.writestr(name + ".py", body)

def rereads():
    reads.clear()
    importlib.invalidate_caches()
    return len(reads)

write_archive({"zmod_a": "X = 1\\n"})
sys.path.insert(0, ARCHIVE)
import zmod_a
"""


def _zip_rule_probe(tmp_path, body: str) -> dict:
    """Run ``_ZIP_PRELUDE`` + ``body`` in a fresh interpreter (the rule is
    installed once per process, at the package's first import) and return
    the JSON line it prints last."""
    import json
    import os
    import subprocess
    import sys

    code = f"ARCHIVE = {str(tmp_path / 'mods.zip')!r}\n" + _ZIP_PRELUDE + body
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=180,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, f"probe failed:\n{proc.stdout}\n{proc.stderr}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_zip_cache_rule_skips_unchanged_archives(tmp_path):
    """Without the rule every ``importlib.invalidate_caches()`` re-reads
    each zip archive's directory.  Once the engine package is imported,
    the first call per importer still re-reads it, and a later call reads
    nothing while the archive is unchanged."""
    result = _zip_rule_probe(tmp_path, """
before = [rereads(), rereads()]
import amazon_kinesis_data_analytics_flinktableapi_spark as pkg
after = [rereads(), rereads(), rereads()]
print(json.dumps({"before": before, "after": after,
                  "method": zipimport.zipimporter.invalidate_caches.__module__}))
""")
    assert result["before"] == [1, 1], result
    assert result["after"] == [1, 0, 0], result
    assert result["method"] == "amazon_kinesis_data_analytics_flinktableapi_spark", result


def test_zip_cache_rule_rereads_a_rewritten_archive(tmp_path):
    """An archive rewritten after its importer last read it (here with a
    second module, so its size changes) is re-read by the next
    ``invalidate_caches()``: the new module imports, and the call after
    that reads nothing again."""
    result = _zip_rule_probe(tmp_path, """
import amazon_kinesis_data_analytics_flinktableapi_spark
settled = [rereads(), rereads()]
write_archive({"zmod_a": "X = 1\\n", "zmod_b": "Y = 2\\n"})
rewritten = rereads()
import zmod_b
print(json.dumps({"settled": settled, "rewritten": rewritten, "y": zmod_b.Y, "then": rereads()}))
""")
    assert result["settled"] == [1, 0], result
    assert result["rewritten"] == 1 and result["y"] == 2, result
    assert result["then"] == 0, result


def test_zip_cache_rule_leaves_cpython_313_alone(tmp_path):
    """CPython 3.13 invalidates zip caches lazily, so there the package
    leaves ``zipimporter.invalidate_caches`` as it is: every call still
    re-reads (the version is faked for the package's import only)."""
    result = _zip_rule_probe(tmp_path, """
import collections
real = sys.version_info
fields = "major minor micro releaselevel serial"
sys.version_info = collections.namedtuple("version_info", fields)(3, 13, 0, "final", 0)
try:
    import amazon_kinesis_data_analytics_flinktableapi_spark as pkg
finally:
    sys.version_info = real
print(json.dumps({"rule": hasattr(pkg, "_stat_checked_zip_caches"),
                  "method": zipimport.zipimporter.invalidate_caches.__module__,
                  "after": [rereads(), rereads()]}))
""")
    assert result["rule"], result
    assert result["method"] == "zipimport", result
    assert result["after"] == [1, 1], result


def test_python_workers_get_the_zip_cache_rule(spark):
    """A Spark Python worker that imports the engine package (as it does
    when it unpickles engine code) runs with the wrapped method."""
    from pyspark.sql import functions as F

    def method_module(_):
        import zipimport

        import amazon_kinesis_data_analytics_flinktableapi_spark  # noqa: F401

        return zipimport.zipimporter.invalidate_caches.__module__

    rows = spark.range(4).select(F.udf(method_module, "string")("id").alias("m")).collect()
    assert {r.m for r in rows} == {"amazon_kinesis_data_analytics_flinktableapi_spark"}
