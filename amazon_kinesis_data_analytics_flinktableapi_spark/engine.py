"""TableEngine: the engine entry points (SURVEY.md §3 EP1-EP3).

The reference app crosses into its table engine through three entry points:
``tableEnv.sqlQuery`` (StreamingJob.java:91-101), the ingestion chain
``addSource → map → assignTimestampsAndWatermarks → fromDataStream →
registerTable`` (StreamingJob.java:31-85), and ``toAppendStream`` + sink +
``env.execute`` (StreamingJob.java:104-133).  TableEngine provides the same
surface on Spark: session bootstrap, table registration, SQL, UDF
registration, and source/sink registries — all lazy until a sink/collect.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def build_spark(
    app_name: str = "flinktableapi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Bootstrap a SparkSession tuned for this engine.

    Scale-relevant defaults (measured on 4-core ``local[N]`` hosts only):

    - shuffle partitions by ``size_shuffle_partitions``: ``shuffle_partitions``
      if given, else a value ``extra_conf`` or the deployment already set,
      else the session's task slots.  Sized only on a local master or when
      ``spark.default.parallelism`` is set.
    - checkpoint files through Hadoop's FileSystem API by
      ``use_filesystem_checkpoints``, on a local master only and unless
      ``extra_conf`` or the deployment set the manager class.
    - the driver's Hadoop conf without its per-property source records by
      ``clear_hadoop_conf_sources``: the join's and scans' conf broadcasts
      stop gzipping ~1,100 source lists per copy.  Provenance only: every
      key, value and final flag is kept.
    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      and dynamic broadcast conversion — the 100 TB safety net.
    - session timezone UTC: timestamps behave like the reference's
      ``java.sql.Timestamp`` (naive wall-clock) and hash-match DuckDB.
    - Arrow on: vectorized pandas_udf / toPandas paths.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # local mode runs all 32 executor threads inside the driver JVM,
        # whose default 1g heap GC-thrashes under cached inverted indexes
        # + multi-million-row joins.  No-op when a cluster manager already
        # set driver/executor memory (only applied at JVM launch).
        .config("spark.driver.memory", "16g")
    )
    if master is not None:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return apply_session_rules(builder.getOrCreate(), shuffle_partitions)


def apply_session_rules(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply the engine's session rules in order: the checkpoint rule
    (:func:`use_filesystem_checkpoints`), the conf-source rule
    (:func:`clear_hadoop_conf_sources`), then the partition rule
    (:func:`size_shuffle_partitions`, with ``shuffle_partitions`` as its
    ``n``).  ``build_spark`` and ``__spark_entry__._configure`` both call
    it, so an engine-built session and a driver-provided one get the same
    rules.  Each rule keeps a value set explicitly."""
    use_filesystem_checkpoints(spark)
    clear_hadoop_conf_sources(spark)
    return size_shuffle_partitions(spark, shuffle_partitions)


def _local_master(sc) -> bool:
    return sc.master == "local" or sc.master.startswith("local[")


def size_shuffle_partitions(spark: SparkSession, n: int | None = None) -> SparkSession:
    """The engine's one partition rule: set ``spark.sql.shuffle.partitions``
    to ``n``, or, when ``n`` is None and nothing set it explicitly, to the
    session's task slots (``sparkContext.defaultParallelism``).

    A stateful streaming operator opens and commits one state store per
    partition per micro-batch, and one partition per slot runs each batch
    in one task wave.  A stateful query pins the value in its checkpoint
    when it first starts.  Task slots are known up front only on a
    ``local[N]`` master or when ``spark.default.parallelism`` is set;
    elsewhere executors may not have registered yet, so Spark's own value
    is left in place.  Measured on 4-core hosts only.
    """
    key = "spark.sql.shuffle.partitions"
    if n is None:
        if spark.conf.get(key, None) is not None:
            return spark
        sc = spark.sparkContext
        if not (_local_master(sc) or sc.getConf().contains("spark.default.parallelism")):
            return spark
        n = sc.defaultParallelism
    spark.conf.set(key, str(n))
    return spark


#: Spark's checkpoint file manager over Hadoop's ``FileSystem`` API
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def use_filesystem_checkpoints(spark: SparkSession) -> SparkSession:
    """The engine's checkpoint rule: on a local master, unless
    ``spark.sql.streaming.checkpointFileManagerClass`` was set explicitly,
    set it to :data:`FILESYSTEM_CHECKPOINT_MANAGER`.

    Every streaming checkpoint file (offset and commit log entries, state
    store deltas and snapshots, and their checksum files) is written to a
    temp file and renamed into place.  Without Hadoop's native library the
    local file system shells out for both steps: a ``chmod`` process per
    created file, and, through Spark's default ``FileContext`` manager, a
    ``readlink`` process per rename.  The ``FileSystem`` manager renames
    with ``File.renameTo``, an atomic POSIX rename, so only the ``chmod``
    forks remain: 12-15 ms per checkpoint file instead of 43-46 ms (200
    files, 4-core host).  Spark's checkpoint checksums still wrap it and
    Hadoop's ``.crc`` files are still written and verified.

    Local masters only: a local session is taken to checkpoint to a local
    directory; one that checkpoints to an object store sets the key
    itself.  Other masters keep Spark's default.  The key is a runtime
    SQL conf, so it also applies on a running session, from the next
    query start."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    if spark.conf.get(key, None) is None and _local_master(spark.sparkContext):
        spark.conf.set(key, FILESYSTEM_CHECKPOINT_MANAGER)
    return spark


def hadoop_property_sources(jvm, conf):
    """``conf``'s per-property provenance map (Hadoop ``Configuration``'s
    private ``updatingResource``: key → the resources that set it), or
    None when this Hadoop has no such ``Map`` field."""
    from py4j.protocol import Py4JJavaError

    try:
        field = jvm.org.apache.hadoop.conf.Configuration._java_lang_class.getDeclaredField(
            "updatingResource"
        )
    except Py4JJavaError:  # NoSuchFieldException
        return None
    if not jvm.java.util.Map._java_lang_class.isAssignableFrom(field.getType()):
        return None
    field.setAccessible(True)
    return field.get(conf)


def clear_hadoop_conf_sources(spark: SparkSession) -> SparkSession:
    """The engine's conf-source rule: empty the provenance map of the
    driver's Hadoop conf (``sparkContext.hadoopConfiguration``).

    Spark copies that conf for every plan node that broadcasts it
    (``SessionState.newHadoopConf``): each ``StreamingSymmetricHashJoinExec``
    on every plan copy of every micro-batch, and each file scan.
    ``Configuration.write`` serializes every property's source list
    (``core-default.xml``, ``yarn-default.xml``, ...) through its own gzip
    stream, so a copy of the ~1,100-property conf took 13-17 ms to
    broadcast and 113 KB; without the 1,077 loaded sources it takes 3-4
    ms and 70 KB (4-core host).  A steady reference micro-batch makes
    about 26 broadcasts, most of them such copies.

    Provenance only: every key, value, final flag and deprecation stays as
    it was.  Only ``getPropertySources`` and the XML/JSON dumps read the
    map, and a property set later is recorded as usual.  The conf is
    loaded first (``size()``), so a later lazy load cannot refill the map.
    The map is emptied, not replaced: ``Configuration.write`` reads the
    field twice.  On a Hadoop without the field the conf is left alone."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.size()
    sources = hadoop_property_sources(jvm, conf)
    if sources is not None:
        sources.clear()
    return spark


class TableEngine:
    """Dynamic-table engine facade (the Spark analogue of the reference's
    ``StreamTableEnvironment``, StreamingJob.java:24,77-101).

    Structured Streaming's unbounded-table model is the same dynamic-table
    idea as the Flink Table API, so batch DataFrames and streaming
    DataFrames register and query identically here.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or build_spark()

    # -- catalog (ref: tableEnv.registerTable, StreamingJob.java:84-85) -----

    def register_table(self, name: str, df: DataFrame) -> DataFrame:
        """Register a (batch or streaming) DataFrame for SQL by name.

        The session catalog is the single source of truth — no shadow
        dict (one existed; it was never read, pinned every registered
        plan for the engine's lifetime, and drifted silently when a view
        was replaced through ``spark`` directly)."""
        df.createOrReplaceTempView(name)
        return df

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def register_parquet_dir(self, sf_dir: str, tables: list[str] | None = None) -> None:
        """Register every parquet table in a TESTDATA-style directory —
        both suffix-style ``name.parquet`` entries and directory-style
        ``name/`` datasets (the layouts ``read_table`` resolves)."""
        names = tables
        if names is None:
            names = sorted(
                f[: -len(".parquet")] if f.endswith(".parquet") else f
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
                or (
                    os.path.isdir(os.path.join(sf_dir, f))
                    and not f.startswith((".", "_"))
                )
            )
        from amazon_kinesis_data_analytics_flinktableapi_spark.sources.batch import read_table

        for name in names:
            # read_table owns the file-vs-directory-style resolution
            self.register_table(name, read_table(self.spark, sf_dir, name))

    # -- SQL entry (ref: tableEnv.sqlQuery, StreamingJob.java:91-101) -------

    def sql(self, query: str) -> DataFrame:
        """Parse/validate/plan a SQL query against registered tables.

        Trace: SQL text → Spark parser → unresolved plan → Analyzer (session
        catalog: tables + UDFs) → Catalyst optimizer → physical plan; for
        streaming inputs, IncrementalExecution per micro-batch.  Lazy.
        """
        return self.spark.sql(query)

    # -- UDFs (ref: tableEnv.registerFunction, StreamingJob.java:88) --------

    def register_udf(self, name: str, fn: Callable, return_type) -> None:
        """Register a row-at-a-time scalar UDF (the slow path — prefer
        built-in functions; see functions.scalar for the fast paths)."""
        self.spark.udf.register(name, fn, return_type)

    def register_pandas_udf(self, name: str, pandas_fn: Callable, return_type) -> None:
        """Register an Arrow-vectorized scalar UDF (the fast Python path)."""
        from pyspark.sql.functions import pandas_udf

        self.spark.udf.register(name, pandas_udf(pandas_fn, return_type))

    # -- observability ------------------------------------------------------

    def observe(self, df: DataFrame, name: str, *exprs):
        """Attach named metrics to a batch DataFrame (the batch counterpart
        of the streaming metrics listener): metrics are computed DURING the
        action that consumes ``df`` — no second scan, unlike a separate
        ``df.agg(...)`` — and read from the returned Observation after the
        action completes.  Returns (observed_df, observation)."""
        from pyspark.sql import Observation

        obs = Observation(name)
        return df.observe(obs, *exprs), obs

    def stop(self) -> None:
        self.spark.stop()
