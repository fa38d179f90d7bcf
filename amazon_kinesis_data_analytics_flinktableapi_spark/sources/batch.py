"""Batch sources (S1-S3 batch analogue).

``read_table`` is the canonical parquet reader: scans stay pruned/pushed
(plain ``spark.read.parquet``), with one normalization — parquet
TIMESTAMP(NANOS) columns, which Spark cannot represent natively, are read
as nanosecond longs (``spark.sql.legacy.parquet.nanosAsLong``) and
integer-divided down to microsecond timestamps.  Integer ``DIV`` (not
float division) keeps full precision: nanosecond epochs ≈ 1.7e18 exceed
double's 2^53 mantissa.  Truncation toward zero matches how DuckDB reads
the same ns column into its µs TIMESTAMP, so oracle hashes agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _nanos_timestamp_columns(path: str, all_files: bool = False) -> list[str]:
    """Best-effort probe for parquet ``timestamp[ns]`` columns via
    driver-local footer reads.  Descends into subdirectories (hive-style
    ``col=val`` partitioned datasets keep their part files below the
    top level) and returns [] for paths this process cannot stat (remote
    URIs like s3://): the probe must never fail a read Spark itself
    could serve — worst case an exotic remote ns column surfaces as a
    long, the pre-probe behavior for every table.

    ``all_files=False`` (default) reads ONE footer — the homogeneous-table
    fast path ``read_parquet`` uses.  ``all_files=True`` reads every
    footer and unions the ns column names — only for callers that already
    pay a full footer pass (``read_parquet_evolved(merge_schema=True)``:
    Spark's mergeSchema reads every footer anyway, so the probe adds no
    asymptotic cost, ADVICE r16)."""
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        return []
    targets: list[str] = []
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            inner = sorted(f for f in files if f.endswith(".parquet"))
            if inner:
                targets.extend(os.path.join(root, f) for f in inner)
                if not all_files:
                    targets = targets[:1]
                    break
        if not targets:
            return []
    else:
        targets = [path]
    out: list[str] = []
    for t in targets:
        schema = pq.read_schema(t)
        out.extend(f.name for f in schema if str(f.type) == "timestamp[ns]")
    return sorted(set(out))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    for c in _nanos_timestamp_columns(path):
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return normalize_timestamps(df)


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP (ltz).

    Parquet ``timestamp[us]`` columns with no zone annotation load as
    TIMESTAMP_NTZ under Spark 4.x, but the engine's time operators
    (``unix_micros``, watermarks, the JSON wire format) assume TIMESTAMP.
    The session zone is pinned UTC, so the cast is value-identical — and
    DuckDB reads the same column as naive UTC, keeping oracle hashes
    equal.  Normalizing once at the source boundary keeps every
    downstream call site free of per-type branches (the reference binds
    java.sql.Timestamp by reflection and never sees zone flavors either,
    Order.java:4-9).

    Scope: TOP-LEVEL columns only, matching the engine's flat-record data
    model (SURVEY.md §1: no nested structs beyond the top level; TESTDATA
    is flat).  An NTZ nested inside a struct/array would survive — extend
    with a recursive schema-rewrite cast if nested event times ever enter
    the model."""
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA table: ``{sf_dir}/{name}.parquet``, falling back
    to the directory-style layout ``{sf_dir}/{name}`` — the same
    resolution ``TableEngine.register_parquet_dir`` applies, kept here so
    the two paths cannot diverge."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        path = os.path.join(sf_dir, name)  # directory-style table
    return read_parquet(spark, path)


def read_csv(spark: SparkSession, path: str, schema, header: bool = True, sep: str = ",") -> DataFrame:
    """Schema-declared CSV read.  The explicit StructType (never
    inferSchema — that is a second full scan of 100 TB) makes parsing
    single-pass; malformed rows null out under the default PERMISSIVE
    policy, mirroring the JSON sources' error-swallowing contract."""
    return spark.read.schema(schema).options(header=header, sep=sep).csv(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same pushdown/pruning contract as parquet (predicate
    pushdown + column pruning are native in both readers)."""
    return spark.read.orc(path)


def read_parquet_evolved(
    spark: SparkSession,
    path: str,
    schema=None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a directory of MIXED-GENERATION parquet files — the schema-
    evolution read path every long-lived ingest pipeline needs (columns
    get ADDED over time; old files lack them).

    Two modes, production-first:

    * ``schema=`` (a ``StructType``) — the declared CURRENT schema.
      Files written before a column existed yield NULL for it; columns a
      file carries that the declared schema dropped are pruned at the
      scan.  This is the 100 TB path: no footer discovery pass (the
      declared schema IS the contract), scan-level column pruning and
      predicate pushdown work unchanged, and a type CONFLICT (a column
      re-typed between generations) fails loudly at read instead of
      corrupting silently.
    * ``merge_schema=True`` — Spark unions every file footer's schema
      (``mergeSchema``).  The DISCOVERY path: use it to learn what a
      directory actually contains, then pin the result as a declared
      schema.  At scale it reads every footer up front — deliberately
      not the default.

    Exactly one of the two must be chosen.  Timestamp flavors at this
    boundary (ADVICE r16 — this reader used to skip ``read_parquet``'s
    ns probe):

    * NTZ → LTZ is normalized in both modes (``normalize_timestamps``).
    * parquet ``timestamp[ns]`` in DISCOVERY mode: the probe walks every
      footer (mergeSchema already pays that full pass, so no added
      asymptotic cost) and DIV-1000-converts the resulting long columns
      to µs timestamps, same as ``read_parquet``.  A column that is ns
      in one generation and µs in another fails Spark's own schema merge
      loudly (CANNOT_MERGE_SCHEMAS: BIGINT vs TIMESTAMP — verified) —
      that IS a re-type between generations, the conflict this reader
      refuses to paper over.
    * parquet ``timestamp[ns]`` in DECLARED mode is UNSUPPORTED: the
      declared schema is a µs contract, and a TimestampType declaration
      over an ns file fails loudly at scan
      (PARQUET_COLUMN_DATA_TYPE_MISMATCH — verified), never silently.
      Rewrite ns generations to µs (or read them via ``read_parquet``)
      before pinning a declared schema."""
    if (schema is None) == (not merge_schema):
        raise ValueError(
            "choose exactly one mode: declared schema= (production) or "
            "merge_schema=True (discovery)"
        )
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(path)
        for c in _nanos_timestamp_columns(path, all_files=True):
            # only convert when the merged schema actually surfaced the
            # column as the nanosAsLong long (a probe false-positive on a
            # stat-able path that Spark read differently must not corrupt)
            if dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    return normalize_timestamps(df)
