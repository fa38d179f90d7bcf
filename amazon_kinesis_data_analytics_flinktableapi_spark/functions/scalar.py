"""Scalar functions, including the reference's one UDF (SURVEY.md §2 S7).

The reference defines ``TimestampToString extends ScalarFunction``
(TimestampToString.java:9-17): ``Timestamp → String`` via
``java.sql.Timestamp.toString()``, registered by name and called from the
SELECT list (StreamingJob.java:88,93).

One expression, :data:`TIMESTAMP_TO_STRING_SQL`, defines the format; it
runs JVM-side inside whole-stage codegen:

1. ``timestamp_to_string_col`` — the expression as a Column.
2. ``register_timestamp_to_string`` — registers a *SQL-callable* function by
   the reference's name so user SQL written against the reference
   (``TimestampToString(o.eventtime)``) runs unchanged.  By default a
   SQL-bodied temporary function over the same expression, which Spark
   inlines into the calling plan; ``impl="pandas"`` calls the Python
   UDF path instead, over ``unix_micros(ts)`` so that every Spark
   timestamp (years 1-9999) reaches it.
3. ``timestamp_to_string_pandas`` — Arrow-vectorized pandas_udf body, kept as
   the template for UDFs whose logic genuinely can't be expressed with
   builtins; ``timestamp_to_string_py`` is its row-at-a-time reference.

``java.sql.Timestamp.toString()`` format: ``yyyy-MM-dd HH:mm:ss.f…`` with
1-9 fractional digits, trailing zeros stripped but always ≥1 digit
(``2024-01-01 00:00:07.0`` for whole seconds).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType


#: java.sql.Timestamp.toString() as one Spark SQL expression over ``{ts}``:
#: date_format gives micros zero-padded to 6; strip trailing zeros, then
#: re-append '0' when the fraction was all zeros (Java prints '.0').  NULL
#: in, NULL out (``concat`` with a NULL argument is NULL).
TIMESTAMP_TO_STRING_SQL = (
    "concat(date_format({ts}, 'yyyy-MM-dd HH:mm:ss'), '.', "
    "coalesce(nullif(regexp_replace(date_format({ts}, 'SSSSSS'), '0+$', ''), ''), '0'))"
)


def timestamp_to_string_col(ts: str) -> Column:
    """Built-in-expression replica of java.sql.Timestamp.toString() over
    ``ts``, a column name or SQL expression."""
    return F.expr(TIMESTAMP_TO_STRING_SQL.format(ts=f"({ts})"))


def timestamp_to_string_py(ts) -> str | None:
    """Row-at-a-time Python equivalent (slow path; used for udf parity tests)."""
    if ts is None:
        return None
    s = f"{ts.year:04d}-" + ts.strftime("%m-%d %H:%M:%S")  # %Y leaves years < 1000 unpadded
    frac = f"{ts.microsecond:06d}".rstrip("0") or "0"
    return f"{s}.{frac}"


def timestamp_to_string_pandas(s: pd.Series) -> pd.Series:
    """Arrow-vectorized variant — the pandas_udf template for custom scalars.

    Fully vectorized body (optimization guide §4.2 — hand whole batches
    to pandas' C paths, never loop rows in Python): the previous
    ``s.map(timestamp_to_string_py)`` called Python ``strftime`` + string
    formatting PER ELEMENT inside the vectorized UDF, costing 1.11 s per
    184k-row batch; ``s.dt.strftime`` + Series string ops produce the
    identical output in 0.50 s (A/B in OPTIMIZATION_r17.md; byte
    equality with the row path stays pinned in tests).

    SQL NULLs arrive as ``NaT`` in the datetime64 Series — and NULL
    event times are a live input here: PERMISSIVE JSON parsing nulls out
    malformed rows.  NaT inputs become None in an object-dtype result
    (an all-NaT frame would otherwise keep a non-string dtype, which
    Arrow cannot convert to string), so SQL sees NULL, matching the
    row-at-a-time path.  Any ``datetime64`` resolution works; the
    registered UDF passes ``datetime64[us]``, which spans Spark's range."""
    # %Y leaves years < 1000 unpadded; Java pads to four digits
    base = s.dt.year.astype("Int64").astype(str).str.zfill(4) + s.dt.strftime("-%m-%d %H:%M:%S")
    # java.sql.Timestamp.toString() fraction: 6-digit micros, trailing
    # zeros stripped, minimum one digit ('.0' for whole seconds)
    frac = s.dt.microsecond.astype("Int64").astype(str).str.zfill(6).str.rstrip("0")
    frac = frac.where(frac != "", "0")
    out = (base + "." + frac).astype(object)
    out[s.isna()] = None
    return out


#: name of the pandas UDF behind ``register_timestamp_to_string(impl="pandas")``
_MICROS_UDF = "_TimestampToStringMicros"

#: ``datetime64``'s NaT as int64: stands for SQL NULL on the UDF's input.
#: A BIGINT column with a NULL reaches pandas as float64, whose 53-bit
#: mantissa rounds microseconds after 2255 (9999-12-31 23:59:59.999999
#: would print as year 10000), so NULL never reaches the UDF.
_NAT_MICROS = -(2**63)


def _timestamp_to_string_micros(micros: pd.Series) -> pd.Series:
    """pandas_udf body over ``unix_micros(ts)``: PySpark hands a pandas UDF
    a TIMESTAMP as ``datetime64[ns]``, which ends at 2262-04-11, so the
    micros come in as int64 and are read as ``datetime64[us]``."""
    return timestamp_to_string_pandas(pd.Series(micros.to_numpy("int64").view("datetime64[us]")))


def register_timestamp_to_string(spark: SparkSession, impl: str = "sql") -> None:
    """Make ``TimestampToString`` callable from SQL, as the reference does
    with ``tableEnv.registerFunction`` (StreamingJob.java:88).

    Either way ``TimestampToString(ts TIMESTAMP)`` is a SQL-bodied
    temporary function.  ``impl``: ``"sql"`` (default) makes its body
    :data:`TIMESTAMP_TO_STRING_SQL`, which Spark inlines into the caller's
    plan, so no row leaves the JVM.  ``"pandas"`` makes it call the
    Arrow-vectorized UDF on ``unix_micros(ts)``, which puts a Python
    evaluation node (and its worker round trip) into every plan that calls
    it.  The latest registration replaces the previous one."""
    if impl == "sql":
        body = TIMESTAMP_TO_STRING_SQL.format(ts="ts")
    elif impl == "pandas":
        spark.udf.register(_MICROS_UDF, F.pandas_udf(_timestamp_to_string_micros, StringType()))
        body = f"{_MICROS_UDF}(coalesce(unix_micros(ts), {_NAT_MICROS}L))"
    else:
        raise ValueError(f"impl must be 'sql' or 'pandas', not {impl!r}")
    # CREATE OR REPLACE refuses to replace a Python UDF of the same name
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS TimestampToString")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION TimestampToString(ts TIMESTAMP) "
        f"RETURNS STRING RETURN {body}"
    )


#: largest finite IEEE-754 double — the single-comparison finiteness
#: boundary both swallow predicates test against
_DBL_MAX = 1.7976931348623157e308


def finite_or_null(col: Column | str) -> Column:
    """True for NULL or finite doubles; False for NaN and ±inf.

    The malformed-record swallow policy (reference parity:
    ``StreamingJob.java:120-122`` catches serialization failures and
    emits empty bytes so the job continues — bad records degrade, never
    abort) extended to non-finite numeric bindings — the r14 non-finite audit
    (``NONFINITE_INTOLERANT`` in tests/test_adversarial_oracle.py)
    showed a single NaN/±inf row either aborts a whole job at the
    inf→int binding (Spark ANSI CAST_OVERFLOW) or, worse, silently
    saturates through ``floor()`` to ±(2⁶³−1).  NULL stays IN: a NULL
    value deserialized fine and aggregates/joins treat it by SQL
    semantics on both engines.

    Implementation note (r15 A/B): one ``abs(x) <= DBL_MAX`` comparison
    — NaN fails every comparison and ±inf exceeds DBL_MAX, so this is
    value-identical to the spelled-out ``NOT isnan AND abs != inf`` form
    while dropping two branches from the codegen'd scan predicate
    (measured ~25% cheaper on a bare events-scan count at sf0.1)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (F.abs(c) <= F.lit(_DBL_MAX))


def finite_embedding(col: Column | str) -> Column:
    """True for NULL embeddings or arrays whose every element is a
    finite non-NULL double — the vector twin of :func:`finite_or_null`
    (r14 embeddings audit: ONE NaN/±inf component aborts the whole
    ANN/dedup tier — the integer-quantized sketch math overflows int64
    on ±inf under ANSI, numpy kernels propagate NaN, and DuckDB's
    list_inner_product/list_cosine_similarity reject NULL elements —
    so a malformed vector is swallowed whole, the reference's
    degrade-don't-abort policy).  A NULL embedding stays IN: the
    NULL-vector paths are first-class and attested (matrix kernels'
    null fills, neardup NULL tests).  An empty array passes (forall
    over empty is TRUE on both engines).

    Implementation note (r15 A/B): higher-order array lambdas run
    INTERPRETED per element, so every check in the lambda is paid dim
    times per row outside codegen — the original 3-check lambda cost
    ~10 µs/vector on a bare embeddings-scan count.
    One ``abs(x) <= DBL_MAX`` comparison halves that: NaN fails every
    comparison, ±inf exceeds DBL_MAX, and a NULL element NULL-evaluates
    — ``coalesce(.., false)`` restores the exact three-valued contract
    (NULL element ⇒ FALSE, as the 3-check form returned)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | F.coalesce(
        F.forall(c, lambda x: F.abs(x) <= F.lit(_DBL_MAX)), F.lit(False)
    )


#: ingest-time embedding validity bit (VERDICT r15 #3).  Written ONCE by
#: :func:`~amazon_kinesis_data_analytics_flinktableapi_spark.operators.embedding_prep.with_embedding_validity`
#: when a corpus is prepared; every downstream swallow then reads a plain
#: boolean column (whole-stage codegen + parquet predicate pushdown)
#: instead of re-paying :func:`finite_embedding`'s per-element interpreted
#: lambda (~7.6 µs/vector even after the r15 cheapening) on every scan.
EMB_FINITE_COL = "emb_is_finite"

#: column-metadata key stamping which vector column a validity bit was
#: computed over (ADVICE r16: trust-by-name alone let a bit written for
#: one column silently filter another)
EMB_FINITE_SOURCE_KEY = "amazon_kinesis_data_analytics_flinktableapi_spark.emb_finite_source"


def finite_flag_col(vec_col: str) -> str:
    """Canonical validity-bit column name for ``vec_col``.  The default
    vector column keeps the historical short name (written corpora and
    the ``embedding_prepared_finite`` oracle depend on it); any other
    vector column gets a name derived from its own — so a bit written
    for ``embedding`` can never be matched by a swallow over
    ``embedding_q`` (ADVICE r16)."""
    return EMB_FINITE_COL if vec_col == "embedding" else f"{vec_col}__is_finite"


def swallow_malformed_embeddings(df, vec_col: str = "embedding"):
    """The malformed-vector swallow, preferring the ingest-time validity
    bit: if ``df`` carries :func:`finite_flag_col` FOR THIS ``vec_col``,
    filter on that column (single codegen'd boolean comparison, pushed
    down to the parquet scan); otherwise fall back to the
    :func:`finite_embedding` lambda.

    Contract: when present under its vec_col-derived name, the column is
    TRUSTED as written by ``with_embedding_validity`` over the SAME
    vector column (TRUE for NULL vectors — the NULL-stays-in policy —
    and for all-finite arrays; FALSE for any NaN/±inf/NULL element).  A
    pipeline that mutates vectors after preparation must drop or rewrite
    the bit.  Two enforcement layers beyond the docstring (ADVICE r16):

    * the flag NAME is derived from ``vec_col`` — a swallow over a
      non-default vector column cannot match a bit written for
      ``embedding``, it falls back to the lambda on its own column;
    * when the flag column carries the :data:`EMB_FINITE_SOURCE_KEY`
      metadata stamp (written by ``with_embedding_validity``, survives a
      parquet roundtrip in the Spark schema footer), a stamp naming a
      DIFFERENT source column raises instead of filtering on a
      mismatched bit.  Pre-stamp corpora (r16 writes) have no metadata
      and keep the documented trust-by-name behavior.

    This is the pipeline-shape fix for the lambda's per-vector cost at
    100 TB (SCALING.md "r16: ingest-time validity bit"): validity is
    computed once at ingest where the bytes are already in cache, not on
    each of the dozens of scans a curation run makes over the corpus."""
    flag = finite_flag_col(vec_col)
    if flag in df.columns:
        src = df.schema[flag].metadata.get(EMB_FINITE_SOURCE_KEY)
        if src is not None and src != vec_col:
            raise ValueError(
                f"validity bit {flag!r} was written for column {src!r}, "
                f"not {vec_col!r} — drop or rewrite it"
            )
        return df.filter(F.col(flag))
    return df.filter(finite_embedding(vec_col))
