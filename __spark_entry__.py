"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's query registry
(``amazon_kinesis_data_analytics_flinktableapi_spark.queries.REGISTRY``): each registered
QuerySpec supplies both the Spark callable and (when SQL-expressible) the
DuckDB oracle SQL.  The flagship ``entry`` query is the reference's
centerpiece — the LEFT OUTER interval join (StreamingJob.java:96-100).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _configure(spark: SparkSession) -> SparkSession:
    """Apply engine session conf to a driver-provided SparkSession,
    starting with the engine's session rules
    (``engine.apply_session_rules``: checkpoint, conf-source and
    partition rules; a value the driver set explicitly is kept, and the
    driver's Hadoop conf keeps every key, value and final flag)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.engine import apply_session_rules

    apply_session_rules(spark)
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a running session — engine reader handles it
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    _configure(spark)
    return REGISTRY["interval_join"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    def wrap(spec):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return spec.fn(_configure(spark), sf_dir)

        run.__name__ = f"q_{spec.name}"
        return run

    return {name: wrap(spec) for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries get the driver's
    weaker rows-only check (non-SQL-expressible ops)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.queries import REGISTRY

    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
