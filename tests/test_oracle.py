"""Every registered query hash-matches its DuckDB oracle at sf0.001 —
the local replica of the driver's sf0.01 correctness gate."""

from __future__ import annotations

import pytest

from amazon_kinesis_data_analytics_flinktableapi_spark.queries import all_specs
from tests.conftest import SF_ORACLE
from tests.oracle_util import compare, duck_connect

SPECS = all_specs()


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_ORACLE)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    df = spec.fn(spark, SF_ORACLE)
    if spec.oracle is None:
        assert df.count() >= 0  # rows-only check, mirrors driver's weak gate
    else:
        compare(df, duck, spec.oracle)


def test_no_batch_query_outputs_a_nested_or_binary_column(spark):
    """Result compares canonicalize scalar values only: an array,
    map, struct or binary output column cannot be attested."""
    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    bad = {
        name: [f.name for f in spec.fn(spark, SF_ORACLE).schema.fields
               if isinstance(f.dataType, (ArrayType, BinaryType, MapType, StructType))]
        for name, spec in sorted(SPECS.items())
        if not name.startswith("streaming_")
    }
    assert {n: cols for n, cols in bad.items() if cols} == {}
