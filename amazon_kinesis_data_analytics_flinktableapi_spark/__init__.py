"""PySpark-native analytics engine with the query and data-processing
capabilities of ``aws-samples/amazon-kinesis-data-analytics-flinktableapi``.

The reference (surveyed in SURVEY.md) is a Flink Table API streaming app:
JSON stream sources -> typed records -> event-time watermarks -> dynamic
tables -> continuous SQL (stream-stream LEFT OUTER interval join + scalar
UDF + expression projection) -> append-only JSON sink.

This package re-expresses that capability surface Spark-first:

- ``engine``      : TableEngine — SparkSession bootstrap, catalog, SQL entry,
                    UDF registration facade (EP1-EP3 in SURVEY.md §3).
- ``schemas``     : declared StructType schemas (replaces POJO reflection).
- ``sources``     : batch + streaming source registry (replaces
                    FlinkKinesisConsumer + JsonNodeDeserializationSchema).
- ``sinks``       : append-stream sink registry with the reference's JSON
                    serialize-error policy (replaces FlinkKinesisProducer).
- ``functions``   : scalar/vector/text function library incl. the reference's
                    TimestampToString UDF.
- ``operators``   : interval join, dedup (exact/minhash/simhash/jaccard),
                    similarity search, windows, multimodal — each designed
                    for 100 TB scale (partition-wise, no driver collection).
- ``streaming``   : watermarking, file-replay harness, the full reference
                    pipeline as a Structured Streaming job.
- ``plans``       : plan-inspection helpers (pushdown / broadcast asserts).
- ``queries``     : the oracle-checked query library (driver contract).

Importing the package installs one process-level rule on CPython < 3.13:
``zipimport.zipimporter.invalidate_caches`` re-reads an archive only when
its ``(st_mtime_ns, st_size)`` changed since that importer last read it.
Spark's Python workers call ``importlib.invalidate_caches()`` at the start
of every task and planner call, and they import pyspark and py4j from zip
archives; on 3.11 and 3.12 each call re-read every archive's directory
(125-235 ms per call, with 16-17 zip importers per worker).  A worker
that unpickles engine code (a UDF, a kernel, the ``kinesis_sim`` writer)
imports this package, so from then on it skips archives that did not
change.  The first call per importer still re-reads, and a rewritten
archive is re-read as before.  CPython 3.13 made the invalidation lazy,
so there the method is left alone.
"""

import os
import sys
import zipimport


def _stat_checked_zip_caches() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so that it re-reads the
    archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
    the one seen before that importer's last re-read (or cannot be read).
    Runs once per process; a no-op on CPython >= 3.13."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or reread.__module__ != "zipimport":
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        # stat before the re-read: an archive rewritten in between carries
        # a newer stat than the one recorded, so the next call re-reads it
        if seen is None or seen != getattr(self, "_read_stat", None):
            reread(self)
            self._read_stat = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_checked_zip_caches()

from amazon_kinesis_data_analytics_flinktableapi_spark.engine import TableEngine, build_spark  # noqa: E402

__all__ = ["TableEngine", "build_spark"]
