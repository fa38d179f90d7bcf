"""Streaming sources (SURVEY.md §2 S1-S3).

The reference consumes Kinesis shards via FlinkKinesisConsumer +
JsonNodeDeserializationSchema + a Jackson map into POJOs
(StreamingJob.java:26-61).  OSS Spark has no Kinesis connector, so the
engine offers one builder per stream source, each producing a typed
streaming DataFrame (builders take source-specific arguments, so call
them directly):

- ``file_replay`` — JSON-lines directory replay (the test/CI source;
                    also the production pattern for S3-landed data).
- ``kafka_json``  — the production stream bus (``format("kafka")``).

The in-repo Kinesis-semantics connector (``sources/kinesis_sim.py``) is a
registered data source, not a builder: after its ``register(spark)``,
read it with ``spark.readStream.format("kinesis_sim")`` and parse its
``data`` column with ``parse_json_stream(raw, schema, value_col="data")``.

All JSON parsing goes through ``parse_json_stream``: one ``from_json``
with a declared minimal schema (schema-on-read, parse-time pruning), then
timestamp normalization.  This is the Spark analogue of the reference's
deserialization + POJO binding, without reflection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: microsecond-precision ISO-8601 — the engine's canonical JSON wire format
#: for event times (the default SSS format silently truncates to millis)
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

#: tolerant read-side variant: fraction and zone offset are both optional,
#: so offset-less ISO-8601 (what ``to_json`` emits for a TIMESTAMP_NTZ
#: column that slipped past write-side normalization) still parses instead
#: of silently becoming NULL and being dropped by the watermark.  With the
#: session zone pinned UTC an offset-less literal parses to the identical
#: instant.
JSON_TS_READ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]"


def parse_json_stream(raw: DataFrame, schema: StructType, value_col: str = "value") -> DataFrame:
    """bytes/str JSON records → typed columns (S2+S3).

    TimestampType fields accept ISO-8601 strings (Spark's lenient default
    parse) or bare integers, which Spark's JSON reader interprets as
    epoch SECONDS — a producer emitting epoch-MILLIS integers gets
    timestamps ~1000× in the future with no error, so millis producers
    must send ISO strings or a LongType field converted downstream with
    ``timestamp_millis``.  Unparseable records yield NULL columns
    (Jackson in the reference throws — the engine's permissive mode is
    deliberate: at 100 TB a poison record must not kill the job; route
    NULL-id rows to a dead-letter sink instead).
    """
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("r")
    ).select("r.*")


def file_replay(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay JSON-lines files as a stream (deterministic test source).

    ``max_files_per_trigger=1`` replays file-by-file so watermarks advance
    between micro-batches like a live stream.

    STRICTNESS TRADE-OFF: setting a custom ``timestampFormat`` disables
    Spark's lenient string-to-timestamp fallback, so timestamps outside
    the ``JSON_TS_READ_FORMAT`` family (space-separated datetimes,
    non-colon offsets like ``+0000``, 7-9 fraction digits) parse to NULL
    and get dropped by the watermark.  This is deliberate for REPLAY:
    the paired writers (``serialize_json``, ``write_stream_json``,
    ``streaming/replay.py``) all emit the canonical family, and a silent
    format drift between writer and replayer should surface as missing
    rows in the stream==batch equivalence checks, not be papered over.
    For foreign data with loose formats use ``kafka_json``/
    ``parse_json_stream`` (default lenient parse) instead.
    """
    reader = spark.readStream.schema(schema).option("timestampFormat", JSON_TS_READ_FORMAT)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def kafka_source_options(brokers: str, topic: str, starting_offsets: str = "latest") -> dict[str, str]:
    """The Kafka source's option set, exposed as data so wiring is testable
    without a broker (mirrors the reference's consumer config: LATEST
    initial position, StreamingJob.java:26-41)."""
    return {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_json(
    spark: SparkSession,
    brokers: str,
    topic: str,
    schema: StructType,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka topic of JSON records → typed stream (the S1 production path;
    equivalent of the reference's LATEST-position Kinesis consumer)."""
    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(brokers, topic, starting_offsets))
        .load()
    )
    return parse_json_stream(raw, schema)

