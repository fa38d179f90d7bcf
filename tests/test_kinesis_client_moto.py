"""SDK-seam integration against moto's Kinesis service emulation
(VERDICT r16 #7).

Every prior attestation of the boto3-shaped ``KinesisClient`` seam ran
against in-repo fakes.  moto reimplements the service's wire behavior
(sequence-number format, shard hashing, iterator semantics,
MillisBehindLatest) on top of the REAL botocore client — so these tests
attest the exact production wiring the module docstring prescribes:

    boto3.client("kinesis")  →  TranslatingKinesisClient  →  sdk_read_range

with zero connector code changed.  ``importorskip`` keeps the file a
skip-with-receipt in environments without moto/boto3 (no network is
needed — moto patches botocore in-process).

Scope note: the Spark ``client=<factory>`` DataSource path is NOT driven
here because factories run in executor Python workers, where moto's
in-process patching does not exist; the in-Spark path is attested by the
``kinesis_translating_sdk_roundtrip`` oracle query against the opaque
fake, and ``sdk_read_range`` is the ONE read loop both share.
"""

from __future__ import annotations

import json

import pytest

boto3 = pytest.importorskip("boto3")
moto = pytest.importorskip("moto")

from moto import mock_aws  # noqa: E402

from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (  # noqa: E402
    TranslatingKinesisClient,
    sdk_read_range,
)

REGION = "us-east-1"


def _seed(client, stream: str, n: int, shards: int = 2):
    """Create a stream and publish n JSON records; return the per-shard
    expected (partition_key, data) lists read back RAW (ground truth from
    the service itself, independent of the adapter under test)."""
    client.create_stream(StreamName=stream, ShardCount=shards)
    for i in range(n):
        client.put_record(
            StreamName=stream,
            Data=json.dumps({"id": i, "amount": i * 10}).encode(),
            PartitionKey=f"k{i}",
        )
    expected: dict[str, list] = {}
    for sh in client.list_shards(StreamName=stream)["Shards"]:
        sid = sh["ShardId"]
        it = client.get_shard_iterator(
            StreamName=stream, ShardId=sid, ShardIteratorType="TRIM_HORIZON"
        )["ShardIterator"]
        rows = []
        while it:
            page = client.get_records(ShardIterator=it, Limit=3)
            # the connector's wire tuples carry Data utf-8-DECODED
            # (sdk_read_range), so ground truth decodes too
            rows.extend(
                (r["PartitionKey"], bytes(r["Data"]).decode("utf-8"))
                for r in page["Records"]
            )
            if not page["Records"] and page["MillisBehindLatest"] == 0:
                break
            it = page.get("NextShardIterator")
        expected[sid] = rows
    return expected


@pytest.fixture()
def aws():
    with mock_aws():
        yield boto3.client("kinesis", region_name=REGION)


def test_moto_sequence_number_shape(aws):
    """Pin what moto's emulation actually issues so the attestation's
    scope is honest: strictly-increasing per-shard integers STARTING AT 1
    — not the real service's ~56-digit opaque numbers
    (OpaqueSeqKinesisClient models that magnitude; moto does not).  The
    adapter is still load-bearing here: moto's numbering is 1-based while
    the connector's dense ordinals are 0-based, so an unadapted
    ``AT_SEQUENCE_NUMBER "0"`` read is mispositioned by one — off-by-one,
    the quietest possible corruption, exactly what the translation layer
    exists to make impossible."""
    _seed(aws, "shape", 8, shards=1)
    sid = aws.list_shards(StreamName="shape")["Shards"][0]["ShardId"]
    it = aws.get_shard_iterator(
        StreamName="shape", ShardId=sid, ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    seqs = [int(r["SequenceNumber"]) for r in aws.get_records(ShardIterator=it)["Records"]]
    assert len(seqs) == 8
    assert all(b > a for a, b in zip(seqs, seqs[1:]))
    assert seqs[0] == 1  # 1-based: ordinal 0 does not exist on the wire


def test_translating_adapter_serves_ordinals_over_moto(aws):
    """The production wiring end-to-end: dense-ordinal reads through the
    adapter match the service's own raw per-shard record order."""
    expected = _seed(aws, "orders", 40, shards=2)
    adapter = TranslatingKinesisClient(inner=aws)
    for sid, rows in expected.items():
        shard = int(sid.rsplit("-", 1)[1])
        got = sdk_read_range(
            adapter, "orders", shard, 0, len(rows), page_limit=7,
            require_complete=True,
        )
        # wire tuples: (shard_id, seq, partition_key, data, arrival_ts)
        assert [int(t[1]) for t in got] == list(range(len(rows)))  # dense ordinals
        assert [(t[2], t[3]) for t in got] == rows
        assert all(t[0] == sid for t in got)


def test_mid_stream_range_and_ledger_reuse_over_moto(aws):
    """AT_SEQUENCE_NUMBER positioning mid-stream, and the ledger making a
    second read cheaper (no recount from the horizon)."""
    expected = _seed(aws, "mid", 30, shards=1)
    sid, rows = next(iter(expected.items()))
    n = len(rows)
    assert n >= 10, "fixture needs enough records in the single shard"
    adapter = TranslatingKinesisClient(inner=aws)
    first = sdk_read_range(adapter, "mid", 0, 5, 10, require_complete=True)
    assert [(t[2], t[3]) for t in first] == rows[5:10]
    # ledger now knows ordinals ≥ 5; a later range reuses it (correctness
    # here; the inner-call-count economy is pinned against the fakes)
    second = sdk_read_range(adapter, "mid", 0, 8, n, require_complete=True)
    assert [(t[2], t[3]) for t in second] == rows[8:n]


def test_require_complete_fails_loudly_past_tip_on_moto(aws):
    """The checkpoint-replay contract against the real wire shapes: a
    committed range the service cannot fill is an ERROR, not a silent
    truncation; a plain read stops quietly at the tip."""
    expected = _seed(aws, "tip", 12, shards=1)
    n = len(next(iter(expected.values())))
    adapter = TranslatingKinesisClient(inner=aws)
    with pytest.raises(Exception, match="complete|short|tip|missing|[Rr]ange"):
        sdk_read_range(adapter, "tip", 0, 0, n + 5, require_complete=True)
    got = sdk_read_range(TranslatingKinesisClient(inner=aws), "tip", 0, 0, n + 5)
    assert len(got) == n  # caught up to the tip, no error
