"""Contract tests for the real-AWS-Kinesis seam (sources/kinesis_client.py).

VERDICT r6 #4: the Data Source API surface in kinesis_sim is the swap
point for a boto3-backed reader (StreamingJob.java:26-41 is the behavior
to match — LATEST/TRIM_HORIZON starts, per-shard ordering, replay by
sequence range).  These tests prove, without network or credentials,
that the generator path and the SDK-client path share offset/replay
logic: every read the connector performs yields byte-identical tuples
through both acquisition modes.
"""

from __future__ import annotations

import pytest

from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
    CLIENT_FACTORIES,
    FakeSdkKinesisClient,
    KinesisClient,
    OpaqueSeqKinesisClient,
    TranslatingKinesisClient,
    register_client_factory,
    sdk_read_range,
)
from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
    KinesisSimStreamReader,
    _Opts,
    _record,
    register,
)


# --- the fake client's own wire contract ---------------------------------


def test_fake_client_satisfies_protocol():
    assert isinstance(FakeSdkKinesisClient(), KinesisClient)


def test_fake_client_list_shards():
    c = FakeSdkKinesisClient(shards=3)
    assert [s["ShardId"] for s in c.list_shards(StreamName="x")["Shards"]] == [
        "shardId-000000000000",
        "shardId-000000000001",
        "shardId-000000000002",
    ]


def test_fake_client_iterator_types_and_pagination():
    c = FakeSdkKinesisClient(shards=1, tip=25, prepublished=10, seed=5)
    # TRIM_HORIZON starts at 0, LATEST after the prepublished backlog
    it_th = c.get_shard_iterator(
        StreamName="x", ShardId="shardId-000000000000", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    it_lt = c.get_shard_iterator(
        StreamName="x", ShardId="shardId-000000000000", ShardIteratorType="LATEST"
    )["ShardIterator"]
    r_th = c.get_records(ShardIterator=it_th, Limit=100)
    r_lt = c.get_records(ShardIterator=it_lt, Limit=100)
    assert [int(r["SequenceNumber"]) for r in r_th["Records"]] == list(range(25))
    assert [int(r["SequenceNumber"]) for r in r_lt["Records"]] == list(range(10, 25))
    # Limit pages; NextShardIterator resumes exactly where the page ended
    it = c.get_shard_iterator(
        StreamName="x",
        ShardId="shardId-000000000000",
        ShardIteratorType="AT_SEQUENCE_NUMBER",
        StartingSequenceNumber="3",
    )["ShardIterator"]
    page1 = c.get_records(ShardIterator=it, Limit=4)
    assert [int(r["SequenceNumber"]) for r in page1["Records"]] == [3, 4, 5, 6]
    page2 = c.get_records(ShardIterator=page1["NextShardIterator"], Limit=4)
    assert [int(r["SequenceNumber"]) for r in page2["Records"]] == [7, 8, 9, 10]
    # payload bytes are exactly the generator's JSON for the same (seed, shard, seq)
    want = _record("orders", 5, 0, 3, 10)
    got = page1["Records"][0]
    assert got["Data"].decode() == want[3]
    assert got["PartitionKey"] == want[2]
    assert got["ApproximateArrivalTimestamp"] == want[4]


def test_fake_client_rejects_unknowns():
    c = FakeSdkKinesisClient(shards=1)
    with pytest.raises(KeyError):
        c.get_shard_iterator(
            StreamName="x", ShardId="shardId-000000000009", ShardIteratorType="TRIM_HORIZON"
        )
    with pytest.raises(ValueError):
        c.get_shard_iterator(
            StreamName="x", ShardId="shardId-000000000000", ShardIteratorType="AT_TIMESTAMP"
        )
    with pytest.raises(ValueError):
        c.get_shard_iterator(
            StreamName="x", ShardId="shardId-000000000000", ShardIteratorType="AT_SEQUENCE_NUMBER"
        )


# --- sdk_read_range: the one function both read paths share --------------


def test_sdk_read_range_matches_generator_tuples():
    c = FakeSdkKinesisClient(shards=2, seed=9, template="rates", interval_ms=40, tip=60)
    got = sdk_read_range(c, "s", 1, 5, 17)
    want = [_record("rates", 9, 1, seq, 40) for seq in range(5, 17)]
    assert got == want


def test_sdk_read_range_short_pages_and_bounds():
    # tiny page_limit forces many NextShardIterator hops; result identical
    c = FakeSdkKinesisClient(shards=1, seed=9, tip=50)
    got = sdk_read_range(c, "s", 0, 0, 50, page_limit=7)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(50)]
    assert c.n_calls >= 8  # actually paged
    # range past the published tip stops at the tip, no spin
    assert sdk_read_range(c, "s", 0, 45, 500) == [
        _record("orders", 9, 0, seq, 10) for seq in range(45, 50)
    ]
    assert sdk_read_range(c, "s", 0, 10, 10) == []


# --- connector parity: client=fake_sdk vs the direct generator -----------


def _collect_sorted(spark, **opts):
    df = spark.read.format("kinesis_sim").options(**{k: str(v) for k, v in opts.items()}).load()
    return sorted(tuple(r) for r in df.collect())


def test_batch_read_sdk_mode_bit_identical(spark):
    register(spark)
    base = {"shards": 3, "records_per_shard": 40, "template": "orders", "seed": 11}
    direct = _collect_sorted(spark, **base)
    via_sdk = _collect_sorted(spark, **base, client="fake_sdk")
    assert via_sdk == direct and len(direct) == 120


def test_stream_reader_sdk_mode_shares_offset_and_replay_logic():
    """The WHOLE offset model (initial position, per-batch advance, clamp
    at tip, replay-by-range) must behave identically when records arrive
    through the SDK client — same offsets AND same record bytes."""
    base = {
        "shards": 2,
        "records_per_shard": 30,
        "batch_records": 7,
        "template": "rates",
        "prepublished": 4,
        "initial_position": "LATEST",
    }
    gen = KinesisSimStreamReader(base)
    sdk = KinesisSimStreamReader({**base, "client": "fake_sdk"})
    assert gen.initialOffset() == sdk.initialOffset()
    cur_g, cur_s = gen.initialOffset(), sdk.initialOffset()
    for _ in range(6):  # walk past the tip clamp
        rows_g, cur_g = gen.read(cur_g)
        rows_s, cur_s = sdk.read(cur_s)
        assert cur_g == cur_s
        assert list(rows_g) == list(rows_s)
    assert cur_g == {"shardId-000000000000": 30, "shardId-000000000001": 30}
    # recovery replay of a committed range: identical through both paths
    start = {"shardId-000000000000": 4, "shardId-000000000001": 11}
    end = {"shardId-000000000000": 19, "shardId-000000000001": 30}
    assert list(gen.readBetweenOffsets(start, end)) == list(sdk.readBetweenOffsets(start, end))


def test_unknown_client_rejected_and_factory_registry():
    with pytest.raises(ValueError, match="unknown client"):
        _Opts({"client": "no_such_backend"})
    # a registered third-party factory becomes reachable through options
    calls = []

    def factory(opts):
        calls.append(opts.stream_name)
        return FakeSdkKinesisClient(
            shards=opts.shards, seed=opts.seed, template=opts.template,
            interval_ms=opts.interval_ms, tip=opts.records_per_shard,
        )

    register_client_factory("test_backend", factory)
    try:
        o = _Opts(
            {
                "client": "test_backend",
                "stream_name": "orders-prod",
                "records_per_shard": 5,
                "seed": 3,
            }
        )
        client = o.make_client()
        assert calls == ["orders-prod"]
        assert sdk_read_range(client, o.stream_name, 0, 0, 5) == [
            _record("orders", 3, 0, seq, 10) for seq in range(5)
        ]
    finally:
        CLIENT_FACTORIES.pop("test_backend", None)


def test_fake_client_at_timestamp_matches_connector_start():
    """AT_TIMESTAMP through the SDK surface lands on exactly the sequence
    the connector's own start_seq computes — the two paths share the
    inclusive ceil((t − epoch − shard_ms)/interval) contract."""
    from datetime import datetime, timezone

    opts = _Opts(
        {
            "shards": 2,
            "records_per_shard": 100,
            "interval_ms": 40,
            "initial_position": "AT_TIMESTAMP",
            "start_timestamp": "2024-01-01T00:00:01.0015",
        }
    )
    c = FakeSdkKinesisClient(shards=2, interval_ms=40, tip=100)
    for shard in range(2):
        it = c.get_shard_iterator(
            StreamName="s",
            ShardId=f"shardId-{shard:012d}",
            ShardIteratorType="AT_TIMESTAMP",
            Timestamp=datetime(2024, 1, 1, 0, 0, 1, 1500, tzinfo=timezone.utc),
        )["ShardIterator"]
        first = int(c.get_records(ShardIterator=it, Limit=1)["Records"][0]["SequenceNumber"])
        assert first == opts.start_seq(shard) == 26
    with pytest.raises(ValueError, match="Timestamp"):
        c.get_shard_iterator(
            StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="AT_TIMESTAMP"
        )


class _SparseClient(FakeSdkKinesisClient):
    """Real-Kinesis behavior the fake normally skips: empty pages with a
    live NextShardIterator while the iterator traverses sparse segments."""

    def __init__(self, empty_every=2, **kw):
        super().__init__(**kw)
        self._empty_every = empty_every
        self._page_no = 0

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:
        self._page_no += 1
        if self._page_no % self._empty_every == 0:
            shard, seq = ShardIterator.split("|")
            behind = max(0, self.tip - int(seq)) * self.interval_ms
            return {
                "Records": [],
                "NextShardIterator": ShardIterator,  # live iterator, no progress
                "MillisBehindLatest": behind,
            }
        return super().get_records(ShardIterator=ShardIterator, Limit=Limit)


def test_sdk_read_range_survives_empty_mid_stream_pages():
    """An empty Records page with MillisBehindLatest > 0 means 'keep
    paging', not end-of-data — real GetRecords returns these routinely.
    The pre-fix loop broke on the first one and silently truncated."""
    c = _SparseClient(empty_every=2, shards=1, seed=9, tip=40)
    got = sdk_read_range(c, "s", 0, 0, 40, page_limit=5)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(40)]
    # and a caught-up stream (empty page, MillisBehindLatest == 0) still
    # terminates instead of spinning
    assert sdk_read_range(c, "s", 0, 35, 500) == [
        _record("orders", 9, 0, seq, 10) for seq in range(35, 40)
    ]


def test_sdk_replay_of_committed_range_fails_loudly_when_unservable():
    """Exactly-once recovery: readBetweenOffsets in sdk mode must never
    silently shrink a committed range.  A backend that stops serving part
    of it (here: restart with a smaller records_per_shard, so the fake's
    tip sits inside the committed range) fails the task instead."""
    base = {"shards": 1, "records_per_shard": 100, "batch_records": 20}
    r = KinesisSimStreamReader({**base, "client": "fake_sdk"})
    start, end = {"shardId-000000000000": 40}, {"shardId-000000000000": 60}
    # healthy backend: full committed range, identical to generator mode
    gen = KinesisSimStreamReader(base)
    assert list(r.readBetweenOffsets(start, end)) == list(gen.readBetweenOffsets(start, end))
    shrunk = KinesisSimStreamReader(
        {**base, "records_per_shard": 50, "client": "fake_sdk"}
    )
    with pytest.raises(RuntimeError, match="committed range"):
        list(shrunk.readBetweenOffsets(start, end))
    # the generator path regenerates (pure function of seq) — documented
    # asymmetry: only a backend READ can be unservable
    shrunk_gen = KinesisSimStreamReader({**base, "records_per_shard": 50})
    assert len(list(shrunk_gen.readBetweenOffsets(start, end))) == 20


def test_sdk_read_range_bounds_no_progress_empty_pages():
    """A backend that returns empty pages behind the tip without ever
    advancing must fail the task loudly, not hang it forever."""

    class _Stuck(FakeSdkKinesisClient):
        def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:
            return {
                "Records": [],
                "NextShardIterator": ShardIterator,
                "MillisBehindLatest": 5000,  # claims data exists, never serves it
            }

    with pytest.raises(RuntimeError, match="not progressing"):
        sdk_read_range(_Stuck(shards=1, tip=100), "s", 0, 0, 10)


class _GapClient(FakeSdkKinesisClient):
    """Contract-violating backend whose sequence space has a hole: it
    serves dense ordinals below ``gap_start``, then jumps straight to
    ``gap_end`` (as a real opaque-sequence service would look to a broken
    adapter that skipped part of its ledger)."""

    def __init__(self, gap_start: int, gap_end: int, **kw):
        super().__init__(**kw)
        self._gap = (gap_start, gap_end)

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:
        shard_s, seq_s = ShardIterator.split("|")
        shard, seq = int(shard_s), int(seq_s)
        lo, hi = self._gap
        seqs = []
        cur = seq
        while len(seqs) < Limit and cur < self.tip:
            if lo <= cur < hi:
                cur = hi  # the hole: served sequence space skips straight past it
                continue
            seqs.append(cur)
            cur += 1
        records = []
        for s in seqs:
            _sid, _seq, pk, data, ts = _record(
                self.template, self.seed, shard, s, self.interval_ms
            )
            records.append(
                {
                    "SequenceNumber": str(_seq),
                    "PartitionKey": pk,
                    "Data": data.encode("utf-8"),
                    "ApproximateArrivalTimestamp": ts,
                }
            )
        nxt = cur if seqs else self.tip
        return {
            "Records": records,
            "NextShardIterator": f"{shard}|{nxt}",
            "MillisBehindLatest": max(0, self.tip - nxt) * self.interval_ms,
        }


def test_sdk_read_range_stops_when_page_skips_past_end():
    """A page whose records jump past `end` (gap in the served sequence
    space) must terminate the read immediately: sequence numbers are
    monotonic, so nothing below `end` can still arrive.  The pre-fix loop
    kept paging — cursor stayed < end, non-empty out-of-range pages reset
    the empty streak — and spun through the whole remaining stream (an
    unbounded read on a deep stream) instead of stopping."""
    # deep stream: tip is huge; the old loop would walk all of it
    c = _GapClient(gap_start=10, gap_end=10_000_000, shards=1, seed=9, tip=10_002_000)
    got = sdk_read_range(c, "s", 0, 5, 20, page_limit=3)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(5, 10)]
    assert c.n_calls < 20  # stopped at the gap, did not walk the stream
    # and a committed-range replay over the hole fails loudly, never shrinks
    with pytest.raises(RuntimeError, match="committed range"):
        sdk_read_range(c, "s", 0, 5, 20, page_limit=3, require_complete=True)


# --- the opaque-sequence backend and the translating adapter --------------
#
# VERDICT r7 #4: the last untested logic between this repo and a real
# boto3.client("kinesis") is the ordinal↔opaque-sequence translation.
# OpaqueSeqKinesisClient is "what boto3 looks like" (strictly increasing,
# NON-dense ~56-digit sequence strings); TranslatingKinesisClient is the
# example wrapper a production `aws` factory registers.


def test_opaque_sequences_are_real_shaped():
    c = OpaqueSeqKinesisClient(shards=1, seed=9, tip=50)
    it = c.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    seqs = [int(r["SequenceNumber"]) for r in c.get_records(ShardIterator=it)["Records"]]
    assert len(seqs) == 50
    assert all(b > a for a, b in zip(seqs, seqs[1:]))  # strictly increasing
    assert any(b - a > 1 for a, b in zip(seqs, seqs[1:]))  # non-dense
    assert min(seqs) > 10**50  # opaque service magnitude, not an ordinal
    # AT_SEQUENCE_NUMBER at a REAL issued sequence works (the service contract)
    it2 = c.get_shard_iterator(
        StreamName="s",
        ShardId="shardId-000000000000",
        ShardIteratorType="AT_SEQUENCE_NUMBER",
        StartingSequenceNumber=str(seqs[7]),
    )["ShardIterator"]
    assert [
        int(r["SequenceNumber"]) for r in c.get_records(ShardIterator=it2, Limit=3)["Records"]
    ] == seqs[7:10]


def test_unadapted_opaque_client_fails_loudly():
    """The documented reason no raw-boto3 factory ships: the connector's
    dense ordinals are not service sequence numbers.  The very first
    AT_SEQUENCE_NUMBER read through an unadapted opaque client must raise,
    never silently mis-position."""
    c = OpaqueSeqKinesisClient(shards=1, seed=9, tip=50)
    with pytest.raises(ValueError, match="never issued"):
        sdk_read_range(c, "s", 0, 5, 20)
    with pytest.raises(ValueError, match="never issued"):
        c.get_shard_iterator(
            StreamName="s",
            ShardId="shardId-000000000000",
            ShardIteratorType="AT_SEQUENCE_NUMBER",
            StartingSequenceNumber="5",
        )


def test_translating_client_restores_the_dense_contract():
    """sdk_read_range through TranslatingKinesisClient(opaque backend)
    returns exactly the generator tuples — the wrapper fully hides the
    opaque sequence space, including across page boundaries."""
    mk = lambda: TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=2, seed=9, template="rates", interval_ms=40, tip=60)
    )
    want = lambda sh, a, b: [_record("rates", 9, sh, seq, 40) for seq in range(a, b)]
    assert sdk_read_range(mk(), "s", 1, 5, 17) == want(1, 5, 17)
    assert sdk_read_range(mk(), "s", 0, 0, 60, page_limit=7) == want(0, 0, 60)
    # cold read at a high ordinal: fast-forward count from TRIM_HORIZON
    assert sdk_read_range(mk(), "s", 0, 40, 50) == want(0, 40, 50)
    # past-the-tip and empty ranges behave like the dense fake
    assert sdk_read_range(mk(), "s", 0, 55, 500) == want(0, 55, 60)
    assert sdk_read_range(mk(), "s", 0, 10, 10) == []
    # committed-range replay past the tip fails loudly through the stack
    with pytest.raises(RuntimeError, match="committed range"):
        sdk_read_range(mk(), "s", 0, 55, 70, require_complete=True)


def test_translating_ledger_avoids_recounting():
    """Sequential committed ranges (the connector's steady state) must not
    re-scan the stream head: the ledger seeds each AT_SEQUENCE_NUMBER from
    the previous range's recorded boundary."""
    inner = OpaqueSeqKinesisClient(shards=1, seed=9, tip=10_000)
    c = TranslatingKinesisClient(inner)
    assert sdk_read_range(c, "s", 0, 0, 100, page_limit=50) == [
        _record("orders", 9, 0, seq, 10) for seq in range(100)
    ]
    calls_after_first = inner.n_calls
    got = sdk_read_range(c, "s", 0, 100, 200, page_limit=50)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(100, 200)]
    # warm path: seed at the last ledger entry (99), one scan page to
    # reach 100, then 2 data pages — ~5 inner calls.  A recount from
    # ordinal 0 on this 10k-deep stream would page the whole head again;
    # the bound fails if the ledger seeding regresses.
    assert inner.n_calls - calls_after_first <= 6
    # a far-ahead cold target pages forward from the LAST ledger entry,
    # not from zero: 9_000 ordinals at 10k/page = 1 fast-forward page
    calls_before_jump = inner.n_calls
    assert len(sdk_read_range(c, "s", 0, 9_500, 9_510)) == 10
    assert inner.n_calls - calls_before_jump <= 5


def test_translating_seed_never_overshoots_target():
    """The ledger is sparse (page boundaries), so it can hold entries PAST
    a requested ordinal.  The fast-forward must seed from the greatest
    entry ≤ the target — seeding from the overall max would return the
    ledger position instead of the target (and AT_TIMESTAMP, whose stop
    condition is not monotone in the ordinal, must scan from the
    horizon even when later positions are known)."""
    from datetime import datetime, timezone

    inner = OpaqueSeqKinesisClient(shards=1, seed=5, interval_ms=40, tip=300)
    c = TranslatingKinesisClient(inner)
    # one big page: ledger now holds ordinals {0, 199} only
    assert len(sdk_read_range(c, "s", 0, 0, 200, page_limit=200)) == 200
    got = sdk_read_range(c, "s", 0, 150, 160)
    assert [t[1] for t in got] == list(range(150, 160))
    # AT_TIMESTAMP after the stream has been read to ordinal 199: the
    # attach instant (ordinal 26) is BEHIND every ledger entry but must
    # still resolve correctly
    it_ts = c.get_shard_iterator(
        StreamName="s",
        ShardId="shardId-000000000000",
        ShardIteratorType="AT_TIMESTAMP",
        Timestamp=datetime(2024, 1, 1, 0, 0, 1, 1500, tzinfo=timezone.utc),
    )["ShardIterator"]
    assert int(c.get_records(ShardIterator=it_ts, Limit=1)["Records"][0]["SequenceNumber"]) == 26


def test_translating_initial_positions():
    """Initial-position PARITY with the dense fake — the protocol
    docstring's promise.  TRIM_HORIZON is ordinal 0; LATEST delegates the
    attach point to the inner client (so the backend's backlog semantics
    — prepublished here — flow through instead of being silently
    replaced by attach-at-tip); AT_TIMESTAMP lands on the same ordinal
    the dense fake resolves, for every Timestamp form boto3 documents
    (aware datetime, naive datetime = UTC, ISO string, epoch seconds)."""
    from datetime import datetime, timezone

    mk = lambda: TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=2, seed=5, interval_ms=40, tip=100, prepublished=4)
    )
    dense = FakeSdkKinesisClient(shards=2, seed=5, interval_ms=40, tip=100, prepublished=4)

    def first_ordinal(client, shard_id, **kw):
        it = client.get_shard_iterator(
            StreamName="s", ShardId=shard_id, **kw
        )["ShardIterator"]
        recs = client.get_records(ShardIterator=it, Limit=1)["Records"]
        return int(recs[0]["SequenceNumber"]) if recs else None

    sid = "shardId-000000000001"
    assert first_ordinal(mk(), sid, ShardIteratorType="TRIM_HORIZON") == 0
    # LATEST: same attach ordinal as the dense fake (the prepublished
    # backlog), NOT the stream tip
    assert (
        first_ordinal(mk(), sid, ShardIteratorType="LATEST")
        == first_ordinal(dense, sid, ShardIteratorType="LATEST")
        == 4
    )
    # LATEST with nothing published past the attach point: empty + caught up
    c_tip = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=1, seed=5, interval_ms=40, tip=10, prepublished=10)
    )
    it_lt = c_tip.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="LATEST"
    )["ShardIterator"]
    tip_page = c_tip.get_records(ShardIterator=it_lt)
    assert tip_page["Records"] == [] and tip_page["MillisBehindLatest"] == 0
    # AT_TIMESTAMP parity with the dense fake / connector start_seq (== 26
    # for this instant at interval 40 ms) in every accepted Timestamp form
    forms = [
        datetime(2024, 1, 1, 0, 0, 1, 1500, tzinfo=timezone.utc),
        datetime(2024, 1, 1, 0, 0, 1, 1500),  # naive = UTC
        "2024-01-01T00:00:01.0015",
        datetime(2024, 1, 1, 0, 0, 1, 1500, tzinfo=timezone.utc).timestamp(),
    ]
    for ts in forms:
        for shard in range(2):
            got = first_ordinal(
                mk(),
                f"shardId-{shard:012d}",
                ShardIteratorType="AT_TIMESTAMP",
                Timestamp=ts,
            )
            assert got == 26, f"form {ts!r} shard {shard}: {got}"


def test_fake_opaque_factory_end_to_end():
    """client=fake_opaque drives the WHOLE connector read path (offset
    model, replay-by-range) through the translating adapter — offsets and
    record bytes identical to the direct generator."""
    base = {
        "shards": 2,
        "records_per_shard": 30,
        "batch_records": 7,
        "template": "rates",
        "prepublished": 4,
        "initial_position": "LATEST",
    }
    gen = KinesisSimStreamReader(base)
    opq = KinesisSimStreamReader({**base, "client": "fake_opaque"})
    assert gen.initialOffset() == opq.initialOffset()
    cur_g, cur_o = gen.initialOffset(), opq.initialOffset()
    for _ in range(6):
        rows_g, cur_g = gen.read(cur_g)
        rows_o, cur_o = opq.read(cur_o)
        assert cur_g == cur_o
        assert list(rows_g) == list(rows_o)
    start = {"shardId-000000000000": 4, "shardId-000000000001": 11}
    end = {"shardId-000000000000": 19, "shardId-000000000001": 30}
    assert list(gen.readBetweenOffsets(start, end)) == list(opq.readBetweenOffsets(start, end))


def test_batch_read_fake_opaque_bit_identical(spark):
    register(spark)
    base = {"shards": 3, "records_per_shard": 40, "template": "orders", "seed": 11}
    direct = _collect_sorted(spark, **base)
    via_opaque = _collect_sorted(spark, **base, client="fake_opaque")
    assert via_opaque == direct and len(direct) == 120


def test_sdk_read_range_closed_shard_semantics():
    """Real Kinesis CLOSES a shard on reshard: get_records eventually
    returns NextShardIterator=None.  A plain read returns what the shard
    served; a committed-range replay over a closed shard that no longer
    covers the range fails loudly (resharding moves the remainder to
    child shards — remapping is the adapter's ledger concern, and silent
    truncation here would lose committed records)."""

    class _ClosedShard(FakeSdkKinesisClient):
        def __init__(self, closes_after: int, **kw):
            super().__init__(**kw)
            self._closes_after = closes_after

        def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:
            resp = super().get_records(ShardIterator=ShardIterator, Limit=Limit)
            nxt = resp["NextShardIterator"]
            if nxt is not None and int(nxt.split("|")[1]) >= self._closes_after:
                resp["NextShardIterator"] = None  # shard closed by reshard
            return resp

    c = _ClosedShard(closes_after=30, shards=1, seed=9, tip=100)
    got = sdk_read_range(c, "s", 0, 10, 80, page_limit=10)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(10, 30)]
    with pytest.raises(RuntimeError, match="committed range"):
        sdk_read_range(
            _ClosedShard(closes_after=30, shards=1, seed=9, tip=100),
            "s", 0, 10, 80, page_limit=10, require_complete=True,
        )


def test_interval_ms_validated():
    with pytest.raises(ValueError, match="interval_ms"):
        _Opts({"interval_ms": 0})


# --- r9: ADVICE fixes + checkpointable ledger -----------------------------


class _SingleUseInner(OpaqueSeqKinesisClient):
    """A backend that treats an already-consumed iterator as EXPIRED on the
    next get_records — the real-service behavior the ADVICE r8 low items
    warn about (the fakes' stateless "shard|seq" tokens hid it)."""

    def __init__(self, **kw):
        super().__init__(**kw)
        self._used: set[str] = set()
        self._n_minted = 0

    def _wrap(self, resp_key, resp):
        if resp.get(resp_key) is not None:
            self._n_minted += 1
            tok = f"su-{self._n_minted}|{resp[resp_key]}"
            resp[resp_key] = tok
        return resp

    def get_shard_iterator(self, **kw):
        return self._wrap("ShardIterator", super().get_shard_iterator(**kw))

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:
        if ShardIterator in self._used:
            raise ValueError(f"iterator expired (already consumed): {ShardIterator!r}")
        self._used.add(ShardIterator)
        inner_tok = ShardIterator.split("|", 1)[1]
        return self._wrap(
            "NextShardIterator", super().get_records(ShardIterator=inner_tok, Limit=Limit)
        )


def test_scan_forward_mints_fresh_iterator_at_tip():
    """ADVICE r8: on reaching the tip via an empty page, _scan_forward must
    wrap the page's NextShardIterator, not the just-consumed iterator — a
    single-use backend rejects the stale one."""
    c = TranslatingKinesisClient(
        _SingleUseInner(shards=1, seed=5, tip=10, prepublished=10)
    )
    # LATEST with nothing published past the attach point -> the empty-at-tip
    # path inside _scan_forward; the minted token must then be consumable
    it = c.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="LATEST"
    )["ShardIterator"]
    page = c.get_records(ShardIterator=it)
    assert page["Records"] == [] and page["MillisBehindLatest"] == 0


def test_wrapper_tokens_are_reusable_within_bound():
    """ADVICE r8: boto3 iterator tokens may be re-used within their validity
    window (e.g. a get_records retry after a transient network error) —
    the wrapper must serve the same page again, not raise."""
    c = TranslatingKinesisClient(OpaqueSeqKinesisClient(shards=1, seed=9, tip=40))
    it = c.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    first = c.get_records(ShardIterator=it, Limit=10)
    retry = c.get_records(ShardIterator=it, Limit=10)  # simulated network retry
    assert [r["SequenceNumber"] for r in first["Records"]] == [
        r["SequenceNumber"] for r in retry["Records"]
    ] == [str(i) for i in range(10)]
    # growth stays bounded: old tokens are evicted oldest-first
    c.MAX_LIVE_TOKENS = 8
    for _ in range(30):
        it2 = c.get_shard_iterator(
            StreamName="s",
            ShardId="shardId-000000000000",
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
    assert len(c._tokens) <= 8
    c.get_records(ShardIterator=it2)  # newest still valid
    with pytest.raises(ValueError, match="unknown or expired"):
        c.get_records(ShardIterator=it)  # evicted long ago


def test_ledger_snapshot_restore_avoids_recount():
    """VERDICT r8 #4: a restored ledger must serve AT_SEQUENCE_NUMBER
    without recounting from TRIM_HORIZON — the inner-client call count on
    a deep stream proves the seed came from the snapshot."""
    warm_inner = OpaqueSeqKinesisClient(shards=1, seed=9, tip=10_000)
    warm = TranslatingKinesisClient(warm_inner)
    assert len(sdk_read_range(warm, "s", 0, 9_000, 9_100, page_limit=50)) == 100
    snap = warm.ledger_snapshot()
    # a COLD task restores the snapshot: the read seeds from the persisted
    # entries (~9k) instead of paging the whole head again
    cold_inner = OpaqueSeqKinesisClient(shards=1, seed=9, tip=10_000)
    cold = TranslatingKinesisClient(cold_inner)
    cold.restore_ledger(snap)
    got = sdk_read_range(cold, "s", 0, 9_100, 9_150, page_limit=50)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(9_100, 9_150)]
    assert cold_inner.n_calls <= 6, (
        f"{cold_inner.n_calls} inner calls — a horizon recount would need "
        "hundreds of pages on this 10k-deep stream"
    )
    # and the snapshot is plain JSON (the persistence contract)
    import json

    assert json.loads(json.dumps(snap)) == snap


def test_ledger_path_roundtrip(tmp_path):
    """ledger_path= convenience: save_ledger() persists atomically and a
    new client constructed with the same path starts warm."""
    p = str(tmp_path / "stream.ledger.json")
    a = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=2, seed=7, tip=500), ledger_path=p
    )
    assert len(sdk_read_range(a, "s", 1, 400, 450, page_limit=25)) == 50
    assert a.save_ledger() == p
    b_inner = OpaqueSeqKinesisClient(shards=2, seed=7, tip=500)
    b = TranslatingKinesisClient(b_inner, ledger_path=p)
    assert sdk_read_range(b, "s", 1, 450, 460) == [
        _record("orders", 7, 1, seq, 10) for seq in range(450, 460)
    ]
    assert b_inner.n_calls <= 5
    with pytest.raises(ValueError, match="no ledger path"):
        TranslatingKinesisClient(OpaqueSeqKinesisClient(tip=1)).save_ledger()


def test_strict_anchor_refuses_horizon_recount():
    """The retention/trim caveat, made executable: with strict_anchor=True
    an ordinal with no ledger anchor at-or-below it must FAIL (on a
    trimming stream a horizon recount silently drifts), while anchored
    reads — and ordinal 0 — proceed."""
    mk_inner = lambda: OpaqueSeqKinesisClient(shards=1, seed=9, tip=200)
    strict = TranslatingKinesisClient(mk_inner(), strict_anchor=True)
    with pytest.raises(ValueError, match="strict_anchor"):
        sdk_read_range(strict, "s", 0, 50, 60)
    # ordinal 0 IS the horizon by definition — allowed, and the read
    # populates the ledger so subsequent ranges are anchored
    assert len(sdk_read_range(strict, "s", 0, 0, 40, page_limit=20)) == 40
    assert sdk_read_range(strict, "s", 0, 40, 45) == [
        _record("orders", 9, 0, seq, 10) for seq in range(40, 45)
    ]
    # a restored persisted ledger anchors a cold strict client
    cold = TranslatingKinesisClient(mk_inner(), strict_anchor=True)
    cold.restore_ledger(strict.ledger_snapshot())
    assert len(sdk_read_range(cold, "s", 0, 50, 60)) == 10
    # EVERY horizon-recount path refuses, not just AT_SEQUENCE_NUMBER
    # (review finding r9): unanchored LATEST and AT_TIMESTAMP count from
    # the horizon by construction
    fresh = lambda **kw: TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=1, seed=9, tip=200, **kw), strict_anchor=True
    )
    with pytest.raises(ValueError, match="strict_anchor"):
        fresh().get_shard_iterator(
            StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="LATEST"
        )
    with pytest.raises(ValueError, match="strict_anchor"):
        fresh(prepublished=200).get_shard_iterator(  # empty-peek fallback path
            StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="LATEST"
        )
    with pytest.raises(ValueError, match="strict_anchor"):
        fresh().get_shard_iterator(
            StreamName="s",
            ShardId="shardId-000000000000",
            ShardIteratorType="AT_TIMESTAMP",
            Timestamp="2024-01-01T00:00:01",
        )
    # an ANCHORED LATEST proceeds: ledger covers a position before attach
    anchored = fresh(prepublished=100)
    anchored.restore_ledger(strict.ledger_snapshot())  # entries up to ~44
    it = anchored.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="LATEST"
    )["ShardIterator"]
    recs = anchored.get_records(ShardIterator=it, Limit=1)["Records"]
    assert int(recs[0]["SequenceNumber"]) == 100


# --- r9: reshard lineage (parent→child shard split) -----------------------


def test_shard_topology_shape():
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import shard_topology

    static = shard_topology(3, 100, None)
    assert [(t.index, t.parent, t.n_records, t.closed) for t in static] == [
        (0, None, 100, False), (1, None, 100, False), (2, None, 100, False)
    ]
    split = shard_topology(2, 100, 30)
    assert [(t.index, t.parent, t.n_records, t.closed) for t in split] == [
        (0, None, 30, True), (1, None, 30, True),
        (2, 0, 70, False), (3, 0, 70, False),
        (4, 1, 70, False), (5, 1, 70, False),
    ]
    assert split[2].shard_id == "shardId-000000000002"


def test_fake_client_reshard_closed_parent_and_lineage():
    """The service's split contract on the dense fake: list_shards carries
    ParentShardId lineage, a parent consumed to its closing sequence ends
    with a NULL iterator, and the remainder of the stream is served by the
    children — reads cross the boundary without inventing or losing
    records."""
    c = FakeSdkKinesisClient(shards=2, seed=9, tip=100, reshard_at=30)
    shards = c.list_shards(StreamName="s")["Shards"]
    assert [s["ShardId"][-4:] for s in shards] == ["0000", "0001", "0002", "0003", "0004", "0005"]
    assert [s.get("ParentShardId", "")[-4:] for s in shards] == [
        "", "", "0000", "0000", "0001", "0001"
    ]
    # a plain read ASKING past the parent's close gets exactly the closed
    # range (the stream continues on the children, not here)
    got = sdk_read_range(c, "s", 0, 10, 100, page_limit=7)
    assert got == [_record("orders", 9, 0, seq, 10) for seq in range(10, 30)]
    # committed-range replay past the close fails loudly
    with pytest.raises(RuntimeError, match="committed range"):
        sdk_read_range(c, "s", 0, 10, 40, require_complete=True)
    # the closed range itself replays complete
    assert len(sdk_read_range(c, "s", 0, 0, 30, require_complete=True, page_limit=8)) == 30
    # children serve their own dense [0, 70) spaces
    for child in (2, 3, 4, 5):
        assert sdk_read_range(c, "s", child, 60, 70) == [
            _record("orders", 9, child, seq, 10) for seq in range(60, 70)
        ]
    # consumed-to-close parent signals shard end with a null iterator
    it = c.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000",
        ShardIteratorType="AT_SEQUENCE_NUMBER", StartingSequenceNumber="28",
    )["ShardIterator"]
    page = c.get_records(ShardIterator=it)
    assert [int(r["SequenceNumber"]) for r in page["Records"]] == [28, 29]
    assert page["NextShardIterator"] is None and page["MillisBehindLatest"] == 0


def test_translating_adapter_across_reshard():
    """VERDICT r8 #5: the adapter's last untested assumption.  The ledger
    extends across a split by ADDING per-child keys — each shard (closed
    parent and each child) translates its own dense ordinal space
    independently through the opaque-sequence backend."""
    inner = OpaqueSeqKinesisClient(shards=1, seed=11, tip=80, reshard_at=50)
    c = TranslatingKinesisClient(inner)
    # lineage flows through the wrapper untouched
    shards = c.list_shards(StreamName="s")["Shards"]
    assert [s.get("ParentShardId") for s in shards] == [None, "shardId-000000000000", "shardId-000000000000"]
    # closed parent: full closed range through the translation stack
    assert sdk_read_range(c, "s", 0, 0, 50, page_limit=13) == [
        _record("orders", 11, 0, seq, 10) for seq in range(50)
    ]
    # plain read over the boundary stops at the close; strict replay fails
    assert sdk_read_range(c, "s", 0, 45, 60) == [
        _record("orders", 11, 0, seq, 10) for seq in range(45, 50)
    ]
    with pytest.raises(RuntimeError, match="committed range"):
        sdk_read_range(c, "s", 0, 45, 60, require_complete=True)
    # children: own ordinal spaces from 0, translated via their own ledger keys
    for child in (1, 2):
        assert sdk_read_range(c, "s", child, 10, 30, page_limit=9) == [
            _record("orders", 11, child, seq, 10) for seq in range(10, 30)
        ]
    assert set(c.ledger_snapshot()) == {
        "shardId-000000000000", "shardId-000000000001", "shardId-000000000002"
    }
    # and a persisted ledger spanning the split restores shard-by-shard
    cold = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=1, seed=11, tip=80, reshard_at=50),
        strict_anchor=True,
    )
    cold.restore_ledger(c.ledger_snapshot())
    assert len(sdk_read_range(cold, "s", 2, 20, 25)) == 5


# --- r10: merge lineage + multi-generation reshard plans -------------------


def test_shard_topology_merge_and_chain_shapes():
    """The general reshard-plan model (VERDICT r9 #2/#3): merges close TWO
    parents into one AdjacentParentShardId-carrying child, children are
    themselves eligible parents, and lineage forms a DAG across
    generations with deterministic fresh-index assignment."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        apply_reshard_plan,
        shard_topology,
    )

    merged = shard_topology(
        4, 120, None, [
            {"op": "merge", "parents": [0, 1], "at": 60},
            {"op": "merge", "parents": [2, 3], "at": 60},
        ],
    )
    assert [
        (t.index, t.parent, t.adjacent_parent, t.n_records, t.closed) for t in merged
    ] == [
        (0, None, None, 60, True), (1, None, None, 60, True),
        (2, None, None, 60, True), (3, None, None, 60, True),
        (4, 0, 1, 60, False), (5, 2, 3, 60, False),
    ]
    # two generations: split -> (child splits again) + (child merges with
    # an original shard) — the exact chain the kinesis_reshard_chain
    # attestation query reads end-to-end
    chain = shard_topology(
        2, 180, None, [
            {"op": "split", "parent": 0, "at": 60},
            {"op": "split", "parent": 2, "at": 60},
            {"op": "merge", "parents": [1, 3], "at": 60},
        ],
    )
    assert [
        (t.index, t.parent, t.adjacent_parent, t.n_records, t.closed) for t in chain
    ] == [
        (0, None, None, 60, True), (1, None, None, 60, True),
        (2, 0, None, 60, True), (3, 0, None, 60, True),
        (4, 2, None, 60, False), (5, 2, None, 60, False),
        (6, 1, 3, 120, False),
    ]
    # reshard_at stays exactly the one-generation all-split shorthand
    assert [
        (t.index, t.parent, t.n_records, t.closed) for t in shard_topology(2, 100, 30)
    ] == [
        (t.index, t.parent, t.n_records, t.closed)
        for t in apply_reshard_plan(
            2, 100, [{"op": "split", "parent": s, "at": 30} for s in range(2)]
        )
    ]
    # plan validation fails loudly, never mis-plans
    for bad, msg in [
        ([{"op": "split", "parent": 5, "at": 1}], "does not exist"),
        ([{"op": "split", "parent": 0, "at": 100}], "must be in"),
        ([{"op": "merge", "parents": [0, 0], "at": 1}], "distinct"),
        ([{"op": "merge", "parents": [0], "at": 1}], "parents"),
        ([{"op": "rotate", "parent": 0, "at": 1}], "op must be"),
        (
            [{"op": "split", "parent": 0, "at": 10},
             {"op": "merge", "parents": [0, 1], "at": 5}],
            "already closed",
        ),
    ]:
        with pytest.raises(ValueError, match=msg):
            apply_reshard_plan(2, 100, bad)
    with pytest.raises(ValueError, match="mutually exclusive"):
        shard_topology(2, 100, 30, [{"op": "split", "parent": 0, "at": 10}])


_MERGE_PLAN = [
    {"op": "merge", "parents": [0, 1], "at": 60},
    {"op": "merge", "parents": [2, 3], "at": 60},
]


def test_fake_client_merge_lineage_and_closed_parents():
    """The service's MERGE contract on the dense fake (VERDICT r9 #2):
    list_shards carries ParentShardId AND AdjacentParentShardId on the
    merge child, BOTH consumed parents end with null iterators, and the
    child serves its own dense space — reads cross the merge boundary
    without losing or inventing records."""
    c = FakeSdkKinesisClient(shards=4, seed=17, tip=120, reshard_plan=_MERGE_PLAN)
    shards = c.list_shards(StreamName="s")["Shards"]
    assert [s["ShardId"][-4:] for s in shards] == ["0000", "0001", "0002", "0003", "0004", "0005"]
    assert [s.get("ParentShardId", "")[-4:] for s in shards] == ["", "", "", "", "0000", "0002"]
    assert [s.get("AdjacentParentShardId", "")[-4:] for s in shards] == [
        "", "", "", "", "0001", "0003"
    ]
    # both parents of child 4 signal shard-end with a null iterator
    for parent in (0, 1):
        it = c.get_shard_iterator(
            StreamName="s", ShardId=f"shardId-{parent:012d}",
            ShardIteratorType="AT_SEQUENCE_NUMBER", StartingSequenceNumber="58",
        )["ShardIterator"]
        page = c.get_records(ShardIterator=it)
        assert [int(r["SequenceNumber"]) for r in page["Records"]] == [58, 59]
        assert page["NextShardIterator"] is None and page["MillisBehindLatest"] == 0
    # the closed ranges replay complete; past-the-close strict replay fails
    assert len(sdk_read_range(c, "s", 1, 0, 60, require_complete=True, page_limit=13)) == 60
    with pytest.raises(RuntimeError, match="committed range"):
        sdk_read_range(c, "s", 1, 50, 70, require_complete=True)
    # merge children serve their own dense [0, 60) spaces
    for child in (4, 5):
        assert sdk_read_range(c, "s", child, 0, 60, page_limit=23) == [
            _record("orders", 17, child, seq, 10) for seq in range(60)
        ]


def test_translating_adapter_across_merge():
    """VERDICT r9 #2: the opaque→dense adapter stack across a MERGE — the
    ledger extends by adding the merge child's key (its own ordinal space
    from 0), exactly as it does for split children; nothing about the
    translation changes with two-parent lineage."""
    c = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=4, seed=19, tip=120, reshard_plan=_MERGE_PLAN)
    )
    # lineage flows through the wrapper untouched
    shards = c.list_shards(StreamName="s")["Shards"]
    assert shards[4]["ParentShardId"] == "shardId-000000000000"
    assert shards[4]["AdjacentParentShardId"] == "shardId-000000000001"
    # all six lineage shards read bit-identical to the generator
    for t_index, n in [(0, 60), (1, 60), (2, 60), (3, 60), (4, 60), (5, 60)]:
        assert sdk_read_range(c, "s", t_index, 0, n + 5, page_limit=17) == [
            _record("orders", 19, t_index, seq, 10) for seq in range(n)
        ], f"shard {t_index}"
    assert set(c.ledger_snapshot()) == {f"shardId-{i:012d}" for i in range(6)}
    # a persisted ledger spanning the merge restores per shard, strictly
    cold = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=4, seed=19, tip=120, reshard_plan=_MERGE_PLAN),
        strict_anchor=True,
    )
    cold.restore_ledger(c.ledger_snapshot())
    assert len(sdk_read_range(cold, "s", 5, 30, 40)) == 10


_CHAIN_PLAN = [
    {"op": "split", "parent": 0, "at": 60},
    {"op": "split", "parent": 2, "at": 60},
    {"op": "merge", "parents": [1, 3], "at": 60},
]


def test_strict_replay_across_two_generations():
    """VERDICT r9 #3: one client, one read pass over a TWO-generation
    lineage DAG (split -> split, split -> merge) with require_complete on
    every closed range — the checkpoint-replay contract holds across
    generations, and each shard of every generation is bit-identical to
    the generator."""
    c = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=2, seed=23, tip=180, reshard_plan=_CHAIN_PLAN)
    )
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_sim import (
        shard_topology,
    )

    topo = shard_topology(2, 180, None, _CHAIN_PLAN)
    assert [(t.index, t.n_records, t.closed) for t in topo] == [
        (0, 60, True), (1, 60, True), (2, 60, True), (3, 60, True),
        (4, 60, False), (5, 60, False), (6, 120, False),
    ]
    for t in topo:
        got = sdk_read_range(
            c, "s", t.index, 0, t.n_records, require_complete=True, page_limit=29
        )
        assert got == [
            _record("orders", 23, t.index, seq, 10) for seq in range(t.n_records)
        ], f"shard {t.index} gen lineage parent={t.parent}/{t.adjacent_parent}"
    # grandchild 4 descends from 2 which descends from 0 — the DAG depth
    # is visible in the wire lineage
    shards = {s["ShardId"]: s for s in c.list_shards(StreamName="s")["Shards"]}
    assert shards["shardId-000000000004"]["ParentShardId"] == "shardId-000000000002"
    assert shards["shardId-000000000002"]["ParentShardId"] == "shardId-000000000000"
    assert shards["shardId-000000000006"]["AdjacentParentShardId"] == "shardId-000000000003"


# --- r10 ADVICE: ledger merge-on-save, drift-on-restore, LRU tokens --------


def test_merge_ledger_snapshots_union_and_drift():
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        merge_ledger_snapshots,
    )

    a = {"shardId-000000000000": {"ordinals": [0, 10], "sequences": ["100", "210"]}}
    b = {
        "shardId-000000000000": {"ordinals": [10, 20], "sequences": ["210", "330"]},
        "shardId-000000000001": {"ordinals": [5], "sequences": ["777"]},
    }
    merged = merge_ledger_snapshots(a, b)
    assert merged == {
        "shardId-000000000000": {"ordinals": [0, 10, 20], "sequences": ["100", "210", "330"]},
        "shardId-000000000001": {"ordinals": [5], "sequences": ["777"]},
    }
    drifted = {"shardId-000000000000": {"ordinals": [10], "sequences": ["999"]}}
    with pytest.raises(ValueError, match="ledger drift"):
        merge_ledger_snapshots(a, drifted)


def test_save_ledger_merges_concurrent_shard_saves(tmp_path):
    """ADVICE r9: the documented production shape builds one client per
    executor read task sharing a single ledger_path — each save must
    READ-MERGE-WRITE so per-task saves union their shards' entries
    instead of last-writer-wins dropping the others' (which would trip
    strict_anchor loudly on the next restart)."""
    p = str(tmp_path / "stream.ledger.json")
    task_a = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=2, seed=7, tip=500), ledger_path=p
    )
    task_b = TranslatingKinesisClient(
        OpaqueSeqKinesisClient(shards=2, seed=7, tip=500), ledger_path=p
    )
    assert len(sdk_read_range(task_a, "s", 0, 400, 450, page_limit=25)) == 50
    assert len(sdk_read_range(task_b, "s", 1, 300, 350, page_limit=25)) == 50
    task_a.save_ledger()
    task_b.save_ledger()  # pre-fix this wiped shard 0's entries
    warm_inner = OpaqueSeqKinesisClient(shards=2, seed=7, tip=500)
    warm = TranslatingKinesisClient(warm_inner, ledger_path=p, strict_anchor=True)
    # BOTH tasks' shards restore: deep reads on each serve from the merged
    # ledger without a horizon recount (strict_anchor would refuse one)
    assert len(sdk_read_range(warm, "s", 0, 450, 460)) == 10
    assert len(sdk_read_range(warm, "s", 1, 350, 360)) == 10
    assert warm_inner.n_calls <= 10


def test_restore_ledger_raises_on_drift():
    """ADVICE r9: an in-memory entry disagreeing with the persisted
    snapshot at the same ordinal is the retention-drift signal — restore
    must raise, never silently keep the (possibly horizon-recounted)
    in-memory value."""
    c = TranslatingKinesisClient(OpaqueSeqKinesisClient(shards=1, seed=3, tip=100))
    assert len(sdk_read_range(c, "s", 0, 0, 10)) == 10  # populates the ledger
    snap = c.ledger_snapshot()
    c2 = TranslatingKinesisClient(OpaqueSeqKinesisClient(shards=1, seed=3, tip=100))
    assert len(sdk_read_range(c2, "s", 0, 0, 10)) == 10
    c2.restore_ledger(snap)  # agreement: idempotent no-op
    drifted = {
        "shardId-000000000000": {
            "ordinals": [0],
            "sequences": [str(int(snap["shardId-000000000000"]["sequences"][0]) + 1)],
        }
    }
    with pytest.raises(ValueError, match="ledger drift"):
        c2.restore_ledger(drifted)


def test_token_eviction_is_lru_not_mint_order():
    """ADVICE r9: a long-lived client interleaving reads across many
    shards must never evict a still-in-flight pagination token — a
    successful get_records lookup refreshes the token's recency, so only
    idle tokens age out."""
    c = TranslatingKinesisClient(OpaqueSeqKinesisClient(shards=1, seed=9, tip=4000))
    c.MAX_LIVE_TOKENS = 8
    live = c.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    # interleave: many fresh mints, but the live chain is touched between
    # bursts — with mint-order eviction it would die at the 9th mint
    for burst in range(5):
        for _ in range(5):
            c.get_shard_iterator(
                StreamName="s",
                ShardId="shardId-000000000000",
                ShardIteratorType="TRIM_HORIZON",
            )
        page = c.get_records(ShardIterator=live, Limit=3)  # LRU touch + advance
        live = page["NextShardIterator"]
        assert live is not None
    assert len(c._tokens) <= 8
    # the chain read the stream head in order, exactly once per position
    assert int(c.get_records(ShardIterator=live, Limit=1)["Records"][0]["SequenceNumber"]) == 15


# --- throttling / expired-iterator fault contract (VERDICT r10 #2) --------
# The service's transient faults are the ADAPTER's to absorb (protocol
# docstring, RETRY OBLIGATIONS); the connector read loop fails loudly on
# any of them.  ThrottlingKinesisClient injects them deterministically;
# RetryingKinesisClient is the in-repo adapter under contract.


def test_raw_fault_propagates_loudly_through_read_loop():
    """Pin the read loop's side of the contract: sdk_read_range performs
    NO retry/backoff/swallow — an injected throttle surfaces as the task
    failure Spark retries, never a silent truncation."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        KinesisClientError,
        ThrottlingKinesisClient,
        error_code,
    )

    c = ThrottlingKinesisClient(
        FakeSdkKinesisClient(shards=1, seed=7, tip=50), throttle_every=3
    )
    with pytest.raises(KinesisClientError) as ei:
        sdk_read_range(c, "s", 0, 0, 50, page_limit=5)
    assert error_code(ei.value) == "ProvisionedThroughputExceededException"
    assert c.n_throttles_injected == 1


def test_raw_expiry_propagates_loudly_through_read_loop():
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        KinesisClientError,
        ThrottlingKinesisClient,
        error_code,
    )

    c = ThrottlingKinesisClient(
        FakeSdkKinesisClient(shards=1, seed=7, tip=50), expire_every=4
    )
    with pytest.raises(KinesisClientError) as ei:
        sdk_read_range(c, "s", 0, 0, 50, page_limit=5)
    assert error_code(ei.value) == "ExpiredIteratorException"


def test_retrying_adapter_absorbs_throttles_bit_identically():
    """Backoff-and-retry on throughput-exceeded: the read completes and is
    bit-identical to the un-faulted read; the recorded backoff schedule is
    the expected exponential."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        RetryingKinesisClient,
        ThrottlingKinesisClient,
    )

    sleeps: list[float] = []
    faulty = ThrottlingKinesisClient(
        FakeSdkKinesisClient(shards=1, seed=7, tip=60), throttle_every=3
    )
    c = RetryingKinesisClient(
        faulty, max_retries=5, base_backoff_ms=100.0, sleep=sleeps.append
    )
    got = sdk_read_range(c, "s", 0, 0, 60, page_limit=7)
    assert got == [_record("orders", 7, 0, seq, 10) for seq in range(60)]
    assert faulty.n_throttles_injected > 0
    assert c.n_throttle_retries == faulty.n_throttles_injected
    # each injected throttle was first-attempt → backoff = base every time
    assert sleeps == [0.1] * faulty.n_throttles_injected


def test_retrying_adapter_backoff_grows_exponentially_and_exhausts():
    """throttle_every=1 throttles EVERY call (retries included): the
    adapter must walk the exponential schedule then fail loudly with the
    service error — never hang or succeed."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        KinesisClientError,
        RetryingKinesisClient,
        ThrottlingKinesisClient,
        error_code,
    )

    sleeps: list[float] = []
    c = RetryingKinesisClient(
        ThrottlingKinesisClient(FakeSdkKinesisClient(shards=1, tip=10), throttle_every=1),
        max_retries=4,
        base_backoff_ms=100.0,
        max_backoff_ms=500.0,
        sleep=sleeps.append,
    )
    with pytest.raises(KinesisClientError) as ei:
        sdk_read_range(c, "s", 0, 0, 10)
    assert error_code(ei.value) == "ProvisionedThroughputExceededException"
    # 4 retries: 100, 200, 400, then capped at 500 ms
    assert sleeps == [0.1, 0.2, 0.4, 0.5]


def test_retrying_adapter_reacquires_expired_iterators_exactly_once():
    """Expiry mid-pagination: the adapter re-acquires via
    get_shard_iterator(AFTER_SEQUENCE_NUMBER, last seen) and the read
    completes exactly-once — no gaps, no duplicates; a blind same-token
    retry would keep failing (the poison stays)."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        RetryingKinesisClient,
        ThrottlingKinesisClient,
    )

    faulty = ThrottlingKinesisClient(
        FakeSdkKinesisClient(shards=1, seed=7, tip=60), expire_every=4
    )
    c = RetryingKinesisClient(faulty, max_retries=5, sleep=lambda s: None)
    got = sdk_read_range(c, "s", 0, 0, 60, page_limit=7)
    assert got == [_record("orders", 7, 0, seq, 10) for seq in range(60)]
    assert faulty.n_expiries_injected > 0
    assert c.n_reacquisitions == faulty.n_expiries_injected


def test_retrying_adapter_survives_combined_fault_schedules():
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        RetryingKinesisClient,
        ThrottlingKinesisClient,
    )

    faulty = ThrottlingKinesisClient(
        FakeSdkKinesisClient(shards=2, seed=11, template="rates", tip=80),
        throttle_every=5,
        expire_every=7,
    )
    c = RetryingKinesisClient(faulty, max_retries=8, sleep=lambda s: None)
    for shard in (0, 1):
        got = sdk_read_range(c, "s", shard, 0, 80, page_limit=6)
        assert got == [_record("rates", 11, shard, seq, 10) for seq in range(80)]
    assert faulty.n_throttles_injected > 0 and faulty.n_expiries_injected > 0


def test_expired_unknown_token_reraises():
    """A token the adapter did not mint has no origin: its expiry must
    re-raise (no safe position to re-acquire from), not loop."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.sources.kinesis_client import (
        KinesisClientError,
        RetryingKinesisClient,
        ThrottlingKinesisClient,
        error_code,
    )

    faulty = ThrottlingKinesisClient(FakeSdkKinesisClient(shards=1, tip=10), expire_every=1)
    c = RetryingKinesisClient(faulty, sleep=lambda s: None)
    with pytest.raises(KinesisClientError) as ei:
        c.get_records(ShardIterator="0|0#999", Limit=5)
    assert error_code(ei.value) == "ExpiredIteratorException"


def test_after_sequence_number_iterator_types():
    """Both fakes implement the recovery iterator type: AFTER starts one
    past the named sequence (dense ordinal and opaque alike)."""
    dense = FakeSdkKinesisClient(shards=1, seed=5, tip=30)
    it = dense.get_shard_iterator(
        StreamName="s",
        ShardId="shardId-000000000000",
        ShardIteratorType="AFTER_SEQUENCE_NUMBER",
        StartingSequenceNumber="9",
    )["ShardIterator"]
    recs = dense.get_records(ShardIterator=it, Limit=1)["Records"]
    assert recs[0]["SequenceNumber"] == "10"

    opaque = OpaqueSeqKinesisClient(shards=1, seed=5, tip=30)
    it0 = opaque.get_shard_iterator(
        StreamName="s", ShardId="shardId-000000000000", ShardIteratorType="TRIM_HORIZON"
    )["ShardIterator"]
    page = opaque.get_records(ShardIterator=it0, Limit=3)["Records"]
    seen = page[1]["SequenceNumber"]  # an opaque sequence actually issued
    it1 = opaque.get_shard_iterator(
        StreamName="s",
        ShardId="shardId-000000000000",
        ShardIteratorType="AFTER_SEQUENCE_NUMBER",
        StartingSequenceNumber=seen,
    )["ShardIterator"]
    nxt = opaque.get_records(ShardIterator=it1, Limit=1)["Records"][0]
    assert nxt["SequenceNumber"] == page[2]["SequenceNumber"]


def test_fake_throttling_factory_end_to_end(spark):
    """client=fake_throttling through the connector options: the batch
    read is bit-identical to client=fake_sdk despite the injected fault
    schedules — the adapter stack absorbed every fault."""
    register(spark)
    base = {"shards": 2, "records_per_shard": 50, "seed": 21}
    clean = _collect_sorted(spark, **base, client="fake_sdk")
    faulted = _collect_sorted(
        spark, **base, client="fake_throttling", throttle_every=3, expire_every=5
    )
    assert faulted == clean and len(clean) == 100


def test_fault_schedule_options_validated():
    with pytest.raises(ValueError, match="throttle_every/expire_every"):
        _Opts({"throttle_every": "-1"})
    with pytest.raises(ValueError, match="fault_max_retries"):
        _Opts({"fault_max_retries": "-2"})
