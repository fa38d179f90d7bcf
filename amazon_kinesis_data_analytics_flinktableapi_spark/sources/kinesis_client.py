"""The real-AWS-Kinesis seam: a client protocol shaped like boto3.

``kinesis_sim`` (S1, StreamingJob.java:26-41) reads records from a
deterministic in-process generator unless its ``client`` read option
names a factory registered here (:data:`CLIENT_FACTORIES`); then every
read goes through that client.  Swapping the generator for the AWS
SDK must not touch any Spark-facing surface — partition planning, the
{shard: next_sequence} offset model, replay-by-sequence-range recovery,
and the sink commit protocol all stay identical.  This module pins that
seam as an explicit, contract-tested interface:

- :class:`KinesisClient` — a structural protocol that is *exactly* the
  subset of ``boto3.client("kinesis")`` the connector needs
  (``list_shards`` / ``get_shard_iterator`` / ``get_records``, with
  boto3's argument names and response dict shapes), so a production
  adapter is a thin wrapper around a boto3 client rather than a second
  read implementation.  One real-service delta the wrapper must own:
  the connector's offsets are DENSE ORDINALS (0, 1, 2, … per shard)
  while real Kinesis sequence numbers are opaque service-assigned
  strings and shard ids survive resharding — an ``aws`` factory
  therefore maintains the ordinal↔sequence-number mapping (e.g. a
  per-shard base sequence captured at stream attach, or a small offset
  ledger) and translates in ``get_shard_iterator``/``get_records``
  responses.  Everything else — pagination, the empty-page/
  MillisBehindLatest protocol, half-open range semantics, strict replay
  — lives once in :func:`sdk_read_range` and is contract-tested here.
- :class:`FakeSdkKinesisClient` — the same deterministic record
  generator the direct path uses, re-served through the boto3 wire
  shape (base64-free bytes payloads, string sequence numbers, opaque
  shard-iterator tokens with pagination).  It exists so the client-
  routed read path can be driven and hash-verified WITHOUT network or
  credentials: tests/test_kinesis_client.py proves the SDK path and the
  direct generator path produce byte-identical records for every
  iterator type the connector uses.

- :class:`OpaqueSeqKinesisClient` / :class:`TranslatingKinesisClient` —
  the translation story made executable: the opaque fake serves the
  generator's records with REAL-shaped (opaque, non-dense) sequence
  strings, and the translating wrapper holds the per-shard ordinal
  ledger a production ``aws`` factory needs.  ``client=fake_opaque``
  drives the connector through the full adapter stack;
  tests/test_kinesis_client.py contract-tests ``sdk_read_range``
  through it and proves an UNADAPTED opaque client fails loudly on its
  first ``get_shard_iterator``.

No AWS endpoint is contacted anywhere in this repo, and no ``aws``
factory ships pre-registered (a raw boto3 client needs the
ordinal-translation wrapper — :class:`TranslatingKinesisClient` is the
tested example) — a deployment registers its adapter via
:func:`register_client_factory`.
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable


@runtime_checkable
class KinesisClient(Protocol):
    """Structural subset of ``boto3.client("kinesis")`` the source needs.

    Matching boto3's names/shapes exactly keeps a production adapter
    thin: it wraps a boto3 client 1:1 and owns only the
    ordinal↔sequence-number translation (module docstring).

    RETRY OBLIGATIONS (the adapter's, not the read loop's).  The
    connector's read loop (``sdk_read_range``) treats every exception
    from a client method as a task failure — it never retries, sleeps,
    or swallows (pinned in tests/test_kinesis_client.py).  A client
    registered for production must therefore absorb the service's
    transient faults itself, exactly as the reference's consumer stack
    (FlinkKinesisConsumer under StreamingJob.java:26-41) does:

    * ``ProvisionedThroughputExceededException`` — back off and retry
      the same call (exponential backoff, bounded attempts; the service
      throttles per-shard reads at 5 calls/s / 2 MB/s).
    * ``ExpiredIteratorException`` — shard iterators age out (~5 min);
      re-acquire via ``get_shard_iterator(AFTER_SEQUENCE_NUMBER,
      <last seen sequence>)`` and retry.  Both fakes implement
      ``AFTER_SEQUENCE_NUMBER`` so adapters can be parity-tested on
      recovery positioning.

    :class:`RetryingKinesisClient` is the in-repo adapter implementing
    both obligations (contract-tested against
    :class:`ThrottlingKinesisClient`'s deterministic fault schedules via
    ``client=fake_throttling``); a deployment wraps
    ``boto3.client("kinesis")`` with it (or with botocore's own
    retry config) before registering.
    """

    def list_shards(self, StreamName: str) -> dict:  # noqa: N803 — boto3 names
        """→ ``{"Shards": [{"ShardId": "shardId-000000000000"}, ...]}``"""
        ...

    def get_shard_iterator(
        self,
        StreamName: str,  # noqa: N803
        ShardId: str,  # noqa: N803
        ShardIteratorType: str,  # noqa: N803
        StartingSequenceNumber: str | None = None,  # noqa: N803
        Timestamp=None,  # noqa: N803 — boto3's AT_TIMESTAMP argument
    ) -> dict:
        """→ ``{"ShardIterator": <opaque token>}``.

        The connector's read loop issues only ``AT_SEQUENCE_NUMBER``
        (every read is an offset range); ``TRIM_HORIZON`` / ``LATEST`` /
        ``AT_TIMESTAMP`` (instant in ``Timestamp=``) are part of the
        contract so adapters can be parity-tested on initial-position
        resolution — see the fake client and ``_Opts.start_seq``.
        """
        ...

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:  # noqa: N803
        """→ ``{"Records": [{"SequenceNumber": str, "PartitionKey": str,
        "Data": bytes, "ApproximateArrivalTimestamp": datetime}, ...],
        "NextShardIterator": <token>, "MillisBehindLatest": int}``.

        ``MillisBehindLatest`` is REQUIRED (boto3 always returns it):
        ``sdk_read_range`` uses ``0`` on an empty page as the only
        end-of-available-data signal.  An adapter that omits it makes
        empty mid-stream pages look like the tip — plain reads would
        truncate silently there, and committed-range replays fail loudly
        instead (``require_complete``)."""
        ...


class FakeSdkKinesisClient:
    """Deterministic generator served through the boto3 wire shape.

    Record content is the SAME pure function of (seed, shard, seq) the
    direct path uses (``kinesis_sim._record``), so the two paths are
    bit-comparable.  Shard iterators are opaque ``"shard|seq"`` tokens;
    ``get_records`` pages ``Limit`` records at a time up to the published
    tip and returns a ``NextShardIterator`` exactly like the service.
    """

    def __init__(
        self,
        shards: int = 1,
        seed: int = 42,
        template: str = "orders",
        interval_ms: int = 10,
        tip: int = 1000,
        prepublished: int = 0,
        reshard_at: int | None = None,
        reshard_plan: list[dict] | None = None,
    ):
        from .kinesis_sim import shard_topology

        self.shards = shards
        self.seed = seed
        self.template = template
        self.interval_ms = interval_ms
        self.tip = tip  # records currently published per shard
        self.prepublished = prepublished  # where LATEST starts
        self.n_calls = 0  # observability for the contract tests
        #: shard index -> ShardInfo, incl. reshard children and closed flags
        self._topo = {
            t.index: t for t in shard_topology(shards, tip, reshard_at, reshard_plan)
        }

    def _shard_info(self, shard: int):
        try:
            return self._topo[shard]
        except KeyError:
            raise KeyError(f"unknown shard shardId-{shard:012d}") from None

    def _tip_of(self, shard: int) -> int:
        """Published records on ``shard`` (a closed parent's closing seq)."""
        return self._shard_info(shard).n_records

    # -- protocol ----------------------------------------------------------
    def list_shards(self, StreamName: str) -> dict:  # noqa: N803
        self.n_calls += 1
        shards = []
        for t in self._topo.values():
            entry = {"ShardId": t.shard_id}
            if t.parent is not None:
                # boto3 lineage field: consumers order parent-before-child
                entry["ParentShardId"] = f"shardId-{t.parent:012d}"
            if t.adjacent_parent is not None:
                # boto3's second lineage field: present only on a MERGE
                # child, naming the other closed parent
                entry["AdjacentParentShardId"] = f"shardId-{t.adjacent_parent:012d}"
            shards.append(entry)
        return {"Shards": shards}

    def get_shard_iterator(
        self,
        StreamName: str,  # noqa: N803
        ShardId: str,  # noqa: N803
        ShardIteratorType: str,  # noqa: N803
        StartingSequenceNumber: str | None = None,  # noqa: N803
        Timestamp=None,  # noqa: N803 — boto3's AT_TIMESTAMP argument
    ) -> dict:
        self.n_calls += 1
        shard = int(ShardId.rsplit("-", 1)[1])
        self._shard_info(shard)  # raises KeyError on an unknown shard
        if ShardIteratorType == "TRIM_HORIZON":
            seq = 0
        elif ShardIteratorType == "LATEST":
            seq = self.prepublished
        elif ShardIteratorType == "AT_SEQUENCE_NUMBER":
            if StartingSequenceNumber is None:
                raise ValueError("AT_SEQUENCE_NUMBER requires StartingSequenceNumber")
            seq = int(StartingSequenceNumber)
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            # the service's recovery position — what a consumer that saw a
            # record re-acquires from after its iterator expires (KCL and
            # the reference's FlinkKinesisConsumer both resume this way)
            if StartingSequenceNumber is None:
                raise ValueError("AFTER_SEQUENCE_NUMBER requires StartingSequenceNumber")
            seq = int(StartingSequenceNumber) + 1
        elif ShardIteratorType == "AT_TIMESTAMP":
            from .kinesis_sim import seq_at_timestamp

            if Timestamp is None:
                raise ValueError("AT_TIMESTAMP requires Timestamp")
            seq = seq_at_timestamp(Timestamp, shard, self.interval_ms)
        else:
            raise ValueError(f"unsupported ShardIteratorType {ShardIteratorType!r}")
        return {"ShardIterator": f"{shard}|{seq}"}

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:  # noqa: N803
        from .kinesis_sim import _record

        self.n_calls += 1
        shard_s, seq_s = ShardIterator.split("|")
        shard, seq = int(shard_s), int(seq_s)
        info = self._shard_info(shard)
        tip = info.n_records
        end = min(seq + Limit, tip)
        records = []
        for s in range(seq, max(seq, end)):
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
        cursor = max(seq, end)
        behind = max(0, tip - cursor) * self.interval_ms
        # a CLOSED shard (reshard parent) consumed to its closing sequence
        # ends with a null iterator — the service's shard-end signal; the
        # remainder of the stream lives on the lineage children
        closed_out = info.closed and cursor >= tip
        return {
            "Records": records,
            "NextShardIterator": None if closed_out else f"{shard}|{cursor}",
            # like the service: 0 only when the iterator is caught up to
            # the tip — the pagination-stop signal sdk_read_range keys on
            "MillisBehindLatest": behind,
        }


#: Opaque sequence numbers start here — the magnitude real Kinesis uses
#: (~56 decimal digits), so a dense ordinal handed to the opaque fake is
#: unambiguously "not a sequence number this stream ever issued".
_OPAQUE_BASE = 49590338271490256608559692538361571095921575989136588898


class OpaqueSeqKinesisClient(FakeSdkKinesisClient):
    """The deterministic generator served with REAL-shaped sequence numbers:
    opaque ~56-digit strings, strictly increasing per shard but NON-DENSE
    (consecutive records differ by a pseudorandom gap, as the service's
    do).  This is what an unadapted ``boto3.client("kinesis")`` looks like
    to the connector — and why one cannot be registered directly: the
    connector's offsets are dense ordinals, so its very first
    ``get_shard_iterator(AT_SEQUENCE_NUMBER, "40")`` names a sequence this
    stream never issued and fails loudly here (the failure mode the module
    docstring promises).  :class:`TranslatingKinesisClient` is the example
    adapter that closes the gap.
    """

    def __init__(self, **kw):
        super().__init__(**kw)
        #: per-shard cumulative opaque sequence ints, index = dense ordinal
        self._cum: dict[int, list[int]] = {}

    def _opaque(self, shard: int, ordinal: int) -> int:
        """Opaque sequence of record ``ordinal`` on ``shard`` — a running
        sum of pseudorandom positive gaps, so it is strictly increasing,
        deterministic, and non-invertible without observing the stream."""
        from .kinesis_sim import _h

        cum = self._cum.setdefault(shard, [_OPAQUE_BASE + _h(self.seed, shard, 0, "gap") % 997])
        while len(cum) <= ordinal:
            i = len(cum)
            cum.append(cum[-1] + 1 + _h(self.seed, shard, i, "gap") % 997)
        return cum[ordinal]

    def _ordinal_for(self, shard: int, seq_str: str) -> int:
        """Inverse lookup AT_SEQUENCE_NUMBER needs; rejects anything this
        stream never issued (dense ordinals land here)."""
        try:
            seq = int(seq_str)
        except ValueError:
            raise ValueError(f"malformed sequence number {seq_str!r}") from None
        tip = self._tip_of(shard)
        self._opaque(shard, max(tip - 1, 0))  # materialize up to this shard's tip
        cum = self._cum[shard]
        import bisect

        i = bisect.bisect_left(cum, seq, 0, tip)
        if i >= tip or cum[i] != seq:
            raise ValueError(
                f"sequence number {seq_str!r} was never issued by shard {shard} "
                "of this stream (dense connector ordinals are NOT service "
                "sequence numbers — adapt via TranslatingKinesisClient)"
            )
        return i

    def get_shard_iterator(
        self,
        StreamName: str,  # noqa: N803
        ShardId: str,  # noqa: N803
        ShardIteratorType: str,  # noqa: N803
        StartingSequenceNumber: str | None = None,  # noqa: N803
        Timestamp=None,  # noqa: N803
    ) -> dict:
        if ShardIteratorType in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
            if StartingSequenceNumber is None:
                raise ValueError(f"{ShardIteratorType} requires StartingSequenceNumber")
            self.n_calls += 1
            shard = int(ShardId.rsplit("-", 1)[1])
            self._shard_info(shard)  # raises KeyError on an unknown shard
            ordinal = self._ordinal_for(shard, StartingSequenceNumber)
            if ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
                ordinal += 1  # expired-iterator recovery resumes past the seen record
            return {"ShardIterator": f"{shard}|{ordinal}"}
        return super().get_shard_iterator(
            StreamName=StreamName,
            ShardId=ShardId,
            ShardIteratorType=ShardIteratorType,
            StartingSequenceNumber=StartingSequenceNumber,
            Timestamp=Timestamp,
        )

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:  # noqa: N803
        resp = super().get_records(ShardIterator=ShardIterator, Limit=Limit)
        shard = int(ShardIterator.split("|")[0])
        for r in resp["Records"]:
            r["SequenceNumber"] = str(self._opaque(shard, int(r["SequenceNumber"])))
        return resp


def merge_ledger_snapshots(base: dict, extra: dict) -> dict:
    """Union of two :meth:`TranslatingKinesisClient.ledger_snapshot`
    dicts.  Entries present on one side pass through; an ordinal present
    on both sides with the SAME opaque sequence dedups; with DIFFERENT
    sequences it raises — two observations disagreeing about the same
    position is the retention-drift signal the TRIM caveat describes
    (one of them was counted from a moved horizon), never a tie to break
    silently.  Used by ``save_ledger``'s read-merge-write so concurrent
    per-task saves sharing one ``ledger_path`` union their shards'
    entries instead of last-writer-wins dropping each other's."""
    out: dict = {}
    for sid in sorted(set(base) | set(extra)):
        merged: dict[int, str] = {}
        for snap, label in ((base, "base"), (extra, "extra")):
            entry = snap.get(sid)
            if not entry:
                continue
            for o, q in zip(entry["ordinals"], entry["sequences"]):
                o, q = int(o), str(q)
                if o in merged and merged[o] != q:
                    raise ValueError(
                        f"ledger drift on {sid}: ordinal {o} maps to "
                        f"{merged[o]!r} on one side but {q!r} on the other — "
                        "refusing to merge disagreeing snapshots (RETENTION / "
                        "TRIM CAVEAT: one side counted from a moved horizon)"
                    )
                merged[o] = q
        ords = sorted(merged)
        out[sid] = {"ordinals": ords, "sequences": [merged[o] for o in ords]}
    return out


class TranslatingKinesisClient:
    """Example production adapter: presents the connector's DENSE-ORDINAL
    contract on top of a client that speaks opaque service sequence
    numbers (``boto3.client("kinesis")``, or :class:`OpaqueSeqKinesisClient`
    in tests).  This is the wrapper the module docstring says an ``aws``
    factory must be — the ordinal↔sequence translation lives here and
    NOWHERE in the connector's offset model.

    How it translates:

    - a per-shard LEDGER maps dense ordinals to the opaque sequence
      numbers observed at those positions (sparse: page boundaries are
      recorded as reads progress);
    - ``get_shard_iterator(AT_SEQUENCE_NUMBER, "<ordinal>")`` seeds from
      the greatest ledger entry ≤ the target and fast-forwards by paging
      the inner client, counting records, until the target ordinal's
      opaque sequence is known;
    - ``get_records`` rewrites each record's ``SequenceNumber`` to its
      dense ordinal (positions are counted from the iterator's known
      ordinal) and records ledger entries as a side effect;
    - ``TRIM_HORIZON`` is ordinal 0 by definition; ``LATEST`` asks the
      INNER client for the attach point (the service decides what
      "latest" means, so ``prepublished``-style backlog semantics flow
      through) and then counts up to that position's opaque sequence;
      ``AT_TIMESTAMP`` normalizes the instant like the connector does and
      scans from the horizon (ordinals don't order by timestamp, so no
      ledger entry is safely "before" it).  The counting is the price of
      ordinal semantics on an opaque stream — real deployments PERSIST the
      ledger alongside Spark's offsets instead of recounting:
      :meth:`ledger_snapshot` / :meth:`restore_ledger` (or the
      ``ledger_path=`` load/save convenience) round-trip it as JSON, and a
      restored ledger serves ``AT_SEQUENCE_NUMBER`` without re-paging the
      stream head (proven by inner-call count in
      tests/test_kinesis_client.py).

    RETENTION / TRIM CAVEAT — why the ledger must be persisted, never
    recounted: TRIM_HORIZON is ordinal 0 *by definition*, but on a real
    stream records EXPIRE past the trim horizon — the horizon moves, so a
    horizon-anchored recount assigns the same ordinal to DIFFERENT
    records as the stream ages, and ``require_complete`` cannot detect
    the drift because the count still fills the range.  A checkpointed
    ordinal is therefore durable only together with its ledger entry (the
    OPAQUE sequence number observed at that position).  Production rule:
    for any stream with record expiry, restore a persisted ledger that
    covers the checkpointed offsets — ``strict_anchor=True`` enforces it
    on EVERY path that would otherwise count up from the horizon
    (nonzero ``AT_SEQUENCE_NUMBER`` ordinals, unanchored ``LATEST``
    attach-point resolution, and ``AT_TIMESTAMP``, whose instant→ordinal
    mapping is horizon-anchored by construction) instead of silently
    drifting.  The simulator's streams never trim, so the fakes may
    recount (``strict_anchor`` defaults False).

    Resharding note: the ledger is keyed per shard-id, and child shards
    opened by a reshard each get their own dense ordinal space starting
    at 0 (TRIM_HORIZON of a child = its first record) — shard lineage
    extends the ledger by ADDING keys, not by changing the translation
    logic.  ``kinesis_sim``'s ``reshard_at`` model exercises exactly
    this: parents close, children carry ``ParentShardId``, and the
    adapter translates each shard independently.
    """

    #: wrapper tokens retained for reuse (boto3 allows re-calling
    #: get_records with a token inside its validity window, e.g. on a
    #: transient-network retry); least-recently-USED evict past this
    #: bound (every successful get_records lookup refreshes its token's
    #: recency, so an actively paginating chain is never the victim) —
    #: analogous to the service's ~5-minute iterator expiry
    MAX_LIVE_TOKENS = 4096

    def __init__(
        self,
        inner: KinesisClient,
        ledger_path: str | None = None,
        strict_anchor: bool = False,
    ):
        self.inner = inner
        #: shard_id -> ([ordinals asc], [opaque seq strings]) parallel lists
        self._ledger: dict[str, tuple[list[int], list[str]]] = {}
        #: wrapper iterator token -> (inner_iterator|None, shard_id, next_ordinal);
        #: recency-ordered (mint appends; get_records lookups re-append)
        #: so eviction drops the least-recently-used tokens first
        self._tokens: dict[str, tuple] = {}
        self._n_tokens = 0
        self.strict_anchor = strict_anchor
        self.ledger_path = ledger_path
        if ledger_path is not None:
            import os

            if os.path.exists(ledger_path):
                import json as _json

                with open(ledger_path) as f:
                    self.restore_ledger(_json.load(f))

    # -- ledger persistence (the checkpoint story) ---------------------------
    def ledger_snapshot(self) -> dict:
        """JSON-serializable snapshot of the ordinal↔opaque-sequence
        ledger — persist it alongside Spark's checkpointed offsets (same
        commit cadence), then :meth:`restore_ledger` on task restart so
        ``AT_SEQUENCE_NUMBER`` reads seed from checkpointed positions
        instead of recounting from a (possibly trimmed) horizon."""
        return {
            sid: {"ordinals": list(ords), "sequences": list(opqs)}
            for sid, (ords, opqs) in self._ledger.items()
        }

    def restore_ledger(self, snapshot: dict) -> None:
        """Merge a :meth:`ledger_snapshot` back in (idempotent).  An
        ordinal collision where both sides agree is a no-op; a collision
        where the persisted snapshot DISAGREES with an in-memory entry
        raises — the same position mapping to two different opaque
        sequences is exactly the retention-drift signal the TRIM caveat
        describes (an in-memory entry recounted from a moved horizon vs
        the persisted-correct anchor), never a tie to break silently."""
        for sid, entry in snapshot.items():
            for o, q in zip(entry["ordinals"], entry["sequences"]):
                self._ledger_put(sid, int(o), str(q), strict=True)

    def save_ledger(self, path: str | None = None) -> str:
        """Atomically write :meth:`ledger_snapshot` to ``path`` (default:
        the ``ledger_path`` given at construction).  Call it from the
        deployment's commit hook — e.g. a StreamingQueryListener's
        onQueryProgress, the same place Spark durably owns the offsets
        the ledger anchors.

        READ-MERGE-WRITE: an existing snapshot at ``path`` is merged into
        this client's entries under the same atomic rename.  The
        documented production shape builds one client per executor read
        task sharing a single ``ledger_path`` — a whole-file replace from
        any one of them would be last-writer-wins, silently dropping the
        other shards' entries (and tripping ``strict_anchor`` loudly on
        the next restart).  Disagreement on a shared position raises (see
        :func:`merge_ledger_snapshots`).  The merge-under-rename protects
        against stale-entry LOSS; two saves racing in the same instant can
        still each miss the other's newest entries (POSIX rename offers no
        cross-process transaction) — entries are re-observed and re-saved
        on the next commit cadence, so the race is self-healing, but a
        deployment wanting zero-race saves should serialize them in its
        commit hook (the listener shape above already does).

        BATCH-READ CAVEAT: the self-healing argument requires a NEXT
        commit to re-observe the lost entries.  One-shot batch reads
        (``KinesisSimBatchReader`` saves per task) have no next cadence —
        two batch tasks racing on one ``ledger_path`` can permanently
        lose one side's entries, and ``strict_anchor`` then fails loudly
        on the next restart instead of recovering.  For batch reads with
        a shared ledger, serialize saves: write per-task temp files and
        have the driver merge them via :func:`merge_ledger_snapshots`
        (the per-shard-task layout used in tests is already disjoint, so
        single-process batch runs are safe)."""
        import json as _json
        import os

        target = path or self.ledger_path
        if target is None:
            raise ValueError("no ledger path: pass path= or construct with ledger_path=")
        snapshot = self.ledger_snapshot()
        if os.path.exists(target):
            with open(target) as f:
                snapshot = merge_ledger_snapshots(snapshot, _json.load(f))
        tmp = f"{target}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            _json.dump(snapshot, f)
        os.replace(tmp, target)
        return target

    # -- ledger -------------------------------------------------------------
    def _ledger_put(
        self, shard_id: str, ordinal: int, opaque: str, strict: bool = False
    ) -> None:
        import bisect

        ords, opqs = self._ledger.setdefault(shard_id, ([], []))
        i = bisect.bisect_left(ords, ordinal)
        if i < len(ords) and ords[i] == ordinal:
            if strict and opqs[i] != opaque:
                raise ValueError(
                    f"ledger drift on {shard_id}: ordinal {ordinal} maps to "
                    f"{opqs[i]!r} in memory but {opaque!r} in the restored "
                    "snapshot — an in-memory entry counted from a moved trim "
                    "horizon disagrees with the persisted anchor (RETENTION / "
                    "TRIM CAVEAT); discard the drifted client state and "
                    "rebuild from the persisted ledger"
                )
            return
        ords.insert(i, ordinal)
        opqs.insert(i, opaque)

    def _best_known(self, shard_id: str, target: int) -> tuple[int, str | None]:
        """Greatest ledger entry ≤ target; (0, None) = TRIM_HORIZON."""
        import bisect

        ords, opqs = self._ledger.get(shard_id, ([], []))
        i = bisect.bisect_right(ords, target) - 1
        if i < 0:
            return 0, None
        return ords[i], opqs[i]

    def _require_anchor(self, shard_id: str, seed: tuple, what: str) -> None:
        """strict_anchor gate for EVERY path that would count ordinals up
        from TRIM_HORIZON (retention/trim caveat, class docstring): an
        unanchored scan on a trimming stream assigns drifted ordinals with
        no error, so strict mode refuses it up front."""
        if self.strict_anchor and seed[1] is None:
            raise ValueError(
                f"strict_anchor: resolving {what} on {shard_id} would recount "
                "ordinals from TRIM_HORIZON (no ledger anchor) — on a stream "
                "with record expiry the horizon moves and horizon-counted "
                "ordinals silently drift; restore a persisted ledger covering "
                "this position first (ledger_snapshot/restore_ledger)"
            )

    def _mint(self, inner_it, shard_id: str, next_ordinal: int) -> str:
        self._n_tokens += 1
        tok = f"xlate-{self._n_tokens}"
        self._tokens[tok] = (inner_it, shard_id, next_ordinal)
        while len(self._tokens) > self.MAX_LIVE_TOKENS:
            # evict the LRU head — get_records' pop/reinsert touch keeps
            # in-flight chains at the tail, so only idle tokens age out
            self._tokens.pop(next(iter(self._tokens)))
        return tok

    def _inner_at(self, stream: str, shard_id: str, opaque: str | None):
        """Inner iterator at an opaque sequence (None = TRIM_HORIZON)."""
        if opaque is None:
            return self.inner.get_shard_iterator(
                StreamName=stream, ShardId=shard_id, ShardIteratorType="TRIM_HORIZON"
            )["ShardIterator"]
        return self.inner.get_shard_iterator(
            StreamName=stream,
            ShardId=shard_id,
            ShardIteratorType="AT_SEQUENCE_NUMBER",
            StartingSequenceNumber=opaque,
        )["ShardIterator"]

    def _best_known_below_opaque(self, shard_id: str, opaque: int) -> tuple[int, str | None]:
        """Greatest ledger entry whose OPAQUE sequence is < ``opaque``
        (opaque sequences are monotone in the ordinal, so this is the
        latest safely-before seed for an opaque-keyed stop condition)."""
        ords, opqs = self._ledger.get(shard_id, ([], []))
        best: tuple[int, str | None] = (0, None)
        for o, q in zip(ords, opqs):
            if int(q) < opaque:
                best = (o, q)
            else:
                break
        return best

    def _scan_forward(self, stream: str, shard_id: str, stop, seed: tuple[int, str | None]) -> str:
        """Page the inner client from ``seed`` (a (ordinal, opaque|None)
        ledger position; None = TRIM_HORIZON) until ``stop(ordinal,
        record) -> bool`` fires on a record (return a wrapper token
        positioned AT that record) or the tip is reached (token positioned
        at the tip).  The seed must be a position where ``stop`` has NOT
        yet fired — callers pick it from the ledger by whatever ordering
        their stop condition respects (ordinal cap for AT_SEQUENCE_NUMBER,
        opaque cap for LATEST's attach-point lookup, the horizon for
        AT_TIMESTAMP whose instant doesn't order the ledger).  Same
        hang-proofing rules as ``sdk_read_range``: empty page behind the
        tip = keep paging, bounded; empty page at MillisBehindLatest 0 =
        tip."""
        ord0, opq0 = seed
        it = self._inner_at(stream, shard_id, opq0)
        cur = ord0
        empty_streak = 0
        while it is not None:
            resp = self.inner.get_records(ShardIterator=it, Limit=10000)
            records = resp.get("Records", [])
            if records:
                empty_streak = 0
                self._ledger_put(shard_id, cur, records[0]["SequenceNumber"])
                for k, r in enumerate(records):
                    if stop(cur + k, r):
                        opaque = r["SequenceNumber"]
                        self._ledger_put(shard_id, cur + k, opaque)
                        return self._mint(
                            self._inner_at(stream, shard_id, opaque), shard_id, cur + k
                        )
                cur += len(records)
                self._ledger_put(shard_id, cur - 1, records[-1]["SequenceNumber"])
            else:
                if resp.get("MillisBehindLatest", 0) == 0:
                    # tip: mint around the page's NextShardIterator, not the
                    # iterator just consumed — a real backend may treat the
                    # already-used token as expired on the next get_records
                    it = resp.get("NextShardIterator")
                    break
                empty_streak += 1
                if empty_streak >= 10_000:
                    raise RuntimeError(
                        f"{shard_id}: inner client not progressing during "
                        "ordinal fast-forward"
                    )
            it = resp.get("NextShardIterator")
        return self._mint(it, shard_id, cur)

    # -- KinesisClient protocol ----------------------------------------------
    def list_shards(self, StreamName: str) -> dict:  # noqa: N803
        return self.inner.list_shards(StreamName=StreamName)

    def get_shard_iterator(
        self,
        StreamName: str,  # noqa: N803
        ShardId: str,  # noqa: N803
        ShardIteratorType: str,  # noqa: N803
        StartingSequenceNumber: str | None = None,  # noqa: N803
        Timestamp=None,  # noqa: N803
    ) -> dict:
        if ShardIteratorType == "TRIM_HORIZON":
            it = self._inner_at(StreamName, ShardId, None)
            return {"ShardIterator": self._mint(it, ShardId, 0)}
        if ShardIteratorType == "AT_SEQUENCE_NUMBER":
            if StartingSequenceNumber is None:
                raise ValueError("AT_SEQUENCE_NUMBER requires StartingSequenceNumber")
            target = int(StartingSequenceNumber)  # a dense connector ordinal
            known, opq = self._best_known(ShardId, target)
            if known == target and opq is not None:
                return {
                    "ShardIterator": self._mint(
                        self._inner_at(StreamName, ShardId, opq), ShardId, target
                    )
                }
            # fast-forward count from the best known position to the target
            seed = self._best_known(ShardId, target)
            if target > 0:
                # (ordinal 0 IS the horizon by definition -- always allowed)
                self._require_anchor(ShardId, seed, f"ordinal {target}")
            return {
                "ShardIterator": self._scan_forward(
                    StreamName,
                    ShardId,
                    lambda o, _r: o >= target,
                    seed=seed,
                )
            }
        if ShardIteratorType == "LATEST":
            # DELEGATE the attach point to the inner client (the service
            # decides what "latest" is — resolving it locally by scanning
            # to the tip would both race new arrivals and ignore the
            # backend's own semantics), then learn that position's ordinal
            # by peeking its first record and counting up to its opaque
            # sequence from the best safely-before ledger entry.
            inner_lt = self.inner.get_shard_iterator(
                StreamName=StreamName, ShardId=ShardId, ShardIteratorType="LATEST"
            )["ShardIterator"]
            peek = self.inner.get_records(ShardIterator=inner_lt, Limit=1)
            recs = peek.get("Records", [])
            if not recs:
                # nothing published at/after the attach point yet — the
                # attach ordinal is the current record count (scan to tip)
                seed = self._best_known(ShardId, 2**62)
                self._require_anchor(ShardId, seed, "LATEST (attach at tip)")
                return {
                    "ShardIterator": self._scan_forward(
                        StreamName,
                        ShardId,
                        lambda _o, _r: False,
                        seed=seed,
                    )
                }
            attach = int(recs[0]["SequenceNumber"])
            seed = self._best_known_below_opaque(ShardId, attach)
            self._require_anchor(ShardId, seed, "LATEST (attach-point ordinal)")
            return {
                "ShardIterator": self._scan_forward(
                    StreamName,
                    ShardId,
                    lambda _o, r: int(r["SequenceNumber"]) >= attach,
                    seed=seed,
                )
            }
        if ShardIteratorType == "AT_TIMESTAMP":
            if Timestamp is None:
                raise ValueError("AT_TIMESTAMP requires Timestamp")
            # normalize to aware-UTC exactly as the connector/_Opts does:
            # boto3's Timestamp accepts ISO strings, epoch numbers, and
            # (naive = UTC) datetimes — comparing the raw value against the
            # records' aware datetimes would TypeError on all but one form
            from .kinesis_sim import _parse_start_timestamp

            target_ts = _parse_start_timestamp(Timestamp)

            def _at_or_after(_o, r):
                ts = r["ApproximateArrivalTimestamp"]
                if ts.tzinfo is None:
                    from datetime import timezone

                    ts = ts.replace(tzinfo=timezone.utc)
                return ts >= target_ts

            self._require_anchor(ShardId, (0, None), f"AT_TIMESTAMP {Timestamp!r}")
            return {
                "ShardIterator": self._scan_forward(
                    StreamName, ShardId, _at_or_after, seed=(0, None)
                )
            }
        raise ValueError(f"unsupported ShardIteratorType {ShardIteratorType!r}")

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:  # noqa: N803
        try:
            # looked up WITHOUT dropping — boto3 semantics let a caller
            # retry get_records with the same token inside its validity
            # window (a dropped token would turn a transient-network retry
            # into a hard "unknown iterator" failure); growth is bounded
            # by MAX_LIVE_TOKENS least-recently-USED eviction: the
            # pop/reinsert moves this token to the dict's end, so a
            # long-lived client interleaving reads across many shards
            # never evicts a still-in-flight pagination chain (only
            # tokens nobody has touched for MAX_LIVE_TOKENS mints go)
            entry = self._tokens[ShardIterator] = self._tokens.pop(ShardIterator)
            inner_it, shard_id, next_ordinal = entry
        except KeyError:
            raise ValueError(f"unknown or expired iterator {ShardIterator!r}") from None
        if inner_it is None:
            return {"Records": [], "NextShardIterator": None, "MillisBehindLatest": 0}
        resp = self.inner.get_records(ShardIterator=inner_it, Limit=Limit)
        records = resp.get("Records", [])
        out = []
        for k, r in enumerate(records):
            out.append({**r, "SequenceNumber": str(next_ordinal + k)})
        if records:
            self._ledger_put(shard_id, next_ordinal, records[0]["SequenceNumber"])
            self._ledger_put(
                shard_id, next_ordinal + len(records) - 1, records[-1]["SequenceNumber"]
            )
        nxt = resp.get("NextShardIterator")
        return {
            "Records": out,
            "NextShardIterator": (
                None if nxt is None else self._mint(nxt, shard_id, next_ordinal + len(records))
            ),
            "MillisBehindLatest": resp.get("MillisBehindLatest", 0),
        }


class KinesisClientError(Exception):
    """botocore ``ClientError``-shaped exception (``.response["Error"]
    ["Code"]``) so fault-handling code written against this fake handles
    a real boto3 client unchanged — both are matched by :func:`error_code`,
    never by exception TYPE (botocore isn't importable here)."""

    def __init__(self, code: str, message: str):
        self.response = {"Error": {"Code": code, "Message": message}}
        super().__init__(f"{code}: {message}")


def error_code(exc: BaseException) -> str | None:
    """The AWS error code of ``exc`` (this module's
    :class:`KinesisClientError` or a real ``botocore.exceptions.ClientError``
    — both carry ``.response["Error"]["Code"]``), else ``None``."""
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        err = resp.get("Error")
        if isinstance(err, dict):
            code = err.get("Code")
            return str(code) if code is not None else None
    return None


class ThrottlingKinesisClient:
    """Fault-injecting decorator over any :class:`KinesisClient`:
    deterministic ``ProvisionedThroughputExceededException`` and
    ``ExpiredIteratorException`` schedules, for contract-testing the
    adapter retry obligations the protocol docstring states.

    ``throttle_every=k``: every k-th ``get_records`` call (counting
    retries — so a retried call lands on a NEW schedule slot and
    succeeds, unless k=1 which throttles forever, the
    retry-exhaustion case) raises throughput-exceeded.
    ``expire_every=m``: every m-th call poisons the presented iterator
    and raises expired; the poisoned token STAYS expired (as the
    service's do), so a blind same-token retry keeps failing — only
    re-acquisition via ``get_shard_iterator`` recovers, which is what
    the contract tests prove.

    Iterator tokens are wrapped with a per-issuance nonce (``raw#n``)
    before leaving this class, mirroring the service's unique opaque
    blobs — without it, a re-acquired iterator at the same position
    would collide with its own poisoned predecessor.
    """

    def __init__(self, inner, throttle_every: int = 0, expire_every: int = 0):
        self.inner = inner
        self.throttle_every = int(throttle_every)
        self.expire_every = int(expire_every)
        self.n_get_records = 0  # schedule clock (includes faulted calls)
        self.n_throttles_injected = 0
        self.n_expiries_injected = 0
        self._n_tokens = 0
        self._expired: set[str] = set()

    def _wrap(self, raw: str | None) -> str | None:
        if raw is None:
            return None
        self._n_tokens += 1
        return f"{raw}#{self._n_tokens}"

    # -- protocol ----------------------------------------------------------
    def list_shards(self, StreamName: str) -> dict:  # noqa: N803
        return self.inner.list_shards(StreamName=StreamName)

    def get_shard_iterator(self, **kw) -> dict:
        resp = self.inner.get_shard_iterator(**kw)
        return {"ShardIterator": self._wrap(resp.get("ShardIterator"))}

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:  # noqa: N803
        if ShardIterator in self._expired:
            # poisoned tokens stay dead without consuming schedule slots
            raise KinesisClientError(
                "ExpiredIteratorException", f"iterator {ShardIterator!r} has expired"
            )
        self.n_get_records += 1
        n = self.n_get_records
        if self.throttle_every and n % self.throttle_every == 0:
            self.n_throttles_injected += 1
            raise KinesisClientError(
                "ProvisionedThroughputExceededException",
                f"Rate exceeded for shard (injected, call {n})",
            )
        if self.expire_every and n % self.expire_every == 0:
            self._expired.add(ShardIterator)
            self.n_expiries_injected += 1
            raise KinesisClientError(
                "ExpiredIteratorException",
                f"Iterator expired (injected, call {n})",
            )
        raw = ShardIterator.rsplit("#", 1)[0]
        resp = self.inner.get_records(ShardIterator=raw, Limit=Limit)
        resp["NextShardIterator"] = self._wrap(resp.get("NextShardIterator"))
        return resp


class RetryingKinesisClient:
    """The production retry adapter (protocol docstring, RETRY
    OBLIGATIONS): exponential backoff on throughput-exceeded, iterator
    re-acquisition on expiry — the behavior the reference inherits from
    FlinkKinesisConsumer (StreamingJob.java:26-41: the consumer survives
    throttling and expired iterators; the job never sees them).

    Re-acquisition bookkeeping: every token this adapter hands out is
    remembered with enough origin to recreate it — the original
    ``get_shard_iterator`` kwargs for a fresh token, or
    ``(AFTER_SEQUENCE_NUMBER, last sequence served)`` once records have
    flowed.  Tokens are single-use (the read loop's contract — each is
    consumed by exactly one ``get_records``); origins are evicted on
    use so the map stays O(live iterators).  A token that did NOT come
    from this adapter has no origin and its expiry re-raises (nothing
    safe to re-acquire from).

    ``sleep`` is injectable so contract tests run at full speed while
    recording the backoff schedule."""

    def __init__(
        self,
        inner,
        max_retries: int = 10,
        base_backoff_ms: float = 100.0,
        max_backoff_ms: float = 10_000.0,
        sleep=None,
    ):
        import time as _time

        self.inner = inner
        self.max_retries = int(max_retries)
        self.base_backoff_ms = float(base_backoff_ms)
        self.max_backoff_ms = float(max_backoff_ms)
        self._sleep = sleep if sleep is not None else _time.sleep
        self.n_throttle_retries = 0
        self.n_reacquisitions = 0
        #: live token -> get_shard_iterator kwargs that recreate it
        self._origin: dict[str, dict] = {}

    def _call(self, fn, **kw):
        """Invoke ``fn`` with backoff-and-retry on throughput-exceeded;
        any other exception (including the last throttle) propagates."""
        for attempt in range(self.max_retries + 1):
            try:
                return fn(**kw)
            except Exception as e:
                if (
                    error_code(e) != "ProvisionedThroughputExceededException"
                    or attempt == self.max_retries
                ):
                    raise
                self.n_throttle_retries += 1
                backoff_ms = min(self.base_backoff_ms * 2**attempt, self.max_backoff_ms)
                self._sleep(backoff_ms / 1000.0)
        raise AssertionError("unreachable")  # loop returns or raises

    # -- protocol ----------------------------------------------------------
    def list_shards(self, StreamName: str) -> dict:  # noqa: N803
        return self._call(self.inner.list_shards, StreamName=StreamName)

    def get_shard_iterator(self, **kw) -> dict:
        resp = self._call(self.inner.get_shard_iterator, **kw)
        tok = resp.get("ShardIterator")
        if tok is not None:
            self._origin[tok] = dict(kw)
        return resp

    def get_records(self, ShardIterator: str, Limit: int = 10000) -> dict:  # noqa: N803
        token = ShardIterator
        for _ in range(self.max_retries + 1):
            try:
                resp = self._call(self.inner.get_records, ShardIterator=token, Limit=Limit)
            except Exception as e:
                if error_code(e) != "ExpiredIteratorException":
                    raise
                origin = self._origin.pop(token, None)
                if origin is None:
                    raise  # unknown token: no safe position to re-acquire from
                self.n_reacquisitions += 1
                token = self.get_shard_iterator(**origin)["ShardIterator"]
                continue
            origin = self._origin.pop(token, None)
            nxt = resp.get("NextShardIterator")
            if nxt is not None:
                if resp.get("Records") and origin is not None:
                    # resume past the last record actually served — the
                    # service's AFTER_SEQUENCE_NUMBER recovery position
                    self._origin[nxt] = {
                        "StreamName": origin.get("StreamName"),
                        "ShardId": origin.get("ShardId"),
                        "ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
                        "StartingSequenceNumber": str(resp["Records"][-1]["SequenceNumber"]),
                    }
                elif origin is not None:
                    # empty page: the next token still stands at the same
                    # position this one did
                    self._origin[nxt] = origin
            return resp
        raise RuntimeError(
            f"shard iterator expired {self.max_retries + 1} times in one read — "
            "backend is expiring faster than re-acquisition can progress"
        )


def _fake_sdk_factory(opts) -> FakeSdkKinesisClient:
    """Build the fake client from a validated ``kinesis_sim`` option bag."""
    return FakeSdkKinesisClient(
        shards=opts.shards,
        seed=opts.seed,
        template=opts.template,
        interval_ms=opts.interval_ms,
        tip=opts.records_per_shard,
        prepublished=opts.prepublished,
        reshard_at=opts.reshard_at,
        reshard_plan=opts.reshard_plan,
    )


def _fake_opaque_factory(opts) -> TranslatingKinesisClient:
    """The full adapter stack under test: an opaque-sequence backend (what
    boto3 looks like) behind the translating wrapper.  Without a
    ``ledger_path`` option, ledger state is per-task (each executor read
    builds a fresh client from the pickled option bag), so a cold task
    recounts from TRIM_HORIZON — acceptable for the simulator's stream
    depths.  With ``ledger_path`` (and optionally ``strict_anchor=true``)
    the factory builds the PRODUCTION shape: the persisted ledger loads at
    construction, the connector's readers save it back (read-merge-write)
    after each completed range, and strict mode refuses horizon recounts —
    the same wiring a boto3-backed ``aws`` factory uses
    (docs/MIGRATION.md)."""
    return TranslatingKinesisClient(
        OpaqueSeqKinesisClient(
            shards=opts.shards,
            seed=opts.seed,
            template=opts.template,
            interval_ms=opts.interval_ms,
            tip=opts.records_per_shard,
            prepublished=opts.prepublished,
            reshard_at=opts.reshard_at,
            reshard_plan=opts.reshard_plan,
        ),
        ledger_path=opts.ledger_path,
        strict_anchor=opts.strict_anchor,
    )


#: name → factory(validated _Opts) → KinesisClient.  Factories run on the
#: EXECUTOR (inside DataSourceReader.read), so a factory must construct its
#: client from the pickled option bag alone — no driver-side session state.
def _fake_throttling_factory(opts) -> RetryingKinesisClient:
    """The retry-obligation stack under contract test: the deterministic
    generator behind injected service faults
    (:class:`ThrottlingKinesisClient`, schedules from the
    ``throttle_every`` / ``expire_every`` read options) behind the
    production retry adapter (:class:`RetryingKinesisClient`).  A read
    through ``client=fake_throttling`` must be bit-identical to one
    through ``client=fake_sdk`` — throttles and expiries are absorbed by
    the adapter, exactly what a deployment expects of its boto3 wrapper
    under real service faults.  Backoff is real ``time.sleep`` but the
    option default is 1 ms — the schedule shape, not the wall-clock, is
    what the seam proves."""
    return RetryingKinesisClient(
        ThrottlingKinesisClient(
            _fake_sdk_factory(opts),
            throttle_every=opts.throttle_every,
            expire_every=opts.expire_every,
        ),
        max_retries=opts.fault_max_retries,
        base_backoff_ms=opts.fault_backoff_ms,
    )


CLIENT_FACTORIES: dict[str, object] = {
    "fake_sdk": _fake_sdk_factory,
    "fake_opaque": _fake_opaque_factory,
    "fake_throttling": _fake_throttling_factory,
}


def register_client_factory(name: str, factory) -> None:
    """Register a client backend (e.g. ``"aws"`` → boto3) for
    ``client=<name>`` reads.

    Executor visibility: Data Source readers run in Python WORKER
    processes that re-import this module, so a factory registered at
    driver runtime is not automatically visible there.  Register from
    module import (as the built-in ``fake_sdk`` and conditional ``aws``
    factories are) — e.g. put the ``register_client_factory`` call in a
    module shipped to executors and imported by your job — the same
    packaging rule Spark applies to UDF dependencies.  Factories must
    also build their client from the pickled option bag alone (no driver
    session state), since construction happens inside the read task.

    The checkpointed production shape (see docs/MIGRATION.md "Real AWS")::

        def _aws(opts):
            return TranslatingKinesisClient(
                boto3.client("kinesis", region_name="us-west-2"),
                # honor the read options; default next to the checkpoints
                ledger_path=opts.ledger_path
                or f"/mnt/checkpoints/{opts.stream_name}.ledger.json",
                strict_anchor=True,  # refuse horizon recounts — streams trim
            )
        register_client_factory("aws", _aws)

    ``ledger_path`` restores the persisted ordinal↔sequence ledger at
    construction; the connector's readers call ``save_ledger()``
    (read-merge-write) after each completed range / micro-batch, so the
    ledger persists at the same cadence Spark durably owns the offsets —
    pass ``ledger_path`` (and ``strict_anchor=true``) as READ OPTIONS and
    the validated option bag carries them to the factory, exactly as the
    in-repo ``fake_opaque`` factory demonstrates.  ``strict_anchor=True``
    makes an unanchored ordinal a loud error instead of a silent
    retention-drift (TranslatingKinesisClient docstring, RETENTION / TRIM
    CAVEAT).
    """
    CLIENT_FACTORIES[name] = factory


# No "aws" factory ships pre-registered: a raw boto3 client speaks the
# same wire shape but uses opaque service sequence numbers where the
# connector uses dense ordinals (module docstring) — registering it
# unadapted would fail on the first get_shard_iterator (proven against
# OpaqueSeqKinesisClient in tests/test_kinesis_client.py).  A deployment
# registers `lambda opts: TranslatingKinesisClient(boto3.client("kinesis"))`
# (plus ledger checkpointing) from a module imported on the executors;
# see register_client_factory and the fake_opaque factory below.


def sdk_read_range(
    client: KinesisClient,
    stream_name: str,
    shard: int,
    start: int,
    end: int,
    page_limit: int = 10000,
    require_complete: bool = False,
) -> list[tuple]:
    """Read [start, end) from one shard through the SDK surface, returning
    the connector's wire tuples (shard_id, seq, partition_key, data,
    arrival_ts).

    This is the ONE function both readers route every range through when
    a ``client`` is set (via ``kinesis_sim._fetch``) — offset semantics
    (half-open ranges keyed by next-sequence-number) live here once, so
    the generator-backed fake and a service-backed client are
    interchangeable by construction.  Pagination follows
    NextShardIterator, bounded by the *cursor*, not the call count; an
    EMPTY page does NOT mean end-of-data (real Kinesis routinely returns
    empty pages with a live iterator while traversing aged or sparse
    stream segments) — the loop stops only at a null iterator or an
    empty page with ``MillisBehindLatest == 0`` (caught up to the tip).

    ``require_complete=True`` is the checkpoint-REPLAY contract: a
    committed range that cannot be fully served is an error (the task
    fails loudly and Spark retries), never a silent truncation — an
    exactly-once sink downstream would otherwise commit a batch missing
    rows.  Plain reads leave it False: stopping at the tip is the normal
    "that's all that exists yet" outcome.
    """
    shard_id = f"shardId-{shard:012d}"
    if end <= start:
        return []
    it = client.get_shard_iterator(
        StreamName=stream_name,
        ShardId=shard_id,
        ShardIteratorType="AT_SEQUENCE_NUMBER",
        StartingSequenceNumber=str(start),
    )["ShardIterator"]
    out: list[tuple] = []
    cursor = start
    empty_streak = 0
    saw_past_end = False
    while cursor < end and it is not None and not saw_past_end:
        resp = client.get_records(ShardIterator=it, Limit=min(page_limit, end - cursor))
        records = resp.get("Records", [])
        for r in records:
            seq = int(r["SequenceNumber"])
            if seq >= end:
                # Sequence numbers are monotonic within and across pages, so
                # a record at/past `end` means nothing below `end` remains —
                # stop the WHOLE read, not just this page.  Without this, a
                # backend whose page skips past `end` (cursor still < end,
                # non-empty pages resetting empty_streak) would page forever.
                saw_past_end = True
                break
            out.append(
                (
                    shard_id,
                    seq,
                    r["PartitionKey"],
                    r["Data"].decode("utf-8"),
                    r["ApproximateArrivalTimestamp"],
                )
            )
            cursor = seq + 1
        if records:
            empty_streak = 0
        else:
            if resp.get("MillisBehindLatest", 0) == 0:
                break  # caught up to the shard tip before `end`
            # empty page behind the tip = keep paging (iterator traverses
            # an aged/sparse segment) — but bound the streak so a
            # misbehaving backend that returns empty pages without ever
            # advancing fails the task instead of hanging it forever.
            # Legit aged-gap traversal advances the iterator each call;
            # 10k consecutive empties (~100M skipped positions at the
            # default Limit) is pathological.  Rate limiting / backoff
            # between pages is the adapter's concern (it owns the
            # network), not this loop's.
            empty_streak += 1
            if empty_streak >= 10_000:
                raise RuntimeError(
                    f"{shard_id}: {empty_streak} consecutive empty pages behind the "
                    f"tip without reaching sequence {end} — backend is not progressing"
                )
        it = resp.get("NextShardIterator")
    if require_complete and cursor < end:
        raise RuntimeError(
            f"replay of committed range [{start}, {end}) on {shard_id} stopped at "
            f"{cursor}: the backend no longer serves part of a committed range — "
            "failing loudly rather than silently dropping committed records"
        )
    return out
