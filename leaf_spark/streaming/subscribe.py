"""Live query subscriptions — parity with reference A12/A13
(leaf-stream/src/lib.rs:344-389 register, 873-986 worker loop).

Semantics preserved:

- initial cursor: ``start - 1`` when the query carries a start, else the
  stream head → default is *new events only* (lib.rs:363-369);
- each update re-runs the query with ``start = latest_event + 1``
  (``LeafQuery.update_for_subscription``);
- ``query_last_event = min(query.last_event(), stream_latest)``;
  ``has_more = query_last_event < stream_latest`` → the worker re-enqueues
  itself, which drives backfill paging exactly like the reference's
  self-scheduling drain loop (lib.rs:926-983);
- errors are forwarded into the subscription channel, not torn down
  (lib.rs:965-979);
- bounded channels (12 results / 16 worker messages, lib.rs:337,355,879).

The worker is a daemon thread per stream (the reference's tokio task); at
scale each re-run is an ordinary distributed Spark job over the same
materialized views, so a thousand concurrent subscriptions are a thousand
small incremental queries — the engine the reference delegates to is SQLite,
ours is Catalyst.
"""

from __future__ import annotations

import queue
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from ..stream import Stream
from ..types import LeafQuery

RESULT_CHANNEL_CAPACITY = 12  # lib.rs:355
WORKER_CHANNEL_CAPACITY = 16  # lib.rs:337
# emit backpressure: retry with exponential backoff instead of dropping
# (reference connection.rs:448-474: 10 ms doubling to 1 s while the client
# stays connected); EMIT_DEADLINE bounds a consumer that never drains.
EMIT_BASE_DELAY = 0.01
EMIT_MAX_DELAY = 1.0
EMIT_DEADLINE = 5.0


@dataclass
class SubscriptionResponse:
    rows: list[dict]
    has_more: bool
    error: str | None = None
    # cursor AFTER this batch (the sub's latest_event at emit time) — lets a
    # relay consumer (sharding.py mirrors) track exactly-once continuation
    # points; None on error responses (the cursor did not advance)
    latest_event: int | None = None


@dataclass
class ActiveSubscription:
    sub_id: str
    user: str | None
    query: LeafQuery
    latest_event: int
    # the cursor at REGISTRATION, before any service cycle ran — the only
    # safe resume point for a consumer that has received zero batches
    # (latest_event may already reflect batches still queued un-relayed)
    initial_latest: int = 0
    channel: "queue.Queue[SubscriptionResponse]" = field(
        default_factory=lambda: queue.Queue(maxsize=RESULT_CHANNEL_CAPACITY)
    )


@dataclass
class StreamUpdate:
    kind: str  # 'new_events' | 'state_changed'
    latest_idx: int = 0


class SubscriptionWorker:
    """Per-stream worker: fans out updates + re-runs active subscriptions."""

    def __init__(self, stream: Stream):
        self.stream = stream
        self.subs: dict[str, ActiveSubscription] = {}
        self.update_channels: list[queue.Queue] = []
        self._msgs: "queue.Queue[Any]" = queue.Queue(maxsize=WORKER_CHANNEL_CAPACITY)
        self._lock = threading.Lock()
        self._unhook = stream.on_update(self._on_stream_update)
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._stopped = False
        self._thread.start()

    # -- A13: stream-update pub/sub -----------------------------------------

    def subscribe_updates(self) -> queue.Queue:
        ch: queue.Queue = queue.Queue(maxsize=RESULT_CHANNEL_CAPACITY)
        with self._lock:
            self.update_channels.append(ch)
        return ch

    def _on_stream_update(self, latest_idx: int) -> None:
        try:
            self._msgs.put_nowait(("updated", latest_idx))
        except queue.Full:
            pass  # a queued update will observe the newer head anyway

    # -- A12: live query subscriptions ---------------------------------------

    def subscribe_events(self, user: str | None, q: LeafQuery) -> ActiveSubscription:
        """Register; default = new-events-only; explicit start → backfill."""
        with self._lock:
            head = self.stream.state.latest_idx
            latest = (q.start - 1) if q.start is not None else head
            sub = ActiveSubscription(
                uuid.uuid4().hex, user, q, latest, initial_latest=latest
            )
            self.subs[sub.sub_id] = sub
        self._msgs.put(("needs_update", sub.sub_id))
        return sub

    def unsubscribe(self, sub_id: str) -> None:
        with self._lock:
            self.subs.pop(sub_id, None)

    def adopt(
        self, sub_id: str, user: str | None, q: LeafQuery, latest_event: int
    ) -> ActiveSubscription:
        """Recreate a subscription migrated from another shard with its
        cursor intact (sharding.py live stream moves). The immediate
        needs_update is a no-op when the stream head hasn't advanced —
        _service's idle pre-check returns before emitting — so adoption
        never duplicates batches the source shard already delivered."""
        with self._lock:
            if sub_id in self.subs:
                raise ValueError(f"subscription {sub_id} already active")
            sub = ActiveSubscription(
                sub_id, user, q, latest_event, initial_latest=latest_event
            )
            self.subs[sub_id] = sub
        self._msgs.put(("needs_update", sub_id))
        return sub

    def quiesce(self, timeout: float = 10.0) -> bool:
        """Barrier: returns once every message enqueued before the call —
        including any in-flight _service — has been processed. Used by the
        shard release path to guarantee no further enqueues land on a
        subscription channel after its cursor is exported."""
        done = threading.Event()
        self._msgs.put(("barrier", done))
        return done.wait(timeout)

    # -- worker loop (lib.rs:888-985) ----------------------------------------

    def _emit(self, ch: queue.Queue, item: Any) -> bool:
        """Bounded-backoff put (reference retry loop, connection.rs:448-474):
        10 ms doubling to 1 s; gives up only after EMIT_DEADLINE of
        continuous backpressure (≈ the reference's disconnected-client
        bailout) or worker shutdown."""
        delay = EMIT_BASE_DELAY
        deadline = time.monotonic() + EMIT_DEADLINE
        while not self._stopped:
            try:
                ch.put(item, timeout=delay)
                return True
            except queue.Full:
                if time.monotonic() >= deadline:
                    return False
                delay = min(delay * 2, EMIT_MAX_DELAY)
        return False

    def _run(self) -> None:
        # dedicated worker thread → pin it to the stream's FAIR pool once:
        # re-query collect()s submitted here schedule fairly against other
        # streams' commit chains instead of FIFO-queueing behind them
        try:
            self.stream._scheduler_pool()
        except Exception:
            pass  # scheduling is an optimization, never a failure mode
        while not self._stopped:
            try:
                msg = self._msgs.get(timeout=0.25)
            except queue.Empty:
                continue
            kind, arg = msg
            if kind == "stop":
                return
            if kind == "barrier":
                arg.set()
                continue
            if kind == "updated":
                with self._lock:
                    chans = list(self.update_channels)
                    sub_ids = list(self.subs)
                upd = StreamUpdate("new_events", arg)
                for ch in chans:
                    self._emit(ch, upd)
                # one update cycle services every subscription; identical
                # (user, shifted-query) pairs share ONE engine execution —
                # N clients watching the same feed (the common fan-out
                # shape) cost one query per commit, not N, and the last
                # subscriber's push latency stops growing with N
                memo: dict = {}
                for sid in sub_ids:
                    self._service(sid, memo)
            elif kind == "needs_update":
                self._service(arg)

    def _service(self, sub_id: str, memo: dict | None = None) -> None:
        with self._lock:
            sub = self.subs.get(sub_id)
        if sub is None:
            return
        if sub.latest_event >= self.stream.state.latest_idx:
            return  # cheap idle pre-check (no stream lock taken)
        q2 = sub.query.update_for_subscription(sub.latest_event + 1)
        try:
            key = (
                sub.user,
                q2.name,
                q2.start,
                q2.limit,
                tuple(sorted(q2.params.items())),
            )
            hash(key)
        except TypeError:  # unhashable param value → no sharing for this sub
            key, memo = None, None
        try:
            if memo is not None and key in memo:
                rows, stream_latest = memo[key]
            else:
                # head capture + query execution must be ATOMIC against
                # commits (the stream RLock serializes add_events): the
                # query reads the LIVE materialized table, so a commit
                # landing mid-query would deliver rows beyond a
                # previously-captured head while min() clamps the cursor
                # below them → the next page re-delivers that tail
                # (duplicates; caught by the compaction×subscription
                # interleaving property test). The reference never meets
                # this because its SQLite query + head read share one
                # serialized connection (lib.rs:926-983). The memo stores
                # the (rows, head) PAIR for the same reason — reusing
                # rows against a fresher head would overshoot the cursor
                # and LOSE events for the sharing subscriber.
                with self.stream._lock:
                    stream_latest = self.stream.state.latest_idx
                    rows = self.stream.query(sub.user, q2)
                if memo is not None:
                    memo[key] = (rows, stream_latest)
        except Exception as ex:  # error forwarding, not teardown
            self._emit(sub.channel, SubscriptionResponse([], False, error=str(ex)[:500]))
            return
        if sub.latest_event >= stream_latest:
            return  # another cycle already advanced past this window
        query_last = min(q2.last_event(), stream_latest)
        has_more = query_last < stream_latest
        sub.latest_event = query_last
        self._emit(
            sub.channel,
            SubscriptionResponse(rows, has_more, latest_event=query_last),
        )
        if has_more:
            self._msgs.put(("needs_update", sub_id))  # self-scheduling drain

    def close(self) -> None:
        self._stopped = True
        self._unhook()
        try:
            self._msgs.put_nowait(("stop", None))
        except queue.Full:
            pass
        self._thread.join(timeout=2)
