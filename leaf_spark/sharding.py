"""Multi-driver stream sharding — the share-nothing deployment mode.

The reference hosts every stream in one process but each stream is fully
independent of the others (share-nothing-per-stream: one `Stream` actor per
DID with its own sqlite handle, leaf-server/src/streams.rs:36-46). On this
engine the analogous unit is a (SparkSession, StreamCatalog) pair, and a
single driver process hits a Python-side GIL ceiling once ~8+ streams
ingest concurrently (SCALE.md §3: 16 streams at 0.86× single-stream on one
driver; 2 drivers × 4 streams measured 4.4×). This module turns the
measured cure into a deployment mode:

    LeafShardSupervisor(root, n_shards=2).start()

- spawns N shard workers, each a separate OS process with its OWN
  SparkSession (own JVM, own GIL) and its own StreamCatalog rooted at
  ``root/shard{i}``;
- serves the full A23 socket.io surface on ONE port (the supervisor embeds
  an unmodified LeafSocketIOServer) and routes every stream-addressed
  endpoint to the owning shard by a stable hash of the stream DID;
- relays live-subscription pushes from the owning shard back onto the
  client's socket.io connection.

Routing is hash-of-DID (sha-256 mod N) plus a PLACEMENT OVERLAY derived
from the on-disk layout at supervisor start: wherever a stream's directory
actually lives is where it is served (streams are fully self-contained on
disk — the reference's file-per-stream portability, streams.rs:36-46). So
reopening a supervisor over the same root finds every stream where it was
left even after ``n_shards`` changes (old streams stay parked on their old
shards; new streams hash across the new count). Rebalancing is online —
``admin/move_stream {streamDid, targetShard}`` (trusted-only) live-moves a
stream with its subscription cursors intact and no client reconnect — or
offline in bulk via ``python tools/reshard.py <root> <new_n>``, which
restores pure-hash placement.

Auth is forwarded per-request, not per-connection: the supervisor
authenticates the external socket.io connection exactly like the
single-driver server (token map / ATProto JWT), then ships the resolved
``(user, trusted)`` pair inside each RPC frame so the shard's LeafServer
applies the reference's own checks (require-auth writes,
trusted-only user_override/admin). No endpoint gains privilege by passing
through the supervisor.

Internal RPC (supervisor ↔ shard): one persistent TCP connection per
shard, length-prefixed DRISL frames:

    hello     {hello: secret}           # first frame; shard replies
                                        # {hello: "ok"} or closes
    request   {id, user, trusted, endpoint, args: bytes}
    response  {id, ack: bytes}          # the LeafServer Result ack verbatim
    push      {push: {subscriptionId, streamDid, rows, hasMore, error}}

The loopback RPC port is NOT an open door: the supervisor generates a
per-run secret and every shard requires it in the hello frame before
serving (constant-time compare). Without it, any local process could
send ``trusted=True`` frames and bypass the supervisor's token/JWT gate.
Subprocess shards receive the secret via the spawn environment
(``LEAF_SHARD_SECRET``), never the command line.

Endpoint args bytes are forwarded VERBATIM (no supervisor re-encode); the
supervisor decodes them once only to extract the routing key. Broadcast
endpoints: ``module/upload`` fans out to every shard (so the owning shard
of any later ``stream/create`` has the module), ``module/exists`` is the
AND over shards, ``admin/list_streams`` concatenates.
"""

from __future__ import annotations

import hmac
import json
import os
import queue
import secrets as _secrets
import socket
import struct
import subprocess
import sys
import threading
import time
import uuid
from dataclasses import dataclass, field

from . import drisl
from .server import Connection, LeafServer
from .streaming.subscribe import (
    EMIT_BASE_DELAY,
    EMIT_DEADLINE,
    EMIT_MAX_DELAY,
    RESULT_CHANNEL_CAPACITY,
    SubscriptionResponse,
)

_LEN = struct.Struct(">I")
MAX_FRAME = 64 * 1024 * 1024  # internal frames can carry full event batches


def shard_of(stream_did: str, n_shards: int) -> int:
    """Stable DID → shard assignment (sha-256, first 8 bytes, mod N)."""
    import hashlib

    h = hashlib.sha256(stream_did.encode("utf-8")).digest()
    return int.from_bytes(h[:8], "big") % n_shards


def _write_frame(sock: socket.socket, lock: threading.Lock, obj: dict) -> None:
    blob = drisl.encode(obj)
    with lock:
        sock.sendall(_LEN.pack(len(blob)) + blob)


def _read_frame(sock: socket.socket) -> dict | None:
    head = _read_exact(sock, _LEN.size)
    if head is None:
        return None
    (n,) = _LEN.unpack(head)
    if n > MAX_FRAME:
        raise ValueError(f"internal frame of {n} bytes exceeds {MAX_FRAME}")
    body = _read_exact(sock, n)
    if body is None:
        return None
    return drisl.decode(body)


def _read_exact(sock: socket.socket, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


# --------------------------------------------------------------------------
# shard worker (runs inside the shard process; also servable in-process for
# tests — same RPC protocol, only the process boundary differs)
# --------------------------------------------------------------------------


class ShardWorker:
    """One shard: a LeafServer over its own catalog, served over the RPC."""

    def __init__(self, spark, root_dir: str, secret: str | None = None):
        from .catalog import StreamCatalog

        self.catalog = StreamCatalog(spark, root_dir)
        self.server = LeafServer(self.catalog)
        self._secret = secret
        self._stop = threading.Event()
        self._listener: socket.socket | None = None
        # live supervisor connections: severed on close() so an in-process
        # "crash" (kill_shard) EOFs the supervisor side immediately — the
        # monitor's death signal, matching what a process exit does
        self._conns: set[socket.socket] = set()
        self._conns_lock = threading.Lock()
        # sub_id → set once its push relay has exited (all queued responses
        # written to the supervisor socket); the release path waits on this
        # so a migrated cursor can never outrun an unrelayed batch
        self._relay_done: dict[str, threading.Event] = {}

    def listen(self, host: str = "127.0.0.1", port: int = 0) -> int:
        self._listener = socket.create_server((host, port))
        return self._listener.getsockname()[1]

    def serve_forever(self) -> None:
        assert self._listener is not None, "listen() first"
        while not self._stop.is_set():
            try:
                sock, _ = self._listener.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve_conn, args=(sock,), daemon=True
            ).start()

    def close(self) -> None:
        self._stop.set()
        if self._listener is not None:
            try:
                self._listener.close()
            except OSError:
                pass
        with self._conns_lock:
            conns = list(self._conns)
        for s in conns:
            # shutdown, not just close: the serve thread is blocked in
            # recv on this fd, which holds the kernel socket open — a bare
            # close() would defer the FIN until that recv returns (never),
            # and the supervisor would not see the death. shutdown sends
            # the FIN immediately and wakes the blocked recv.
            try:
                s.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            try:
                s.close()
            except OSError:
                pass
        self.catalog.close()

    # -- one supervisor connection --------------------------------------------

    def _serve_conn(self, sock: socket.socket) -> None:
        send_lock = threading.Lock()
        conn_stop = threading.Event()
        # subs opened over THIS supervisor connection: unsubscribed when the
        # connection dies so their worker entries and push threads don't leak
        conn_subs: list[tuple[str, str]] = []
        with self._conns_lock:
            self._conns.add(sock)
        try:
            if self._secret is not None:
                # per-run secret handshake: the first frame must carry it
                # (constant-time compare) or the connection is dropped —
                # a bare loopback connect must NOT get trusted dispatch
                hello = _read_frame(sock)
                if hello is None or not hmac.compare_digest(
                    str(hello.get("hello") or ""), self._secret
                ):
                    return
                _write_frame(sock, send_lock, {"hello": "ok"})
            while not self._stop.is_set():
                req = _read_frame(sock)
                if req is None:
                    return
                threading.Thread(
                    target=self._handle_one,
                    args=(sock, send_lock, conn_stop, conn_subs, req),
                    daemon=True,
                ).start()
        except (OSError, ValueError):
            pass
        finally:
            conn_stop.set()
            with self._conns_lock:
                self._conns.discard(sock)
            for did, sub_id in conn_subs:
                try:
                    self.catalog.worker(did).unsubscribe(sub_id)
                except Exception:
                    pass
            try:
                sock.close()
            except OSError:
                pass

    def _handle_one(
        self,
        sock: socket.socket,
        send_lock: threading.Lock,
        conn_stop: threading.Event,
        conn_subs: list[tuple[str, str]],
        req: dict,
    ) -> None:
        conn = Connection(user=req.get("user"), trusted=bool(req.get("trusted")))
        endpoint = req["endpoint"]
        args_bytes = bytes(req.get("args") or b"")
        if endpoint == "_shard/handle_taken":
            # supervisor-internal probe backing the GLOBAL set_handle
            # uniqueness check (the reference's check is one process-wide
            # map, storage.rs:254-290; per-shard catalogs only see their
            # own streams)
            ack = self._handle_taken(args_bytes)
        elif endpoint == "_shard/release_stream":
            ack = self._release_stream(sock, send_lock, args_bytes)
        elif endpoint == "_shard/adopt_stream":
            ack = self._adopt_stream(args_bytes)
        elif endpoint == "_shard/resubscribe":
            ack = self._resubscribe(args_bytes)
        else:
            ack = self.server.handle(conn, endpoint, args_bytes)
        extra: dict = {}
        if endpoint == "stream/subscribe_events":
            # attach the subscription's REGISTRATION cursor to the RPC
            # envelope (not the client-visible ack): the supervisor mirror
            # needs the pre-service value — the live latest_event may
            # already count batches still queued un-relayed, and a crash
            # before their relay must resume below them
            d0 = drisl.decode(ack)
            if "Ok" in d0:
                sid0 = d0["Ok"]["subscriptionId"]
                did0 = drisl.decode(args_bytes)["streamDid"]
                sub0 = self.catalog.worker(did0).subs.get(sid0)
                if sub0 is not None:
                    extra = {
                        "subId": sid0,
                        "subLatest": int(sub0.initial_latest),
                    }
        try:
            _write_frame(sock, send_lock, {"id": req["id"], "ack": ack, **extra})
        except OSError:
            conn_stop.set()
            return
        if endpoint == "stream/subscribe_events":
            decoded = drisl.decode(ack)
            if "Ok" in decoded:
                stream_did = drisl.decode(args_bytes)["streamDid"]
                sub_id = decoded["Ok"]["subscriptionId"]
                conn_subs.append((stream_did, sub_id))
                self._start_relay(sock, send_lock, conn_stop, stream_did, sub_id)
        elif endpoint in ("_shard/adopt_stream", "_shard/resubscribe"):
            # migrated subscriptions need a push relay on THIS connection,
            # exactly as if they had been subscribed here
            decoded = drisl.decode(ack)
            if "Ok" in decoded:
                stream_did = drisl.decode(args_bytes)["streamDid"]
                for sub_id in decoded["Ok"]["adopted"]:
                    conn_subs.append((stream_did, sub_id))
                    self._start_relay(
                        sock, send_lock, conn_stop, stream_did, sub_id
                    )

    def _start_relay(
        self,
        sock: socket.socket,
        send_lock: threading.Lock,
        conn_stop: threading.Event,
        stream_did: str,
        sub_id: str,
    ) -> None:
        """Spawn a push relay with its completion event registered FIRST:
        a release arriving before the thread is scheduled must still find
        (and wait on) the event, or its cursor export could outrun the
        queued backfill the relay hasn't written yet."""
        self._relay_done.setdefault(sub_id, threading.Event())
        threading.Thread(
            target=self._push_relay,
            args=(sock, send_lock, conn_stop, stream_did, sub_id),
            daemon=True,
        ).start()

    def _handle_taken(self, args_bytes: bytes) -> bytes:
        try:
            args = drisl.decode(args_bytes) if args_bytes else {}
            h = args.get("handle")
            exclude = args.get("excludeDid")
            taken = h is not None and any(
                i.handle == h and i.stream_did != exclude
                for i in self.catalog.list_streams()
            )
            return drisl.encode({"Ok": {"taken": bool(taken)}})
        except Exception as ex:
            return drisl.encode({"Err": f"{type(ex).__name__}: {ex}"})

    def _release_stream(
        self, sock: socket.socket, send_lock: threading.Lock, args_bytes: bytes
    ) -> bytes:
        """Migration source half (supervisor-internal): quiesce the stream's
        subscription worker, wait until every queued push has been RELAYED
        (not just dequeued — the socket is FIFO, so the supervisor reads all
        of them before this ack), export each subscription's cursor, drop
        the catalog meta entry, and evict the stream. After this returns the
        stream directory is cold on disk and safe to rename."""
        try:
            args = drisl.decode(args_bytes) if args_bytes else {}
            did = args["streamDid"]
            if did not in self.catalog._meta:
                raise KeyError(f"no such stream {did}")
            worker = self.catalog.worker(did)
            stream = self.catalog.open(did)
            with worker._lock:
                subs = list(worker.subs.values())
            for sub in subs:
                worker.unsubscribe(sub.sub_id)
            # barrier (taken OUTSIDE stream._lock: an in-flight _service
            # acquires it, so holding it here would deadlock the barrier):
            # any _service already running completes — and emits — first
            worker.quiesce()
            # relay threads drain each channel fully, then exit (their
            # empty-poll sees the sub gone); wait for the exits so the
            # exported cursors cannot outrun unrelayed batches
            deadline = time.monotonic() + 10.0
            for sub in subs:
                done = self._relay_done.get(sub.sub_id)
                if done is not None:
                    done.wait(max(0.0, deadline - time.monotonic()))
                    self._relay_done.pop(sub.sub_id, None)
            # residue sweep: a relay exits on (channel empty + sub gone),
            # but an in-flight _service that was already past its liveness
            # check when unsubscribe popped the sub can emit AFTER that
            # exit poll — the quiesce barrier only guarantees the emit
            # happened, not that a relay saw it. The exported cursor counts
            # such a batch (latest_event advanced at emit), so relay any
            # remaining channel items here, on this same connection: relay
            # threads are exited (waited above), the socket is the one all
            # of this shard's pushes ride, and FIFO puts these ahead of
            # the release ack the supervisor is blocked on.
            for sub in subs:
                while True:
                    try:
                        r = sub.channel.get_nowait()
                    except queue.Empty:
                        break
                    _write_frame(
                        sock,
                        send_lock,
                        {
                            "push": {
                                "subscriptionId": sub.sub_id,
                                "streamDid": did,
                                "rows": stream.rows_to_wire(r.rows),
                                "hasMore": r.has_more,
                                "error": r.error,
                                "latestEvent": r.latest_event,
                            }
                        },
                    )
            exported = [
                {
                    "subscriptionId": sub.sub_id,
                    "user": sub.user,
                    "query": {
                        "name": sub.query.name,
                        "params": {
                            k: v.to_wire() for k, v in sub.query.params.items()
                        },
                        "start": sub.query.start,
                        "limit": sub.query.limit,
                    },
                    "latestEvent": sub.latest_event,
                }
                for sub in subs
            ]
            # writes serialize on stream._lock: taking it waits out any
            # in-flight event_batch (the supervisor's per-DID gate blocks
            # new ones), so the directory is cold once this block exits
            with stream._lock:
                with self.catalog._meta_lock:
                    # the exported entry carries the head: the target's
                    # meta is the moved stream's only catalog record
                    meta = {
                        **self.catalog._meta.pop(did),
                        "latest_event": stream.state.latest_idx,
                    }
                    self.catalog._save_meta()
                self.catalog.evict(did)
            return drisl.encode({"Ok": {"meta": meta, "subs": exported}})
        except Exception as ex:
            return drisl.encode({"Err": f"{type(ex).__name__}: {ex}"})

    def _adopt_stream(self, args_bytes: bytes) -> bytes:
        """Migration target half: install the meta entry, open the stream
        from its (just-moved) directory, and recreate each subscription with
        its exported cursor. Push relays are started by _handle_one after
        the ack, exactly like fresh subscribes."""
        try:
            args = drisl.decode(args_bytes) if args_bytes else {}
            did = args["streamDid"]
            with self.catalog._meta_lock:
                if did in self.catalog._meta:
                    raise ValueError(f"stream {did} already on this shard")
                self.catalog._meta[did] = dict(args["meta"])
                self.catalog._save_meta()
            worker = self.catalog.worker(did)  # opens + replays the stream
            adopted = []
            for s in args.get("subs") or []:
                q = LeafServer._decode_query(s["query"])
                worker.adopt(
                    s["subscriptionId"], s.get("user"), q, int(s["latestEvent"])
                )
                adopted.append(s["subscriptionId"])
            info = self.catalog.stream_info(did)
            return drisl.encode(
                {"Ok": {"adopted": adopted, "latestEvent": info.latest_event}}
            )
        except Exception as ex:
            return drisl.encode({"Err": f"{type(ex).__name__}: {ex}"})

    def _resubscribe(self, args_bytes: bytes) -> bytes:
        """Crash-recovery half of the supervisor's shard revival: recreate
        subscriptions on a freshly restarted worker from the supervisor's
        mirror records (sub id + user + query + last RELAYED cursor). The
        stream is already on this shard's disk — unlike _adopt_stream there
        is no meta/dir adoption, just worker.adopt per subscription; the
        immediate needs_update then re-queries from the cursor, recovering
        any batch the dead worker committed but never relayed."""
        try:
            args = drisl.decode(args_bytes) if args_bytes else {}
            did = args["streamDid"]
            worker = self.catalog.worker(did)  # opens + replays the stream
            adopted = []
            for s in args.get("subs") or []:
                q = LeafServer._decode_query(s["query"])
                try:
                    worker.adopt(
                        s["subscriptionId"],
                        s.get("user"),
                        q,
                        int(s["latestEvent"]),
                    )
                except ValueError:
                    # already active: a duplicate revival is a no-op — and
                    # it must stay OUT of the ack's adopted list, or the
                    # caller starts a second push relay draining the same
                    # channel (two relays interleave writes out of order)
                    continue
                adopted.append(s["subscriptionId"])
            return drisl.encode({"Ok": {"adopted": adopted}})
        except Exception as ex:
            return drisl.encode({"Err": f"{type(ex).__name__}: {ex}"})

    def _push_relay(
        self,
        sock: socket.socket,
        send_lock: threading.Lock,
        conn_stop: threading.Event,
        stream_did: str,
        sub_id: str,
    ) -> None:
        """Drain the real subscription channel; frame each response up to
        the supervisor (which re-emits it on the client's transport)."""
        done = self._relay_done.setdefault(sub_id, threading.Event())
        try:
            self._push_relay_inner(sock, send_lock, conn_stop, stream_did, sub_id)
        finally:
            done.set()
            # drop the entry once set: a later release treats a missing
            # event as "relay already exited" (it then sweeps the channel
            # itself), and long-lived workers don't accumulate one event
            # per historical subscription
            self._relay_done.pop(sub_id, None)

    def _push_relay_inner(
        self,
        sock: socket.socket,
        send_lock: threading.Lock,
        conn_stop: threading.Event,
        stream_did: str,
        sub_id: str,
    ) -> None:
        worker = self.catalog.worker(stream_did)
        stream = self.catalog.open(stream_did)
        sub = worker.subs.get(sub_id)
        if sub is None:
            return
        while not conn_stop.is_set() and not self._stop.is_set():
            try:
                r = sub.channel.get(timeout=0.25)
            except queue.Empty:
                if sub_id not in worker.subs:
                    return  # unsubscribed
                continue
            try:
                _write_frame(
                    sock,
                    send_lock,
                    {
                        "push": {
                            "subscriptionId": sub_id,
                            "streamDid": stream_did,
                            "rows": stream.rows_to_wire(r.rows),
                            "hasMore": r.has_more,
                            "error": r.error,
                            # post-batch cursor: the mirror's exactly-once
                            # resume point if this shard later crashes
                            "latestEvent": r.latest_event,
                        }
                    },
                )
            except OSError:
                conn_stop.set()
                return


# --------------------------------------------------------------------------
# supervisor side
# --------------------------------------------------------------------------


@dataclass
class _RemoteSub:
    """Supervisor-local mirror of a shard-side subscription. The demux
    thread hands pushes to the unbounded ``handoff``; a per-subscription
    drain thread moves them into the bounded ``channel`` with the same
    backoff/deadline semantics as SubscriptionWorker._emit — so sharded
    mode applies the reference's bounded-channel backpressure instead of
    silently dropping batches on a slow consumer. The socket.io push loop
    and poll_subscription drain ``channel``."""

    sub_id: str
    stream_did: str
    # recovery records (r12 shard revival): the effective user + raw wire
    # query captured at subscribe time, and the cursor after the last push
    # ACCEPTED into the handoff — together exactly the _shard/resubscribe
    # payload that recreates this subscription on a restarted worker with
    # no duplicate and no lost batch
    user: str | None = None
    query_wire: dict | None = None
    latest_event: int = 0
    channel: "queue.Queue[SubscriptionResponse]" = field(
        default_factory=lambda: queue.Queue(maxsize=RESULT_CHANNEL_CAPACITY)
    )
    handoff: "queue.Queue" = field(default_factory=queue.Queue)

    def accept(self, resp: SubscriptionResponse) -> None:
        """Advance the mirror cursor and enqueue for the drain thread."""
        if resp.latest_event is not None:
            self.latest_event = max(self.latest_event, int(resp.latest_event))
        self.handoff.put(resp)


# pushes relayed before the supervisor registers the _RemoteSub (the ack
# races the relay thread shard-side) buffer here; bounded per sub and
# pruned by age so a never-registered id cannot grow without bound
_ORPHAN_PUSH_CAP = 64
_ORPHAN_PUSH_TTL = 60.0


class ShardClient:
    """Persistent RPC connection to one shard; thread-safe, multiplexed."""

    def __init__(
        self,
        host: str,
        port: int,
        timeout: float = 60.0,
        secret: str | None = None,
    ):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self._send_lock = threading.Lock()
        self._next_id = 0
        self._id_lock = threading.Lock()
        self._pending: dict[int, queue.Queue] = {}
        # sub_id → registration cursor, stashed by the read loop from the
        # subscribe ack's RPC envelope BEFORE the ack is delivered — so
        # register_sub always finds it
        self.sub_hints: dict[str, int] = {}
        self.subs: dict[str, _RemoteSub] = {}
        self._sub_lock = threading.Lock()
        self._orphans: dict[str, list[SubscriptionResponse]] = {}
        self._orphan_at: dict[str, float] = {}
        self._closed = threading.Event()
        if secret is not None:
            _write_frame(self.sock, self._send_lock, {"hello": secret})
            reply = _read_frame(self.sock)
            if reply is None or reply.get("hello") != "ok":
                self.sock.close()
                raise ConnectionError("shard rejected the RPC handshake")
        self.sock.settimeout(None)
        self._reader = threading.Thread(target=self._read_loop, daemon=True)
        self._reader.start()

    def call(
        self,
        user: str | None,
        trusted: bool,
        endpoint: str,
        args_bytes: bytes,
        timeout: float = 600.0,
    ) -> bytes:
        with self._id_lock:
            self._next_id += 1
            req_id = self._next_id
        ch: queue.Queue = queue.Queue()
        self._pending[req_id] = ch
        try:
            _write_frame(
                self.sock,
                self._send_lock,
                {
                    "id": req_id,
                    "user": user,
                    "trusted": trusted,
                    "endpoint": endpoint,
                    "args": args_bytes,
                },
            )
            return bytes(ch.get(timeout=timeout))
        finally:
            self._pending.pop(req_id, None)

    def _read_loop(self) -> None:
        try:
            while not self._closed.is_set():
                frame = _read_frame(self.sock)
                if frame is None:
                    return
                if "ack" in frame:
                    if "subId" in frame:
                        self.sub_hints[frame["subId"]] = int(
                            frame.get("subLatest") or 0
                        )
                    ch = self._pending.get(frame["id"])
                    if ch is not None:
                        ch.put(frame["ack"])
                    continue
                p = frame.get("push")
                if p is None:
                    continue
                resp = SubscriptionResponse(
                    rows=p["rows"],
                    has_more=bool(p["hasMore"]),
                    error=p.get("error"),
                    latest_event=p.get("latestEvent"),
                )
                with self._sub_lock:
                    sub = self.subs.get(p["subscriptionId"])
                    if sub is None:
                        # the shard's push relay won the race against our
                        # dispatch thread registering the mirror — buffer
                        # (the FIRST backfill batch arrives here; dropping
                        # it loses it permanently, the shard channel is
                        # already drained)
                        self._buffer_orphan(p["subscriptionId"], resp)
                    else:
                        # unbounded handoff, NEVER blocks: this thread
                        # also demuxes acks — backpressure is applied by
                        # the per-sub drain thread, not here
                        sub.accept(resp)
        except (OSError, ValueError):
            pass
        finally:
            self._closed.set()
            # unblock any caller still waiting on an ack
            for ch in list(self._pending.values()):
                ch.put(drisl.encode({"Err": "ConnectionError: shard connection lost"}))

    def _buffer_orphan(self, sub_id: str, resp: SubscriptionResponse) -> None:
        now = time.monotonic()
        for sid, at in list(self._orphan_at.items()):
            if now - at > _ORPHAN_PUSH_TTL:
                self._orphans.pop(sid, None)
                self._orphan_at.pop(sid, None)
        buf = self._orphans.setdefault(sub_id, [])
        self._orphan_at.setdefault(sub_id, now)
        if len(buf) < _ORPHAN_PUSH_CAP:
            buf.append(resp)

    def register_sub(
        self,
        sub_id: str,
        stream_did: str,
        user: str | None = None,
        query_wire: dict | None = None,
    ) -> _RemoteSub:
        """Publish the supervisor-side mirror; any pushes that arrived
        before registration re-enter IN ORDER ahead of later ones. The
        (user, query, cursor) triple is retained for crash revival —
        the initial cursor comes from the subscribe ack's envelope hint
        (the shard-side registration cursor, pre-service)."""
        sub = _RemoteSub(
            sub_id,
            stream_did,
            user=user,
            query_wire=query_wire,
            latest_event=self.sub_hints.pop(sub_id, 0),
        )
        with self._sub_lock:
            for resp in self._orphans.pop(sub_id, []):
                sub.accept(resp)
            self._orphan_at.pop(sub_id, None)
            self.subs[sub_id] = sub
        threading.Thread(
            target=self._drain_sub, args=(sub,), daemon=True
        ).start()
        return sub

    def adopt_mirror(self, sub: _RemoteSub) -> None:
        """Re-home a mirror migrated from another shard's client, KEEPING
        its channel/handoff (and the drain thread pumping them — the thread
        belongs to the source client but only exits on its sentinel or the
        source closing, so it keeps serving the object here). Pushes the
        target shard relayed before this registration sit in the orphan
        buffer; splice them behind whatever the source already handed off —
        the source relay finished before the move, so this preserves
        delivery order."""
        with self._sub_lock:
            for resp in self._orphans.pop(sub.sub_id, []):
                sub.accept(resp)
            self._orphan_at.pop(sub.sub_id, None)
            self.subs[sub.sub_id] = sub

    def revive_mirror(self, sub: _RemoteSub) -> None:
        """Re-home a mirror whose owning client DIED (shard crash): like
        adopt_mirror, but the source's drain thread exited with its
        client's _closed flag — start a fresh one here to keep pumping the
        surviving handoff/channel pair (the socket.io push loop and
        poll_subscription still hold this same object)."""
        self.adopt_mirror(sub)
        threading.Thread(
            target=self._drain_sub, args=(sub,), daemon=True
        ).start()

    def detach_mirror(self, sub_id: str) -> _RemoteSub | None:
        """Remove the mirror WITHOUT the drain-thread sentinel (the object
        lives on under the adopting client)."""
        with self._sub_lock:
            return self.subs.pop(sub_id, None)

    def drop_sub(self, sub_id: str) -> None:
        with self._sub_lock:
            sub = self.subs.pop(sub_id, None)
            self._orphans.pop(sub_id, None)
            self._orphan_at.pop(sub_id, None)
        if sub is not None:
            sub.handoff.put(None)  # drain-thread sentinel

    def _drain_sub(self, sub: _RemoteSub) -> None:
        """Move pushes handoff → bounded channel with the single-driver
        emit semantics (10 ms doubling to 1 s, give up after
        EMIT_DEADLINE of continuous backpressure — subscribe.py:_emit)."""
        while not self._closed.is_set():
            try:
                resp = sub.handoff.get(timeout=0.25)
            except queue.Empty:
                continue
            if resp is None:
                return
            delay = EMIT_BASE_DELAY
            deadline = time.monotonic() + EMIT_DEADLINE
            while not self._closed.is_set():
                try:
                    sub.channel.put(resp, timeout=delay)
                    break
                except queue.Full:
                    if time.monotonic() >= deadline:
                        break  # consumer never drained: reference bailout
                    delay = min(delay * 2, EMIT_MAX_DELAY)

    def close(self) -> None:
        self._closed.set()
        with self._sub_lock:
            subs = list(self.subs.values())
            self.subs.clear()
            self._orphans.clear()
            self._orphan_at.clear()
        for sub in subs:
            sub.handoff.put(None)
        try:
            self.sock.close()
        except OSError:
            pass


class _WorkerFacade:
    """What LeafSocketIOServer._push_loop needs from ``catalog.worker()``.

    ``subs`` is resolved through the router ON EVERY ACCESS: a live stream
    move re-homes the mirror onto the target shard's client, and the push
    loop's liveness check (``sub_id in worker.subs``) must follow it —
    a snapshot of the source client's dict would read as "unsubscribed"
    the moment the mirror migrates."""

    def __init__(self, router: "ShardRouter", stream_did: str):
        self._router = router
        self._stream_did = stream_did

    @property
    def subs(self) -> dict:
        return self._router.client_for(self._stream_did).subs


class _StreamFacade:
    """Rows arriving over the push relay are already wire-encoded."""

    @staticmethod
    def rows_to_wire(rows):
        return rows


class _CatalogFacade:
    def __init__(self, router: "ShardRouter"):
        self._router = router

    def worker(self, stream_did: str) -> _WorkerFacade:
        return _WorkerFacade(self._router, stream_did)

    def open(self, stream_did: str) -> _StreamFacade:
        return _StreamFacade()


class ShardRouter:
    """LeafServer-shaped front: ``handle()`` + ``catalog`` facade, routing
    every request to the shard that owns its stream DID.

    Ownership = ``placement`` overlay first (streams parked off their hash
    owner — built from the on-disk layout at supervisor start and updated
    by live moves), hash of the DID otherwise. Disk is the source of truth:
    wherever a stream's directory lives is where it is served, so a changed
    ``n_shards`` or a crashed move never strands a stream (the supervisor's
    startup scan re-derives the overlay)."""

    # the reference surface plus the sharded-mode rebalancing extensions
    ENDPOINTS = LeafServer.ENDPOINTS + (
        "admin/move_stream",
        "admin/rebalance",
        "admin/status",
    )

    #: ceiling on how long a request addressed to a mid-move stream waits
    #: for the move to finish before proceeding (moves take ~the cost of
    #: one stream open; this is a safety margin, not an expected wait)
    MOVE_WAIT = 60.0

    def __init__(
        self,
        clients: list[ShardClient],
        placement: dict[str, int] | None = None,
        shard_roots: list[str] | None = None,
        journal_path: str | None = None,
    ):
        self.clients = clients
        self.catalog = _CatalogFacade(self)
        self.placement: dict[str, int] = dict(placement or {})
        self.shard_roots = shard_roots
        self._journal_path = journal_path
        # serializes set_handle check+apply so two concurrent claims of
        # the same handle on different shards cannot both pass the probe
        self._handle_lock = threading.Lock()
        # DID → Event while a live move is in flight; requests for that DID
        # wait on it (set when the move completes or fails)
        self._moving: dict[str, threading.Event] = {}
        self._place_lock = threading.Lock()
        # shard index → Event while the supervisor is reviving a crashed
        # worker; requests for that shard wait it out instead of erroring
        self._reviving: dict[int, threading.Event] = {}

    def shard_index_for(self, stream_did: str) -> int:
        i = self.placement.get(stream_did)
        return shard_of(stream_did, len(self.clients)) if i is None else i

    def client_for(self, stream_did: str) -> ShardClient:
        idx = self.shard_index_for(stream_did)
        c = self.clients[idx]
        if not c._closed.is_set():
            return c
        # dead shard: wait out an in-flight revival so the request lands
        # on the restarted worker (bounded — a revival is one worker
        # spawn, not a full supervisor start). The supervisor's monitor
        # opens the revival gate within MONITOR_INTERVAL of the death;
        # if none appears quickly there is no supervisor watching this
        # router — fail fast with the dead client (its error path).
        deadline = time.monotonic() + self.MOVE_WAIT
        grace = time.monotonic() + 2.0
        while c._closed.is_set() and time.monotonic() < deadline:
            ev = self._reviving.get(idx)
            if ev is not None:
                ev.wait(max(0.0, deadline - time.monotonic()))
            elif time.monotonic() > grace:
                break
            else:
                time.sleep(0.05)
            c = self.clients[idx]
        return c

    def handle(self, conn: Connection, endpoint: str, args_drisl: bytes) -> bytes:
        try:
            return self._dispatch(conn, endpoint, args_drisl)
        except Exception as ex:
            return drisl.encode({"Err": f"{type(ex).__name__}: {ex}"})

    def _dispatch(self, conn: Connection, endpoint: str, args_drisl: bytes) -> bytes:
        if endpoint == "module/upload":
            # broadcast so ANY shard can later create a stream on the module;
            # first Err wins (shards are deterministic — a partial failure
            # means a real fault, surfaced rather than half-registered)
            acks = [
                c.call(conn.user, conn.trusted, endpoint, args_drisl)
                for c in self.clients
            ]
            for ack in acks:
                if "Err" in drisl.decode(ack):
                    return ack
            return acks[0]
        if endpoint == "module/exists":
            exists = True
            for c in self.clients:
                ack = drisl.decode(
                    c.call(conn.user, conn.trusted, endpoint, args_drisl)
                )
                if "Err" in ack:
                    return drisl.encode(ack)
                exists = exists and bool(ack["Ok"]["exists"])
            return drisl.encode({"Ok": {"exists": exists}})
        if endpoint == "admin/list_streams":
            merged: list[dict] = []
            for c in self.clients:
                ack = drisl.decode(
                    c.call(conn.user, conn.trusted, endpoint, args_drisl)
                )
                if "Err" in ack:
                    return drisl.encode(ack)
                merged.extend(ack["Ok"]["streams"])
            return drisl.encode({"Ok": {"streams": merged}})

        args = drisl.decode(args_drisl) if args_drisl else {}
        if endpoint == "admin/move_stream":
            # sharded-mode extension (no single-driver analog): live-move a
            # stream to another shard; trusted-only like admin/list_streams
            if not conn.trusted:
                raise PermissionError("admin endpoints require a trusted connection")
            return drisl.encode(
                {"Ok": self.move_stream(args["streamDid"], int(args["targetShard"]))}
            )
        if endpoint == "admin/rebalance":
            if not conn.trusted:
                raise PermissionError("admin endpoints require a trusted connection")
            max_moves = args.get("maxMoves")
            return drisl.encode(
                {
                    "Ok": self.rebalance(
                        None if max_moves is None else int(max_moves),
                        metric=args.get("metric") or "streams",
                    )
                }
            )
        if endpoint == "admin/status":
            if not conn.trusted:
                raise PermissionError("admin endpoints require a trusted connection")
            return drisl.encode({"Ok": self.status()})
        stream_did_early = args.get("streamDid")
        if stream_did_early is not None:
            # a live move of this stream is in flight: wait it out so the
            # request lands on the post-move owner (release/adopt leave no
            # instant at which the stream is open on both shards)
            mv = self._moving.get(stream_did_early)
            if mv is not None:
                mv.wait(self.MOVE_WAIT)
        if endpoint == "stream/poll_subscription":
            # served locally from the supervisor-side mirror queue — the
            # shard's own channel is drained by its push relay, so
            # forwarding would long-poll an always-empty queue
            return drisl.encode({"Ok": self._poll_local(args)})
        stream_did = args.get("streamDid")
        if stream_did is None:
            raise ValueError(f"unknown endpoint {endpoint!r}")
        client = self.client_for(stream_did)
        if endpoint == "stream/set_handle" and args.get("handle") is not None:
            # handle uniqueness is GLOBAL in the reference (one process-wide
            # map); each shard's catalog only checks its own streams, so
            # probe the others first — serialized so concurrent claims of
            # the same handle cannot both pass
            handle = args["handle"]
            probe = drisl.encode({"handle": handle, "excludeDid": stream_did})
            with self._handle_lock:
                for c in self.clients:
                    if c is client:
                        continue
                    resp = drisl.decode(
                        c.call(conn.user, conn.trusted, "_shard/handle_taken", probe)
                    )
                    if "Err" in resp:
                        return drisl.encode(resp)
                    if resp["Ok"]["taken"]:
                        # the exact error the owning catalog raises on a
                        # same-shard collision (catalog.py set_handle)
                        return drisl.encode(
                            {"Err": f"ValueError: handle {handle!r} already taken"}
                        )
                ack = client.call(conn.user, conn.trusted, endpoint, args_drisl)
                ack, _ = self._retry_if_moved(
                    conn, endpoint, args_drisl, stream_did, client, ack
                )
                return ack
        ack = client.call(conn.user, conn.trusted, endpoint, args_drisl)
        ack, client = self._retry_if_moved(
            conn, endpoint, args_drisl, stream_did, client, ack
        )
        if endpoint == "stream/subscribe_events":
            decoded = drisl.decode(ack)
            if "Ok" in decoded:
                override = args.get("userOverride")
                client.register_sub(
                    decoded["Ok"]["subscriptionId"],
                    stream_did,
                    # the server's _effective_user (override requires a
                    # trusted conn, which the shard already enforced)
                    user=(
                        override
                        if override is not None and conn.trusted
                        else conn.user
                    ),
                    query_wire=args.get("query"),
                )
        elif endpoint == "stream/unsubscribe":
            if "Ok" in drisl.decode(ack):
                client.drop_sub(args.get("subscriptionId"))
        return ack

    def status(self) -> dict:
        """Fleet snapshot for operators (``admin/status``, trusted-only):
        per-shard liveness, stream/event/subscription counts, the
        placement-overlay size (how far placement has drifted from pure
        hash — what ``tools/reshard.py`` would reset), and moves in
        flight. The natural pre-flight for ``admin/rebalance``: the
        counts and loads here are exactly the balance inputs."""
        shards: list[dict] = []
        for i, c in enumerate(self.clients):
            info: dict = {
                "shard": i,
                "alive": not c._closed.is_set(),
                "reviving": i in self._reviving,
                "subscriptions": len(c.subs),
            }
            if info["alive"]:
                try:
                    ack = drisl.decode(
                        c.call(
                            None,
                            True,
                            "admin/list_streams",
                            drisl.encode({}),
                            timeout=30,
                        )
                    )
                    ss = ack.get("Ok", {}).get("streams", [])
                    info["streams"] = len(ss)
                    info["events"] = sum(
                        int(s.get("latestEvent") or 0) for s in ss
                    )
                    if "Err" in ack:
                        info["error"] = ack["Err"]
                except Exception as ex:
                    info["error"] = f"{type(ex).__name__}: {ex}"
            shards.append(info)
        return {
            "shards": shards,
            "placementOverlay": len(self.placement),
            "movesInFlight": sorted(self._moving),
        }

    def _retry_if_moved(
        self,
        conn: Connection,
        endpoint: str,
        args_drisl: bytes,
        stream_did: str,
        client: ShardClient,
        ack: bytes,
    ) -> tuple[bytes, ShardClient]:
        """Close the gate race: a request that read ``_moving`` before a
        move registered can land on the source shard after release popped
        the stream — the shard raises ``KeyError: no such stream`` before
        touching anything, so re-issuing on the current owner is safe
        (nothing was applied). Only retries when ownership actually
        changed; a genuinely unknown stream returns the original error."""
        try:
            err = drisl.decode(ack).get("Err")
        except Exception:
            return ack, client
        if not (isinstance(err, str) and "no such stream" in err):
            return ack, client
        mv = self._moving.get(stream_did)
        if mv is not None:
            mv.wait(self.MOVE_WAIT)
        c2 = self.client_for(stream_did)
        if c2 is client:
            return ack, client
        return c2.call(conn.user, conn.trusted, endpoint, args_drisl), c2

    # -- live stream migration -------------------------------------------------

    def move_stream(self, stream_did: str, target: int) -> dict:
        """Live-move one stream to another shard with its subscriptions'
        cursors intact. Sequence: gate the DID (new requests wait) →
        ``_shard/release_stream`` on the owner (quiesce worker, relay out
        queued pushes, export cursors, drop meta, evict) → rename the
        stream directory into the target root → ``_shard/adopt_stream``
        (install meta, replay, recreate subscriptions) → re-home the
        supervisor-side mirrors → flip the placement overlay.

        Crash-safe via a journal in the supervisor root: the exported meta
        entry (incl. handle) is journaled before the rename, and the
        supervisor's startup scan reconciles whichever side of the rename
        a crash left the directory on (stream dirs are self-contained —
        the reference's file-per-stream portability, streams.rs:36-46)."""
        n = len(self.clients)
        if not 0 <= target < n:
            raise ValueError(f"targetShard {target} out of range 0..{n - 1}")
        with self._place_lock:
            if stream_did in self._moving:
                raise RuntimeError(f"move of {stream_did} already in flight")
            gate = threading.Event()
            self._moving[stream_did] = gate
        try:
            src_i = self.shard_index_for(stream_did)
            if src_i == target:
                return {"moved": False, "shard": target, "subscriptions": 0}
            src, dst = self.clients[src_i], self.clients[target]
            journal = {"streamDid": stream_did, "from": src_i, "to": target}
            self._journal_write(journal)
            rel = drisl.decode(
                src.call(
                    None,
                    True,
                    "_shard/release_stream",
                    drisl.encode({"streamDid": stream_did}),
                )
            )
            if "Err" in rel:
                raise RuntimeError(f"release on shard{src_i} failed: {rel['Err']}")
            meta, subs = rel["Ok"]["meta"], rel["Ok"]["subs"]
            # journal the exported meta BEFORE the rename: a crash after the
            # rename must not lose the handle (stream.json doesn't carry it)
            journal["meta"] = meta
            self._journal_write(journal)
            if self.shard_roots is not None:
                from .stream import _safe_dirname

                sdir = _safe_dirname(stream_did)
                src_p = os.path.join(self.shard_roots[src_i], "streams", sdir)
                dst_p = os.path.join(self.shard_roots[target], "streams", sdir)
                if os.path.isdir(src_p):
                    os.makedirs(os.path.dirname(dst_p), exist_ok=True)
                    os.rename(src_p, dst_p)
            ack = drisl.decode(
                dst.call(
                    None,
                    True,
                    "_shard/adopt_stream",
                    drisl.encode(
                        {"streamDid": stream_did, "meta": meta, "subs": subs}
                    ),
                )
            )
            if "Err" in ack:
                raise RuntimeError(f"adopt on shard{target} failed: {ack['Err']}")
            # re-home mirrors: register on target FIRST, then flip placement,
            # then detach from source — the push loop's liveness check
            # (_WorkerFacade.subs → client_for) finds the mirror at every
            # instant of that sequence
            for s in subs:
                sid = s["subscriptionId"]
                mirror = src.subs.get(sid)
                if mirror is not None:
                    dst.adopt_mirror(mirror)
            with self._place_lock:
                if shard_of(stream_did, n) == target:
                    self.placement.pop(stream_did, None)
                else:
                    self.placement[stream_did] = target
            for s in subs:
                src.detach_mirror(s["subscriptionId"])
            self._journal_clear()
            return {
                "moved": True,
                "from": src_i,
                "to": target,
                "subscriptions": len(subs),
            }
        finally:
            with self._place_lock:
                self._moving.pop(stream_did, None)
            gate.set()

    def rebalance(
        self, max_moves: int | None = None, metric: str = "streams"
    ) -> dict:
        """One-shot rebalance over live moves. ``metric="streams"``
        (default) evens out the streams-per-shard COUNT — the binding
        resource at every measured config is the per-shard driver GIL at
        ≥8 concurrent ingest streams (SCALE.md §3), so count is the
        honest v1 balance metric. ``metric="events"`` weighs each stream
        by its lifetime event count (``latestEvent`` — already in the
        listing, no sampling needed) and greedily narrows the
        heaviest/lightest shard spread: the hot-stream case count-based
        balancing cannot see. Streams whose HASH owner is an underloaded
        shard move first on ties — each such move also shrinks the
        placement overlay. Every move is the live exactly-once path; a
        failed move is recorded and skipped, never retried blindly."""
        if metric not in ("streams", "events"):
            raise ValueError(f"unknown rebalance metric {metric!r}")
        per_shard: dict[int, list[str]] = {i: [] for i in range(len(self.clients))}
        weights: dict[str, int] = {}
        for c_i, c in enumerate(self.clients):
            ack = drisl.decode(
                c.call(None, True, "admin/list_streams", drisl.encode({}))
            )
            if "Err" in ack:
                raise RuntimeError(
                    f"list_streams on shard{c_i} failed: {ack['Err']}"
                )
            for s in ack["Ok"]["streams"]:
                per_shard[c_i].append(s["streamDid"])
                weights[s["streamDid"]] = int(s.get("latestEvent") or 0)
        if metric == "events":
            return self._rebalance_weighted(per_shard, weights, max_moves)
        n = len(self.clients)
        total = sum(len(v) for v in per_shard.values())
        ceil_target = -(-total // n)
        moves: list[dict] = []
        errors: list[dict] = []

        def overloaded() -> int | None:
            over = [i for i in range(n) if len(per_shard[i]) > ceil_target]
            if not over:
                # allow draining down to floor only while some shard is
                # BELOW floor (total not divisible by n leaves some at
                # ceil — that is balanced)
                floor = total // n
                under = [i for i in range(n) if len(per_shard[i]) < floor]
                if not under:
                    return None
                cands = [i for i in range(n) if len(per_shard[i]) > floor]
                return max(cands, key=lambda i: len(per_shard[i])) if cands else None
            return max(over, key=lambda i: len(per_shard[i]))

        while max_moves is None or len(moves) < max_moves:
            src = overloaded()
            if src is None:
                break
            dst = min(range(n), key=lambda i: len(per_shard[i]))
            if len(per_shard[src]) - len(per_shard[dst]) <= 1:
                break  # within one stream of even — done
            # prefer a stream whose hash owner IS dst (purifies placement)
            pick = next(
                (d for d in per_shard[src] if shard_of(d, n) == dst),
                per_shard[src][-1],
            )
            try:
                res = self.move_stream(pick, dst)
            except Exception as ex:
                errors.append({"streamDid": pick, "error": str(ex)})
                per_shard[src].remove(pick)  # skip it, keep balancing
                continue
            per_shard[src].remove(pick)
            per_shard[dst].append(pick)
            moves.append({"streamDid": pick, "from": src, "to": dst})
        return {
            "moves": moves,
            "errors": errors,
            "counts": {str(i): len(per_shard[i]) for i in range(n)},
        }

    def _rebalance_weighted(
        self,
        per_shard: dict[int, list[str]],
        weights: dict[str, int],
        max_moves: int | None,
    ) -> dict:
        """Greedy weighted balance: move, from the heaviest shard to the
        lightest, the stream whose weight best halves their spread —
        strictly-improving only (a stream at least as heavy as the gap
        would just swap which shard is overloaded), so the loop
        terminates without oscillation. On near-ties (within 10% of the
        best improvement) prefer a stream whose hash owner is the
        destination, shrinking the placement overlay for free."""
        n = len(self.clients)
        moves: list[dict] = []
        errors: list[dict] = []

        def load(i: int) -> int:
            return sum(weights[d] for d in per_shard[i])

        while max_moves is None or len(moves) < max_moves:
            src = max(range(n), key=load)
            dst = min(range(n), key=load)
            gap = load(src) - load(dst)
            # improvement of moving weight w across the gap is
            # gap - |gap - 2w| > 0  ⇔  0 < w < gap
            cands = [d for d in per_shard[src] if 0 < weights[d] < gap]
            if not cands:
                break
            best = min(cands, key=lambda d: abs(gap - 2 * weights[d]))
            near = [
                d
                for d in cands
                if abs(gap - 2 * weights[d])
                <= abs(gap - 2 * weights[best]) + gap // 10
            ]
            pick = next((d for d in near if shard_of(d, n) == dst), best)
            try:
                res = self.move_stream(pick, dst)
            except Exception as ex:
                errors.append({"streamDid": pick, "error": str(ex)})
                per_shard[src].remove(pick)  # skip it, keep balancing
                continue
            per_shard[src].remove(pick)
            per_shard[dst].append(pick)
            moves.append(
                {"streamDid": pick, "from": src, "to": dst, "weight": weights[pick]}
            )
        return {
            "moves": moves,
            "errors": errors,
            "counts": {str(i): len(per_shard[i]) for i in range(n)},
            "loads": {str(i): load(i) for i in range(n)},
        }

    # -- shard crash revival ---------------------------------------------------

    def revive_shard(self, idx: int, new_client: ShardClient) -> dict:
        """Swap in the client of a freshly restarted shard worker and
        recreate its live subscriptions from the supervisor-side mirrors.

        Shard state is all on disk (event log + snapshots + meta, A6/A21),
        so the restarted worker replays streams lazily on first request;
        the only live state lost with the process is the subscription set —
        rebuilt here via _shard/resubscribe from each mirror's (user,
        query, last-relayed-cursor) record. Mirrors keep their channel
        objects, so attached socket.io push loops and pollers resume
        transparently; the adopt-side immediate needs_update re-queries
        from the cursor, recovering batches the dead worker committed but
        never relayed — exactly-once continuation, no duplicates (the
        cursor only advances on pushes the supervisor actually accepted).
        """
        old = self.clients[idx]
        with old._sub_lock:
            mirrors = list(old.subs.values())
        self.clients[idx] = new_client
        by_stream: dict[str, list[_RemoteSub]] = {}
        for sub in mirrors:
            if self.shard_index_for(sub.stream_did) != idx:
                continue  # stream moved away — its mirror lives elsewhere
            # detach BEFORE the old client's close(): close() sends the
            # drain-thread sentinel into every still-registered mirror's
            # handoff, which would kill the fresh drain thread started here
            old.detach_mirror(sub.sub_id)
            new_client.revive_mirror(sub)
            by_stream.setdefault(sub.stream_did, []).append(sub)
        revived = 0
        for did, subs in by_stream.items():
            payload = {
                "streamDid": did,
                "subs": [
                    {
                        "subscriptionId": s.sub_id,
                        "user": s.user,
                        "query": s.query_wire,
                        "latestEvent": int(s.latest_event),
                    }
                    for s in subs
                    if s.query_wire is not None
                ],
            }
            try:
                ack = drisl.decode(
                    new_client.call(
                        None, True, "_shard/resubscribe", drisl.encode(payload)
                    )
                )
                err = ack.get("Err")
            except Exception as ex:
                err = f"{type(ex).__name__}: {ex}"
            if err is not None:
                # surfaced, not swallowed: the subscriber learns its feed
                # broke and can resubscribe (reference error-forwarding
                # semantics, lib.rs:965-979)
                for s in subs:
                    s.accept(
                        SubscriptionResponse(
                            [], False, error=f"shard revival failed: {err}"
                        )
                    )
            else:
                revived += len(payload["subs"])
        return {"shard": idx, "subscriptions": revived}

    def _journal_write(self, obj: dict) -> None:
        if self._journal_path is None:
            return
        tmp = self._journal_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, self._journal_path)

    def _journal_clear(self) -> None:
        if self._journal_path is not None and os.path.exists(self._journal_path):
            os.unlink(self._journal_path)

    def _poll_local(self, args: dict) -> dict:
        sub = self.client_for(args["streamDid"]).subs.get(args["subscriptionId"])
        if sub is None:
            raise KeyError(f"unknown subscription {args['subscriptionId']}")
        responses: list[SubscriptionResponse] = []
        timeout = float(args.get("timeoutSec") or 0)
        try:
            responses.append(
                sub.channel.get(timeout=timeout)
                if timeout > 0
                else sub.channel.get_nowait()
            )
            while True:
                responses.append(sub.channel.get_nowait())
        except queue.Empty:
            pass
        return {
            "responses": [
                {"rows": r.rows, "hasMore": r.has_more, "error": r.error}
                for r in responses
            ]
        }

    def close(self) -> None:
        for c in self.clients:
            c.close()


class LeafShardSupervisor:
    """One-port A23 front end over N share-nothing shard drivers.

    ``spark=None`` (production shape) spawns each shard as a subprocess
    with its own SparkSession/JVM via ``python -m leaf_spark.sharding``.
    Passing a live ``spark`` runs the shards in-process on that session
    (threads, separate catalog roots, same RPC protocol) — the cheap mode
    for tests, which exercises everything but the process boundary.
    """

    def __init__(
        self,
        root_dir: str,
        n_shards: int = 2,
        host: str = "127.0.0.1",
        port: int = 0,
        tokens: dict[str, Connection] | None = None,
        did_keys: dict[str, bytes] | None = None,
        audience: str | None = None,
        server_did: str = "did:web:localhost",
        spark=None,
        cpus_per_shard: int | None = None,
        spawn_timeout: float = 180.0,
    ):
        if n_shards < 1:
            raise ValueError("n_shards must be >= 1")
        self.root_dir = root_dir
        self.n_shards = n_shards
        self._host, self._port = host, port
        self._tokens, self._did_keys = tokens, did_keys
        self._audience, self._server_did = audience, server_did
        self._spark = spark
        self._cpus = cpus_per_shard
        self._spawn_timeout = spawn_timeout
        self._secret = _secrets.token_hex(32)
        self._procs: list[subprocess.Popen] = []
        self._workers: list[ShardWorker] = []
        self.router: ShardRouter | None = None
        self.sio = None
        self._stop_monitor = threading.Event()
        self._monitor: threading.Thread | None = None

    # -- lifecycle -------------------------------------------------------------

    def start(self) -> "LeafShardSupervisor":
        from .socketio import LeafSocketIOServer

        placement = self._recover_layout()
        ports = (
            self._start_inprocess() if self._spark is not None else self._spawn()
        )
        clients = [
            ShardClient("127.0.0.1", p, secret=self._secret) for p in ports
        ]
        self.router = ShardRouter(
            clients,
            placement=placement,
            shard_roots=[self._shard_root(i) for i in range(self.n_shards)],
            journal_path=self._journal_path(),
        )
        self.sio = LeafSocketIOServer(
            self.router,
            host=self._host,
            port=self._port,
            tokens=self._tokens,
            did_keys=self._did_keys,
            audience=self._audience,
            server_did=self._server_did,
        ).start()
        self.host, self.port = self.sio.host, self.sio.port
        self._monitor = threading.Thread(target=self._monitor_loop, daemon=True)
        self._monitor.start()
        return self

    def _shard_root(self, i: int) -> str:
        return os.path.join(self.root_dir, f"shard{i}")

    def _journal_path(self) -> str:
        return os.path.join(self.root_dir, ".move_journal.json")

    def move_stream(self, stream_did: str, target: int) -> dict:
        """Live-move one stream to another shard (see ShardRouter.move_stream)."""
        assert self.router is not None, "start() first"
        return self.router.move_stream(stream_did, target)

    def rebalance(
        self, max_moves: int | None = None, metric: str = "streams"
    ) -> dict:
        """Even out streams-per-shard via live moves (ShardRouter.rebalance)."""
        assert self.router is not None, "start() first"
        return self.router.rebalance(max_moves, metric=metric)

    def _recover_layout(self) -> dict[str, int]:
        """Derive the DID → shard placement overlay from the on-disk layout
        (runs BEFORE workers start, so healed meta files are what they
        load). Disk is the source of truth:

        - a pending move journal is reconciled: whichever root the stream
          directory actually sits in gets the journaled meta entry (incl.
          the handle, which stream.json doesn't carry), the other side's
          entry is dropped;
        - a stream directory with no meta entry anywhere (crash inside a
          move's rename window, or an operator hand-placing a stream dir —
          the reference's file-per-stream portability) gets its entry
          rebuilt from stream.json;
        - every stream living on a shard other than its hash owner joins
          the overlay — so growing ``n_shards`` over an existing root just
          works (old streams stay parked where they are; tools/reshard.py
          becomes a rebalance optimization, not a correctness requirement);
        - shard directories at index >= n_shards that still hold streams
          are refused loudly (serving would silently strand them).
        """
        os.makedirs(self.root_dir, exist_ok=True)
        journal: dict | None = None
        jp = self._journal_path()
        if os.path.exists(jp):
            try:
                with open(jp) as f:
                    journal = json.load(f)
            except (OSError, ValueError):
                journal = None

        # refuse stranded high shards (shrink without reshard.py)
        for name in os.listdir(self.root_dir):
            p = os.path.join(self.root_dir, name)
            if not (name.startswith("shard") and name[5:].isdigit()):
                continue
            if int(name[5:]) < self.n_shards or not os.path.isdir(p):
                continue
            meta_p = os.path.join(p, "streams_meta.json")
            held: dict = {}
            if os.path.exists(meta_p):
                with open(meta_p) as f:
                    held = json.load(f)
            sdir = os.path.join(p, "streams")
            dirs = os.listdir(sdir) if os.path.isdir(sdir) else []
            if held or dirs:
                raise RuntimeError(
                    f"{p} holds {max(len(held), len(dirs))} streams but "
                    f"n_shards={self.n_shards} — run tools/reshard.py "
                    f"{self.root_dir} {self.n_shards} first"
                )

        placement: dict[str, int] = {}
        owner_of: dict[str, int] = {}
        for i in range(self.n_shards):
            sroot = self._shard_root(i)
            meta_p = os.path.join(sroot, "streams_meta.json")
            meta: dict = {}
            if os.path.exists(meta_p):
                with open(meta_p) as f:
                    meta = json.load(f)
            changed = False
            streams_dir = os.path.join(sroot, "streams")
            for d in os.listdir(streams_dir) if os.path.isdir(streams_dir) else []:
                sj = os.path.join(streams_dir, d, "stream.json")
                if not os.path.exists(sj):
                    continue
                with open(sj) as f:
                    state = json.load(f)
                did = state.get("stream_did")
                if not did or did in meta:
                    continue
                # meta entry lost mid-move: prefer the journaled entry
                # (preserves handle), else rebuild from stream.json
                if journal and journal.get("streamDid") == did and journal.get("meta"):
                    meta[did] = dict(journal["meta"])
                else:
                    meta[did] = {
                        "handle": None,
                        "latest_event": int(state.get("latest_idx", 0)),
                        "module_cid": state.get("module_cid"),
                    }
                changed = True
            for did in list(meta):
                if did in owner_of:
                    raise RuntimeError(
                        f"stream {did} present on shard{owner_of[did]} AND "
                        f"shard{i} — resolve the duplicate before serving"
                    )
                owner_of[did] = i
                if shard_of(did, self.n_shards) != i:
                    placement[did] = i
            if changed:
                os.makedirs(sroot, exist_ok=True)
                tmp = meta_p + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(meta, f)
                os.replace(tmp, meta_p)
        # a journal whose stream is accounted for (or never existed) is stale
        if journal is not None:
            did = journal.get("streamDid")
            if did is not None and did not in owner_of:
                # released (meta popped) but directory never moved AND no
                # directory found: the stream had no folded data — restore
                # the journaled meta entry on the journaled source shard
                src_i = int(journal.get("from", 0))
                if 0 <= src_i < self.n_shards and journal.get("meta"):
                    sroot = self._shard_root(src_i)
                    meta_p = os.path.join(sroot, "streams_meta.json")
                    meta = {}
                    if os.path.exists(meta_p):
                        with open(meta_p) as f:
                            meta = json.load(f)
                    meta[did] = dict(journal["meta"])
                    os.makedirs(sroot, exist_ok=True)
                    tmp = meta_p + ".tmp"
                    with open(tmp, "w") as f:
                        json.dump(meta, f)
                    os.replace(tmp, meta_p)
                    if shard_of(did, self.n_shards) != src_i:
                        placement[did] = src_i
            os.unlink(jp)
        return placement

    def _start_inprocess_one(self, i: int) -> int:
        w = ShardWorker(self._spark, self._shard_root(i), secret=self._secret)
        port = w.listen()
        threading.Thread(target=w.serve_forever, daemon=True).start()
        if i < len(self._workers):
            self._workers[i] = w
        else:
            self._workers.append(w)
        return port

    def _start_inprocess(self) -> list[int]:
        return [self._start_inprocess_one(i) for i in range(self.n_shards)]

    def _spawn_one(self, i: int) -> tuple[subprocess.Popen, str]:
        total = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
        cpus = self._cpus or max(2, total // self.n_shards)
        os.makedirs(self._shard_root(i), exist_ok=True)
        pf = os.path.join(self._shard_root(i), f".port.{uuid.uuid4().hex}")
        proc = subprocess.Popen(
            [
                sys.executable,
                "-m",
                "leaf_spark.sharding",
                "--root",
                self._shard_root(i),
                "--port-file",
                pf,
                "--cpus",
                str(cpus),
                "--app",
                f"leaf-shard-{i}",
            ],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            # secret travels in the environment, never argv (argv is
            # world-readable in the process table)
            env={**os.environ, "LEAF_SHARD_SECRET": self._secret},
        )
        return proc, pf

    @staticmethod
    def _await_port(i: int, proc: subprocess.Popen, pf: str, deadline: float) -> int:
        while not os.path.exists(pf):
            if proc.poll() is not None:
                raise RuntimeError(f"shard {i} exited with {proc.returncode}")
            if time.monotonic() > deadline:
                raise TimeoutError(f"shard {i} did not report a port")
            time.sleep(0.1)
        with open(pf) as f:
            port = int(f.read().strip())
        os.unlink(pf)
        return port

    def _spawn(self) -> list[int]:
        spawned = [self._spawn_one(i) for i in range(self.n_shards)]
        self._procs = [p for p, _ in spawned]
        deadline = time.monotonic() + self._spawn_timeout
        return [
            self._await_port(i, p, pf, deadline)
            for i, (p, pf) in enumerate(spawned)
        ]

    # -- shard crash detection + revival --------------------------------------

    #: seconds between liveness sweeps; also the floor between successive
    #: revival attempts of one shard (doubles per consecutive failure,
    #: capped — a permanently-broken shard keeps erroring, honestly)
    MONITOR_INTERVAL = 0.5
    REVIVE_BACKOFF_MAX = 30.0

    def _monitor_loop(self) -> None:
        backoff: dict[int, float] = {}
        not_before: dict[int, float] = {}
        while not self._stop_monitor.wait(self.MONITOR_INTERVAL):
            assert self.router is not None
            for i in range(self.n_shards):
                if self._stop_monitor.is_set():
                    return
                if not self.router.clients[i]._closed.is_set():
                    backoff.pop(i, None)
                    continue
                if time.monotonic() < not_before.get(i, 0.0):
                    continue
                try:
                    self._revive_shard(i)
                    backoff.pop(i, None)
                except Exception:
                    b = min(
                        backoff.get(i, 1.0) * 2, self.REVIVE_BACKOFF_MAX
                    )
                    backoff[i] = b
                    not_before[i] = time.monotonic() + b

    def _revive_shard(self, i: int) -> dict:
        """Restart a dead shard worker in place and rebuild its live
        subscriptions (ShardRouter.revive_shard). Requests addressed to the
        shard wait on the revival gate instead of erroring; calls already
        in flight when the worker died got the shard-connection-lost error
        (an event_batch ack lost that way is the usual at-most-once RPC
        ambiguity — the batch is durable iff its log append completed)."""
        assert self.router is not None
        gate = threading.Event()
        self.router._reviving[i] = gate
        old_client = self.router.clients[i]
        try:
            if self._spark is not None:
                try:
                    self._workers[i].close()  # release catalog + listener
                except Exception:
                    pass
                port = self._start_inprocess_one(i)
            else:
                proc = self._procs[i]
                if proc.poll() is None:
                    proc.kill()
                proc.wait(timeout=30)
                p2, pf = self._spawn_one(i)
                self._procs[i] = p2
                port = self._await_port(
                    i, p2, pf, time.monotonic() + self._spawn_timeout
                )
            new_client = ShardClient(
                "127.0.0.1", port, secret=self._secret
            )
            result = self.router.revive_shard(i, new_client)
            old_client.close()
            return result
        finally:
            gate.set()
            self.router._reviving.pop(i, None)

    def kill_shard(self, i: int) -> None:
        """Crash injection (tests/ops): hard-stop shard ``i``'s worker. The
        monitor detects the dead connection and revives it."""
        if self._spark is not None:
            self._workers[i].close()
        else:
            self._procs[i].kill()

    def close(self) -> None:
        # stop the monitor FIRST: shutting workers down below trips the
        # same dead-connection signal a crash does
        self._stop_monitor.set()
        if self._monitor is not None:
            self._monitor.join(timeout=5)
        if self.sio is not None:
            self.sio.close()
        if self.router is not None:
            self.router.close()
        for w in self._workers:
            w.close()
        for p in self._procs:
            p.terminate()
        for p in self._procs:
            try:
                p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                p.kill()


# --------------------------------------------------------------------------
# shard worker subprocess entry: python -m leaf_spark.sharding …
# --------------------------------------------------------------------------


def _worker_main(argv: list[str]) -> None:
    import argparse

    ap = argparse.ArgumentParser(description="leaf_spark shard worker")
    ap.add_argument("--root", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--app", default="leaf-shard")
    ns = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(
        ns.app, master=f"local[{ns.cpus}]", shuffle_partitions=ns.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    worker = ShardWorker(
        spark, ns.root, secret=os.environ.get("LEAF_SHARD_SECRET")
    )
    port = worker.listen()
    tmp = ns.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(port))
    os.replace(tmp, ns.port_file)

    def _orphan_watch() -> None:
        # a supervisor that dies without close() must not leak shard JVMs:
        # when this process is reparented (ppid → 1 / changed), shut down
        ppid = os.getppid()
        while True:
            time.sleep(5)
            if os.getppid() != ppid:
                worker.close()
                os._exit(0)

    threading.Thread(target=_orphan_watch, daemon=True).start()
    try:
        worker.serve_forever()
    finally:
        worker.close()


if __name__ == "__main__":
    _worker_main(sys.argv[1:])
