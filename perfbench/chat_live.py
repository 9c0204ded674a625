"""chat_live: open-loop chat traffic over real socket.io.

The server (``perfbench.chat_server``) runs in its own process. This
process is the load generator: four socket.io connections drive two
streams of the CHAT module on a seeded schedule.

- ``w0``/``w1`` (one per stream): small ``stream/event_batch`` commits of
  1-3 messages; a fixed share of the batches carries a message without
  ``content`` and must be rejected with ``missing content``; some ops are
  ``stream/state_event_batch`` read markers.
- ``reader``: ``stream/query`` calls (``messages``, ``message_stats``,
  ``my_unread``) on both streams, interleaved with the writes.
- ``subscriber``: three ``stream/subscribe_events`` subscriptions per
  stream, two of them identical (they share one re-query per update).

Each op is timed from its due time on the schedule, so a stall delays the
ops behind it. A push is timed from the due time of the commit that wrote
the row; one that arrives later than ``PUSH_DEADLINE_S`` counts as failed.
"""

from __future__ import annotations

import itertools
import json
import queue
import random
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

from leaf_spark import drisl
from leaf_spark.socketio import EVENT, LeafSocketIOClient

from . import common
from .modules import CHAT, chat_payload, malformed_payload, marker_payload

# Schedule. On a 4-core host one commit takes ~0.2 s of server time, a read
# marker ~0.45 s and a mirror-served query ~1 ms, and the two streams commit
# in parallel. Offered 8 writer ops/s in total, the server completed at most
# ~5/s (latency grew without bound), so the open loop offers half of that.
WRITER_OPS_PER_S = 1.25  # per stream
# Queries wait for a commit on their stream (both take the stream lock) and
# for the query before them on the reader connection; at 5/s most of them
# still find the stream idle, so their median stays in the fast mode.
QUERIES_PER_S = 5.0  # reader, both streams together
# Ops come in shuffled blocks so every run has the same mix: per 10 writer
# ops one read marker and one malformed batch, per 4 queries the query mix.
WRITER_BLOCK = ("marker", "reject") + ("commit",) * 8
QUERY_BLOCK = ("messages", "messages", "message_stats", "my_unread")
SUBSCRIPTIONS = ({"name": "messages", "limit": 100},) * 2 + ({"name": "messages", "limit": 50},)
PUSH_DEADLINE_S = 5.0
STREAMS = ("did:plc:chat-a", "did:plc:chat-b")
# Set-up includes this many closed-loop writer ops per writer on two
# streams of their own, with queries and subscriptions alongside. Without
# them the JVM's JIT compilers used ~0.7 of a core through the measured
# window; with them, about half of that.
WARM_OPS = 30
WARM_STREAMS = ("did:plc:chat-warm-a", "did:plc:chat-warm-b")


@dataclass
class Op:
    conn: str
    kind: str  # commit | reject | marker | query
    stream: str
    due: float
    args: dict
    contents: tuple = ()
    sent: float = 0.0
    acked: float = 0.0
    ack: dict | None = None


def make_schedule(seed: int, seconds: float) -> list[Op]:
    """Every op of the measured window, from the seed alone."""
    rng = random.Random(seed)

    def blocks(block: tuple):
        while True:
            b = list(block)
            rng.shuffle(b)
            yield from b

    ops: list[Op] = []
    n = 0
    step = 1.0 / WRITER_OPS_PER_S
    for w, stream in enumerate(STREAMS):
        kinds = blocks(WRITER_BLOCK)
        t = (w + 0.5) * step / len(STREAMS)  # the two writers alternate
        while t < seconds:
            kind = next(kinds)
            if kind == "marker":
                args = {"streamDid": stream, "payloads": [marker_payload(rng.randrange(1, 50))]}
                ops.append(Op(f"w{w}", kind, stream, t, args))
            else:
                size = rng.randint(1, 3)
                contents = tuple(f"c{n}.{k}" for k in range(size))
                n += 1
                payloads = [chat_payload(c, rng.randrange(1 << 31)) for c in contents]
                if kind == "reject":
                    payloads[rng.randrange(size)] = malformed_payload(0)
                    contents = ()
                args = {"streamDid": stream, "payloads": payloads}
                ops.append(Op(f"w{w}", kind, stream, t, args, contents))
            t += step
    names = blocks(QUERY_BLOCK)
    step = 1.0 / QUERIES_PER_S
    t, k = step / 4, 0
    while t < seconds:
        name = next(names)
        query = {"name": name, "limit": 50}
        if name == "messages":
            query["start"] = rng.randrange(1, 100)
        stream = STREAMS[k % len(STREAMS)]
        ops.append(Op("reader", "query", stream, t, {"streamDid": stream, "query": query}))
        t, k = t + step, k + 1
    return sorted(ops, key=lambda o: o.due)


ENDPOINT = {
    "commit": "stream/event_batch",
    "reject": "stream/event_batch",
    "marker": "stream/state_event_batch",
    "query": "stream/query",
}


class _Sink:
    """Stands in for a call's ack queue: stamps the arrival time."""

    def __init__(self, op: Op, done):
        self.op, self.done = op, done

    def put(self, data) -> None:
        self.op.acked = time.perf_counter()
        self.op.ack = drisl.decode(bytes(data[0]))
        self.done()


class AsyncClient(LeafSocketIOClient):
    """``LeafSocketIOClient`` plus a non-blocking send for open-loop load."""

    def send(self, op: Op, done) -> None:
        self._next_id += 1
        self._acks[self._next_id] = _Sink(op, done)
        op.sent = time.perf_counter()
        self._send(
            {
                "type": EVENT,
                "nsp": "/",
                "id": self._next_id,
                "data": [ENDPOINT[op.kind], drisl.encode(op.args)],
            }
        )


class _Server:
    """The server process and its line protocol."""

    def __init__(self, run_dir: str, trace_path: str | None):
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.chat_server", run_dir, trace_path or "-"],
            cwd=common.REPO,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )

    def read(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("chat server exited")
        return json.loads(line)

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _call(cli, endpoint: str, args: dict) -> dict:
    ack = cli.call(endpoint, args)
    if "Ok" not in ack:
        raise RuntimeError(f"warm-up {endpoint}: {ack}")
    return ack["Ok"]


def _warm_up(clients: dict, module_codec: dict) -> dict[str, int]:
    """Load the server on streams of its own (``_load``), then create both
    measured streams and push a little of every op kind through the whole
    path. Returns each measured stream's head afterwards."""
    w0 = clients["w0"]
    cid = _call(w0, "module/upload", {"module": module_codec})["cid"]
    _load(clients, cid)
    heads = {}
    for w, stream in enumerate(STREAMS):
        _call(w0, "stream/create", {"streamDid": stream, "moduleCid": cid})
        cli = clients[f"w{w}"]
        for k in range(3):
            batch = {"streamDid": stream, "payloads": [chat_payload(f"warm{k}", k)]}
            heads[stream] = _call(cli, "stream/event_batch", batch)["latestEvent"]
        bad = {"streamDid": stream, "payloads": [malformed_payload(0)]}
        ack = cli.call("stream/event_batch", bad)
        if "missing content" not in ack.get("Err", ""):
            raise RuntimeError(f"warm-up malformed batch: {ack}")
        marker = {"streamDid": stream, "payloads": [marker_payload(1)]}
        _call(cli, "stream/state_event_batch", marker)
        for name in dict.fromkeys(QUERY_BLOCK):
            for _ in range(3):
                query = {"streamDid": stream, "query": {"name": name, "limit": 50}}
                _call(clients["reader"], "stream/query", query)
    return heads


def _load(clients: dict, cid: str) -> None:
    """``WARM_OPS`` closed-loop writer ops per writer on ``WARM_STREAMS``,
    one batch in ten malformed and one a read marker, while the reader
    queries them back to back and the subscriber holds ``SUBSCRIPTIONS`` on
    them. The subscriptions are dropped afterwards."""
    sub = clients["subscriber"]
    subs = []
    for stream in WARM_STREAMS:
        _call(clients["w0"], "stream/create", {"streamDid": stream, "moduleCid": cid})
        for q in SUBSCRIPTIONS:
            ack = _call(sub, "stream/subscribe_events", {"streamDid": stream, "query": q})
            subs.append((stream, ack["subscriptionId"]))
    done = threading.Event()
    errors: list[Exception] = []

    def write(w: int) -> None:
        cli, stream = clients[f"w{w}"], WARM_STREAMS[w]
        try:
            for k in range(WARM_OPS):
                kind = WRITER_BLOCK[k % len(WRITER_BLOCK)]
                if kind == "marker":
                    _call(cli, "stream/state_event_batch",
                          {"streamDid": stream, "payloads": [marker_payload(k)]})
                    continue
                payloads = [chat_payload(f"warm{k}.{j}", k) for j in range(1 + k % 3)]
                if kind == "reject":
                    payloads[-1] = malformed_payload(k)
                    cli.call("stream/event_batch", {"streamDid": stream, "payloads": payloads})
                else:
                    _call(cli, "stream/event_batch", {"streamDid": stream, "payloads": payloads})
        except Exception as ex:  # re-raised in the calling thread
            errors.append(ex)

    def read() -> None:
        names = itertools.cycle(QUERY_BLOCK)
        k = 0
        while not done.is_set():
            query = {"name": next(names), "limit": 50}
            stream = WARM_STREAMS[k % len(WARM_STREAMS)]
            k += 1
            try:
                _call(clients["reader"], "stream/query", {"streamDid": stream, "query": query})
            except Exception as ex:
                errors.append(ex)
                return

    writers = [threading.Thread(target=write, args=(w,)) for w in range(len(WARM_STREAMS))]
    reader = threading.Thread(target=read)
    for t in (*writers, reader):
        t.start()
    for t in writers:
        t.join()
    done.set()
    reader.join()
    if errors:
        raise errors[0]
    for stream, sid in subs:
        _call(sub, "stream/unsubscribe", {"streamDid": stream, "subscriptionId": sid})


def run(args, run_dir: str, trace_path: str | None) -> dict:
    ops = make_schedule(args.seed, args.seconds)
    t_setup = time.perf_counter()
    server = _Server(run_dir, trace_path)
    clients: dict = {}
    try:
        ready = server.read()
        t_warm = time.perf_counter()
        for token in ("w0", "w1", "reader", "subscriber"):
            clients[token] = AsyncClient("127.0.0.1", ready["port"], token=token)
        heads = _warm_up(clients, CHAT.to_codec())
        subs: dict[str, str] = {}  # sub id -> stream
        for stream in STREAMS:
            for q in SUBSCRIPTIONS:
                ack = clients["subscriber"].call(
                    "stream/subscribe_events", {"streamDid": stream, "query": q}
                )
                subs[ack["Ok"]["subscriptionId"]] = stream
        server.send("mark")
        server.read()
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        pushes: list[tuple[str, int, str, float]] = []  # sub, idx, content, t
        push_errors: list = []
        stop = threading.Event()

        def consume() -> None:
            cli = clients["subscriber"]
            while not (stop.is_set() and cli.events.empty()):
                try:
                    kind, payload = cli.next_event(timeout=0.1)
                except queue.Empty:
                    continue
                now = time.perf_counter()
                if kind != "stream/subscription_response" or payload["subscriptionId"] not in subs:
                    continue  # a late push of a set-up subscription
                resp = payload["response"]
                if "Ok" not in resp:
                    push_errors.append(resp)
                    continue
                for row in resp["Ok"]["rows"]:
                    pushes.append(
                        (payload["subscriptionId"], row["idx"]["value"], row["content"]["value"], now)
                    )

        consumer = threading.Thread(target=consume, daemon=True)
        consumer.start()

        pending = threading.Semaphore(0)
        steal0, load1 = common.steal_ticks(), common.load1()
        t0 = time.perf_counter() + 0.05
        for op in ops:
            op.due += t0

        def drive(conn: str) -> None:
            cli = clients[conn]
            for op in ops:
                if op.conn != conn:
                    continue
                delay = op.due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                cli.send(op, pending.release)

        senders = [threading.Thread(target=drive, args=(c,)) for c in ("w0", "w1", "reader")]
        for d in senders:
            d.start()
        for d in senders:
            d.join()
        ack_deadline = time.perf_counter() + 60
        for _ in ops:
            if not pending.acquire(timeout=max(0.0, ack_deadline - time.perf_counter())):
                break
        last_commit = max((o.due for o in ops if o.kind == "commit"), default=t0)
        expected_pushes = len(SUBSCRIPTIONS) * sum(
            len(o.contents) for o in ops if o.kind == "commit" and "Ok" in (o.ack or {})
        )
        push_deadline = max(time.perf_counter(), last_commit + PUSH_DEADLINE_S) + 1.0
        while len(pushes) < expected_pushes and time.perf_counter() < push_deadline:
            time.sleep(0.05)
        wall = time.perf_counter() - t0
        steal_s = common.ticks_to_s(common.steal_ticks() - steal0)
        stop.set()
        consumer.join()

        final = {}
        for stream in STREAMS:
            ack = clients["reader"].call(
                "stream/query",
                {"streamDid": stream, "query": {"name": "message_stats", "limit": 100}},
            )
            final[stream] = ack
        server.send("stop")
        server_out = server.read()
    finally:
        for cli in clients.values():
            cli.close()
        server.close()

    attempted, failed, lat = _check(ops, subs, pushes, push_errors, heads, final)
    rejects = sum(op.kind == "reject" for op in ops)
    detail = {
        "setup_s": (setup_s, "s"),
        **{
            f"{kind}_p{p}_ms": (common.pct(lat[kind], p), "ms")
            for kind in ("commit", "push", "query")
            for p in (50, 95)
        },
        "marker_p50_ms": (common.pct(lat["marker"], 50), "ms"),
        "failed_frac": (failed / attempted, "ratio"),
        "offered_writer_ops_per_s": (WRITER_OPS_PER_S * len(STREAMS), "1/s"),
        "offered_queries_per_s": (QUERIES_PER_S, "1/s"),
        "generator_lag_p95_ms": (common.pct(lat["lag"], 95), "ms"),
        "host_steal_s": (steal_s, "s"),
        "host_load1": (load1, "load"),
        "server_cpu_s": (server_out["cpu_s"], "s"),
        **{f"{kind}_samples": (len(lat[kind]), "count") for kind in ("commit", "push", "query")},
    }
    out = {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        # the server's CPU time over every op of the schedule; pushes and
        # the queries' share are part of what a commit costs the server
        "cpu_ms_per_op": server_out["cpu_s"] * 1000 / len(ops),
        "detail": detail,
        "wall_s": wall,
    }
    if trace_path is not None:
        layer = dict(server_out["layer"])
        layer["session.warmup_s"] = warmup_s
        layer["wire.overhead_ms"] = common.pct(lat["query_rtt"], 50) - layer[
            "server.handle_ms.query"
        ]
        layer["bench.generator_lag_ms"] = common.pct(lat["lag"], 95)
        layer["bench.trace_overhead_frac"] = layer.pop("trace_overhead_s") / wall
        layer["host.load1"] = load1
        layer["host.steal_s"] = steal_s
        # every expected rejection, and nothing else, rolls the store back
        out["attempted"] += 1
        out["failed"] += layer["dml.restore_calls"] != rejects
        out["layer"] = layer
    return out


def _check(ops, subs, pushes, push_errors, heads, final):
    """Check every output; returns (attempted, failed, latencies in ms)."""
    failed = len(push_errors)
    attempted = len(ops)
    lat: dict[str, list[float]] = {
        k: [] for k in ("commit", "marker", "query", "push", "query_rtt", "lag")
    }
    rows: dict[str, dict[str, tuple[int, float]]] = {s: {} for s in STREAMS}  # content -> idx, due
    latest = dict(heads)
    for op in ops:
        if op.ack is None:
            failed += 1
            continue
        lat["lag"].append((op.sent - op.due) * 1000)
        if op.kind == "reject":
            failed += "missing content" not in op.ack.get("Err", "")
            continue
        if "Ok" not in op.ack:
            failed += 1
            continue
        lat[op.kind].append((op.acked - op.due) * 1000)
        if op.kind == "commit":
            last = op.ack["Ok"]["latestEvent"]
            for k, c in enumerate(op.contents):
                rows[op.stream][c] = (last - len(op.contents) + 1 + k, op.due)
            latest[op.stream] = max(latest[op.stream], last)
        elif op.kind == "query":
            lat["query_rtt"].append((op.acked - op.sent) * 1000)

    # every accepted row reaches every subscriber exactly once, in idx order,
    # within the deadline
    got: dict[str, list[tuple[int, str, float]]] = {sid: [] for sid in subs}
    for sid, idx, content, t in pushes:
        got.setdefault(sid, []).append((idx, content, t))
    for sid, stream in subs.items():
        expect = sorted((idx, c) for c, (idx, _due) in rows[stream].items())
        seen = [(idx, c) for idx, c, _t in got[sid]]
        attempted += len(expect)
        failed += len(set(expect) - set(seen))  # missing
        failed += len(seen) - len(set(seen))  # duplicated
        failed += seen != sorted(seen)  # out of order
        for _idx, c, t in got[sid]:
            if c in rows[stream]:
                late = t - rows[stream][c][1]
                lat["push"].append(late * 1000)
                failed += late > PUSH_DEADLINE_S
    # final counts equal the accepted rows: rejected batches wrote nothing
    for stream in STREAMS:
        attempted += 1
        ack = final[stream]
        total = sum(r["n"]["value"] for r in ack.get("Ok", {}).get("rows", []))
        failed += not (total == heads[stream] + len(rows[stream]) == latest[stream])
    return attempted, failed, lat
