"""Multi-stream ingest scaling — substantiates the SCALE.md claim that
throughput scales with stream count (per-stream single-writer lock, no
global lock): N streams ingest concurrently from N threads on one
SparkSession; aggregate events/sec should grow with N until executor
slots saturate.

Usage: python tools/bench_fleet.py [streams] [events_per_stream] [batch]
Prints one JSON line.

``--shards N`` benches the multi-driver supervisor instead (leaf_spark/
sharding.py): N shard subprocesses, each its own SparkSession/JVM, fronted
by one socket.io port; ingest arrives over real socket.io clients, so the
full route (ws → supervisor → shard RPC → Spark fold) is measured. This is
the deployment cure for the single-driver GIL ceiling — compare its
``fleet_aggregate_events_per_sec`` against the default mode's at the same
stream count.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from leaf_spark.session import get_spark
from leaf_spark.stream import Stream

from tests.fixtures import CHAT, msg


def _ingest_worker(argv: list[str]) -> None:
    """Subprocess load generator: its encode/mask/frame CPU must not share
    the supervisor's GIL (clients are remote processes in any real
    deployment — an in-process thread would bench the generator, not the
    server)."""
    import sys as _sys

    sys.path.insert(0, REPO)
    from leaf_spark import drisl
    from leaf_spark.socketio import LeafSocketIOClient

    host, port, did, per_stream, batch = (
        argv[0],
        int(argv[1]),
        argv[2],
        int(argv[3]),
        int(argv[4]),
    )
    cli = LeafSocketIOClient(host, port, token="bench-token")
    # ready/go barrier: interpreter + pyspark-import startup (~1-2 s per
    # worker) must not land inside the parent's timing window
    print("READY", flush=True)
    assert _sys.stdin.readline().strip() == "GO"
    try:
        i = 0
        while i < per_stream:
            n = min(batch, per_stream - i)
            out = cli.call(
                "stream/event_batch",
                {
                    "streamDid": did,
                    "payloads": [
                        drisl.encode({"content": f"m{i + j}", "sentAt": i + j})
                        for j in range(n)
                    ],
                },
                timeout=600,
            )
            assert "Ok" in out, out
            i += n
    finally:
        cli.close()
    _sys.exit(0)


def main_latency_sharded(n_streams: int, n_commits: int, n_shards: int) -> None:
    """Commit→push latency THROUGH the shard supervisor: subscriber
    clients hold live subscriptions over socket.io; a committer client
    posts event batches; latency = event_batch ack → the subscriber's
    stream/subscription_response for that commit. Quantifies what the
    shard RPC relay adds on top of the single-driver push path
    (SCALE.md's 4×8 table)."""
    import tempfile as _tf

    from leaf_spark import drisl
    from leaf_spark.server import Connection
    from leaf_spark.sharding import LeafShardSupervisor, shard_of
    from leaf_spark.socketio import LeafSocketIOClient

    root = _tf.mkdtemp(prefix="fleet_latency_bench_")
    sup = LeafShardSupervisor(
        root,
        n_shards=n_shards,
        tokens={"bench-token": Connection(user="did:plc:bench")},
    ).start()
    try:
        setup = LeafSocketIOClient(sup.host, sup.port, token="bench-token")
        cid = setup.call("module/upload", {"module": CHAT.to_codec()})["Ok"]["cid"]
        dids: list[str] = []
        i = 0
        while len(dids) < n_streams:
            cand = f"did:plc:lat{i}"
            if shard_of(cand, n_shards) == len(dids) % n_shards:
                dids.append(cand)
            i += 1
        subs = []
        for did in dids:
            setup.call("stream/create", {"streamDid": did, "moduleCid": cid})
            cli = LeafSocketIOClient(sup.host, sup.port, token="bench-token")
            out = cli.call(
                "stream/subscribe_events",
                {"streamDid": did, "query": {"name": "messages"}},
            )
            assert "Ok" in out, out
            subs.append((did, cli))
        # warm: one commit + push per stream
        for did, cli in subs:
            setup.call(
                "stream/event_batch",
                {"streamDid": did, "payloads": [drisl.encode({"content": "w", "sentAt": 0})]},
            )
            cli.next_event(timeout=120)

        samples: list[float] = []
        for k in range(n_commits):
            for did, cli in subs:
                t0 = time.time()
                out = setup.call(
                    "stream/event_batch",
                    {
                        "streamDid": did,
                        "payloads": [
                            drisl.encode({"content": f"m{k}", "sentAt": k + 1})
                        ],
                    },
                )
                assert "Ok" in out, out
                t_ack = time.time()
                while True:
                    kind, payload = cli.next_event(timeout=120)
                    if kind == "stream/subscription_response":
                        break
                samples.append((time.time() - t_ack) * 1000)
        setup.close()
        for _, cli in subs:
            cli.close()
        samples.sort()

        def q(p: float) -> float:
            return round(samples[min(len(samples) - 1, int(p * len(samples)))], 1)

        print(
            json.dumps(
                {
                    "mode": "latency_sharded",
                    "n_shards": n_shards,
                    "n_streams": n_streams,
                    "n_commits": n_commits,
                    "samples": len(samples),
                    "push_latency_ms_p50": q(0.50),
                    "push_latency_ms_p95": q(0.95),
                    "push_latency_ms_max": round(samples[-1], 1),
                }
            )
        )
    finally:
        sup.close()


def main_sharded(n_streams: int, per_stream: int, batch: int, n_shards: int) -> None:
    import os
    import subprocess

    from leaf_spark import drisl
    from leaf_spark.server import Connection
    from leaf_spark.sharding import LeafShardSupervisor
    from leaf_spark.socketio import LeafSocketIOClient

    root = tempfile.mkdtemp(prefix="fleet_shard_bench_")
    sup = LeafShardSupervisor(
        root,
        n_shards=n_shards,
        tokens={"bench-token": Connection(user="did:plc:bench")},
        cpus_per_shard=max(
            2, int(os.environ.get("SPARK_GRAFT_CPUS", "32")) // n_shards
        ),
    ).start()
    try:
        setup = LeafSocketIOClient(sup.host, sup.port, token="bench-token")
        cid = setup.call("module/upload", {"module": CHAT.to_codec()})["Ok"]["cid"]
        # shard-balanced DIDs (round-robin over the hash): 9 sequential
        # names can land 8-on-1 by chance; a real fleet of many tenants
        # balances by the law of large numbers, and THAT capacity is what
        # this bench measures — an adversarially skewed tenant set is a
        # placement problem, not a transport one
        from leaf_spark.sharding import shard_of

        dids: list[str] = []
        i = 0
        while len(dids) < n_streams:
            cand = f"did:plc:fleet{i}"
            if shard_of(cand, n_shards) == len(dids) % n_shards:
                dids.append(cand)
            i += 1
        for did in dids:
            out = setup.call("stream/create", {"streamDid": did, "moduleCid": cid})
            assert "Ok" in out, out

        def spawn(did: str) -> subprocess.Popen:
            return subprocess.Popen(
                [
                    sys.executable,
                    sys.argv[0],
                    "--ingest-worker",
                    sup.host,
                    str(sup.port),
                    did,
                    str(per_stream),
                    str(batch),
                ],
                stdin=subprocess.PIPE,
                stdout=subprocess.PIPE,
                text=True,
            )

        def run_group(group: list[str]) -> float:
            """Spawn one worker per DID, barrier on READY, time GO→exit."""
            procs = [spawn(d) for d in group]
            for p in procs:
                assert p.stdout.readline().strip() == "READY"
            t0 = time.time()
            for p in procs:
                p.stdin.write("GO\n")
                p.stdin.flush()
            assert all(p.wait() == 0 for p in procs)
            return time.time() - t0

        # warm every shard's JVM/codegen with one batch per stream
        for did in dids:
            out = setup.call(
                "stream/event_batch",
                {
                    "streamDid": did,
                    "payloads": [
                        drisl.encode({"content": f"w{j}", "sentAt": j})
                        for j in range(batch)
                    ],
                },
            )
            assert "Ok" in out, out
        setup.close()

        single = per_stream / run_group(dids[:1])
        fleet = (n_streams - 1) * per_stream / run_group(dids[1:])

        print(
            json.dumps(
                {
                    "mode": "sharded",
                    "n_shards": n_shards,
                    "n_streams_concurrent": n_streams - 1,
                    "events_per_stream": per_stream,
                    "batch_size": batch,
                    "single_stream_events_per_sec": round(single, 1),
                    "fleet_aggregate_events_per_sec": round(fleet, 1),
                    "scaling_factor": round(fleet / single, 2),
                }
            )
        )
    finally:
        sup.close()


def main() -> None:
    argv = list(sys.argv[1:])
    if argv and argv[0] == "--ingest-worker":
        _ingest_worker(argv[1:])
        return
    n_shards = 0
    if "--shards" in argv:
        i = argv.index("--shards")
        n_shards = int(argv[i + 1])
        del argv[i : i + 2]
    if argv and argv[0] == "latency":
        # usage: bench_fleet.py latency [streams] [commits] --shards N
        n_streams = int(argv[1]) if len(argv) > 1 else 4
        n_commits = int(argv[2]) if len(argv) > 2 else 5
        main_latency_sharded(n_streams, n_commits, max(1, n_shards))
        return
    n_streams = int(argv[0]) if len(argv) > 0 else 4
    per_stream = int(argv[1]) if len(argv) > 1 else 4000
    batch = int(argv[2]) if len(argv) > 2 else 2000
    if n_shards:
        main_sharded(n_streams, per_stream, batch, n_shards)
        return
    # FAIR must be set at context creation — scheduler mode is immutable
    # after the TaskScheduler initializes (a setLocalProperty would be a
    # silent no-op; only spark.scheduler.pool is read per-thread)
    spark = get_spark(
        "leaf-fleet-bench", extra_conf={"spark.scheduler.mode": "FAIR"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.conf.get("spark.scheduler.mode") == "FAIR"

    root = tempfile.mkdtemp(prefix="fleet_bench_")
    streams = []
    for i in range(n_streams):
        s = Stream(spark, f"{root}/s{i}", f"did:plc:fleet{i}")
        s.provide_module(CHAT)
        streams.append(s)

    def ingest(s: Stream) -> None:
        # FAIR mode schedules BETWEEN pools; jobs inside one pool are FIFO,
        # so each ingest thread needs its own pool for fair interleaving
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"ingest-{id(s)}"
        )
        i = 0
        while i < per_stream:
            n = min(batch, per_stream - i)
            s.add_events([msg("did:plc:u", f"m{i + j}", i + j) for j in range(n)])
            i += n

    # Warm the session first (codegen/JIT/first-job setup would otherwise
    # land entirely on the single-stream baseline and inflate the scaling
    # factor): one throwaway batch through a scratch stream.
    warm = Stream(spark, f"{root}/warm", "did:plc:fleetwarm")
    warm.provide_module(CHAT)
    warm.add_events([msg("did:plc:u", f"w{j}", j) for j in range(batch)])

    # single-stream reference on the warmed session
    t0 = time.time()
    ingest(streams[0])
    single = per_stream / (time.time() - t0)

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=n_streams - 1) as ex:
        list(ex.map(ingest, streams[1:]))
    fleet = (n_streams - 1) * per_stream / (time.time() - t0)

    print(
        json.dumps(
            {
                "n_streams_concurrent": n_streams - 1,
                "events_per_stream": per_stream,
                "batch_size": batch,
                "single_stream_events_per_sec": round(single, 1),
                "fleet_aggregate_events_per_sec": round(fleet, 1),
                "scaling_factor": round(fleet / single, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
