"""Stream-engine throughput microbench (the stream-processor axis of
BASELINE.json, complementing bench.py's query-catalog numbers).

Measures, with the chat fixture module (FIXTURES.md F2 — authorizer +
batch-safe INSERT…SELECT materializer):

- ingest:   events/sec through add_events (authorize → materialize →
            atomic log append), across several batch sizes, and the
            Spark jobs per commit (spark_jobs_per_commit, one job group
            around the ingest loop) and py4j round trips per commit
            (py4j_calls_per_commit, a counting wrapper on
            ClientServerConnection.send_command);
- state:    the same two counts per single read-marker commit
            (spark_jobs_per_state_commit, py4j_calls_per_state_commit);
- small:    py4j round trips per single-message commit on a warm
            stream whose tables fit the sqlite mirror
            (py4j_calls_per_small_commit), SQL tokenizer passes per such
            commit (sql_tokenize_calls_per_small_commit: 0 while the
            statement analysis memo holds the module) and py4j round
            trips per batch the authorizer rejects (py4j_calls_per_reject);
- replay:   events/sec to rebuild materialized state from the log
            (fresh Stream on the same root, snapshot disabled by removal);
- reopen:   seconds to reopen with the persisted state snapshot (the
            O(tail) path that replaces O(log) replay);
- query:    named-query round-trips/sec over the materialized state.

Usage: python tools/bench_stream.py [n_events] [batch_size]
Prints one JSON line.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from leaf_spark import drisl, sqlcompat
from leaf_spark.session import get_spark
from leaf_spark.stream import BatchRejected, Stream
from leaf_spark.types import IncomingEvent, LeafQuery, SqlValue

from tests.fixtures import CHAT, marker, msg  # chat module + event factories


def _count_py4j_calls() -> list[int]:
    """Count the py4j round trips this thread makes from here on; returns
    the counter. Calls from other threads (py4j's background release of
    garbage-collected JVM objects) are not counted: their number depends
    on when the collector runs, not on the code under measurement."""
    from py4j.clientserver import ClientServerConnection

    calls = [0]
    send = ClientServerConnection.send_command
    owner = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == owner:
            calls[0] += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    return calls


@contextlib.contextmanager
def _counting_tokenize_passes():
    """Count the SQL tokenizer passes made inside the block: each pass
    starts with a match at offset 0 of ``sqlcompat._TOKEN_RE``."""
    pattern = sqlcompat._TOKEN_RE
    passes = [0]

    class Counting:
        def match(self, sql, pos=0):
            if pos == 0:
                passes[0] += 1
            return pattern.match(sql, pos)

    sqlcompat._TOKEN_RE = Counting()
    try:
        yield passes
    finally:
        sqlcompat._TOKEN_RE = pattern


def _group_jobs(sc, group: str) -> int:
    """Spark jobs run under ``group`` (listener bus drained first)."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    spark = get_spark("leaf-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    py4j_calls = _count_py4j_calls()

    root = tempfile.mkdtemp(prefix="stream_bench_")
    out: dict = {"n_events": n_events, "batch_size": batch}
    try:
        s = Stream(spark, root, "did:plc:bench")
        s.provide_module(CHAT)

        # ingest, under one job group so its Spark jobs can be counted
        sc = spark.sparkContext
        sc.setJobGroup("bench-ingest", "ingest loop")
        t0 = time.time()
        c0 = py4j_calls[0]
        i = commits = 0
        while i < n_events:
            events = [msg("did:plc:u", f"m{j}", j) for j in range(i, min(i + batch, n_events))]
            s.add_events(events)
            i += len(events)
            commits += 1
        ingest_s = time.time() - t0
        ingest_calls = py4j_calls[0] - c0
        sc.setLocalProperty("spark.jobGroup.id", None)
        out["ingest_events_per_sec"] = round(n_events / ingest_s, 1)
        ingest_jobs = _group_jobs(sc, "bench-ingest")
        out["spark_jobs_per_commit"] = round(ingest_jobs / max(commits, 1), 3)
        out["py4j_calls_per_commit"] = round(ingest_calls / max(commits, 1), 1)

        # single read-marker commits (state events fold in the sqlite
        # mirror while the state table is small)
        n_state = 20
        sc.setJobGroup("bench-state", "state commits")
        c0 = py4j_calls[0]
        for k in range(n_state):
            s.add_state_events([marker(f"did:plc:r{k % 4}", k)])
        state_calls = py4j_calls[0] - c0
        sc.setLocalProperty("spark.jobGroup.id", None)
        out["spark_jobs_per_state_commit"] = round(
            _group_jobs(sc, "bench-state") / n_state, 3
        )
        out["py4j_calls_per_state_commit"] = round(state_calls / n_state, 1)

        # query round-trips over materialized state
        t0 = time.time()
        n_q = 20
        for k in range(n_q):
            rows = s.query(
                "did:plc:u",
                LeafQuery("messages", start=k * 50 + 1, limit=50),
            )
            assert rows
        out["query_roundtrips_per_sec"] = round(n_q / (time.time() - t0), 2)

        # mirror-served round-trips (r10 read path): a stream whose
        # tables stay within Stream._MIRROR_CAP is served from the
        # driver-side sqlite mirrors — the 20k-message stream above
        # exceeds the cap and measures the Spark floor instead
        sroot = tempfile.mkdtemp(prefix="stream_bench_small_")
        try:
            ss = Stream(spark, sroot, "did:plc:benchsmall")
            ss.provide_module(CHAT)
            ss.add_events(
                [msg("did:plc:u", f"m{j}", j) for j in range(100)]
            )
            t0 = time.time()
            n_lq = 500
            for k in range(n_lq):
                rows = ss.query(
                    "did:plc:u", LeafQuery("messages", start=1, limit=50)
                )
                assert rows
            out["local_query_roundtrips_per_sec"] = round(
                n_lq / (time.time() - t0), 2
            )
            # py4j round trips of single-message commits and of batches
            # the authorizer rejects, on this warm stream: its commits
            # fold in the sqlite mirror and hand the rows to the store
            n_small = 20
            c0 = py4j_calls[0]
            with _counting_tokenize_passes() as passes:
                for k in range(n_small):
                    ss.add_events([msg("did:plc:u", f"s{k}", 1000 + k)])
            out["py4j_calls_per_small_commit"] = round(
                (py4j_calls[0] - c0) / n_small, 1
            )
            out["sql_tokenize_calls_per_small_commit"] = round(
                passes[0] / n_small, 1
            )
            c0 = py4j_calls[0]
            for k in range(n_small):
                try:  # no .content: "missing content"
                    ss.add_events(
                        [IncomingEvent("did:plc:u", drisl.encode({"k": k}))]
                    )
                except BatchRejected:
                    pass
            out["py4j_calls_per_reject"] = round(
                (py4j_calls[0] - c0) / n_small, 1
            )
        finally:
            shutil.rmtree(sroot, ignore_errors=True)

        # r11 append-grown mirror: a chat-message-sized table (10k rows —
        # over _MIRROR_CAP, within _MIRROR_CAP_APPEND, grown by provable
        # pure appends) keeps the driver-side sqlite read path; before the
        # incremental maintenance it dropped to the Spark floor at 257 rows
        mroot = tempfile.mkdtemp(prefix="stream_bench_mid_")
        try:
            ms = Stream(spark, mroot, "did:plc:benchmid")
            ms.provide_module(CHAT)
            j = 0
            while j < 10_000:
                ms.add_events(
                    [msg("did:plc:u", f"m{k}", k) for k in range(j, j + 2000)]
                )
                j += 2000
            t0 = time.time()
            n_mq = 500
            for k in range(n_mq):
                rows = ms.query(
                    "did:plc:u",
                    LeafQuery("messages", start=(k % 100) * 50 + 1, limit=50),
                )
                assert rows
            out["midsize_local_query_roundtrips_per_sec"] = round(
                n_mq / (time.time() - t0), 2
            )
            out["midsize_rows_mirrored"] = ms._mirror_rows.get("messages")
        finally:
            shutil.rmtree(mroot, ignore_errors=True)

        # reopen with snapshot (fast path)
        del s
        t0 = time.time()
        s2 = Stream(spark, root, "did:plc:bench")
        s2.provide_module(CHAT)
        out["reopen_with_snapshot_sec"] = round(time.time() - t0, 3)

        # full replay (remove snapshots → rebuild from the log)
        import os

        snap = os.path.join(root, "streams")
        snap = next(
            os.path.join(r, "snapshot")
            for r, d, f in os.walk(snap)
            if "snapshot" in d
        )
        shutil.rmtree(snap, ignore_errors=True)
        t0 = time.time()
        s3 = Stream(spark, root, "did:plc:bench")
        s3.provide_module(CHAT)
        replay_s = time.time() - t0
        out["replay_events_per_sec"] = round(n_events / replay_s, 1)
        n = s3.query("did:plc:u", LeafQuery("message_stats", limit=10))
        out["replayed_rows"] = n[0]["n"] if n else None

        # wire overhead: the same query round-trips through the full
        # socket.io stack (msgpack packets over websocket) — the wire layer
        # should add ≪ 10 ms/call on top of the in-process number above
        from leaf_spark.catalog import StreamCatalog
        from leaf_spark.server import Connection, LeafServer
        from leaf_spark.socketio import LeafSocketIOClient, LeafSocketIOServer

        wroot = tempfile.mkdtemp(prefix="stream_bench_wire_")
        try:
            catalog = StreamCatalog(spark, wroot)
            srv = LeafSocketIOServer(
                LeafServer(catalog),
                tokens={"t": Connection(user="did:plc:u")},
            ).start()
            cli = LeafSocketIOClient(srv.host, srv.port, token="t")
            cid = cli.call("module/upload", {"module": CHAT.to_codec()})["Ok"]["cid"]
            cli.call("stream/create", {"streamDid": "did:plc:wire", "moduleCid": cid})
            cli.call(
                "stream/event_batch",
                {
                    "streamDid": "did:plc:wire",
                    "payloads": [
                        drisl.encode({"content": f"m{j}", "sentAt": j})
                        for j in range(1000)
                    ],
                },
            )
            t0 = time.time()
            n_q = 20
            for k in range(n_q):
                ack = cli.call(
                    "stream/query",
                    {
                        "streamDid": "did:plc:wire",
                        "query": {"name": "messages", "start": k * 50 + 1, "limit": 50},
                    },
                )
                assert ack["Ok"]["rows"]
            out["socketio_query_roundtrips_per_sec"] = round(
                n_q / (time.time() - t0), 2
            )
            cli.close()
            srv.close()
        finally:
            shutil.rmtree(wroot, ignore_errors=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


def latency_main() -> None:
    """Commit→push latency distribution under concurrent fan-out
    (VERDICT r4 'Next round #9'): N streams ingest concurrently, each with
    M live subscribers; we measure, per (commit, subscriber), the time
    from add_events RETURNING (event durable, update hook fired) until
    that subscriber's channel holds the new row. Ingest throughput is
    bench'd separately above — this isolates the pub/sub + re-query push
    path, whose tail grows with M because a stream's worker services its
    subscriptions sequentially (reference lib.rs:888-985 does the same).

    Usage: python tools/bench_stream.py latency [n_streams] [n_subs]
           [n_commits]  → one JSON line with p50/p95/max per-push latency.
    """
    import statistics
    import threading

    from leaf_spark.streaming.subscribe import SubscriptionWorker

    n_streams = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_subs = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_commits = int(sys.argv[4]) if len(sys.argv) > 4 else 5
    spark = get_spark("leaf-stream-latency")
    spark.sparkContext.setLogLevel("ERROR")

    roots, streams, workers = [], [], []
    crossings: dict[tuple[int, int], list[float]] = {}
    cond = threading.Condition()

    def consumer(si: int, sj: int, ch) -> None:
        import queue as _q

        seen = 0
        while True:
            try:
                resp = ch.get(timeout=30)
            except _q.Empty:
                return
            now = time.monotonic()
            with cond:
                rec = crossings[(si, sj)]
                for _ in resp.rows:
                    seen += 1
                    rec.append(now)  # time cumulative count reached `seen`
                cond.notify_all()

    try:
        for i in range(n_streams):
            root = tempfile.mkdtemp(prefix=f"stream_lat_{i}_")
            roots.append(root)
            s = Stream(spark, root, f"did:plc:lat{i}")
            s.provide_module(CHAT)
            streams.append(s)
            w = SubscriptionWorker(s)
            workers.append(w)
            for j in range(n_subs):
                sub = w.subscribe_events(None, LeafQuery("messages", limit=100))
                crossings[(i, j)] = []
                threading.Thread(
                    target=consumer, args=(i, j, sub.channel), daemon=True
                ).start()

        samples: list[float] = []
        for k in range(n_commits):
            done_at: dict[int, float] = {}

            def commit(i: int, _k=k) -> None:
                streams[i].add_events([msg(f"did:plc:u{i}", f"c{_k}", _k)])
                done_at[i] = time.monotonic()

            ths = [
                threading.Thread(target=commit, args=(i,))
                for i in range(n_streams)
            ]
            for t in ths:
                t.start()
            for t in ths:
                t.join()
            # wait until every subscriber crossed k+1 cumulative rows
            deadline = time.monotonic() + 60
            with cond:
                while any(
                    len(rec) < k + 1 for rec in crossings.values()
                ) and time.monotonic() < deadline:
                    cond.wait(timeout=1.0)
            for (i, _j), rec in crossings.items():
                if len(rec) > k:
                    samples.append(rec[k] - done_at[i])

        samples.sort()
        q = lambda p: round(  # noqa: E731
            samples[min(len(samples) - 1, int(p * len(samples)))] * 1000, 1
        )
        # zero samples (every subscriber missed the deadline) is the most
        # important result a latency bench can report — emit it as data,
        # never die on an empty-list index
        print(
            json.dumps(
                {
                    "n_streams": n_streams,
                    "n_subscribers_per_stream": n_subs,
                    "n_commits": n_commits,
                    "n_samples": len(samples),
                    "push_latency_ms_p50": q(0.50) if samples else None,
                    "push_latency_ms_p95": q(0.95) if samples else None,
                    "push_latency_ms_max": (
                        round(samples[-1] * 1000, 1) if samples else None
                    ),
                }
            )
        )
    finally:
        for w in workers:
            w.close()
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)


def dedup_main() -> None:
    """Replay throughput for a NOT-EXISTS dedup-idiom module — the class
    that folded per-event (O(events) Spark statements) before round 9's
    set-wise compilation (one statement per fold).

    Usage: python tools/bench_stream.py dedup [n_events] [batch_size]
    """
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    batch = int(sys.argv[3]) if len(sys.argv) > 3 else 500
    spark = get_spark("leaf-dedup-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from leaf_spark import drisl
    from leaf_spark.module import BasicModuleDef, QueryDef

    mod = BasicModuleDef(
        init_sql=(
            "create table if not exists seen "
            "(key text not null, idx integer not null)"
        ),
        materializer=(
            "insert into seen (key, idx) "
            "select drisl_extract(payload, '.key'), idx from event "
            "where not exists (select 1 from seen "
            "where key = drisl_extract(payload, '.key'));"
        ),
        queries=(QueryDef("n", "select count(*) as n from seen"),),
    )

    root = tempfile.mkdtemp(prefix="dedup_bench_")
    out: dict = {"mode": "dedup", "n_events": n_events, "batch_size": batch}
    try:
        s = Stream(spark, root, "did:plc:dd")
        s.provide_module(mod)
        t0 = time.time()
        i = 0
        while i < n_events:
            n = min(batch, n_events - i)
            s.add_events(
                [
                    IncomingEvent(
                        "did:plc:u", drisl.encode({"key": f"k{(i + j) % 257}"})
                    )
                    for j in range(n)
                ]
            )
            i += n
        out["ingest_events_per_sec"] = round(n_events / (time.time() - t0), 1)

        import os

        snap = next(
            os.path.join(r, "snapshot")
            for r, d, f in os.walk(os.path.join(root, "streams"))
            if "snapshot" in d
        )
        shutil.rmtree(snap, ignore_errors=True)
        t0 = time.time()
        s2 = Stream(spark, root, "did:plc:dd")
        s2.provide_module(mod)
        replay_s = time.time() - t0
        out["replay_events_per_sec"] = round(n_events / replay_s, 1)
        out["replay_sec"] = round(replay_s, 2)
        out["distinct_keys"] = s2.query(None, LeafQuery("n"))[0]["n"]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


def counter_main() -> None:
    """Replay throughput for the accumulate-by-key UPDATE module (the
    COUNTER shape) — the class that folded per-event before round 10's
    pooled rounds (O(R·S) statements, R = max per-key op multiplicity).

    Usage: python tools/bench_stream.py counter [n_events] [n_keys]
    """
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    n_keys = int(sys.argv[3]) if len(sys.argv) > 3 else 200
    spark = get_spark("leaf-counter-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from leaf_spark import drisl
    from tests.fixtures import COUNTER

    root = tempfile.mkdtemp(prefix="counter_bench_")
    out: dict = {"mode": "counter", "n_events": n_events, "n_keys": n_keys}
    try:
        s = Stream(spark, root, "did:plc:cb")
        s.provide_module(COUNTER)
        t0 = time.time()
        i = 0
        batch = 500
        while i < n_events:
            n = min(batch, n_events - i)
            s.add_events(
                [
                    IncomingEvent(
                        "did:plc:u",
                        drisl.encode(
                            {"name": f"k{(i + j) % n_keys}", "delta": 1}
                        ),
                    )
                    for j in range(n)
                ]
            )
            i += n
        out["ingest_events_per_sec"] = round(n_events / (time.time() - t0), 1)

        import os

        snap = next(
            os.path.join(r, "snapshot")
            for r, d, f in os.walk(os.path.join(root, "streams"))
            if "snapshot" in d
        )
        shutil.rmtree(snap, ignore_errors=True)
        t0 = time.time()
        s2 = Stream(spark, root, "did:plc:cb")
        s2.provide_module(COUNTER)
        replay_s = time.time() - t0
        out["replay_events_per_sec"] = round(n_events / replay_s, 1)
        out["replay_sec"] = round(replay_s, 2)
        rows = s2.query("did:plc:u", LeafQuery("counters", limit=10000))
        out["distinct_keys"] = len(rows)
        out["sum_check"] = sum(r["value"] for r in rows) == n_events
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "latency":
        latency_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "dedup":
        dedup_main()
    elif len(sys.argv) > 1 and sys.argv[1] == "counter":
        counter_main()
    else:
        main()
