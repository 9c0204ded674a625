"""The chat_live server process: ``LeafSocketIOServer`` → ``LeafServer`` →
``StreamCatalog`` on ``local[nproc]``, listening on a free localhost port.

Protocol with the generator (one JSON object per line):
- stdout ``{"port": …, "start_s": …}`` once the server listens;
- stdin ``mark`` starts the measured window (counters reset), stdout
  answers ``{"marked": true}``;
- stdin ``stop`` (or EOF) ends it: stdout gets ``{"cpu_s": …, "layer": {…}}``,
  the CPU time the server process and its descendants (the Spark JVM and its
  Python workers) used since ``mark``, and the traced run's per-layer
  metrics (empty when untraced); then the server stops Spark and exits.

Run as ``python3 -m perfbench.chat_server RUN_DIR TRACE_PATH`` from the
checkout; ``TRACE_PATH`` ``-`` runs untraced.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys

from . import common

TOKENS = {
    "w0": "did:plc:alice",
    "w1": "did:plc:bob",
    "reader": "did:plc:carol",
    "subscriber": "did:plc:dave",
}


def _reply(out, obj: dict) -> None:
    out.write(json.dumps(obj) + "\n")
    out.flush()


def main() -> int:
    run_dir, trace_path = sys.argv[1], sys.argv[2]
    traced = trace_path != "-"
    common.pin_environment(run_dir)
    # library chatter on stdout would corrupt the protocol
    proto_out = sys.stdout
    sys.stdout = sys.stderr

    tracer = None
    if traced:
        from .trace import Tracer, install_layers

        tracer = Tracer()
        install_layers(tracer)

    from leaf_spark.catalog import StreamCatalog
    from leaf_spark.server import Connection, LeafServer
    from leaf_spark.socketio import LeafSocketIOServer

    spark, start_s = common.start_spark(run_dir, "perfbench-chat-server")
    if tracer is not None:
        # op ids and per-commit Spark job groups, set around each request
        handle = LeafServer.handle
        seq = itertools.count(1)

        @functools.wraps(handle)
        def handle_op(self, conn, endpoint, args):
            op = f"{endpoint}#{next(seq)}"
            tracer.set_op(op)
            if endpoint == "stream/event_batch":
                spark.sparkContext.setJobGroup(op, op)
                try:
                    return handle(self, conn, endpoint, args)
                finally:
                    tracer.op_counts[op] = common.group_counts(spark, op)
            return handle(self, conn, endpoint, args)

        LeafServer.handle = handle_op

    catalog = StreamCatalog(spark, os.path.join(run_dir, "server"))
    srv = LeafSocketIOServer(
        LeafServer(catalog),
        tokens={t: Connection(user=u) for t, u in TOKENS.items()},
    ).start()
    _reply(proto_out, {"port": srv.port, "start_s": start_s})

    cg0 = steal0 = cpu0 = 0
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            if tracer is not None:
                tracer.reset()
            cg0, steal0 = common.codegen_compiles(spark), common.steal_ticks()
            cpu0 = common.tree_cpu_s()
            _reply(proto_out, {"marked": True})
        elif cmd == "stop":
            break
    cpu_s = common.tree_cpu_s() - cpu0
    layer = {}
    if tracer is not None:
        layer = _layer_metrics(tracer)
        layer["spark.codegen_compiles"] = common.codegen_compiles(spark) - cg0
        layer["host.steal_s"] = common.ticks_to_s(common.steal_ticks() - steal0)
        layer["session.start_s"] = start_s
        tracer.dump(trace_path, {"workload": "chat_live"})
        layer["trace_overhead_s"] = tracer.overhead_s
    srv.close()
    catalog.close()
    common.stop_spark(spark)
    _reply(proto_out, {"cpu_s": cpu_s, "layer": layer})
    return 0


def _layer_metrics(tracer) -> dict:
    from .layers import spark_per_op, stream_layers

    accepted = {
        s[2]
        for s in tracer.spans
        if s[3] == "stream.add_events" and s[7] and str(s[2]).startswith("stream/event_batch#")
    }
    n_events = sum(
        s[6]
        for s in tracer.spans
        if s[3] == "stream.add_events" and str(s[2]).startswith("stream/event_batch#")
    )
    out = stream_layers(tracer, accepted, n_events)

    def handle_ms(endpoint: str, ops=None) -> float:
        xs = [
            (s[5] - s[4]) * 1000
            for s in tracer.spans
            if s[3] == "server.handle" and s[6] == endpoint and (ops is None or s[2] in ops)
        ]
        return common.pct(xs, 50)

    out["server.handle_ms.event_batch"] = handle_ms("stream/event_batch", accepted)
    out["server.handle_ms.query"] = handle_ms("stream/query")
    out["server.handle_ms.state_event_batch"] = handle_ms("stream/state_event_batch")
    counts = [tracer.op_counts[op] for op in accepted if op in tracer.op_counts]
    out.update(spark_per_op("per_commit", counts))
    return out


if __name__ == "__main__":
    # the socket server's daemon threads may still block in accept/recv
    os._exit(main())
