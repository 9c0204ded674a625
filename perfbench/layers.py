"""Per-layer metrics computed from a traced run's spans and counters.

Every traced run prints every per-layer metric that ``BENCHMARK.json``
declares; a layer the workload bypasses reads 0, which is the prediction
for it."""

from __future__ import annotations

import json
import os

from .common import REPO, pct


def stream_layers(tracer, commit_ops: set, n_events: int) -> dict[str, float]:
    """Metrics of the stream, localexec, dml, drisl and subscribe layers.

    ``commit_ops`` are the op ids of the accepted commits; ``n_events`` is
    the number of events that went through ``add_events`` or a replay."""
    spans = tracer.spans
    ms = lambda xs: [x * 1000 for x in xs]  # noqa: E731
    add = tracer.durations("stream.add_events")
    persist = tracer.durations("stream.persist_state")
    queries = tracer.durations("stream.query")
    readonly_ok = len(tracer.durations("localexec.run_readonly", ok=True))
    authorize = tracer.durations("localexec.authorize") + tracer.durations(
        "localexec.authorize_setwise"
    )
    n_commits = len(commit_ops)
    dml_in_commits = sum(1 for s in spans if s[3] == "dml.execute" and s[2] in commit_ops)
    requeries = len(tracer.durations("stream.query", tag="subscribe"))
    return {
        "stream.add_events_ms.p50": pct(ms(add), 50),
        "stream.add_events_ms.p95": pct(ms(add), 95),
        "stream.add_events_calls": len(add),
        "stream.persist_state_ms": sum(ms(persist)),
        "stream.persist_state_calls": len(persist),
        "stream.query_ms": pct(ms(queries), 50),
        "stream.query_mirror_share": readonly_ok / len(queries) if queries else 0.0,
        "localexec.authorize_ms": pct(ms(authorize), 50),
        "localexec.run_select_ms": pct(ms(tracer.durations("localexec.run_select")), 50),
        "localexec.run_readonly_ms": pct(ms(tracer.durations("localexec.run_readonly")), 50),
        "localexec.stage_table_calls": tracer.calls["localexec.stage_table"],
        "dml.execute_calls_per_commit": dml_in_commits / n_commits if n_commits else 0.0,
        "dml.execute_ms": pct(ms(tracer.durations("dml.execute")), 50),
        "dml.checkpoint_all_ms": pct(ms(tracer.durations("dml.checkpoint_all")), 50),
        "dml.restore_calls": len(tracer.durations("dml.restore")),
        "drisl.decode_calls_per_event": (
            tracer.calls["drisl.decode"] / n_events if n_events else 0.0
        ),
        "drisl.decode_ms": (
            tracer.busy["drisl.decode"] * 1000 / n_events if n_events else 0.0
        ),
        "subscribe.requeries_per_commit": requeries / n_commits if n_commits else 0.0,
    }


def spark_per_op(suffix: str, counts: list[tuple[int, int, int]]) -> dict[str, float]:
    """Mean Spark (jobs, stages, tasks) per op from ``group_counts`` tuples."""
    n = len(counts) or 1
    return {
        f"spark.{kind}_{suffix}": sum(c[i] for c in counts) / n
        for i, kind in enumerate(("jobs", "stages", "tasks"))
    }


def complete(values: dict) -> dict:
    """Every per-layer metric of ``BENCHMARK.json``, in its order, 0 where
    not measured."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
