"""In-memory span recorder for traced runs.

Spans are recorded around the calls into each layer's public functions by
replacing those functions, from outside, with timing wrappers; no engine
code changes. A span holds its name, start, end, parent span and the op id
of the benchmark operation that caused it. Spans are kept in memory and
written out once, at exit, together with each layer's self time (its span
time minus the part covered by its child spans).

Hot, tiny functions (``drisl.decode``/``encode``, ``LocalEval.stage_table``
and ``insert_rows``) are counted and timed but get no span of their own.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self):
        self.spans: list[tuple] = []  # (id, parent, op, name, t0, t1, tag, ok)
        self.calls: collections.Counter = collections.Counter()
        self.busy: collections.Counter = collections.Counter()  # seconds
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self.overhead_s = 0.0  # time spent in the recorder itself
        self.worker_threads: set[int] = set()
        self._count_lock = threading.Lock()
        self.op_counts: dict[str, tuple[int, int, int]] = {}  # op -> Spark jobs, stages, tasks

    def reset(self) -> None:
        """Forget everything recorded so far (the warm-up is not measured)."""
        self.spans.clear()
        self.calls.clear()
        self.busy.clear()
        self.op_counts.clear()
        self.overhead_s = 0.0

    # -- context ---------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_op(self, op) -> None:
        """Tag every span this thread opens from now on with ``op``."""
        self._tls.op = op

    def record(self, name: str, t0: float, t1: float, tag=None, ok=True) -> None:
        """A span measured by the caller (no children)."""
        st = self._stack()
        parent = st[-1] if st else None
        self.spans.append(
            (next(self._ids), parent, getattr(self._tls, "op", None), name, t0, t1, tag, ok)
        )

    # -- wrappers ----------------------------------------------------------------

    def wrap_span(self, owner, attr: str, name: str, tag_fn=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            c0 = time.perf_counter()
            sid = next(tracer._ids)
            st = tracer._stack()
            parent = st[-1] if st else None
            st.append(sid)
            tag = tag_fn(args, kwargs) if tag_fn else None
            ok = False
            t0 = time.perf_counter()
            tracer.overhead_s += t0 - c0
            try:
                out = fn(*args, **kwargs)
                ok = True
                return out
            finally:
                t1 = time.perf_counter()
                st.pop()
                tracer.spans.append(
                    (sid, parent, getattr(tracer._tls, "op", None), name, t0, t1, tag, ok)
                )
                tracer.overhead_s += time.perf_counter() - t1

        setattr(owner, attr, wrapper)

    def wrap_count(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                with tracer._count_lock:
                    tracer.calls[name] += 1
                    tracer.busy[name] += t1 - t0
                tracer.overhead_s += time.perf_counter() - t1

        setattr(owner, attr, wrapper)

    # -- queries over the recorded spans -----------------------------------------

    def durations(self, name: str, tag=None, ok=None) -> list[float]:
        """Span durations in seconds, optionally filtered by tag/outcome."""
        return [
            s[5] - s[4]
            for s in self.spans
            if s[3] == name
            and (tag is None or s[6] == tag)
            and (ok is None or s[7] == ok)
        ]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the union of the
        intervals its direct children cover."""
        children: dict[int, list[tuple[float, float]]] = collections.defaultdict(list)
        for s in self.spans:
            if s[1] is not None:
                children[s[1]].append((s[4], s[5]))
        out: collections.Counter = collections.Counter()
        for sid, _p, _op, name, t0, t1, _tag, _ok in self.spans:
            covered, cur0, cur1 = 0.0, None, None
            for a, b in sorted(children.get(sid, ())):
                a, b = max(a, t0), min(b, t1)
                if b <= a:
                    continue
                if cur1 is None or a > cur1:
                    if cur1 is not None:
                        covered += cur1 - cur0
                    cur0, cur1 = a, b
                else:
                    cur1 = max(cur1, b)
            if cur1 is not None:
                covered += cur1 - cur0
            out[name] += (t1 - t0) - covered
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write every span (one JSON object per line) and a summary line."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, op, name, t0, t1, tag, ok in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sid,
                            "parent": parent,
                            "op": op,
                            "name": name,
                            "start": t0,
                            "end": t1,
                            "tag": tag,
                            "ok": ok,
                        }
                    )
                    + "\n"
                )
            summary = {
                "self_ms": {k: v * 1000 for k, v in sorted(self.self_times().items())},
                "calls": dict(self.calls),
                "busy_ms": {k: v * 1000 for k, v in self.busy.items()},
                "spark_per_op": self.op_counts,
            }
            summary.update(extra or {})
            f.write(json.dumps({"summary": summary}) + "\n")


def install_layers(tracer: Tracer) -> None:
    """Wrap the public entry points of every engine layer the benchmark
    loads (``leaf_spark`` must be importable)."""
    from leaf_spark import drisl, dml, localexec, server, stream
    from leaf_spark import catalog as stream_catalog
    from leaf_spark.streaming import subscribe

    tracer.wrap_span(
        server.LeafServer, "handle", "server.handle", lambda a, k: a[2] if len(a) > 2 else None
    )
    tracer.wrap_span(stream_catalog.StreamCatalog, "open", "catalog.open")
    tracer.wrap_span(stream_catalog.StreamCatalog, "create_stream", "catalog.create_stream")
    S = stream.Stream
    tracer.wrap_span(S, "__init__", "stream.open")
    tracer.wrap_span(S, "provide_module", "stream.provide_module")
    tracer.wrap_span(S, "add_events", "stream.add_events", lambda a, k: len(a[1]))
    tracer.wrap_span(S, "add_state_events", "stream.add_state_events")
    tracer.wrap_span(S, "persist_state", "stream.persist_state")
    tracer.wrap_span(
        S,
        "query",
        "stream.query",
        lambda a, k: "subscribe"
        if threading.get_ident() in tracer.worker_threads
        else "client",
    )
    L = localexec.LocalEval
    for fn in ("authorize", "authorize_setwise", "run_select", "run_readonly"):
        tracer.wrap_span(L, fn, f"localexec.{fn}")
    tracer.wrap_count(L, "stage_table", "localexec.stage_table")
    tracer.wrap_count(L, "insert_rows", "localexec.insert_rows")
    tracer.wrap_span(dml.DmlExecutor, "execute", "dml.execute")
    tracer.wrap_span(dml.TableStore, "checkpoint_all", "dml.checkpoint_all")
    tracer.wrap_span(dml.TableStore, "restore", "dml.restore")
    tracer.wrap_count(drisl, "decode", "drisl.decode")
    tracer.wrap_count(drisl, "encode", "drisl.encode")

    W = subscribe.SubscriptionWorker
    init = W.__init__

    @functools.wraps(init)
    def worker_init(self, *a, **k):
        init(self, *a, **k)
        tracer.worker_threads.add(self._thread.ident)

    W.__init__ = worker_init
