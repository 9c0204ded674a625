"""bulk_fold: closed-loop bulk ingest and cold replay, in process.

Each round, for each module shape (CHAT, COUNTER, DEDUP), a fresh stream
ingests a seeded event log in fixed-size ``add_events`` batches, its state
snapshot is removed, and the stream is reopened so that the whole log is
replayed through the fold. A run holds ``--seconds // ROUND_S`` rounds,
at least two.
The wire and live subscriptions are bypassed.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

from leaf_spark.stream import Stream
from leaf_spark.types import LeafQuery

from . import common, layers
from .modules import CHAT, COUNTER, DEDUP, bump, dedup_key, msg

DEDUP_KEYS = 257
COUNTER_KEYS = 50
USERS = tuple(f"did:plc:bulk{i}" for i in range(4))

ROUND_S = 10.0  # one round (all three shapes) on a 4-core host

# shape -> (module, events per log, events per add_events batch)
SHAPES = {
    "chat": (CHAT, 600, 300),
    "counter": (COUNTER, 100, 100),
    "dedup": (DEDUP, 300, 300),
}


def make_log(shape: str, n: int, rng: random.Random):
    """Seeded events for one log, plus what a correct fold must yield."""
    if shape == "chat":
        evs = [
            msg(rng.choice(USERS), f"m{rng.getrandbits(40):x}", rng.randrange(1 << 31))
            for _ in range(n)
        ]
        return evs, {"rows": n}
    # Keys cycle through a fixed multiset in seeded order: the fold's cost
    # depends on how often a key repeats, which must not vary with the seed.
    if shape == "counter":
        keys = [i % COUNTER_KEYS for i in range(n)]
        rng.shuffle(keys)
        deltas = [rng.randint(1, 5) for _ in range(n)]
        return [bump(rng.choice(USERS), f"k{k}", d) for k, d in zip(keys, deltas)], {
            "sum": sum(deltas),
            "keys": len(set(keys)),
        }
    keys = [i % DEDUP_KEYS for i in range(max(n, DEDUP_KEYS))]  # all 257 keys
    rng.shuffle(keys)
    return [dedup_key(rng.choice(USERS), f"k{k}") for k in keys], {"distinct": DEDUP_KEYS}


def state_of(stream, shape: str) -> list[dict]:
    name = {"chat": "messages", "counter": "counters", "dedup": "n"}[shape]
    return stream.query(USERS[0], LeafQuery(name, limit=1_000_000))


def state_ok(shape: str, rows: list[dict], expect: dict) -> bool:
    if shape == "chat":
        return len(rows) == expect["rows"] and [r["idx"] for r in rows] == list(
            range(1, expect["rows"] + 1)
        )
    if shape == "counter":
        return len(rows) == expect["keys"] and sum(r["value"] for r in rows) == expect["sum"]
    return rows == [{"n": expect["distinct"]}]


def remove_snapshot(root: str) -> None:
    for r, dirs, _files in os.walk(os.path.join(root, "streams")):
        if "snapshot" in dirs:
            shutil.rmtree(os.path.join(r, "snapshot"))


class Bulk:
    def __init__(self, spark, run_dir: str, tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.tracer = tracer
        self.commit_lat: dict[str, list[float]] = {s: [] for s in SHAPES}
        self.replays: dict[str, list[tuple[float, int]]] = {s: [] for s in SHAPES}
        self.attempted = 0
        self.failed = 0
        self.events = 0

    def _group(self, op: str) -> None:
        if self.tracer is not None:
            self.tracer.set_op(op)
            self.spark.sparkContext.setJobGroup(op, op)

    def _count(self, op: str) -> None:
        if self.tracer is not None:
            self.tracer.op_counts[op] = common.group_counts(self.spark, op)

    def round(self, r: int, rng: random.Random) -> None:
        for shape, (_module, n, _batch) in SHAPES.items():
            self.cycle(shape, r, *make_log(shape, n, rng), record=True)

    def warm_up(self, rng: random.Random) -> None:
        """One small batch and its replay per shape, the three shapes side by
        side: the first run of each fold path compiles it."""
        logs = {shape: make_log(shape, batch // 3, rng) for shape, (_m, _n, batch) in SHAPES.items()}
        errors: list[Exception] = []

        def go(shape: str) -> None:
            try:
                self.cycle(shape, 0, *logs[shape], record=False)
            except Exception as ex:  # re-raised in the calling thread
                errors.append(ex)

        threads = [threading.Thread(target=go, args=(shape,)) for shape in SHAPES]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def cycle(self, shape: str, r: int, evs: list, expect: dict, record: bool) -> None:
        """Ingest one log into a fresh stream, then replay it cold."""
        module, _n, batch = SHAPES[shape]
        n = len(evs)
        root = os.path.join(self.run_dir, "bulk", f"{shape}-{r}")
        did = f"did:plc:bulk-{shape}-{r}"
        s = Stream(self.spark, root, did)
        s.provide_module(module)
        for b in range(0, n, batch):
            op = f"commit:{shape}:{r}:{b}"
            self._group(op)
            t0 = time.perf_counter()
            s.add_events(evs[b : b + batch])
            dt = time.perf_counter() - t0
            if record:
                self.commit_lat[shape].append(dt)
                self.attempted += 1
                self._count(op)
        # the output checks run in a job group of their own, so that their
        # Spark jobs and spans count for no commit or replay
        check = f"check:{shape}:{r}"
        self._group(check)
        before = state_of(s, shape)
        del s
        remove_snapshot(root)
        op = f"replay:{shape}:{r}"
        self._group(op)
        t0 = time.perf_counter()
        s2 = Stream(self.spark, root, did)
        s2.provide_module(module)
        dt = time.perf_counter() - t0
        if record:
            self._count(op)
        self._group(check)
        ok = state_ok(shape, before, expect) and state_of(s2, shape) == before
        if record:
            self.replays[shape].append((dt, n))
            self.attempted += 1
            self.failed += 0 if ok else 1
            self.events += 2 * n
        elif not ok:
            raise RuntimeError(f"warm-up {shape} replay state mismatch")
        shutil.rmtree(root, ignore_errors=True)


def run(args, run_dir: str, tracer) -> dict:
    spark, start_s = common.start_spark(run_dir, "perfbench-bulk")
    try:
        rng = random.Random(args.seed)
        bulk = Bulk(spark, run_dir, tracer)
        t0 = time.perf_counter()
        bulk.warm_up(rng)
        warmup_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.reset()
        cg0 = common.codegen_compiles(spark)
        steal0, load1 = common.steal_ticks(), common.load1()
        # at least two rounds: with one sample per op type, the spread of
        # p50_ms between runs reached 0.25
        cpu0 = common.tree_cpu_s()
        wall = common.run_rounds(args.seconds, ROUND_S, lambda r: bulk.round(r, rng), least=2)
        cpu_s = common.tree_cpu_s() - cpu0
        layer = {
            "host.steal_s": common.ticks_to_s(common.steal_ticks() - steal0),
            "host.load1": load1,
            "spark.codegen_compiles": common.codegen_compiles(spark) - cg0,
        }
    finally:
        common.stop_spark(spark)

    detail = {"setup_s": (start_s + warmup_s, "s")}
    for shape in SHAPES:
        events = sum(n for _, n in bulk.replays[shape])  # each log is ingested once, replayed once
        detail[f"ingest_{shape}_eps"] = (events / sum(bulk.commit_lat[shape]), "events/s")
        detail[f"replay_{shape}_eps"] = (
            events / sum(d for d, _ in bulk.replays[shape]),
            "events/s",
        )
    detail["failed_frac"] = (bulk.failed / bulk.attempted, "ratio")
    detail["host_steal_s"] = (layer["host.steal_s"], "s")
    detail["host_load1"] = (layer["host.load1"], "load")
    detail["cpu_s"] = (cpu_s, "s")
    out = {
        "attempted": bulk.attempted,
        "failed": bulk.failed,
        "setup_s": start_s + warmup_s,
        "cpu_ms_per_op": cpu_s * 1000 / bulk.attempted,  # ingest batches and replays
        "detail": detail,
        "wall_s": wall,
    }
    if tracer is not None:
        ops = tracer.op_counts
        commits = {op for op in ops if op.startswith("commit:")}
        layer.update(layers.stream_layers(tracer, commits, bulk.events))
        layer.update(layers.spark_per_op("per_commit", [ops[op] for op in commits]))
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        for shape in SHAPES:
            replays = {op for op in ops if op.startswith(f"replay:{shape}:")}
            layer[f"stream.replay_s.{shape}"] = common.median(
                [d for d, _ in bulk.replays[shape]]
            )
            layer[f"dml.execute_calls_per_replay.{shape}"] = sum(
                1 for s in tracer.spans if s[3] == "dml.execute" and s[2] in replays
            ) / len(replays)
            layer.update(
                layers.spark_per_op(f"per_replay.{shape}", [ops[op] for op in replays])
            )
        out["layer"] = layer
    return out
