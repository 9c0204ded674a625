"""catalog: the pinned catalog queries over seeded synthetic tables.

The tables are generated first, outside every timed region. Set-up starts
Spark and runs one cold pass that collects every query's rows; this
compiles each query's plan below the sink, and the rows' value hashes are
checked against the DuckDB oracle (``tools/check.py``'s ``value_hash``)
outside the timed region. The timed region runs ``--seconds // PASS_S``
interleaved passes (every query once per pass, in a seeded order) into the
noop sink. The CPU time per op is that of the cheapest pass: the passes
still get cheaper as the JVM's JIT compilers catch up, and a longer
warm-up did not make the runs agree better.
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys
import time

import duckdb

from leaf_spark.queries import all_cases

from . import common, datagen
from .catalog_queries import QUERIES

SCALE = 0.01
PASS_S = 8.0  # one pass of the 14 queries on a 4-core host (7-11 s)


def _check_module():
    """``tools/check.py``, imported by path (``tools`` is not a package).
    Its import puts a fixed checkout path on ``sys.path``; that is undone."""
    path = os.path.join(common.REPO, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("perfbench_check", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


def run(args, run_dir: str, tracer) -> dict:
    check = _check_module()
    cases = all_cases()
    # the tables are the benchmark's inputs, made before set-up is timed
    data = os.path.join(run_dir, "data")
    datagen.generate(data, args.seed, SCALE)
    spark, start_s = common.start_spark(run_dir, "perfbench-catalog")
    try:
        t0 = time.perf_counter()
        hashes = {}
        for q in QUERIES:
            rows = check.spark_rows(cases[q].spark_fn(spark, data))
            hashes[q] = (len(rows), check.value_hash(rows))
        warmup_s = time.perf_counter() - t0

        order = list(QUERIES)
        rng = random.Random(args.seed)
        samples: dict[str, list[float]] = {q: [] for q in QUERIES}
        pass_cpu_s: list[float] = []
        cg0 = common.codegen_compiles(spark)
        steal0, load1 = common.steal_ticks(), common.load1()
        sc = spark.sparkContext

        def one_pass(n_pass: int) -> None:
            rng.shuffle(order)
            cpu0 = common.tree_cpu_s()
            for q in order:
                group = f"{q}#{n_pass}"
                if tracer is not None:
                    tracer.set_op(group)
                    sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                cases[q].spark_fn(spark, data).write.format("noop").mode("overwrite").save()
                t1 = time.perf_counter()
                samples[q].append(t1 - t0)
                if tracer is not None:
                    tracer.record("catalog.query", t0, t1, tag=q)
                    tracer.op_counts[group] = common.group_counts(spark, group)
            pass_cpu_s.append(common.tree_cpu_s() - cpu0)

        wall = common.run_rounds(args.seconds, PASS_S, one_pass)
        layer = {
            "host.steal_s": common.ticks_to_s(common.steal_ticks() - steal0),
            "host.load1": load1,
            "spark.codegen_compiles": common.codegen_compiles(spark) - cg0,
        }
    finally:
        common.stop_spark(spark)

    # the oracle check, outside every timed region
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"create view {t} as select * from '{data}/{t}.parquet'")
    failed = 0
    for q in QUERIES:
        orows, _ = check.duck_rows(con, cases[q].oracle)
        if hashes[q] != (len(orows), check.value_hash(orows)):
            failed += 1
    con.close()

    per_query = {q: common.median(v) for q, v in samples.items()}
    detail = {
        "setup_s": (start_s + warmup_s, "s"),
        "catalog_s": (sum(per_query.values()), "s"),
        "catalog_geomean_ms": (common.geomean(per_query.values()) * 1000, "ms"),
        "failed_frac": (failed / len(QUERIES), "ratio"),
        "host_steal_s": (layer["host.steal_s"], "s"),
        "host_load1": (layer["host.load1"], "load"),
        "cpu_s": (sum(pass_cpu_s), "s"),
    }
    out = {
        "attempted": len(QUERIES),
        "failed": failed,
        "setup_s": start_s + warmup_s,
        "cpu_ms_per_op": min(pass_cpu_s) * 1000 / len(QUERIES),
        "detail": detail,
        "wall_s": wall,
    }
    if tracer is not None:
        layer["session.start_s"] = start_s
        layer["session.warmup_s"] = warmup_s
        for q in QUERIES:
            layer[f"catalog.{q}.ms"] = per_query[q] * 1000
            layer[f"spark.jobs.{q}"] = common.median(
                [c[0] for op, c in tracer.op_counts.items() if op.startswith(f"{q}#")]
            )
        out["layer"] = layer
    return out
