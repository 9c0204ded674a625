"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload {chat_live,bulk_fold,catalog}
                             --seed N --seconds S --trace {0,1}

Runs one workload from the root of a checkout and prints, as the last line
of stdout, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics, taken
from spans recorded around each layer's public functions (the spans are
written to ``.perfbench_out/``). The line before it carries the workload's
own detail metrics (commit/push/query percentiles, ingest and replay rates,
catalog totals) by name and unit.

Everything a run writes (stream roots, Spark scratch, generated tables)
lives under ``.perfbench_tmp/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

WORKLOADS = ("chat_live", "bulk_fold", "catalog")
RUN_LIMIT_S = 170  # a run that hangs is stopped before the 180 s limit


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def end_to_end(res: dict) -> dict:
    """The metrics every workload reports: set-up time, and the CPU time
    the system's processes spent per op in the measured window. Latency is
    not among them: on a shared host a run's median latency follows the
    host's steal time (``chat_live``'s median commit latency rose ~8 ms per
    second of steal across runs of the same code), while steal is not
    charged as CPU time. The latencies are in the detail line."""
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "cpu_ms_per_op": {"value": res["cpu_ms_per_op"], "unit": "ms"},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    real_stdout = sys.stdout
    run_dir = common.make_run_dir(args.workload)
    trace_path = os.path.join(
        common.OUT_DIR, f"trace-{args.workload}-s{args.seed}.jsonl"
    )
    try:
        common.pin_environment(run_dir)
        # library chatter goes to stderr; stdout carries only the result
        with contextlib.redirect_stdout(sys.stderr):
            tracer = None
            if args.trace and args.workload != "chat_live":
                from perfbench.trace import Tracer, install_layers

                tracer = Tracer()
                install_layers(tracer)
            if args.workload == "chat_live":
                from perfbench import chat_live

                res = chat_live.run(args, run_dir, trace_path if args.trace else None)
            elif args.workload == "bulk_fold":
                from perfbench import bulk_fold

                res = bulk_fold.run(args, run_dir, tracer)
            else:
                from perfbench import catalog

                res = catalog.run(args, run_dir, tracer)
            if tracer is not None:
                res["layer"]["bench.trace_overhead_frac"] = tracer.overhead_s / res["wall_s"]
                tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed})
    finally:
        signal.alarm(0)
        common.remove_run_dir(run_dir)

    if args.trace:
        from perfbench.layers import complete

        metrics = complete(res["layer"])
    else:
        metrics = end_to_end(res)
    detail = {k: {"value": v, "unit": u} for k, (v, u) in res["detail"].items()}
    print(json.dumps({"workload": args.workload, "detail": detail}), file=real_stdout)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        file=real_stdout,
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
