"""Standing sf1.0 heavy-query bench artifact (VERDICT r7 "Next round #8").

The sf0.1 bench is noise-dominated for the heavies (q90's sf1.0 cost is
~37% of total heavy cost but ~3 s at sf0.1); this emits a
BENCH_SCALE_r{N}.json with median-of-3 wall times at sf1.0 so real drift
shows up where it matters. A >1.5x per-query regression vs the most
recent prior artifact fails loud (exit 1).

Usage: python tools/bench_scale.py <round-number>
Requires .scale/sf1.0 in the checkout (run tools/gen_scale.py first).
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from leaf_spark.session import get_spark  # noqa: E402

HEAVIES = [
    "q90_containment_dedup",
    "q49_minhash_lsh",
    "q109_bpe_merges",
    "q96_pagerank",
    "q61_decontaminate",
    "q192_rfm_segments",
    "q193_interevent_burstiness",
    "q194_heaps_law",
    "q195_mann_kendall",
]
SF10 = os.path.join(REPO, ".scale", "sf1.0")
DRIFT_GATE = 1.5


def _prior_artifact(round_no: int) -> dict | None:
    cands = []
    for p in glob.glob(os.path.join(REPO, "BENCH_SCALE_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m and int(m.group(1)) < round_no:
            cands.append((int(m.group(1)), p))
    if not cands:
        return None
    with open(max(cands)[1]) as f:
        return json.load(f)


def main() -> int:
    round_no = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    if not os.path.isdir(SF10):
        print("missing .scale/sf1.0 — run tools/gen_scale.py first")
        return 2
    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs = e.queries()
    out: dict = {"sf": 1.0, "unit": "sec", "queries": {}}
    for name in HEAVIES:
        fn = qs[name]
        fn(spark, SF10).collect()  # warm (codegen, file listing)
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, SF10).collect()
            ts.append(time.perf_counter() - t0)
        out["queries"][name] = round(statistics.median(ts), 3)
        print(f"{name}: {out['queries'][name]} s")
    out["metric"] = "sf1.0_heavy_total_sec"
    out["value"] = round(sum(out["queries"].values()), 3)
    path = os.path.join(REPO, f"BENCH_SCALE_r{round_no}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))

    prior = _prior_artifact(round_no)
    if prior:
        bad = [
            (q, t, prior["queries"][q])
            for q, t in out["queries"].items()
            if q in prior.get("queries", {})
            and t > DRIFT_GATE * prior["queries"][q]
        ]
        if bad:
            for q, t, p in bad:
                print(f"DRIFT {q}: {t} s vs prior {p} s (> {DRIFT_GATE}x)")
            return 1
        print(f"drift gate: all within {DRIFT_GATE}x of prior artifact")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
