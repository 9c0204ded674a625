"""Scale-growth curve for the heavy operators: sf0.1 vs synthesized sf1.0.

VERDICT r5 "Next round #3": run q90/q49/q109/q96/q61 at both scales,
report wall-time ratios (docs grow 10x, so ≲ linear means ratio ≲ ~10
with generous slack for fixed job overhead amortizing the other way),
and ASSERT plan identity — the same exchange/shuffle count at both
scales, i.e. the plan does not degrade (e.g. a broadcast flipping to a
shuffle join, or an extra exchange appearing) when the data grows 10x.

Usage: python tools/scale_curve.py [label=dir ...] [--queries q90,q49]
       (run tools/gen_scale.py first)

With no args, compares sf0.1 vs .scale/sf1.0 over the full heavy list
(the standing per-round curve). Extra ``label=dir`` pairs replace the
scale points — e.g. the r9 superlinear probe
(VERDICT r8 "Next round #3"):

    python tools/gen_scale.py .scale/sf3.0 30
    python tools/scale_curve.py sf0.1=/root/testdata/sf0.1 \
        sf3.0=.scale/sf3.0 --queries q90_containment_dedup,q49_minhash_lsh

Ratios are judged against the actual doc-count multiple between the
first and last scale point (linear growth slack x1.5), not a hardcoded
10x. Prints one JSON line per query plus a summary table.
"""

from __future__ import annotations

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
    # round-6 event/profile entries (gen_scale synthesizes events too)
    "q192_rfm_segments",
    "q193_interevent_burstiness",
    "q194_heaps_law",
    "q195_mann_kendall",
    # round-8 additions (VERDICT r7 "Next round #3"): the lag-window and
    # day-pair-solve shapes the curve never covered — q159 per-user gap
    # quantiles, q166 Theil-Sen over day pairs, q167 daily-volume ACF,
    # q169 mean-shift changepoint, q178 (user,type)-window permutation
    # entropy (the q178/q193 family representative)
    "q159_gap_quantiles",
    "q166_theil_sen_trend",
    "q167_volume_acf",
    "q169_mean_shift_changepoint",
    "q178_permutation_entropy",
]
SF01 = "/root/testdata/sf0.1"
SF10 = os.path.join(REPO, ".scale", "sf1.0")


def _q90_evidence(spark, sf_dir: str) -> float:
    """q90's cost driver: pair-evidence volume Σ_{|b|≤cap} C(|b|,2) over
    the inverted shingle index — the number of shared-shingle incidences
    the exact algorithm must count. Any algorithm producing exact
    per-pair intersection counts does Ω(evidence) work (the r9 probe's
    finding: on the saturated-vocabulary synthetic corpus this grows
    ~quadratically in docs while the plan stays identical, and the exact
    DuckDB oracle pays the same growth 5.9× slower — SCALE.md §"sf3
    probe"). Gating q90's wall against THIS ratio separates 'operator
    got slower than its task' (a real regression) from 'the task itself
    grew' (the data's property)."""
    from pyspark.sql import functions as F

    from leaf_spark.operators.dedup import (
        _MERSENNE_31,
        _word_shingles,
        spread,
    )

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = spread(df).select(
        F.explode(
            F.array_distinct(
                F.transform(
                    _word_shingles(F.col("text"), 3),
                    lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)),
                )
            )
        ).alias("h")
    )
    row = (
        idx.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.when(
                    F.col("n") <= 1000, F.col("n") * (F.col("n") - 1) / 2
                )
            ).alias("ev")
        )
        .collect()[0]
    )
    return float(row["ev"] or 1.0)


def _q49_evidence(spark, sf_dir: str) -> float:
    """q49's cost driver: banded candidate volume Σ_{|b|≤cap} C(|b|,2)
    over the (band_id, bucket) LSH buckets — the pairs the verify join
    must score. Sub-cap only: capped buckets chain (n-1 edges, linear)."""
    from pyspark.sql import functions as F

    from leaf_spark.operators.dedup import minhash_signatures

    bands, r, cap = 16, 4, 1000
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(df, "text", "doc_id", bands * r, 3)
    banded = sigs.select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.aggregate(
                    F.slice("minhash_sig", b * r + 1, r),
                    F.xxhash64(b),
                    lambda acc, x: F.xxhash64(acc, x),
                ),
            )
        ).alias("band_id", "bucket")
    )
    row = (
        banded.groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(
                F.when(F.col("n") <= cap, F.col("n") * (F.col("n") - 1) / 2)
            ).alias("ev")
        )
        .collect()[0]
    )
    return float(row["ev"] or 1.0)


# operators whose wall-growth gate should follow a measured cost driver
# instead of the doc-count multiple (evidence-bound, not row-bound)
COST_DRIVERS = {
    "q90_containment_dedup": _q90_evidence,
    "q49_minhash_lsh": _q49_evidence,
}


def plan_counts(df) -> dict[str, int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
    }


def _doc_mult(points: list[tuple[str, str]]) -> float:
    """Doc-count multiple between the first and last scale point."""
    import pyarrow.parquet as pq

    counts = []
    for _, d in (points[0], points[-1]):
        counts.append(pq.ParquetFile(f"{d}/documents.parquet").metadata.num_rows)
    return counts[1] / max(counts[0], 1)


def main() -> None:
    args = sys.argv[1:]
    queries = list(HEAVIES)
    if "--queries" in args:
        i = args.index("--queries")
        queries = args[i + 1].split(",")
        del args[i : i + 2]
    points = [tuple(a.split("=", 1)) for a in args] or [
        ("sf0.1", SF01),
        ("sf1.0", SF10),
    ]
    lo, hi = points[0][0], points[-1][0]
    mult = _doc_mult(points)

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs = e.queries()
    rows = []
    for name in queries:
        rec: dict = {"query": name}
        for label, sf_dir in points:
            fn = qs[name]
            fn(spark, sf_dir).count()  # warm (plan + codegen + caches)
            times = []
            for _ in range(3):
                t0 = time.monotonic()
                n = fn(spark, sf_dir).count()
                times.append(time.monotonic() - t0)
            rec[label] = round(statistics.median(times), 2)
            rec[f"{label}_rows"] = n
            rec[f"{label}_plan"] = plan_counts(fn(spark, sf_dir))
        rec["time_ratio"] = round(rec[hi] / max(rec[lo], 1e-9), 2)
        rec["plan_identical"] = all(
            rec[f"{label}_plan"] == rec[f"{lo}_plan"] for label, _ in points
        )
        if name in COST_DRIVERS:
            drv = COST_DRIVERS[name]
            ev_lo = drv(spark, points[0][1])
            ev_hi = drv(spark, points[-1][1])
            rec["evidence_ratio"] = round(ev_hi / max(ev_lo, 1.0), 2)
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    bad_plan = [r["query"] for r in rows if not r["plan_identical"]]
    # mult-x data: ≲ linear growth with slack for fixed overhead
    # amortization on the small side and one AQE re-plan on the big
    # side. Evidence-bound operators gate against their measured cost
    # driver when it grew faster than the docs (a saturated-vocabulary
    # corpus makes q90's exact task quadratic; wall must only not
    # outgrow the task).
    superlinear = [
        r["query"]
        for r in rows
        if r["time_ratio"]
        > 1.5 * max(mult, r.get("evidence_ratio", 0.0))
    ]
    print(
        json.dumps(
            {
                "summary": {
                    r["query"]: {
                        f"{lo}_s": r[lo],
                        f"{hi}_s": r[hi],
                        "ratio": r["time_ratio"],
                        "plan_identical": r["plan_identical"],
                    }
                    for r in rows
                },
                "doc_mult": round(mult, 2),
                "ratio_gate": round(1.5 * mult, 1),
                "plan_divergence": bad_plan,
                "superlinear": superlinear,
            }
        )
    )
    if bad_plan or superlinear:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
