"""Iterative graph scoring over document-similarity graphs.

Connected components (operators/dedup.py) answers "which docs form a
duplicate cluster"; PageRank here answers "which doc is the cluster's
authority" — the canonical-document election and quality-propagation step
a curation pipeline runs over near-dup / citation / link graphs.

``pagerank_quantized`` runs fixed damped power iterations in INTEGER
micro-units (score × 10⁶) on the driver. Its callers bound the graph by
construction (q96/q123 keep ``doc_id < 120``: at most 120 nodes and 7,140
pairs), so one Spark collect brings their input in and the iterations run
no job at all — at this size a Spark iteration is two shuffles of a few
hundred rows, all job overhead. Each step repeats the IEEE operations of
the SQL form ``floor(cast(rank as double) / deg)`` and
``floor(85 * s / 100)``, so the DuckDB oracle's unrolled recurrence
reproduces the result bit for bit. Dangling vertices (out-degree 0) keep the base term only — the
documented simplification (their mass is dropped, not redistributed, so
scores are relative, not a strict probability distribution).
"""

from __future__ import annotations

import math
from collections import defaultdict

SCALE = 1_000_000  # score micro-units


def pagerank_quantized(
    edges, nodes, iters: int = 3, damping_pct: int = 85
) -> dict:
    """{id: rank} after ``iters`` damped power iterations in integer
    micro-units. ``edges`` is an iterable of directed (src, dst) pairs
    (symmetrize upstream for similarity graphs); ``nodes`` fixes the
    vertex set, so isolated docs keep a score and edges that leave it
    carry no rank.

    rank₀ = SCALE // n;
    rankᵢ₊₁(v) = ((100-d)·SCALE//100) // n
                 + floor(d · Σ_{u→v} floor(rankᵢ(u) / deg(u)) / 100)
    with both quotients taken in double precision, as SQL's ``/`` does.
    """
    ids = list(dict.fromkeys(nodes))
    if not ids:
        return {}
    n = len(ids)
    base = ((100 - damping_pct) * SCALE // 100) // n
    rank = dict.fromkeys(ids, SCALE // n)
    out = defaultdict(list)
    for u, v in edges:
        out[u].append(v)
    adj = [(u, float(len(vs)), vs) for u, vs in out.items() if u in rank]
    for _ in range(iters):
        s = dict.fromkeys(ids, 0)
        for u, deg, vs in adj:
            c = math.floor(float(rank[u]) / deg)
            for v in vs:
                if v in s:
                    s[v] += c
        rank = {
            v: base + math.floor(float(damping_pct * sv) / 100.0)
            for v, sv in s.items()
        }
    return rank
