"""Synthesize sf1.0 documents (10x sf0.1) for local scale-growth runs.

VERDICT r5 "Next round #3": validate that the heavy operators
(q90/q49/q109/q96/q61) grow ≲ linearly from sf0.1 to sf1.0 with identical
plans. The driver testdata stops at sf0.1 (and is read-only), so this
generator produces a STATISTICAL CLONE at 10x the row count inside the
repo (``.scale/sf1.0/``, gitignored): same seed discipline (seed=42,
TESTDATA.md), empirical (source, lang) mix, empirical word-length
distribution, per-lang empirical unigram vocabulary, and duplicate
families injected at the rates MEASURED on sf0.1 (8/5000 exact dups;
256 near-dup pairs/5000 docs from q49/q90), so candidate-pair density —
the thing that could turn a linear operator superlinear — scales
linearly by construction, exactly as a corpus 10x the size with the same
generator would.

Usage: python tools/gen_scale.py [out_dir] [multiplier]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1/documents.parquet"
EVENTS_SRC = "/root/testdata/sf0.1/events.parquet"
SEED = 42
EXACT_DUP_RATE = 8 / 5000  # measured: count(*) - count(distinct md5(text))
NEAR_DUP_PAIR_RATE = 256 / 5000  # measured: q49/q90 pair rows per doc
NEAR_DUP_WORD_FLIP = 0.10  # fraction of words replaced in a near-dup


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf1.0")
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    rng = np.random.default_rng(SEED)

    base = pq.read_table(SRC).to_pydict()
    n_base = len(base["doc_id"])
    n_out = n_base * mult

    # empirical models -------------------------------------------------------
    pairs = list(zip(base["source"], base["lang"]))
    pair_vals, pair_counts = np.unique(pairs, axis=0, return_counts=True)
    pair_p = pair_counts / pair_counts.sum()

    lengths_by_lang: dict[str, list[int]] = {}
    vocab_by_lang: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    words_acc: dict[str, dict[str, int]] = {}
    for text, lang in zip(base["text"], base["lang"]):
        ws = text.split()
        lengths_by_lang.setdefault(lang, []).append(len(ws))
        acc = words_acc.setdefault(lang, {})
        for w in ws:
            acc[w] = acc.get(w, 0) + 1
    for lang, acc in words_acc.items():
        toks = np.array(list(acc.keys()))
        cnts = np.array(list(acc.values()), dtype=np.float64)
        vocab_by_lang[lang] = (toks, cnts / cnts.sum())

    # base synthesis ---------------------------------------------------------
    pick = rng.choice(len(pair_vals), size=n_out, p=pair_p)
    texts: list[str] = []
    sources: list[str] = []
    langs: list[str] = []
    for i in range(n_out):
        src, lang = pair_vals[pick[i]]
        toks, p = vocab_by_lang[lang]
        ln = int(rng.choice(lengths_by_lang[lang]))
        texts.append(" ".join(rng.choice(toks, size=max(ln, 1), p=p)))
        sources.append(str(src))
        langs.append(str(lang))

    # duplicate-family injection at the measured sf0.1 rates ----------------
    n_exact = int(round(EXACT_DUP_RATE * n_out))
    n_near = int(round(NEAR_DUP_PAIR_RATE * n_out / 2))
    victims = rng.choice(n_out, size=n_exact + n_near, replace=False)
    donors = rng.choice(n_out, size=n_exact + n_near, replace=False)
    for v, d in zip(victims[:n_exact], donors[:n_exact]):
        texts[v] = texts[d]  # exact copy
    for v, d in zip(victims[n_exact:], donors[n_exact:]):
        ws = texts[d].split()
        toks, p = vocab_by_lang[langs[d]]
        flips = rng.random(len(ws)) < NEAR_DUP_WORD_FLIP
        repl = rng.choice(toks, size=max(int(flips.sum()), 1), p=p)
        j = 0
        for k in range(len(ws)):
            if flips[k]:
                ws[k] = str(repl[j])
                j += 1
        texts[v] = " ".join(ws)
        langs[v], sources[v] = langs[d], sources[d]

    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(range(n_out), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    dest = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, dest)
    print(
        f"wrote {n_out} docs ({n_exact} exact dups, {n_near} near-dup pairs) "
        f"-> {dest}"
    )

    # events: mult epochs of the base month, each shifted by 31 days and
    # re-keyed — user population grows sqrt(mult)x (heavy users stay
    # heavy: per-user activity grows too, matching how a longer capture
    # window scales), event ids stay globally unique, values/types/props
    # keep the empirical joint distribution row-for-row.
    ev = pq.read_table(EVENTS_SRC).to_pydict()
    n_ev = len(ev["event_id"])
    import math as _math

    user_groups = max(1, int(round(_math.sqrt(mult))))
    out = {k: [] for k in ev if k != "ts"}
    day_us = 86_400_000_000
    for epoch in range(mult):
        ugroup = epoch % user_groups
        for k in out:
            if k == "event_id":
                out[k].extend(e + epoch * n_ev for e in ev[k])
            elif k == "user_id":
                out[k].extend(u + ugroup * 100_000 for u in ev[k])
            else:
                out[k].extend(ev[k])
    # timestamps shift exactly one epoch stride per copy (int64 us math)
    base_us = (
        pq.read_table(EVENTS_SRC)
        .column("ts")
        .cast(pa.timestamp("us"))
        .cast(pa.int64())
        .to_pylist()
    )
    shifted = []
    for epoch in range(mult):
        shift = epoch * 31 * day_us
        shifted.extend(b + shift for b in base_us)
    etable = pa.table(
        {
            "event_id": pa.array(out["event_id"], pa.int64()),
            "ts": pa.array(shifted, pa.timestamp("us")),
            "user_id": pa.array(out["user_id"], pa.int64()),
            "event_type": pa.array(out["event_type"], pa.string()),
            "value": pa.array(out["value"], pa.float64()),
            "props": pa.array(out["props"], pa.string()),
        }
    )
    edest = os.path.join(out_dir, "events.parquet")
    pq.write_table(etable, edest)
    print(f"wrote {len(shifted)} events ({user_groups} user cohorts) -> {edest}")


if __name__ == "__main__":
    main()
