"""Planted-data semantics tests for the q171-q178 statistics audits.

These entries run the SAME SQL body on Spark and DuckDB, so the
differential gate cannot catch a shared-body formula bug — a wrong U
statistic would be wrong identically on both engines and still hash-match.
Each test here plants a tiny dataset whose statistic is known in closed
form (or recomputed independently in Python) and asserts the SQL gets it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import pytest


def _mk_docs(spark, rows):
    """rows: (doc_id, text, lang, source, n_chars)"""
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )


# ---------------------------------------------------------------------------
# q171 Mann-Whitney U
# ---------------------------------------------------------------------------


def test_mann_whitney_separated_distributions(spark):
    """Source aa entirely below bb → U_a = 0, auc = 0; the tiny third
    source must be excluded by the two-largest selection."""
    from leaf_spark.queries_stats import _Q171_BODY

    rows = [(i, "t", "en", "aa", v) for i, v in enumerate([1, 2, 3, 4, 5])]
    rows += [(10 + i, "t", "en", "bb", v) for i, v in enumerate([6, 7, 8, 9])]
    rows += [(99, "t", "en", "zz", 100)]  # not among the two largest
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    out = spark.sql(_Q171_BODY).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("aa", "bb")
    assert (r["n_a"], r["n_b"]) == (5, 4)
    assert r["u2_a"] == 0 and r["u2_b"] == 40
    assert r["tie_cubes"] == 0
    assert r["auc"] == 0.0
    # tie-free normal approximation: z = (U - nm/2) / sqrt(nm(n+1)/12)
    z = (0 - 10.0) / math.sqrt(5 * 4 * 10 / 12.0)
    assert r["z"] == pytest.approx(z, abs=1e-6)


def test_mann_whitney_reversed_and_tied(spark):
    from leaf_spark.queries_stats import _Q171_BODY

    # aa above bb → auc = 1; then a fully tied pair → auc = 0.5, z = 0
    rows = [(i, "t", "en", "aa", 10 + v) for i, v in enumerate(range(5))]
    rows += [(10 + i, "t", "en", "bb", v) for i, v in enumerate([1, 2, 3, 4])]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_Q171_BODY).collect()[0]
    assert r["u2_a"] == 2 * 5 * 4 and r["auc"] == 1.0 and r["z"] > 0

    rows = [(0, "t", "en", "aa", 7), (1, "t", "en", "bb", 7)]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_Q171_BODY).collect()[0]
    # one tied pair: U_a = 0.5 (u2 carries 2U), auc = 0.5, t^3 - t = 6
    assert r["u2_a"] == 1 and r["auc"] == 0.5
    assert r["tie_cubes"] == 6
    # every observation tied → the variance term is 0 and z is NULL
    # (0/0 under Spark's non-ANSI division) — undefined, not misleading
    assert r["z"] is None


# ---------------------------------------------------------------------------
# q172 Spearman rho
# ---------------------------------------------------------------------------


def _q172_sql():
    from leaf_spark.queries_stats import _Q172_BODY

    return _Q172_BODY.replace(
        "{NTOK}",
        "size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '))",
    )


def test_spearman_perfect_monotone(spark):
    rows = [
        (0, "a b", "en", "s", 10),
        (1, "a b c", "en", "s", 20),
        (2, "a b c d", "en", "s", 30),
        (3, "a b c d e", "en", "s", 40),
    ]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_q172_sql()).collect()[0]
    assert r["n"] == 4 and r["spearman_rho"] == 1.0


def test_spearman_perfect_inverse(spark):
    rows = [
        (0, "a b c d e", "en", "s", 10),
        (1, "a b c d", "en", "s", 20),
        (2, "a b c", "en", "s", 30),
        (3, "a b", "en", "s", 40),
    ]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_q172_sql()).collect()[0]
    assert r["spearman_rho"] == -1.0


def test_spearman_ties_average_ranks(spark):
    # x: 10, 10, 30 (tie on the low pair); y: 2, 2, 3 tokens — the tie
    # structure is identical on both variables, so rho = 1 exactly
    rows = [
        (0, "a b", "en", "s", 10),
        (1, "a b", "en", "s", 10),
        (2, "a b c", "en", "s", 30),
    ]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_q172_sql()).collect()[0]
    assert r["spearman_rho"] == 1.0


# ---------------------------------------------------------------------------
# q173 association rules
# ---------------------------------------------------------------------------


def test_assoc_rules_known_baskets(spark):
    from leaf_spark.queries_stats import _Q173_BODY

    base = dt.datetime(2026, 1, 1)
    baskets = {1: ["x", "y"], 2: ["x", "y"], 3: ["x"], 4: ["y", "z"]}
    rows = []
    eid = 0
    for u, types in baskets.items():
        for t in types:
            # duplicate raw events must not inflate the basket counts
            for _ in range(2):
                rows.append((eid, base, u, t, 1.0, "{}"))
                eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")
    out = spark.sql(_Q173_BODY).collect()
    by_pair = {(r["antecedent"], r["consequent"]): r for r in out}
    assert set(by_pair) == {("x", "y"), ("y", "z")}
    xy = by_pair[("x", "y")]
    assert xy["pair_users"] == 2 and xy["n_users"] == 4
    assert xy["ante_users"] == 3 and xy["cons_users"] == 3
    assert xy["support"] == 0.5
    assert xy["conf_a_to_c"] == pytest.approx(2 / 3, abs=1e-6)
    assert xy["lift"] == pytest.approx(8 / 9, abs=1e-6)
    yz = by_pair[("y", "z")]
    assert yz["pair_users"] == 1 and yz["lift"] == pytest.approx(4 / 3, abs=1e-6)
    assert yz["conf_c_to_a"] == 1.0
    # ordered by lift desc → the (y, z) rule outranks (x, y)
    assert (out[0]["antecedent"], out[0]["consequent"]) == ("y", "z")


# ---------------------------------------------------------------------------
# q174 count-min sketch
# ---------------------------------------------------------------------------


def test_countmin_matches_python_sketch(spark):
    """Rebuild the 4x64 sketch in Python from the same md5 hashes and
    assert identical estimates — plus the CMS guarantee est >= exact."""
    from leaf_spark.queries_stats import _H_SPARK, _Q174_BODY, _TOK_SPARK

    counts = {"aa": 5, "bb": 3, "cc": 2}
    text = " ".join(" ".join([t] * c) for t, c in counts.items())
    _mk_docs(spark, [(0, text, "en", "s", len(text))]).createOrReplaceTempView(
        "documents"
    )
    sql = _Q174_BODY.replace("{TOKENS}", _TOK_SPARK).replace("{H}", _H_SPARK)
    out = {r["tok"]: r for r in spark.sql(sql).collect()}
    assert set(out) == set(counts)

    def bucket(r, tok):
        return int(hashlib.md5(f"{r}:{tok}".encode()).hexdigest()[:12], 16) % 64

    cells: dict[tuple[int, int], int] = {}
    for tok, c in counts.items():
        for r in range(4):
            key = (r, bucket(r, tok))
            cells[key] = cells.get(key, 0) + c
    for tok, c in counts.items():
        est = min(cells[(r, bucket(r, tok))] for r in range(4))
        row = out[tok]
        assert row["exact_count"] == c
        assert row["cms_estimate"] == est >= c
        assert row["overestimate"] == est - c


# ---------------------------------------------------------------------------
# q175 OLS trend
# ---------------------------------------------------------------------------


def _plant_daily_counts(spark, counts):
    base = dt.datetime(2026, 3, 1)
    rows = []
    eid = 0
    for day, n in enumerate(counts):
        for _ in range(n):
            rows.append((eid, base + dt.timedelta(days=day), 7, "e", 1.0, "{}"))
            eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")


def test_ols_exact_line(spark):
    from leaf_spark.queries_stats import _EPOCHDAY_SPARK, _Q175_FIXED

    _plant_daily_counts(spark, [5, 7, 9, 11])  # y = 5 + 2x exactly
    r = spark.sql(_Q175_FIXED.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)).collect()[0]
    assert r["n"] == 4
    assert r["slope_per_day"] == 2.0
    assert r["intercept"] == 5.0
    assert r["r2"] == 1.0


def test_ols_known_moments(spark):
    from leaf_spark.queries_stats import _EPOCHDAY_SPARK, _Q175_FIXED

    _plant_daily_counts(spark, [1, 2, 4])
    r = spark.sql(_Q175_FIXED.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)).collect()[0]
    # n=3 sx=3 sy=7 sxy=10 sxx=5 syy=21 → slope 1.5, intercept 5/6, r2 81/84
    assert r["slope_per_day"] == 1.5
    assert r["intercept"] == pytest.approx(5 / 6, abs=1e-6)
    assert r["r2"] == pytest.approx(81 / 84, abs=1e-6)


# ---------------------------------------------------------------------------
# q176 Benford screen
# ---------------------------------------------------------------------------

_BENFORD_P = [
    0.301029996,
    0.176091259,
    0.124938737,
    0.096910013,
    0.079181246,
    0.066946790,
    0.057991947,
    0.051152522,
    0.045757491,
]


def test_benford_uniform_digits(spark):
    from leaf_spark.queries_stats import _Q176_BODY

    # one doc per leading digit 1..9 (lengths 1..9); multi-digit lengths
    # must contribute their FIRST digit (17 → 1)
    rows = [(d, "t", "en", "s", d) for d in range(1, 10)]
    rows.append((10, "t", "en", "s", 17))
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    out = spark.sql(_Q176_BODY.replace("{STR}", "string")).collect()
    assert [r["digit"] for r in out] == list(range(1, 10))
    obs = {r["digit"]: r["obs"] for r in out}
    assert obs == {1: 2, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 1, 8: 1, 9: 1}
    n = 10
    chi2 = round(
        sum(
            round(((o - n * p) * (o - n * p)) / (n * p), 9)
            for o, p in zip([2, 1, 1, 1, 1, 1, 1, 1, 1], _BENFORD_P)
        ),
        6,
    )
    for r in out:
        assert r["expected"] == pytest.approx(n * _BENFORD_P[r["digit"] - 1], abs=1e-6)
        assert r["chi2"] == pytest.approx(chi2, abs=1e-6)
        assert r["obs_share"] == pytest.approx(r["obs"] / n, abs=1e-6)


def test_benford_missing_digits_get_zero_rows(spark):
    from leaf_spark.queries_stats import _Q176_BODY

    # all lengths start with 1 → digits 2..9 must still appear with obs=0
    rows = [(i, "t", "en", "s", v) for i, v in enumerate([1, 10, 100, 1234])]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    out = spark.sql(_Q176_BODY.replace("{STR}", "string")).collect()
    assert len(out) == 9
    obs = {r["digit"]: r["obs"] for r in out}
    assert obs[1] == 4 and all(obs[d] == 0 for d in range(2, 10))


# ---------------------------------------------------------------------------
# q177 chi-squared independence
# ---------------------------------------------------------------------------


def test_chi2_independent_table_is_zero(spark):
    from leaf_spark.queries_stats import _Q177_BODY

    rows = []
    i = 0
    for lang in ("en", "fr"):
        for src in ("s1", "s2"):
            for _ in range(2):
                rows.append((i, "t", lang, src, 5))
                i += 1
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_Q177_BODY).collect()[0]
    assert r["chi2"] == 0.0 and r["cramers_v"] == 0.0
    assert r["dof"] == 1 and r["n_docs"] == 8


def test_chi2_perfect_association_v_is_one(spark):
    from leaf_spark.queries_stats import _Q177_BODY

    rows = [(i, "t", "en", "s1", 5) for i in range(3)]
    rows += [(10 + i, "t", "fr", "s2", 5) for i in range(3)]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_Q177_BODY).collect()[0]
    # 2x2 with perfect association: chi2 = N (zero cells included), V = 1
    assert r["chi2"] == pytest.approx(6.0, abs=1e-6)
    assert r["cramers_v"] == 1.0


# ---------------------------------------------------------------------------
# q178 permutation entropy
# ---------------------------------------------------------------------------


def test_permutation_entropy_extremes(spark):
    from leaf_spark.queries_stats import _Q178_BODY

    base = dt.datetime(2026, 1, 1)
    rows = []
    eid = 0
    # monotone series → single 'abc' pattern → entropy exactly 0
    for i in range(8):
        rows.append((eid, base + dt.timedelta(minutes=i), 1, "mono", float(i), "{}"))
        eid += 1
    # cycle 1,3,2 over 11 points → 9 triples, 3 patterns x 3 each
    cyc = [1.0, 3.0, 2.0]
    for i in range(11):
        rows.append(
            (eid, base + dt.timedelta(minutes=i), 2, "cyc", cyc[i % 3], "{}")
        )
        eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")
    out = {r["event_type"]: r for r in spark.sql(_Q178_BODY).collect()}
    mono = out["mono"]
    assert mono["n_triples"] == 6 and mono["n_patterns"] == 1
    assert mono["perm_entropy"] == 0.0
    cyc_r = out["cyc"]
    assert cyc_r["n_triples"] == 9 and cyc_r["n_patterns"] == 3
    term = round(-(1 / 3) * math.log(1 / 3) / math.log(6), 6)
    assert cyc_r["perm_entropy"] == pytest.approx(round(3 * term, 6), abs=1e-6)


def test_permutation_entropy_all_six_patterns(spark):
    """A series realizing all 6 ordinal patterns caps entropy at 1 when
    uniform; here we just assert every pattern the ladder claims exists
    matches an independent Python classification of the same triples."""
    from leaf_spark.queries_stats import _Q178_BODY

    vals = [5.0, 1.0, 4.0, 2.0, 6.0, 3.0, 7.0, 0.0, 8.0, 2.5, 1.5]
    base = dt.datetime(2026, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), 1, "z", v, "{}")
        for i, v in enumerate(vals)
    ]
    _mk_events(spark, rows).createOrReplaceTempView("events")
    r = spark.sql(_Q178_BODY).collect()[0]

    def classify(c2, c1, c0):
        if c2 <= c1 and c1 <= c0:
            return "abc"
        if c2 <= c1 and c2 <= c0:
            return "acb"
        if c2 <= c0:
            return "bac"
        if c1 <= c0:
            return "bca"
        if c2 <= c1:
            return "cab"
        return "cba"

    pats: dict[str, int] = {}
    for i in range(2, len(vals)):
        p = classify(vals[i - 2], vals[i - 1], vals[i])
        pats[p] = pats.get(p, 0) + 1
    t = sum(pats.values())
    ent = round(
        sum(round(-(c / t) * math.log(c / t) / math.log(6), 6) for c in pats.values()),
        6,
    )
    assert r["n_triples"] == t and r["n_patterns"] == len(pats)
    assert r["perm_entropy"] == pytest.approx(ent, abs=1e-6)
    assert 0.0 <= r["perm_entropy"] <= 1.0


# ---------------------------------------------------------------------------
# Randomized recompute fuzz — random datasets vs exact Python statistics
# (the planted cases above pin known outcomes; these catch formula bugs
# on arbitrary tie/size structures)
# ---------------------------------------------------------------------------

from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a=st.lists(st.integers(1, 12), min_size=3, max_size=10),
    b=st.lists(st.integers(1, 12), min_size=2, max_size=8),
)
def test_mann_whitney_matches_exact_python(spark, a, b):
    from leaf_spark.queries_stats import _Q171_BODY

    # keep |a| > |b| so the two-largest selection and orientation are fixed
    if len(a) <= len(b):
        a = a + [1] * (len(b) - len(a) + 1)
    rows = [(i, "t", "en", "aa", v) for i, v in enumerate(a)]
    rows += [(1000 + i, "t", "en", "bb", v) for i, v in enumerate(b)]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_Q171_BODY).collect()[0]

    # exact U via pair comparison: U_a counts b-values below each a (ties 1/2)
    u2 = sum(2 for x in a for y in b if y < x) + sum(
        1 for x in a for y in b if y == x
    )
    assert r["u2_a"] == u2
    assert r["u2_b"] == 2 * len(a) * len(b) - u2
    from collections import Counter

    tc = Counter(a) + Counter(b)
    assert r["tie_cubes"] == sum(t**3 - t for t in tc.values())
    assert r["auc"] == pytest.approx(u2 / (2 * len(a) * len(b)), abs=1e-6)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    xy=st.lists(
        st.tuples(st.integers(1, 9), st.integers(1, 5)), min_size=3, max_size=12
    )
)
def test_spearman_matches_exact_python_ranks(spark, xy):
    from leaf_spark.queries_stats import _Q172_BODY

    rows = [
        (i, " ".join(["w"] * y), "en", "s", x) for i, (x, y) in enumerate(xy)
    ]
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    sql = _Q172_BODY.replace(
        "{NTOK}",
        "size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' '))",
    )
    r = spark.sql(sql).collect()[0]

    def double_ranks(vals):
        # 2 x tie-averaged rank, exactly as the histogram construction
        s = sorted(vals)
        return {
            v: 2 * (s.index(v)) + s.count(v) + 1  # 2*(#below) + count + 1
            for v in set(vals)
        }

    xs = [x for x, _ in xy]
    ys = [y for _, y in xy]
    rx = double_ranks(xs)
    ry = double_ranks(ys)
    n = len(xy)
    sx = sum(rx[x] for x in xs)
    sy = sum(ry[y] for y in ys)
    sxy = sum(rx[x] * ry[y] for x, y in xy)
    sxx = sum(rx[x] ** 2 for x in xs)
    syy = sum(ry[y] ** 2 for y in ys)
    num = Fraction(n * sxy - sx * sy)
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    if denx == 0 or deny == 0:
        assert r["spearman_rho"] is None  # zero variance → undefined
        return
    rho = float(num) / (denx**0.5 * deny**0.5)
    assert r["spearman_rho"] == pytest.approx(rho, abs=2e-6)


# ---------------------------------------------------------------------------
# q179-q181 score-calibration family: the FINAL solves run over a planted
# histogram view, so the PAV minimax formula, gains cums, and Youden argmax
# are each pinned against independent Python recomputes
# ---------------------------------------------------------------------------


def _mk_hist(spark, rows, view):
    spark.createDataFrame(rows, "b bigint, n bigint, s bigint").createOrReplaceTempView(
        view
    )


def _pav(ns, ss):
    """Weighted pool-adjacent-violators in exact rationals."""
    blocks: list[list[int]] = []
    for n, s in zip(ns, ss):
        blocks.append([n, s])
        while len(blocks) > 1 and blocks[-2][1] * blocks[-1][0] >= blocks[-1][1] * blocks[-2][0]:
            w, t = blocks[-2][0] + blocks[-1][0], blocks[-2][1] + blocks[-1][1]
            blocks[-2:] = [[w, t]]
    # expand block rates positionally
    rates = []
    i = 0
    for w, t in blocks:
        consumed = 0
        while consumed < w:
            consumed += ns[i]
            rates.append(t / w)
            i += 1
    return rates


def test_isotonic_pools_adjacent_violators(spark):
    from leaf_spark.queries_stats import _Q179_FINAL

    _mk_hist(spark, [(0, 4, 0), (1, 4, 3), (2, 4, 1), (3, 4, 4)], "__t179__")
    out = spark.sql(_Q179_FINAL.replace("{H}", "__t179__")).collect()
    assert [r["score_bucket"] for r in out] == [0, 1, 2, 3]
    assert [r["raw_rate"] for r in out] == [0.0, 0.75, 0.25, 1.0]
    # buckets 1,2 violate monotonicity → pooled to (3+1)/(4+4) = 0.5
    assert [r["isotonic_rate"] for r in out] == [0.0, 0.5, 0.5, 1.0]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hist=st.lists(
        st.tuples(st.integers(1, 9), st.integers(0, 9)), min_size=1, max_size=7
    )
)
def test_isotonic_matches_python_pav(spark, hist):
    from leaf_spark.queries_stats import _Q179_FINAL

    rows = [(b, n, min(s, n)) for b, (n, s) in enumerate(hist)]
    _mk_hist(spark, rows, "__t179f__")
    out = spark.sql(_Q179_FINAL.replace("{H}", "__t179f__")).collect()
    ns = [n for _, n, _ in rows]
    ss = [s for _, _, s in rows]
    exp = _pav(ns, ss)
    got = [r["isotonic_rate"] for r in out]
    assert got == pytest.approx(exp, abs=2e-6)
    # isotonicity: fitted must be non-decreasing in the bucket
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))


def test_cumulative_gains_known_curve(spark):
    from leaf_spark.queries_stats import _Q180_FINAL

    _mk_hist(spark, [(0, 10, 1), (1, 10, 5), (2, 10, 9)], "__t180__")
    out = spark.sql(_Q180_FINAL.replace("{H}", "__t180__")).collect()
    # best-first: bucket 2 → 1 → 0
    assert [r["score_bucket"] for r in out] == [2, 1, 0]
    top = out[0]
    assert top["docs_kept"] == 10 and top["pos_kept"] == 9
    assert top["frac_scanned"] == pytest.approx(1 / 3, abs=1e-6)
    assert top["gain"] == pytest.approx(9 / 15, abs=1e-6)
    assert top["lift"] == pytest.approx((9 / 15) / (1 / 3), abs=1e-6)
    # the full-corpus row has gain = lift = frac = 1
    assert out[-1]["gain"] == 1.0 and out[-1]["lift"] == 1.0


def test_youden_picks_max_j_threshold(spark):
    from leaf_spark.queries_stats import _Q181_FINAL

    _mk_hist(spark, [(0, 10, 1), (1, 10, 6), (2, 10, 8)], "__t181__")
    r = spark.sql(_Q181_FINAL.replace("{H}", "__t181__")).collect()[0]
    # J(b>=2) = 8/15 - 2/15 = 6/15; J(b>=1) = 14/15 - 6/15 = 8/15 (max);
    # J(b>=0) = 0
    assert r["threshold_bucket"] == 1
    assert r["tpr"] == pytest.approx(14 / 15, abs=1e-6)
    assert r["fpr"] == pytest.approx(6 / 15, abs=1e-6)
    assert r["youden_j"] == pytest.approx(8 / 15, abs=1e-6)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(counts=st.lists(st.integers(1, 5), min_size=3, max_size=7))
def test_ols_matches_python_on_random_days(spark, counts):
    from leaf_spark.queries_stats import _EPOCHDAY_SPARK, _Q175_FIXED

    _plant_daily_counts(spark, counts)
    r = spark.sql(_Q175_FIXED.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)).collect()[0]
    n = len(counts)
    xs = list(range(n))
    sx, sy = sum(xs), sum(counts)
    sxy = sum(x * y for x, y in zip(xs, counts))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in counts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    assert r["n"] == n
    assert r["slope_per_day"] == pytest.approx(slope, abs=2e-6)
    assert r["intercept"] == pytest.approx(intercept, abs=2e-6)
    deny = n * syy - sy * sy
    if deny != 0:
        r2 = ((n * sxy - sx * sy) ** 2) / ((n * sxx - sx * sx) * deny)
        assert r["r2"] == pytest.approx(r2, abs=2e-6)
    else:
        assert r["r2"] is None  # constant y → undefined fit quality


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cells=st.dictionaries(
        st.tuples(st.sampled_from(["en", "fr", "zh"]), st.sampled_from(["s1", "s2"])),
        st.integers(1, 6),
        min_size=2,
        max_size=6,
    )
)
def test_chi2_matches_python_on_random_tables(spark, cells):
    from leaf_spark.queries_stats import _Q177_BODY

    rows = []
    i = 0
    for (lang, src), c in cells.items():
        for _ in range(c):
            rows.append((i, "t", lang, src, 5))
            i += 1
    _mk_docs(spark, rows).createOrReplaceTempView("documents")
    r = spark.sql(_Q177_BODY).collect()[0]

    langs = sorted({k[0] for k in cells})
    srcs = sorted({k[1] for k in cells})
    n = sum(cells.values())
    rt = {l: sum(c for (l2, _), c in cells.items() if l2 == l) for l in langs}
    ct = {s: sum(c for (_, s2), c in cells.items() if s2 == s) for s in srcs}
    chi2 = round(
        sum(
            round(
                (cells.get((l, s), 0) - rt[l] * ct[s] / n) ** 2 / (rt[l] * ct[s] / n),
                9,
            )
            for l in langs
            for s in srcs
        ),
        6,
    )
    assert r["n_docs"] == n
    assert r["dof"] == (len(langs) - 1) * (len(srcs) - 1)
    assert r["chi2"] == pytest.approx(chi2, abs=2e-6)
    if r["dof"] > 0:
        v = (float(chi2) / (n * min(len(langs) - 1, len(srcs) - 1))) ** 0.5
        assert r["cramers_v"] == pytest.approx(v, abs=2e-6)


# ---------------------------------------------------------------------------
# q182 Kaplan-Meier
# ---------------------------------------------------------------------------


def _plant_km(spark, users):
    """users: list of (first_day, purchase_day_or_None, last_day)."""
    base = dt.datetime(2026, 5, 1)
    rows = []
    eid = 0
    for uid, (d0, dc, dlast) in enumerate(users):
        rows.append((eid, base + dt.timedelta(days=d0), uid, "view", 1.0, "{}"))
        eid += 1
        if dc is not None:
            rows.append(
                (eid, base + dt.timedelta(days=dc), uid, "purchase", 1.0, "{}")
            )
            eid += 1
        rows.append((eid, base + dt.timedelta(days=dlast), uid, "click", 1.0, "{}"))
        eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")


def _km_python(users):
    """Exact KM over (first, purchase|None, last) with obs-end censoring."""
    obs_end = max(max(d0, dc if dc is not None else 0, dl) for d0, dc, dl in users)
    lab = []
    for d0, dc, _ in users:
        if dc is not None:
            lab.append((dc - d0, 1))
        else:
            lab.append((obs_end - d0, 0))
    out = []
    s = 1.0
    for t in sorted({t for t, died in lab if died}):
        n = sum(1 for u, _ in lab if u >= t)
        d = sum(1 for u, died in lab if u == t and died)
        s *= (n - d) / n
        out.append((t, d, n, s))
    return out


def _run_km(spark):
    from leaf_spark.queries_stats import _EPOCHDAY_SPARK, _Q182_FINAL, _Q182_HIST

    spark.sql(
        _Q182_HIST.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)
    ).createOrReplaceTempView("__t182_km__")
    return spark.sql(_Q182_FINAL.replace("{KM}", "__t182_km__")).collect()


def test_kaplan_meier_known_curve_with_censoring(spark):
    # conversions at days 0, 1, 3; one never-converter censored at day 5
    _plant_km(spark, [(0, 1, 2), (0, 3, 4), (0, None, 5), (1, 1, 2)])
    out = _run_km(spark)
    got = [(r["days_to_convert"], r["conversions"], r["at_risk"], r["survival"]) for r in out]
    assert got == [(0, 1, 4, 0.75), (1, 1, 3, 0.5), (3, 1, 2, 0.25)]


def test_kaplan_meier_hits_zero_when_all_convert_last(spark):
    _plant_km(spark, [(0, 2, 2), (0, 2, 2)])
    out = _run_km(spark)
    assert len(out) == 1
    r = out[0]
    assert (r["days_to_convert"], r["conversions"], r["at_risk"]) == (2, 2, 2)
    assert r["survival"] == 0.0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    users=st.lists(
        st.tuples(
            st.integers(0, 4),
            st.one_of(st.none(), st.integers(0, 9)),
            st.integers(5, 10),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_kaplan_meier_matches_python(spark, users):
    # purchase must not precede the first event
    users = [
        (d0, (dc if dc is None or dc >= d0 else d0), dl) for d0, dc, dl in users
    ]
    _plant_km(spark, users)
    out = _run_km(spark)
    exp = _km_python(users)
    assert len(out) == len(exp)
    for r, (t, d, n, s) in zip(out, exp):
        assert (r["days_to_convert"], r["conversions"], r["at_risk"]) == (t, d, n)
        assert r["survival"] == pytest.approx(s, abs=2e-6)


# ---------------------------------------------------------------------------
# q183 log-rank
# ---------------------------------------------------------------------------


def _arm(uid):
    return int(hashlib.md5(f"ab:{uid}".encode()).hexdigest()[:15], 16) % 2


def _run_logrank(spark):
    from leaf_spark.queries_ranking import _UHASH_SPARK
    from leaf_spark.queries_stats import _EPOCHDAY_SPARK, _Q183_FINAL, _Q183_HIST

    spark.sql(
        _Q183_HIST.replace("{EPOCHDAY}", _EPOCHDAY_SPARK).replace(
            "{UHASH}", _UHASH_SPARK
        )
    ).createOrReplaceTempView("__t183_km__")
    return spark.sql(_Q183_FINAL.replace("{KM}", "__t183_km__")).collect()[0]


def _logrank_python(users):
    """users: {uid: (first_day, purchase_day_or_None, last_day)}."""
    obs_end = max(
        max(d0, dc if dc is not None else 0, dl) for d0, dc, dl in users.values()
    )
    lab = []
    for uid, (d0, dc, _) in users.items():
        dur = (dc - d0) if dc is not None else (obs_end - d0)
        lab.append((_arm(uid), dur, 1 if dc is not None else 0))
    o1 = e1 = v = 0.0
    times = sorted({t for _, t, died in lab if died})
    for t in times:
        n = sum(1 for _, u, _ in lab if u >= t)
        n1 = sum(1 for a, u, _ in lab if u >= t and a == 1)
        d = sum(1 for _, u, died in lab if u == t and died)
        d1 = sum(1 for a, u, died in lab if u == t and died and a == 1)
        o1 += d1
        e1 += d * n1 / n
        if n > 1:
            v += (d * n1 * (n - n1) * (n - d)) / (n * n * (n - 1))
    chi2 = (o1 - e1) ** 2 / v if v > 0 else None
    return len(times), o1, e1, v, chi2


def test_logrank_matches_python_known_split(spark):
    # pick uids so both arms are populated (md5-deterministic)
    uids = list(range(20))
    arm1 = [u for u in uids if _arm(u) == 1][:4]
    arm0 = [u for u in uids if _arm(u) == 0][:4]
    users = {}
    # arm-1 users convert fast, arm-0 slowly or never
    for i, u in enumerate(arm1):
        users[u] = (0, 1 + i % 2, 8)
    for i, u in enumerate(arm0):
        users[u] = (0, 6 + i % 2 if i < 2 else None, 8)
    base = dt.datetime(2026, 6, 1)
    rows = []
    eid = 0
    for uid, (d0, dc, dl) in users.items():
        rows.append((eid, base + dt.timedelta(days=d0), uid, "view", 1.0, "{}"))
        eid += 1
        if dc is not None:
            rows.append(
                (eid, base + dt.timedelta(days=dc), uid, "purchase", 1.0, "{}")
            )
            eid += 1
        rows.append((eid, base + dt.timedelta(days=dl), uid, "click", 1.0, "{}"))
        eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")
    r = _run_logrank(spark)
    n_times, o1, e1, v, chi2 = _logrank_python(users)
    assert r["n_times"] == n_times and r["o1"] == o1
    assert r["e1"] == pytest.approx(e1, abs=1e-5)
    assert r["variance"] == pytest.approx(v, abs=1e-5)
    assert r["logrank_chi2"] == pytest.approx(chi2, abs=1e-4)
    # arm 1 converts faster → observed arm-1 conversions exceed expectation
    assert o1 > e1 and r["logrank_chi2"] > 1.0


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    spec=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.one_of(st.none(), st.integers(0, 8)),
            st.integers(4, 9),
        ),
        min_size=3,
        max_size=10,
    )
)
def test_logrank_matches_python_random(spark, spec):
    users = {
        uid: (d0, (dc if dc is None or dc >= d0 else d0), dl)
        for uid, (d0, dc, dl) in enumerate(spec)
    }
    base = dt.datetime(2026, 6, 1)
    rows = []
    eid = 0
    for uid, (d0, dc, dl) in users.items():
        rows.append((eid, base + dt.timedelta(days=d0), uid, "view", 1.0, "{}"))
        eid += 1
        if dc is not None:
            rows.append(
                (eid, base + dt.timedelta(days=dc), uid, "purchase", 1.0, "{}")
            )
            eid += 1
        rows.append((eid, base + dt.timedelta(days=dl), uid, "click", 1.0, "{}"))
        eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")
    r = _run_logrank(spark)
    n_times, o1, e1, v, chi2 = _logrank_python(users)
    assert r["n_times"] == n_times and r["o1"] == o1
    assert r["e1"] == pytest.approx(e1, abs=1e-5)
    assert r["variance"] == pytest.approx(v, abs=1e-5)
    if chi2 is None:
        assert r["logrank_chi2"] is None
    else:
        assert r["logrank_chi2"] == pytest.approx(chi2, abs=1e-4)


# ---------------------------------------------------------------------------
# q184 ROC AUC / q185 Brier decomposition (over a planted histogram view)
# ---------------------------------------------------------------------------


def test_roc_auc_perfect_random_and_ties(spark):
    from leaf_spark.queries_stats import _Q184_FINAL

    # perfect separation: all negatives in bucket 0, positives in bucket 1
    _mk_hist(spark, [(0, 5, 0), (1, 4, 4)], "__t184a__")
    r = spark.sql(_Q184_FINAL.replace("{H}", "__t184a__")).collect()[0]
    assert (r["p_total"], r["n_total"]) == (4, 5)
    assert r["auc"] == 1.0 and r["gini"] == 1.0
    # inverted: positives below negatives → AUC 0
    _mk_hist(spark, [(0, 4, 4), (1, 5, 0)], "__t184b__")
    r = spark.sql(_Q184_FINAL.replace("{H}", "__t184b__")).collect()[0]
    assert r["auc"] == 0.0 and r["gini"] == -1.0
    # everything in one bucket → all ties → AUC 0.5, gini 0
    _mk_hist(spark, [(3, 10, 4)], "__t184c__")
    r = spark.sql(_Q184_FINAL.replace("{H}", "__t184c__")).collect()[0]
    assert r["auc"] == 0.5 and r["gini"] == 0.0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hist=st.lists(
        st.tuples(st.integers(1, 9), st.integers(0, 9)), min_size=1, max_size=6
    )
)
def test_roc_auc_matches_exact_pair_count(spark, hist):
    from leaf_spark.queries_stats import _Q184_FINAL

    rows = [(b, n, min(s, n)) for b, (n, s) in enumerate(hist)]
    p_total = sum(s for _, _, s in rows)
    n_total = sum(n - s for _, n, s in rows)
    if p_total == 0 or n_total == 0:
        return  # AUC undefined (division yields NULL) — not the contract here
    _mk_hist(spark, rows, "__t184f__")
    r = spark.sql(_Q184_FINAL.replace("{H}", "__t184f__")).collect()[0]
    u2 = 0
    for b1, n1, s1 in rows:  # positives in b1
        for b2, n2, s2 in rows:  # negatives in b2
            negs = n2 - s2
            if b2 < b1:
                u2 += 2 * s1 * negs
            elif b2 == b1:
                u2 += s1 * negs
    assert r["u2"] == u2
    assert r["auc"] == pytest.approx(u2 / (2 * p_total * n_total), abs=1e-6)


def test_brier_decomposition_identity_and_extremes(spark):
    from leaf_spark.queries_stats import _Q185_FINAL

    # bucket 63 midpoint = 127/128 ≈ 0.992; all positive → tiny reliability
    _mk_hist(spark, [(63, 8, 8), (0, 8, 0)], "__t185a__")
    r = spark.sql(_Q185_FINAL.replace("{H}", "__t185a__")).collect()[0]
    assert r["base_rate"] == 0.5
    assert r["uncertainty"] == 0.25
    # perfectly separating buckets: resolution equals uncertainty
    assert r["resolution"] == pytest.approx(0.25, abs=1e-6)
    assert r["reliability"] == pytest.approx((1 / 128) ** 2, abs=1e-6)
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=2e-6
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hist=st.lists(
        st.tuples(st.integers(1, 9), st.integers(0, 9)), min_size=1, max_size=6
    )
)
def test_brier_matches_python(spark, hist):
    from leaf_spark.queries_stats import _Q185_FINAL

    rows = [(b, n, min(s, n)) for b, (n, s) in enumerate(hist)]
    _mk_hist(spark, rows, "__t185f__")
    r = spark.sql(_Q185_FINAL.replace("{H}", "__t185f__")).collect()[0]
    nn = sum(n for _, n, _ in rows)
    ss = sum(s for _, _, s in rows)
    pbar = ss / nn
    rel = sum(n * ((2 * b + 1) / 128.0 - s / n) ** 2 for b, n, s in rows) / nn
    res = sum(n * (s / n - pbar) ** 2 for b, n, s in rows) / nn
    unc = pbar * (1 - pbar)
    assert r["n_docs"] == nn
    assert r["reliability"] == pytest.approx(rel, abs=1e-5)
    assert r["resolution"] == pytest.approx(res, abs=1e-5)
    assert r["uncertainty"] == pytest.approx(unc, abs=1e-6)
    assert r["brier"] == pytest.approx(rel - res + unc, abs=2e-5)


# ---------------------------------------------------------------------------
# q186 CUPED / q187 MDE
# ---------------------------------------------------------------------------


def _run_cuped(spark):
    from leaf_spark.queries_stats import _EPOCHDAY_SPARK, _q186_sql

    return spark.sql(_q186_sql(_EPOCHDAY_SPARK, "div")).collect()[0]


def _plant_pre_post(spark, pairs):
    """pairs: per-user (pre_value, post_value); days 0-3, midpoint 2."""
    base = dt.datetime(2026, 7, 1)
    rows = []
    eid = 0
    for uid, (pre, post) in enumerate(pairs):
        rows.append((eid, base, uid, "view", float(pre), "{}"))
        eid += 1
        rows.append(
            (eid, base + dt.timedelta(days=2), uid, "view", float(post), "{}")
        )
        eid += 1
    # pin the observation span to days 0..3 so the midpoint split is day 2
    rows.append((eid, base + dt.timedelta(days=3), 999, "view", 0.0, "{}"))
    _mk_events(spark, rows).createOrReplaceTempView("events")


def test_cuped_perfect_linear_covariate(spark):
    _plant_pre_post(spark, [(1, 2), (2, 4), (3, 6)])
    r = _run_cuped(spark)
    assert r["n_users"] == 4  # incl. the span-pinning user (pre=0, post=0)
    assert r["theta"] == 2.0 and r["rho2"] == 1.0


def test_cuped_zero_pre_variance_yields_null(spark):
    # every user's pre is 0 (incl. the span-pinning user) → var(pre) = 0
    # → theta and rho2 are NULL via the nullif guard, not a crash
    _plant_pre_post(spark, [(0, 3), (0, 7)])
    r = _run_cuped(spark)
    assert r["theta"] is None and r["rho2"] is None


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=2, max_size=8
    )
)
def test_cuped_matches_python(spark, pairs):
    _plant_pre_post(spark, pairs)
    r = _run_cuped(spark)
    allp = list(pairs) + [(0, 0)]  # the span-pinning user
    n = len(allp)
    xs = [p * 10**6 for p, _ in allp]
    ys = [q * 10**6 for _, q in allp]
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    num = n * sxy - sx * sy
    denx = n * sxx - sx * sx
    deny = n * syy - sy * sy
    assert r["n_users"] == n
    if denx == 0:
        assert r["theta"] is None
    else:
        assert r["theta"] == pytest.approx(num / denx, abs=2e-6)
    if denx == 0 or deny == 0:
        assert r["rho2"] is None
    else:
        assert r["rho2"] == pytest.approx(num * num / (denx * deny), abs=2e-6)


def test_mde_matches_closed_form(spark):
    from leaf_spark.queries_ranking import _UHASH_SPARK
    from leaf_spark.queries_stats import _Q187_BODY

    base = dt.datetime(2026, 7, 1)
    rows = []
    eid = 0
    # 12 users, one "t" event each, conversion when value >= 100
    for uid in range(12):
        v = 150.0 if uid % 3 == 0 else 50.0
        rows.append((eid, base, uid, "t", v, "{}"))
        eid += 1
    _mk_events(spark, rows).createOrReplaceTempView("events")
    r = spark.sql(_Q187_BODY.replace("{UHASH}", _UHASH_SPARK)).collect()[0]
    arms = {uid: _arm(uid) for uid in range(12)}
    na = sum(1 for a in arms.values() if a == 0)
    xa = sum(1 for uid, a in arms.items() if a == 0 and uid % 3 == 0)
    nb = 12 - na
    assert (r["na"], r["xa"], r["nb"]) == (na, xa, nb)
    p0 = xa / na
    mde = (1.959964 + 0.841621) * math.sqrt(2.0 * p0 * (1.0 - p0) / nb)
    assert r["p0"] == pytest.approx(p0, abs=1e-6)
    assert r["mde_abs"] == pytest.approx(mde, abs=1e-6)
    assert r["mde_rel"] == pytest.approx(mde / p0, abs=1e-5)


# ---------------------------------------------------------------------------
# q155's driver-side arithmetic: Spark's round(double, 6) and decimal sums
# ---------------------------------------------------------------------------


def test_round6_and_decimal_sums_match_spark(spark):
    """q155 solves on the driver with ``_round6`` / ``_dec6`` standing in
    for Spark's ``round(x, 6)`` and ``cast(. as decimal(38,6))``, and
    Python ``Decimal`` sums cast back with ``float`` for
    ``cast(sum(decimal) as double)``. Spark rounds the decimal form of
    Java's ``Double.toString`` and Python that of ``repr``; JDK 17's
    ``Double.toString`` is not always the shortest form, so a difference
    would show at values next to a 6-decimal half-way point. 120k seeded
    doubles, one local frame, one collect."""
    import random

    from leaf_spark.localdf import arrow_local_df
    from leaf_spark.queries_ranking import _dec6, _round6

    rnd = random.Random(155)
    xs = []
    for _ in range(40_000):  # int / int quotients, as the MM updates divide
        xs.append(float(rnd.randint(1, 200_000)) / float(rnd.randint(1, 7_000)))
    for _ in range(10_000):  # a 6-decimal half-way point, exact and +-1 ulp
        h = (rnd.randint(0, 50_000_000) + 0.5) / 1e6
        xs += [h, math.nextafter(h, math.inf), math.nextafter(h, -math.inf)]
    for _ in range(30_000):  # within 5e-7 of a half-way point
        xs.append((rnd.randint(0, 50_000_000) + 0.5) / 1e6 + rnd.uniform(-5e-7, 5e-7))
    for _ in range(19_000):  # the strength range
        xs.append(rnd.uniform(0.0, 50.0))
    for _ in range(1_000):  # tiny negatives round to +0.0, not -0.0
        xs.append(-rnd.uniform(0.0, 5e-7))
    rows = []
    for x in xs:
        # q155's p2 terms: n_ij / (p_i + p_j) over 6-decimal strengths
        terms = [
            float(rnd.randint(2, 60))
            / (round(rnd.uniform(0.05, 4.0), 6) + round(rnd.uniform(0.05, 4.0), 6))
            for _ in range(rnd.randint(1, 8))
        ]
        rows.append((x, terms))
    df = arrow_local_df(spark, rows, "x double, terms array<double>")
    got = df.selectExpr(
        "round(x, 6) as r",
        "cast(round(x, 6) as decimal(38,6)) as d",
        "cast(aggregate(terms, cast(0 as decimal(38,6)),"
        " (acc, t) -> acc + cast(round(t, 6) as decimal(38,6))) as double) as s",
    ).collect()
    assert len(got) == len(rows) >= 100_000
    bad = []
    for (x, terms), g in zip(rows, got):
        want_s = float(sum(_dec6(_round6(t)) for t in terms))
        if repr(g.r) != repr(_round6(x)) or g.d != _dec6(x) or g.s != want_s:
            bad.append((x, g, _round6(x), _dec6(x), want_s))
    assert not bad, (len(bad), bad[:5])
