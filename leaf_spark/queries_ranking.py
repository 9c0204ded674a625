"""Catalog entries q154-q157: behavioral and preference-ranking analytics —
Markov event transitions, Bradley-Terry source strength from pairwise
bucket comparisons, instruction-template mining, and histogram-exact
robust outlier detection (median/MAD).

Determinism conventions (the q117/q141/q150 discipline): all counts exact
bigints; products that could wrap int64 at corpus scale are
decimal(38,0)-routed; derived floats appear only as final rounded
quotients beside their exact numerator/denominator columns; float terms
that must be summed are rounded to 6 then decimal(38,6)-summed so
partition order can't change the total.

Plan discipline (the q141/q147 CTE-inlining gotcha): each entry reduces
the corpus to a small table (transition matrix, win matrix, template
counts, value histogram) that feeds SEVERAL downstream consumers —
Catalyst re-inlines a WITH CTE into every consumer, which would re-scan
the corpus once per consumer (q155's naive form showed 64 parquet scans).
So the Spark side computes the reduction once, localCheckpoints it, and
runs the solve over the checkpointed view: exactly ONE corpus scan per
entry, asserted by tests/test_plans.py::test_checkpointed_entries_do_not_rescan.
q155's reduction is bounded by 50 buckets x #sources, so it is collected
instead and its solve runs on the driver.
The DuckDB oracle keeps the single inlined SQL body (DuckDB materializes
CTEs, so the inlining hazard is Spark-only).

Scale notes (SCALE.md §1): every entry is aggregation-shaped — the
corpus-sized shuffles are a single groupBy apiece; the iterative solve (BT)
runs over the #sources-bounded win matrix on the driver, and the exact medians (q157)
come from count-of-counts histograms cumulated per key, never a
row-number over raw events (the q118 class of hazard).
"""

from __future__ import annotations

from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession

from .localdf import arrow_local_df
from .queries import register
from .session import load_tables

# ---------------------------------------------------------------------------
# q154 — first-order Markov transition matrix over per-user event streams.
# The product-analytics / sessionization primitive: P(next event | current
# event) estimated from lead() over (user, time) ordered streams. The
# window is partitioned by user_id (bounded per-user event counts; at
# 100 TB the per-user partition is the natural unit of locality), the
# transition matrix is #event_types^2 rows, and the probability is an
# exact c/n rational beside the rounded quotient.
# ---------------------------------------------------------------------------

_Q154_COUNTS = """
    select event_type as cur, nxt, cast(count(*) as bigint) as c
    from (
      select event_type,
             lead(event_type) over (
               partition by user_id order by ts, event_id) as nxt
      from events
    )
    where nxt is not null
    group by event_type, nxt
"""

_Q154_FINAL = """
    with c as (select * from {C}),
    r as (select cur, cast(sum(c) as bigint) as n from c group by cur)
    select c.cur, c.nxt, c.c as n_transitions, r.n as n_from_cur,
           round(cast(c.c as double) / r.n, 6) as p
    from c join r on c.cur = r.cur
    order by c.cur, c.nxt
"""


def _q154_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("events",))
    c = spark.sql(_Q154_COUNTS).localCheckpoint()
    c.createOrReplaceTempView("__q154_c__")
    return spark.sql(_Q154_FINAL.replace("{C}", "__q154_c__"))


register(
    "q154_markov_transitions",
    _Q154_FINAL.replace("{C}", "(" + _Q154_COUNTS + ")"),
    doc="first-order Markov transition matrix over per-user event "
    "streams: lead() partitioned by user (never a global window), "
    "exact transition counts, P(next|cur) as exact rational beside the "
    "rounded quotient — the navigation-flow / funnel-discovery "
    "primitive. One user-keyed window shuffle + one types^2-bounded "
    "aggregation; the checkpointed matrix feeds both consumers from "
    "one events scan",
)(_q154_spark)


# ---------------------------------------------------------------------------
# q155 — Bradley-Terry strength ranking of sources from pairwise bucket
# wins. The preference-data primitive (RLHF pairwise comparisons, data-
# mixture quality ranking): buckets pair sources, a source "wins" a
# bucket when its mean doc length beats the other's (compared by exact
# cross-multiplication — no division), wins are Laplace-smoothed (+1) so
# the MM iteration is total, and two Bradley-Terry minorize-maximize
# updates run unrolled on the #sources-bounded win matrix:
#   p_i <- W_i / sum_j n_ij / (p_i + p_j)
# Per-term rounds + decimal(38,6) sums make each iteration bit-exact
# cross-engine. The corpus-sized work is ONE groupBy to the
# (bucket, source) table; everything after is k^2-bounded.
# ---------------------------------------------------------------------------

_Q155_M = """
      select doc_id % 50 as bucket, source,
             cast(sum(n_chars) as bigint) as s,
             cast(count(*) as bigint) as n
      from documents
      group by doc_id % 50, source
"""

_Q155_WINS = """
    with m as ({M})
    select sa, sb,
           cast(sum(win_a) + 1 as bigint) as wa,
           cast(sum(win_b) + 1 as bigint) as wb
    from (
      select a.source as sa, b.source as sb,
             case when cast(a.s as decimal(19,0)) * cast(b.n as decimal(19,0))
                     > cast(b.s as decimal(19,0)) * cast(a.n as decimal(19,0))
                  then 1 else 0 end as win_a,
             case when cast(b.s as decimal(19,0)) * cast(a.n as decimal(19,0))
                     > cast(a.s as decimal(19,0)) * cast(b.n as decimal(19,0))
                  then 1 else 0 end as win_b
      from m a join m b on a.bucket = b.bucket and a.source < b.source
    )
    group by sa, sb
""".replace("{M}", _Q155_M)

_Q155_FINAL = """
    with w as (select * from {W}),
    e as (
      select sa as i, sb as j, wa as wins, wa + wb as nij from w
      union all
      select sb as i, sa as j, wb as wins, wa + wb as nij from w
    ),
    wi as (select i, cast(sum(wins) as bigint) as w_total from e group by i),
    p1 as (
      select e.i, wi.w_total,
             round(cast(wi.w_total as double) /
               cast(sum(cast(round(cast(e.nij as double) / 2.0, 6)
                             as decimal(38,6))) as double), 6) as p
      from e join wi on wi.i = e.i
      group by e.i, wi.w_total
    ),
    p2 as (
      select e.i,
             round(cast(wi.w_total as double) /
               cast(sum(cast(round(cast(e.nij as double) / (pa.p + pb.p), 6)
                             as decimal(38,6))) as double), 6) as p
      from e
      join wi on wi.i = e.i
      join p1 pa on pa.i = e.i
      join p1 pb on pb.i = e.j
      group by e.i, wi.w_total
    )
    select p1.i as source, p1.w_total as n_wins,
           p1.p as strength_it1, p2.p as strength_it2
    from p1 join p2 on p2.i = p1.i
    order by strength_it2 desc, source
"""


_MICRO = Decimal("1e-6")


def _dec6(x: float) -> Decimal:
    """Spark's ``cast(x as decimal(38,6))`` of a double: HALF_UP on the
    double's shortest decimal form (Java's ``Double.toString``, Python's
    ``repr``)."""
    return Decimal(repr(x)).quantize(_MICRO, ROUND_HALF_UP)


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)`` of a double. ``+ 0.0`` folds -0.0 to 0.0, as
    Spark's BigDecimal round does."""
    return float(_dec6(x)) + 0.0


def _q155_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Spark job reduces the corpus to the (bucket, source) table —
    at most 50 x #sources rows at any scale — and the win matrix and both
    MM updates run on the driver with the oracle's arithmetic: exact
    integer cross-multiplication, per-term ``round(., 6)``, exact
    decimal(38,6) sums cast back to double. ``sa < sb`` compares Python
    strs, whose code-point order is Spark's UTF-8 byte order."""
    load_tables(spark, sf_dir, names=("documents",))
    buckets = defaultdict(list)
    for r in spark.sql(_Q155_M).collect():
        if r.bucket is not None and r.source is not None:
            buckets[r.bucket].append((r.source, r.s, r.n))
    wins: dict = {}
    for rows in buckets.values():
        for sa, s_a, n_a in rows:
            for sb, s_b, n_b in rows:
                if sa < sb:
                    w = wins.setdefault((sa, sb), [1, 1])
                    if s_a is not None and s_b is not None:
                        w[0] += s_a * n_b > s_b * n_a
                        w[1] += s_b * n_a > s_a * n_b
    e = defaultdict(list)  # i -> [(j, wins_i, n_ij)]
    for (sa, sb), (wa, wb) in wins.items():
        e[sa].append((sb, wa, wa + wb))
        e[sb].append((sa, wb, wa + wb))
    w_total = {i: sum(w for _, w, _ in es) for i, es in e.items()}

    def mm_update(denom) -> dict:
        return {
            i: _round6(
                float(w_total[i])
                / float(sum(_dec6(_round6(float(nij) / denom(i, j))) for j, _, nij in es))
            )
            for i, es in e.items()
        }

    p1 = mm_update(lambda i, j: 2.0)
    p2 = mm_update(lambda i, j: p1[i] + p1[j])
    rows = sorted(
        ((i, w_total[i], p1[i], p2[i]) for i in e), key=lambda r: (-r[3], r[0])
    )
    return arrow_local_df(
        spark,
        rows,
        "source string, n_wins bigint, strength_it1 double, strength_it2 double",
    )


register(
    "q155_bradley_terry",
    _Q155_FINAL.replace("{W}", "(" + _Q155_WINS + ")"),
    doc="Bradley-Terry strength ranking of sources from Laplace-smoothed "
    "pairwise bucket wins (mean-length comparisons by exact cross-"
    "multiplication, decimal-routed so 100 TB char-sums can't wrap), "
    "two MM updates over the sources^2-bounded win matrix with per-term "
    "rounds + decimal sums — the preference-ranking primitive for RLHF "
    "pairs and mixture quality ordering. One corpus shuffle into the "
    "(bucket, source) table, collected once; the win matrix and the MM "
    "solve run on the driver with the oracle's exact arithmetic",
)(_q155_spark)


# ---------------------------------------------------------------------------
# q156 — instruction-template mining: digit-folded, whitespace-collapsed
# 5-token prefixes as template keys. The instruction-data curation
# primitive: templated generations ("Write a story about X") collapse to
# one key, so the top templates expose format monoculture before a
# mixture overfits to it. Shuffle-free normalization, one hash
# aggregation, top-30 never a global sort.
# ---------------------------------------------------------------------------

_Q156_GROUPS = """
    select template,
           cast(count(*) as bigint) as n_docs,
           cast(count(distinct source) as bigint) as n_sources
    from (select source, {TMPL} as template from documents)
    group by template
"""

_Q156_FINAL = """
    with g as (select * from {G}),
    tot as (select cast(sum(n_docs) as bigint) as n from g)
    select g.template, g.n_docs, g.n_sources, tot.n as n_total,
           round(cast(g.n_docs as double) / tot.n, 6) as share
    from g cross join tot
    order by g.n_docs desc, g.template
    limit 30
"""

_SPARK_TMPL = (
    "array_join(slice(split(trim(regexp_replace(regexp_replace(lower(text),"
    " '[0-9]', '0'), '\\\\s+', ' ')), ' '), 1, 5), ' ')"
)
_DUCK_TMPL = (
    "array_to_string(string_split(trim(regexp_replace(regexp_replace("
    "lower(text), '[0-9]', '0', 'g'), '\\s+', ' ', 'g')), ' ')[1:5], ' ')"
)


def _q156_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("documents",))
    g = spark.sql(_Q156_GROUPS.replace("{TMPL}", _SPARK_TMPL)).localCheckpoint()
    g.createOrReplaceTempView("__q156_g__")
    return spark.sql(_Q156_FINAL.replace("{G}", "__q156_g__"))


register(
    "q156_template_mining",
    _Q156_FINAL.replace(
        "{G}", "(" + _Q156_GROUPS.replace("{TMPL}", _DUCK_TMPL) + ")"
    ),
    doc="top-30 instruction templates by frequency: digit-folded, "
    "whitespace-collapsed 5-token prefixes as template keys, with doc "
    "count, distinct-source spread, and corpus share (exact rational "
    "beside rounded quotient) — the format-monoculture audit for "
    "instruction/synthetic data. Zero-shuffle normalization, one hash "
    "aggregation into the checkpointed vocabulary-bounded template "
    "table, top-k collapses the ORDER BY",
)(_q156_spark)


# ---------------------------------------------------------------------------
# q157 — robust outlier detection per event type: exact (lower) median
# and MAD from count-of-counts histograms, flagging |x - med| > 3*MAD.
# The telemetry-cleaning primitive that survives the q118 review: both
# medians come from cumulative sums over the (event_type, value)
# HISTOGRAM — windows partition by event_type over distinct-value rows,
# never a row_number over raw events, so a hot event type costs a sort
# of its distinct values, not its row count. Values quantize via
# floor(x*1e6) (floor, never round, on derived floats) so the medians
# are exact bigint statements.
# ---------------------------------------------------------------------------

_Q157_HIST = """
    select event_type, cast(floor(value * 1000000) as bigint) as qv,
           cast(count(*) as bigint) as c
    from events
    group by event_type, cast(floor(value * 1000000) as bigint)
"""

_Q157_FINAL = """
    with h as (select * from {H}),
    cum as (
      select event_type, qv, c,
             sum(c) over (partition by event_type order by qv
                          rows between unbounded preceding and current row
                          ) as cum_c,
             sum(c) over (partition by event_type) as n
      from h
    ),
    med as (
      select event_type, cast(min(qv) as bigint) as med_q,
             cast(min(n) as bigint) as n
      from cum where cum_c >= (n + 1) {IDIV} 2
      group by event_type
    ),
    dh as (
      select h.event_type, abs(h.qv - m.med_q) as dev,
             cast(sum(h.c) as bigint) as c
      from h join med m on m.event_type = h.event_type
      group by h.event_type, abs(h.qv - m.med_q)
    ),
    dcum as (
      select event_type, dev, c,
             sum(c) over (partition by event_type order by dev
                          rows between unbounded preceding and current row
                          ) as cum_c,
             sum(c) over (partition by event_type) as n
      from dh
    ),
    mad as (
      select event_type, cast(min(dev) as bigint) as mad_q
      from dcum where cum_c >= (n + 1) {IDIV} 2
      group by event_type
    )
    select m.event_type, m.n as n_events, m.med_q as median_q,
           mad.mad_q,
           cast(coalesce(sum(case when h.qv - m.med_q > 3 * mad.mad_q
                                    or m.med_q - h.qv > 3 * mad.mad_q
                                  then h.c else 0 end), 0) as bigint)
             as n_outliers,
           round(cast(coalesce(sum(case when h.qv - m.med_q > 3 * mad.mad_q
                                          or m.med_q - h.qv > 3 * mad.mad_q
                                        then h.c else 0 end), 0) as double)
                 / m.n, 6) as outlier_rate
    from med m
    join mad on mad.event_type = m.event_type
    join h on h.event_type = m.event_type
    group by m.event_type, m.n, m.med_q, mad.mad_q
    order by m.event_type
"""


def _q157_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("events",))
    h = spark.sql(_Q157_HIST).localCheckpoint()
    h.createOrReplaceTempView("__q157_h__")
    return spark.sql(
        _Q157_FINAL.replace("{H}", "__q157_h__").replace("{IDIV}", "div")
    )


register(
    "q157_mad_outliers",
    _Q157_FINAL.replace("{H}", "(" + _Q157_HIST + ")").replace("{IDIV}", "//"),
    doc="per-event-type robust outlier report: exact lower median and "
    "MAD from count-of-counts histograms (cumulative sums partitioned "
    "by type over DISTINCT quantized values — never a row_number over "
    "raw events, the q118-class fix baked in), outliers = "
    "|x - med| > 3*MAD with exact counts and a rounded rate. "
    "floor(x*1e6) quantization keeps every statistic an exact bigint; "
    "the checkpointed histogram feeds all five consumers from one "
    "events scan",
)(_q157_spark)


# ---------------------------------------------------------------------------
# q158 — time-decayed engagement with EXACT dyadic weights. Recency
# weighting (half-life decay) is the freshness signal for mixture
# sampling and trending detection; naive exp() weights are float-
# summation-order hazards. Here the decay exponent quantizes to whole
# half-lives k = floor(age / H) capped at 40, so every weight is the
# dyadic rational 2^-k — scaled by 2^40 they are exact bigints, summed
# through decimal(38,0) (value products decimal-routed), and the only
# floats are final divisions by the exact-double constants 2^40 and 1e6.
# Two events scans by construction (global max timestamp, then the
# weighted aggregation) — the classic two-pass shape, each a single
# map-side-combinable agg.
# ---------------------------------------------------------------------------

_Q158_BODY = """
    with tm as (select max({EPOCHUS}) as tmax from events),
    b as (
      select event_type,
             least(cast((tm.tmax - {EPOCHUS}) {IDIV} 86400000000 as int),
                   40) as k,
             cast(floor(value * 1000000) as bigint) as vq
      from events cross join tm
    ),
    a as (
      select event_type,
             cast(count(*) as bigint) as n,
             cast(sum(cast({SHL} as decimal(19,0))) as decimal(38,0))
               as w_num,
             cast(sum(cast(vq as decimal(19,0)) * cast({SHL} as decimal(19,0)))
                  as decimal(38,0)) as wv_num
      from b group by event_type
    )
    select event_type, n,
           cast(w_num as string) as w_num,
           cast(wv_num as string) as wv_num,
           round(cast(w_num as double) / 1099511627776.0, 6) as decayed_n,
           round(cast(wv_num as double) / 1099511627776.0 / 1000000.0, 6)
             as decayed_value_sum
    from a order by event_type
"""


def _q158_sql(engine: str) -> str:
    if engine == "spark":
        return (
            _Q158_BODY.replace("{EPOCHUS}", "unix_micros(cast(ts as timestamp))")
            .replace("{SHL}", "shiftleft(cast(1 as bigint), 40 - k)")
            .replace("{IDIV}", "div")
        )
    return (
        _Q158_BODY.replace("{EPOCHUS}", "epoch_us(ts)")
        .replace("{SHL}", "(cast(1 as bigint) << (40 - k))")
        .replace("{IDIV}", "//")
    )


from .queries import sql_case  # noqa: E402

sql_case(
    "q158_decayed_engagement",
    _q158_sql("spark"),
    _q158_sql("duckdb"),
    doc="half-life-decayed event counts and value mass per event type "
    "with EXACT dyadic weights: decay exponent floor-quantized to whole "
    "half-lives (cap 40), weights 2^-k scaled by 2^40 into exact "
    "bigints, decimal(38,0)-summed — recency weighting with zero float-"
    "summation-order hazard. Two map-side-combinable passes (global max "
    "ts, then the weighted agg)",
)


# ---------------------------------------------------------------------------
# q159 — inter-event gap quantiles per event type, histogram-exact. The
# activity-cadence profile (bot detection, session tuning): gap to the
# user's previous event via lag() partitioned by user, floored to whole
# seconds, then p50/p90/p99 as exact lower quantiles from cumulative
# sums over the (type, gap) count-of-counts histogram — the q157
# discipline: windows only over distinct-value rows, one conditional-min
# pass picks all three quantiles so the histogram has a single consumer
# (no CTE re-scan).
# ---------------------------------------------------------------------------

_Q159_BODY = """
    with g as (
      select event_type,
             ({EPOCHUS} - lag({EPOCHUS}) over (
                partition by user_id order by ts, event_id)) {IDIV} 1000000
               as gap_s
      from events
    ),
    h as (
      select event_type, gap_s, cast(count(*) as bigint) as c
      from g where gap_s is not null group by event_type, gap_s
    ),
    cum as (
      select event_type, gap_s, c,
             sum(c) over (partition by event_type order by gap_s
                          rows between unbounded preceding and current row
                          ) as cum_c,
             sum(c) over (partition by event_type) as n
      from h
    )
    select event_type,
           cast(min(n) as bigint) as n_gaps,
           cast(min(case when cum_c >= (n + 1) {IDIV} 2
                         then gap_s end) as bigint) as p50_s,
           cast(min(case when cum_c >= (9 * n + 9) {IDIV} 10
                         then gap_s end) as bigint) as p90_s,
           cast(min(case when cum_c >= (99 * n + 99) {IDIV} 100
                         then gap_s end) as bigint) as p99_s,
           cast(max(gap_s) as bigint) as max_s
    from cum group by event_type order by event_type
"""


def _q159_sql(engine: str) -> str:
    if engine == "spark":
        return _Q159_BODY.replace(
            "{EPOCHUS}", "unix_micros(cast(ts as timestamp))"
        ).replace("{IDIV}", "div")
    return _Q159_BODY.replace("{EPOCHUS}", "epoch_us(ts)").replace(
        "{IDIV}", "//"
    )


sql_case(
    "q159_gap_quantiles",
    _q159_sql("spark"),
    _q159_sql("duckdb"),
    doc="inter-event gap quantiles per event type (p50/p90/p99/max, whole "
    "seconds): lag() partitioned by user, exact lower quantiles via "
    "cumulative sums over the count-of-counts gap histogram, all three "
    "quantiles picked in ONE conditional-min pass so the histogram has "
    "a single consumer — the activity-cadence / bot-detection profile. "
    "Windows only over distinct gap values, never raw events",
)


# ---------------------------------------------------------------------------
# q160 — A/B two-proportion z-test per event type. The experimentation
# primitive: deterministic md5 assignment of users to arms, conversion =
# value >= 100, exact arm counts as the primary columns, and the pooled
# two-proportion z-score as a final rounded scalar (IEEE sqrt and fixed-
# order divisions are bit-identical cross-engine; nullif guards the
# all-or-nothing pooled-rate edge; + 0.0 normalizes a -0.0 round, the
# q135 gotcha). ONE scan, one #types-bounded conditional aggregation.
# ---------------------------------------------------------------------------

_Q160_BODY = """
    with t as (
      select event_type, {UHASH} % 2 as grp,
             case when value >= 100.0 then 1 else 0 end as conv
      from events
    ),
    a as (
      select event_type,
             cast(sum(case when grp = 0 then 1 else 0 end) as bigint) as na,
             cast(sum(case when grp = 0 then conv else 0 end) as bigint) as xa,
             cast(sum(case when grp = 1 then 1 else 0 end) as bigint) as nb,
             cast(sum(case when grp = 1 then conv else 0 end) as bigint) as xb
      from t group by event_type
    )
    select event_type, na, xa, nb, xb,
           round(cast(xa as double) / na, 6) + 0.0 as rate_a,
           round(cast(xb as double) / nb, 6) + 0.0 as rate_b,
           round((cast(xa as double) / na - cast(xb as double) / nb)
                 / nullif(sqrt((cast(xa + xb as double) / (na + nb))
                               * (1.0 - cast(xa + xb as double) / (na + nb))
                               * (1.0 / na + 1.0 / nb)), 0.0), 6) + 0.0 as z
    from a order by event_type
"""

_UHASH_SPARK = (
    "cast(conv(substring(md5(concat('ab:', cast(user_id as string))), 1, 15),"
    " 16, 10) as bigint)"
)
_UHASH_DUCK = "('0x' || substring(md5('ab:' || user_id), 1, 15))::bigint"

sql_case(
    "q160_ab_ztest",
    _Q160_BODY.replace("{UHASH}", _UHASH_SPARK),
    _Q160_BODY.replace("{UHASH}", _UHASH_DUCK),
    doc="two-proportion z-test per event type over a deterministic md5 "
    "A/B assignment (conversion = value >= 100): exact arm counts as "
    "primary columns, pooled z as a final rounded scalar (IEEE sqrt, "
    "fixed-order divisions, nullif on the degenerate pooled rate, +0.0 "
    "against -0.0 rounds) — the experimentation primitive. One scan, "
    "one types-bounded conditional aggregation, no joins",
)


# ---------------------------------------------------------------------------
# q161 — dominant eigenvector of the embedding second-moment (Gram)
# matrix by TWO unrolled power iterations in exact integer arithmetic.
# The PCA-prep companion to q141: quantize dims via floor(x*1024) (power
# of two — exact), ONE aggregation pass produces the 36 upper-triangle
# moment sums, a stack() unpivot mirrors them into the 64-entry matrix
# table (the q141 recipe — a UNION-ALL unpivot would re-scan the corpus
# per branch), and the checkpointed matrix feeds the iteration:
#   v1 = M·1,   v2 = M·v1
# with decimal(38,0)-routed products, no normalization BETWEEN
# iterations (so everything stays exact; two iterations keep the
# magnitudes inside decimal(38) headroom even at large corpus scale —
# the documented bound), and the final components emitted as the exact
# rational v2_i / max|v2| beside the rounded quotient. The solve never
# touches corpus rows: 64-entry joins.
# ---------------------------------------------------------------------------

_EIG_DIMS = 8
_EIG_PAIRS = [
    (i, j)
    for i in range(1, _EIG_DIMS + 1)
    for j in range(i, _EIG_DIMS + 1)
]


def _eig_matrix_sql(engine: str) -> str:
    el = (
        "element_at(embedding, {k})" if engine == "spark" else "embedding[{k}]"
    )
    qs = ", ".join(
        f"cast(floor(cast({el.format(k=k)} as double) * 1024) as bigint) as q{k}"
        for k in range(1, _EIG_DIMS + 1)
    )
    sums = ", ".join(
        f"cast(sum(q{i} * q{j}) as bigint) as p_{i}_{j}"
        for i, j in _EIG_PAIRS
    )
    head = (
        f"with q as (select {qs} from embeddings), "
        f"s as (select {sums} from q)"
    )
    cells = [
        (i, j, f"p_{min(i, j)}_{max(i, j)}")
        for i in range(1, _EIG_DIMS + 1)
        for j in range(1, _EIG_DIMS + 1)
    ]
    if engine == "spark":
        stack_args = ", ".join(
            f"cast({i} as bigint), cast({j} as bigint), {p}"
            for i, j, p in cells
        )
        return (
            f"{head} select i, j, m from (select "
            f"stack({len(cells)}, {stack_args}) as (i, j, m) from s)"
        )
    branches = " union all ".join(
        f"select cast({i} as bigint) as i, cast({j} as bigint) as j, "
        f"{p} as m from s"
        for i, j, p in cells
    )
    return f"{head} {branches}"


_EIG_ITER = """
    with m as (select * from {M}),
    v1 as (
      select i, cast(sum(m) as decimal(38,0)) as v from m group by i
    ),
    v2 as (
      select m.i,
             cast(sum(cast(m.m as decimal(19,0)) * v1.v) as decimal(38,0))
               as v
      from m join v1 on v1.i = m.j
      group by m.i
    ),
    mx as (select max(abs(v)) as mv from v2)
    select v2.i, cast(v2.v as string) as eig_num,
           cast(cast(mx.mv as decimal(38,0)) as string) as eig_den,
           round(cast(v2.v as double) / cast(mx.mv as double), 6)
             as component
    from v2 cross join mx
    order by v2.i
"""


def _q161_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("embeddings",))
    m = spark.sql(_eig_matrix_sql("spark")).localCheckpoint()
    m.createOrReplaceTempView("__q161_m__")
    return spark.sql(_EIG_ITER.replace("{M}", "__q161_m__"))


register(
    "q161_top_eigenvector",
    _EIG_ITER.replace("{M}", "(" + _eig_matrix_sql("duckdb") + ")"),
    doc="dominant eigenvector of the 8-dim embedding Gram matrix via two "
    "unrolled power iterations in EXACT integer/decimal arithmetic "
    "(floor(x*1024) quantization, no between-iteration normalization, "
    "decimal(38,0)-routed products): components as exact rationals "
    "v2_i/max|v2| beside rounded quotients — PCA prep whose corpus cost "
    "is q141's one scan; the iteration itself is 64-entry joins over "
    "the checkpointed moment matrix",
)(_q161_spark)


# ---------------------------------------------------------------------------
# q162 — degree assortativity of the q138 near-dup graph: the Pearson
# correlation of endpoint degrees over edges. Positive r = hubs link to
# hubs (mirror farms referencing each other), negative r = hub-and-spoke
# (one canonical doc, many variants) — the topology statistic that picks
# between dedup strategies. Same audit-scale cap as q138 (doc_id < 120,
# the word-set self-join is quadratic by nature); the edge list is
# checkpointed so degrees/moments/final all read the small pair table,
# and every moment is an exact bigint with decimal-routed products — the
# single sqrt rounds at the end.
# ---------------------------------------------------------------------------

_Q162_PAIRS = """
    with words as (
      select distinct doc_id, word from (
        select doc_id, {TOK} as word from documents where doc_id < 120
      ) t
    ),
    sizes as (select doc_id, cast(count(*) as bigint) as sz
              from words group by doc_id),
    inter as (
      select a.doc_id as da, b.doc_id as db, cast(count(*) as bigint) as nc
      from words a join words b on a.word = b.word and a.doc_id < b.doc_id
      group by a.doc_id, b.doc_id
    )
    select da, db from inter
    join sizes sa on sa.doc_id = da
    join sizes sb on sb.doc_id = db
    where cast(nc as double) / (sa.sz + sb.sz - nc) >= 0.5
"""

_Q162_FINAL = """
    with pairs as (select * from {P}),
    deg as (
      select v, cast(count(*) as bigint) as d
      from (select da as v from pairs union all select db from pairs) t
      group by v
    ),
    ed as (
      select d1.d as x, d2.d as y
      from pairs p
      join deg d1 on d1.v = p.da
      join deg d2 on d2.v = p.db
      union all
      select d2.d as x, d1.d as y
      from pairs p
      join deg d1 on d1.v = p.da
      join deg d2 on d2.v = p.db
    ),
    s as (
      select cast(count(*) as bigint) as m,
             cast(sum(x) as bigint) as sx,
             cast(sum(y) as bigint) as sy,
             cast(sum(x * y) as bigint) as sxy,
             cast(sum(x * x) as bigint) as sxx,
             cast(sum(y * y) as bigint) as syy
      from ed
    )
    select m {IDIV} 2 as n_edges,
           cast(cast(cast(m as decimal(19,0)) * sxy
                - cast(sx as decimal(19,0)) * sy as decimal(38,0)) as string)
             as r_num,
           cast(cast(cast(m as decimal(19,0)) * sxx
                - cast(sx as decimal(19,0)) * sx as decimal(38,0)) as string)
             as r_den_x,
           cast(cast(cast(m as decimal(19,0)) * syy
                - cast(sy as decimal(19,0)) * sy as decimal(38,0)) as string)
             as r_den_y,
           round(cast(cast(m as decimal(19,0)) * sxy
                      - cast(sx as decimal(19,0)) * sy as double)
                 / nullif(sqrt(cast(cast(m as decimal(19,0)) * sxx
                                    - cast(sx as decimal(19,0)) * sx as double)
                               * cast(cast(m as decimal(19,0)) * syy
                                      - cast(sy as decimal(19,0)) * sy
                                      as double)), 0.0), 6) + 0.0
             as assortativity
    from s
"""


def _q162_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("documents",))
    pairs_sql = _Q162_PAIRS.replace(
        "{TOK}", "explode(split(trim(lower(text)), '\\\\s+'))"
    )
    p = spark.sql(pairs_sql).localCheckpoint()
    p.createOrReplaceTempView("__q162_p__")
    return spark.sql(
        _Q162_FINAL.replace("{P}", "__q162_p__").replace("{IDIV}", "div")
    )


register(
    "q162_degree_assortativity",
    _Q162_FINAL.replace(
        "{P}",
        "("
        + _Q162_PAIRS.replace(
            "{TOK}", "unnest(string_split_regex(trim(lower(text)), '\\s+'))"
        )
        + ")",
    ).replace("{IDIV}", "//"),
    doc="degree assortativity (Pearson correlation of endpoint degrees, "
    "both edge orientations) of the q138 word-jaccard near-dup graph: "
    "hub-to-hub linking vs hub-and-spoke topology, the statistic that "
    "picks a dedup strategy. Exact bigint moments with decimal-routed "
    "products; one rounded quotient through one sqrt; edge list "
    "checkpointed so degrees/moments read the small pair table, "
    "audit-capped like q138",
)(_q162_spark)


# ---------------------------------------------------------------------------
# q166 — Theil-Sen robust trend of daily event volume: the lower-median
# of pairwise slopes (c_j - c_i)/(day_j - day_i) over all day pairs.
# The monitoring primitive least-squares can't give you (one bursty day
# can flip an OLS slope; the median slope ignores it). The corpus
# reduces to ONE per-day count aggregation, localCheckpointed; the
# pairwise slopes, slope histogram, and median selection all run over
# the calendar-bounded day table (pairs <= C(#days, 2)), so the single-
# partition windows are bounded by the calendar, never the corpus —
# same q157/q159 histogram-median discipline (round-9 slope grid, min
# value with cum_count >= ceil(n/2)).
# ---------------------------------------------------------------------------

_Q166_DAYS = """
    select {EPOCHDAY} as day, cast(count(*) as bigint) as c
    from events
    group by {EPOCHDAY}
"""

_Q166_FINAL = """
    with p as (
      select round(cast(b.c - a.c as double) / (b.day - a.day), 9) + 0.0
               as slope
      from {D} a join {D} b on b.day > a.day
    ),
    h as (select slope, cast(count(*) as bigint) as cnt from p group by slope),
    cum as (
      select slope, cnt,
             sum(cnt) over (order by slope
                            rows between unbounded preceding and current row
                            ) as cum_c,
             sum(cnt) over () as n
      from h
    )
    select (select cast(count(*) as bigint) from {D}) as n_days,
           cast(min(n) as bigint) as n_pairs,
           min(case when cum_c >= (n + 1) {IDIV} 2 then slope end) + 0.0
             as ts_slope
    from cum
"""


def _q166_sql_final(engine: str) -> str:
    if engine == "spark":
        return _Q166_FINAL.replace("{IDIV}", "div")
    return _Q166_FINAL.replace("{IDIV}", "//")


# exact FLOOR division on BOTH engines (Spark div AND DuckDB 1.0 //
# truncate toward zero; % keeps the dividend sign on both, so the same
# correction term floors each side — keeps pre-1970 partial days on the
# right calendar day; pure integer arithmetic, no double rounding
# horizon). ADVICE r6/r7 family.
_EPOCHDAY_SPARK = (
    "(unix_micros(cast(ts as timestamp)) div 86400000000"
    " - (case when unix_micros(cast(ts as timestamp)) % 86400000000 < 0"
    " then 1 else 0 end))"
)
_EPOCHDAY_DUCK = (
    "(epoch_us(ts) // 86400000000"
    " - (case when epoch_us(ts) % 86400000000 < 0 then 1 else 0 end))"
)


def _q166_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("events",))
    d = spark.sql(
        _Q166_DAYS.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)
    ).localCheckpoint()
    d.createOrReplaceTempView("__q166_d__")
    return spark.sql(_q166_sql_final("spark").replace("{D}", "__q166_d__"))


register(
    "q166_theil_sen_trend",
    _q166_sql_final("duckdb").replace(
        "{D}", "(" + _Q166_DAYS.replace("{EPOCHDAY}", _EPOCHDAY_DUCK) + ")"
    ),
    doc="Theil-Sen robust trend of daily event volume: lower-median of "
    "pairwise day-count slopes (round-9 grid, histogram-exact median "
    "via cumulative sums) — the burst-immune ingest-drift monitor. One "
    "corpus aggregation to the checkpointed day table; slopes/median "
    "run over calendar-bounded pairs, windows only over distinct "
    "slope values",
)(_q166_spark)


# ---------------------------------------------------------------------------
# q167 — autocorrelation (ACF) of daily event volume at lags 1..7: the
# weekly-seasonality / burst-persistence diagnostic.
#   r_k = sum (c_t - mean)(c_{t+k} - mean) / sum (c_t - mean)^2
# The mean is the exact bigint-sum / day-count quotient (both exact in
# a double far beyond any real event count); deviation products round
# to 6 then decimal-sum so partition order can't move the total; lag
# pairing is an equi-join on day+lag over the checkpointed day table
# (no windows at all). Corpus-sized work: one per-day aggregation.
# ---------------------------------------------------------------------------

_Q167_FINAL = """
    with m as (
      select cast(sum(c) as decimal(38,0)) as s,
             cast(count(*) as bigint) as n
      from {D}
    ),
    d as (
      select day,
             cast(c as double)
               - cast((select s from m) as double) / (select n from m) as dev
      from {D}
    ),
    den as (
      select cast(sum(cast(round(dev * dev, 6) as decimal(38,6)))
                  as decimal(38,6)) as den
      from d
    ),
    lags as (select {LAGS} as lag),
    num as (
      select l.lag,
             cast(count(*) as bigint) as n_pairs,
             cast(sum(cast(round(a.dev * b.dev, 6) as decimal(38,6)))
                  as decimal(38,6)) as num
      from lags l
      cross join d a
      join d b on b.day = a.day + l.lag
      group by l.lag
    )
    select cast(lag as bigint) as lag, n_pairs,
           round(cast(num as double)
                 / nullif(cast((select den from den) as double), 0.0), 6)
             + 0.0 as acf
    from num
    order by lag
"""


def _q167_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("events",))
    d = spark.sql(
        _Q166_DAYS.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)
    ).localCheckpoint()
    d.createOrReplaceTempView("__q167_d__")
    return spark.sql(
        _Q167_FINAL.replace("{D}", "__q167_d__").replace(
            "{LAGS}", "explode(array(1, 2, 3, 4, 5, 6, 7))"
        )
    )


register(
    "q167_volume_acf",
    _Q167_FINAL.replace(
        "{D}", "(" + _Q166_DAYS.replace("{EPOCHDAY}", _EPOCHDAY_DUCK) + ")"
    ).replace("{LAGS}", "unnest([1, 2, 3, 4, 5, 6, 7])"),
    doc="autocorrelation of daily event volume at lags 1..7 (weekly "
    "seasonality / burst persistence): exact mean as bigint-sum over "
    "day-count, round-6 deviation products decimal-summed, lag pairing "
    "as an equi-join on day+lag over the checkpointed calendar-bounded "
    "day table — no windows anywhere. One corpus aggregation",
)(_q167_spark)


# ---------------------------------------------------------------------------
# q168 — SCD-2 history build: collapse each user's event stream into
# type-2 slowly-changing-dimension versions of their "current event
# type" — a row per CHANGE with [valid_from, valid_to) microsecond
# bounds (valid_to NULL = current version). The temporal-versioning
# primitive every warehouse dimension needs; emitting epoch micros
# (exact bigints) sidesteps timestamp-rendering divergence. Both
# windows partition by user_id — per-user locality, never a global
# sort; one scan, one user-keyed shuffle.
# ---------------------------------------------------------------------------

_Q168_BODY = """
    with s as (
      select user_id, event_type, {EPOCHUS} as ts_us,
             lag(event_type) over (
               partition by user_id order by ts, event_id) as prev
      from events
    ),
    chg as (
      select user_id, event_type, ts_us from s
      where prev is null or prev <> event_type
    )
    select user_id, event_type as attr,
           cast(ts_us as bigint) as valid_from_us,
           cast(lead(ts_us) over (
             partition by user_id order by ts_us) as bigint) as valid_to_us,
           case when lead(ts_us) over (
             partition by user_id order by ts_us) is null
             then 1 else 0 end as is_current
    from chg
    order by user_id, valid_from_us
"""

_EPOCHUS_SPARK = "unix_micros(cast(ts as timestamp))"
_EPOCHUS_DUCK = "epoch_us(ts)"

sql_case(
    "q168_scd2_history",
    _Q168_BODY.replace("{EPOCHUS}", _EPOCHUS_SPARK),
    _Q168_BODY.replace("{EPOCHUS}", _EPOCHUS_DUCK),
    doc="type-2 slowly-changing-dimension build of each user's current "
    "event type: change detection via lag(), [valid_from, valid_to) "
    "version intervals via lead(), exact microsecond-epoch bounds, "
    "is_current flag — the temporal-versioning primitive. Both windows "
    "partition by user_id (per-user locality at any scale); one scan",
)


# ---------------------------------------------------------------------------
# q169 — single change-point detection on daily event volume: the split
# day maximizing |mean(before) - mean(after)|, the binary-segmentation
# step of classic change-point analysis (locates WHERE ingest shifted;
# q112's PSI says whether, q166's slope says how fast). Cumulative
# before/after sums come from a bounded self-join on the checkpointed
# day table (a.day <= b.day — no windows at all); means are exact
# bigint-sum / count quotients; the argmax orders by the round-9 shift
# with the day as tiebreak. Corpus-sized work: ONE per-day aggregation.
# ---------------------------------------------------------------------------

_Q169_FINAL = """
    with tot as (
      select cast(sum(c) as bigint) as st, cast(count(*) as bigint) as nt
      from {D}
    ),
    cum as (
      select b.day,
             cast(sum(a.c) as bigint) as sb,
             cast(count(*) as bigint) as nb
      from {D} a join {D} b on a.day <= b.day
      group by b.day
    ),
    cand as (
      select cum.day as split_day,
             nb as n_before, (select nt from tot) - nb as n_after,
             sb as sum_before, (select st from tot) - sb as sum_after
      from cum
      where nb < (select nt from tot)
    )
    select split_day, n_before, n_after, sum_before, sum_after,
           round(cast(sum_before as double) / n_before, 6) as mean_before,
           round(cast(sum_after as double) / n_after, 6) as mean_after,
           round(abs(cast(sum_before as double) / n_before
                     - cast(sum_after as double) / n_after), 6)
             as shift
    from cand
    order by round(abs(cast(sum_before as double) / n_before
                       - cast(sum_after as double) / n_after), 9) desc,
             split_day
    limit 1
"""


def _q169_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("events",))
    d = spark.sql(
        _Q166_DAYS.replace("{EPOCHDAY}", _EPOCHDAY_SPARK)
    ).localCheckpoint()
    d.createOrReplaceTempView("__q169_d__")
    return spark.sql(_Q169_FINAL.replace("{D}", "__q169_d__"))


register(
    "q169_mean_shift_changepoint",
    _Q169_FINAL.replace(
        "{D}", "(" + _Q166_DAYS.replace("{EPOCHDAY}", _EPOCHDAY_DUCK) + ")"
    ),
    doc="binary-segmentation change-point on daily event volume: the "
    "split day maximizing |mean(before) - mean(after)|, exact bigint "
    "sums/counts as primary columns, means and shift as final rounded "
    "quotients, argmax by round-9 shift with day tiebreak — locates "
    "WHERE ingest shifted. Day table checkpointed; before/after sums "
    "from a calendar-bounded self-join, no windows",
)(_q169_spark)
