"""Catalog entries q86-q91: corpus-mining additions for round 4 —
distributed k-means clustering, content-defined chunking, bigram-LM
scoring, DSIR importance reweighting, containment dedup, and the
inverted-index build.

Determinism conventions (as in queries_search.py): all float log/ratio
terms round to 6 decimals and sum through decimal(38,6); k-means runs in
quantized integer arithmetic so assignments are bit-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import register
from .session import load_tables

# Unrolled exact-integer Lloyd iterations. Everything is bigint arithmetic
# (embeddings quantized via round(x*1000)), init = the 4 lowest vec_ids, so
# the oracle reproduces the Spark operator's assignments bit-for-bit —
# no float summation-order hazard anywhere.
_KMEANS_ORACLE = """
    with q as (
      select vec_id as id,
             list_transform(embedding,
                            x -> cast(round(cast(x as double)*1000) as bigint)) as qv
      from embeddings
    ),
    c0 as (
      select row_number() over (order by id) - 1 as cid, qv as cvec
      from q order by id limit 4
    ),
    s1 as (
      select q.id, q.qv, c0.cid,
             list_sum(list_transform(range(1, len(q.qv)+1),
                i -> (q.qv[i]-c0.cvec[i])*(q.qv[i]-c0.cvec[i]))) as d2
      from q cross join c0
    ),
    a1 as (
      select id, qv, cid from (
        select *, row_number() over (partition by id order by d2, cid) rk from s1
      ) where rk = 1
    ),
    u1 as (
      select cid, d, cast(floor(sum(v) / count(*)) as bigint) as cv
      from (select cid, unnest(qv) as v, unnest(range(1, len(qv)+1)) as d from a1)
      group by cid, d
    ),
    c1 as (
      select c0.cid, coalesce(uu.cvec, c0.cvec) as cvec
      from c0 left join
        (select cid, list(cv order by d) as cvec from u1 group by cid) uu
      on c0.cid = uu.cid
    ),
    s2 as (
      select q.id, q.qv, c1.cid,
             list_sum(list_transform(range(1, len(q.qv)+1),
                i -> (q.qv[i]-c1.cvec[i])*(q.qv[i]-c1.cvec[i]))) as d2
      from q cross join c1
    ),
    a2 as (
      select id, qv, cid from (
        select *, row_number() over (partition by id order by d2, cid) rk from s2
      ) where rk = 1
    ),
    u2 as (
      select cid, d, cast(floor(sum(v) / count(*)) as bigint) as cv
      from (select cid, unnest(qv) as v, unnest(range(1, len(qv)+1)) as d from a2)
      group by cid, d
    ),
    c2 as (
      select c1.cid, coalesce(uu.cvec, c1.cvec) as cvec
      from c1 left join
        (select cid, list(cv order by d) as cvec from u2 group by cid) uu
      on c1.cid = uu.cid
    ),
    final as (
      select id, cid from (
        select q.id, c2.cid,
               row_number() over (partition by q.id order by
                 list_sum(list_transform(range(1, len(q.qv)+1),
                    i -> (q.qv[i]-c2.cvec[i])*(q.qv[i]-c2.cvec[i]))), c2.cid) rk
        from q cross join c2
      ) where rk = 1
    )
    select id as vec_id,
           cast(cid as int) as cluster_id,
           cast(count(*) over (partition by cid) as bigint) as cluster_n
    from final
"""


@register(
    "q86_kmeans_clusters",
    _KMEANS_ORACLE,
    doc="distributed Lloyd's k-means over embeddings (k=4, 2 iterations, "
    "quantized integer arithmetic → bit-exact oracle): per-vector cluster "
    "assignment + cluster size. Spark: broadcast-assign + kxd-bounded "
    "centroid shuffle per iteration (operators/clustering.py)",
)
def q86_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .operators.clustering import kmeans_quantized

    t = load_tables(spark, sf_dir, names=("documents", "embeddings"))
    assigned = kmeans_quantized(t["embeddings"], k=4, iters=2, scale=1000)
    return assigned.select(
        F.col("id").alias("vec_id"),
        F.col("cluster_id").cast("int").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("bigint")
        .alias("cluster_n"),
    )


@register(
    "q87_cdc_chunks",
    """
    with w as (
      select doc_id, source,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               as ws
      from documents
    ),
    pos as (
      select doc_id, source, unnest(ws) as word,
             unnest(range(1, len(ws)+1)) as p
      from w
    ),
    flagged as (
      select doc_id, source, word, p,
             case when p = 1 or substr(md5(word), 1, 1) = '0' then 1 else 0 end
               as is_b
      from pos
    ),
    chunked as (
      select doc_id, source, word, p,
             sum(is_b) over (partition by doc_id order by p
                             rows unbounded preceding) - 1 as chunk_id
      from flagged
    ),
    chunks as (
      select doc_id, source, chunk_id,
             md5(string_agg(word, ' ' order by p)) as chunk_hash
      from chunked group by doc_id, source, chunk_id
    )
    select source,
           cast(count(*) as bigint) as n_chunks,
           cast(count(distinct chunk_hash) as bigint) as n_uniq_chunks,
           round(1.0 - cast(count(distinct chunk_hash) as double)
                       / count(*), 6) as dup_ratio
    from chunks group by source
    """,
    doc="content-defined chunking (word-level gear hash, P(boundary)=1/16 "
    "via md5 nibble) + chunk-level dedup ratio per source — the storage-"
    "dedup primitive whose boundaries survive edits. One doc-keyed shuffle "
    "(operators/text.py cdc_chunks)",
)
def q87_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import cdc_chunks

    t = load_tables(spark, sf_dir, names=("documents",))
    docs = t["documents"]
    chunks = cdc_chunks(docs)
    return (
        chunks.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("chunk_hash").cast("bigint").alias("n_uniq_chunks"),
            F.round(
                1.0
                - F.countDistinct("chunk_hash").cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
        )
    )


@register(
    "q88_bigram_logprob",
    """
    with w as (
      select doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               as ws
      from documents
    ),
    bg as (
      select doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i+1])) as bigram
      from w
    ),
    bgc as (select bigram, count(*) as c_bg from bg group by bigram),
    ctx as (
      select string_split(bigram, ' ')[1] as w1, count(*) as c_w1
      from bg group by 1
    ),
    voc as (
      select count(distinct tok) as v from (select unnest(ws) as tok from w)
    ),
    scored as (
      select bg.doc_id,
             cast(round(-ln((c_bg + 1.0) / (c_w1 + cast(v as double))), 6)
                  as decimal(38,6)) as nlp
      from bg
      join bgc using (bigram)
      join ctx on ctx.w1 = string_split(bg.bigram, ' ')[1]
      cross join voc
    )
    select doc_id,
           cast(count(*) as bigint) as n_bigrams,
           round(cast(sum(nlp) as double) / count(*), 4) as mean_neglogprob
    from scored group by doc_id
    """,
    doc="add-one-smoothed bigram LM perplexity proxy (penalizes scrambled/"
    "template text that unigram stats can't see): array-side bigram build, "
    "Zipf-bounded count tables joined back, decimal-routed sums "
    "(operators/search.py bigram_logprob)",
)
def q88_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import bigram_logprob

    t = load_tables(spark, sf_dir, names=("documents",))
    return bigram_logprob(t["documents"])


@register(
    "q89_dsir_importance",
    """
    with t as (
      select doc_id, (lang = 'en') as is_target,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                 ' ')) as tok
      from documents
    ),
    vocab as (
      select tok, count(*) as c_s,
             sum(case when is_target then 1 else 0 end) as c_t
      from t group by tok
    ),
    tot as (
      select cast(sum(c_s) as bigint) as n_s, cast(sum(c_t) as bigint) as n_t,
             count(*) as v
      from vocab
    ),
    terms as (
      select doc_id,
             cast(round(
               ln((c_t + 1.0) / (cast(n_t as double) + cast(v as double)))
               - ln((c_s + 1.0) / (cast(n_s as double) + cast(v as double))), 6)
               as decimal(38,6)) as lr
      from t join vocab using (tok) cross join tot
    )
    select doc_id,
           cast(count(*) as bigint) as n_tokens,
           cast(sum(lr) as double) as importance_logratio,
           cast(sum(lr) as double) > 0.0 as selected
    from terms group by doc_id
    """,
    doc="DSIR importance reweighting (Xie et al. 2023): per-doc summed "
    "log-likelihood ratio of tokens under target (lang='en') vs corpus "
    "unigram models, add-one smoothing — the resampling signal for tilting "
    "a raw corpus toward a target domain (operators/search.py dsir_logratio)",
)
def q89_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import dsir_logratio

    t = load_tables(spark, sf_dir, names=("documents",))
    return dsir_logratio(t["documents"], F.col("lang") == "en")


@register(
    "q90_containment_dedup",
    """
    with w as (
      select doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               as ws
      from documents
    ),
    sh as (
      select doc_id,
             case when len(ws) >= 3
                  then list_distinct(list_transform(range(1, len(ws) - 1),
                       i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))
                  else [array_to_string(ws, ' ')] end as shingles
      from w
    ),
    ex as (select doc_id, unnest(shingles) as s from sh),
    sizes as (select doc_id, count(*) as sz from ex group by doc_id),
    inter as (
      select a.doc_id as da, b.doc_id as db, count(*) as n
      from ex a join ex b on a.s = b.s and a.doc_id < b.doc_id
      group by 1, 2
    ),
    scored as (
      select case when sa.sz <= sb.sz then da else db end as id_small,
             case when sa.sz <= sb.sz then db else da end as id_big,
             cast(n as double) / least(sa.sz, sb.sz) as containment
      from inter
      join sizes sa on sa.doc_id = da
      join sizes sb on sb.doc_id = db
    )
    select id_small, id_big, round(containment, 6) as containment
    from scored where containment >= 0.8
    """,
    doc="sub-document duplication: shingle containment |A∩B|/min(|A|,|B|) "
    "≥ 0.8 — catches short-doc-inside-long-doc cases Jaccard misses. "
    "Candidates from an inverted shingle index (recall 1; bucket_cap "
    "chain-pairs boilerplate shingles); oracle brute-forces the same "
    "score (operators/dedup.py containment_pairs)",
)
def q90_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import containment_pairs

    t = load_tables(spark, sf_dir, names=("documents",))
    # staged_sort: the complete pair aggregation has no exchange between
    # it and the final sort, so range sampling would run the whole pair
    # pipeline twice (measured 12.4 vs 7.1 s at sf1.0 — r12, see
    # queries.staged_sort)
    from .queries import staged_sort

    return staged_sort(
        containment_pairs(t["documents"], containment_threshold=0.8).select(
            "id_small", "id_big", F.round("containment", 6).alias("containment")
        ),
        "id_small",
        "id_big",
    )


@register(
    "q91_build_postings",
    """
    with w as (
      select doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               as ws
      from documents
    ),
    toks as (select doc_id, unnest(ws) as term from w),
    tf as (select term, doc_id, count(*) as tf from toks group by term, doc_id),
    agg as (
      select term,
             cast(count(*) as bigint) as doc_freq,
             cast(sum(tf) as bigint) as total_tf,
             list_sort(list(doc_id))[1:5] as top_docs
      from tf group by term
    )
    select term, doc_freq, total_tf,
           array_to_string(list_transform(top_docs, d -> cast(d as varchar)), ',')
             as first_docs
    from agg where doc_freq >= 40
    """,
    doc="retrieval-index build: per-term postings stats (doc_freq, total "
    "term frequency, first posting doc ids) over the corpus — one uniform "
    "token shuffle with map-side partial counts; the materialized form a "
    "search/mining pipeline keeps bucketed by term",
)
def q91_build_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import build_postings

    t = load_tables(spark, sf_dir, names=("documents",))
    return build_postings(t["documents"], min_doc_freq=40)


# ---------------------------------------------------------------------------
# q92 — quality-decile bucketing (curriculum / quality-mix staple)
# ---------------------------------------------------------------------------

from .queries import sql_case  # noqa: E402

_Q92_SPARK_FEATS = """
  select doc_id,
         size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')) as tok,
         round(
           0.4 * (cast(length(regexp_replace(text, '[^a-zA-Z]', '')) as double)
                  / greatest(length(text), 1))
         + 0.3 * (1.0 - least(cast(length(regexp_replace(text, '[^0-9]', ''))
                                   as double)
                              / greatest(length(text), 1) * 5.0, 1.0))
         + 0.3 * (cast(size(array_distinct(
                     split(trim(regexp_replace(lower(text), '\\\\s+', ' ')), ' ')))
                   as double)
                  / greatest(size(split(trim(regexp_replace(lower(text), '\\\\s+', ' ')),
                                        ' ')), 1)), 6) as score
  from documents
"""

_Q92_DUCK_FEATS = """
  select doc_id,
         len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
           as tok,
         round(
           0.4 * (cast(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) as double)
                  / greatest(length(text), 1))
         + 0.3 * (1.0 - least(cast(length(regexp_replace(text, '[^0-9]', '', 'g'))
                                   as double)
                              / greatest(length(text), 1) * 5.0, 1.0))
         + 0.3 * (cast(len(list_distinct(
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                                  ' ')))
                   as double)
                  / greatest(len(string_split(
                        trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')),
                      1)), 6) as score
  from documents
"""

# Spark side computes ntile(10) WITHOUT a corpus-wide global window —
# the q118/q104 discipline. The global rank decomposes as
#   rn = (#rows with a strictly better score) + (rank within the tie
#        group by doc_id)
# where the first term is an exclusive cumulative count over DISTINCT
# score values (score is rounded to 6 decimals in [0,1] → bounded
# support, same class as q137's vocab window) and the second is a
# hash-partitioned row_number keyed on the score. The exact ntile bucket
# then follows arithmetically: with q = N div 10, r = N mod 10 the first
# r buckets hold q+1 rows — identical to the window function's split,
# verified value-exact against DuckDB's real ntile at all three scales.
# The join is NULL-SAFE (<=>) and both engines order desc NULLS LAST, so
# a NULL-score row (null text) lands in the last bucket on both sides
# instead of silently dropping from the Spark one. The features run
# ONCE: a localCheckpoint cuts the three decomposition consumers off
# from Catalyst's per-consumer CTE re-inlining (the q141 gotcha) —
# without it the heavy regex feature extraction scans documents 3x.
_Q92_DECOMP = """
    with hist as (select score, cast(count(*) as bigint) as c
                  from __q92_f__ group by score),
    off as (
      select score,
             cast(coalesce(sum(c) over (order by score desc
               rows between unbounded preceding and 1 preceding), 0)
               as bigint) as above
      from hist
    ),
    tot as (select cast(sum(c) as bigint) as n from hist),
    d as (
      select f.doc_id, f.tok, f.score,
             off.above + row_number() over (partition by f.score
                                            order by f.doc_id) as rn
      from __q92_f__ f join off on f.score <=> off.score
    ),
    b as (
      select doc_id, tok, score,
             case when rn <= (n % 10) * (n div 10 + 1)
                  then (rn - 1) div (n div 10 + 1) + 1
                  else (n % 10)
                       + (rn - (n % 10) * (n div 10 + 1) - 1) div (n div 10)
                       + 1
             end as decile
      from d cross join tot
    )
    select cast(decile as int) as decile,
           count(*) as n_docs,
           cast(sum(tok) as bigint) as tok_total,
           cast(sum(cast(score as decimal(38,6))) as double) as score_sum,
           min(score) as min_score,
           max(score) as max_score
    from b group by decile
"""


def _q92_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, names=("documents",))
    feats = spark.sql(f"select * from ({_Q92_SPARK_FEATS})").localCheckpoint()
    feats.createOrReplaceTempView("__q92_f__")
    return spark.sql(_Q92_DECOMP)


register(
    "q92_quality_deciles",
    f"""
    with f as ({_Q92_DUCK_FEATS}),
    d as (
      select doc_id, tok, score,
             ntile(10) over (order by score desc, doc_id) as decile
      from f
    )
    select cast(decile as int) as decile,
           count(*) as n_docs,
           cast(sum(tok) as bigint) as tok_total,
           cast(sum(cast(score as decimal(38,6))) as double) as score_sum,
           min(score) as min_score,
           max(score) as max_score
    from d group by decile
    """,
    doc="quality-decile bucketing: composite quality score (alpha/digit/"
    "vocab-diversity), exact ntile(10) semantics, per-decile token "
    "budgets — the curriculum/quality-mix report. Spark computes the "
    "global rank via bounded-support histogram offsets + a score-keyed "
    "partitioned row_number over checkpointed single-scan features (no "
    "corpus-wide window, no repeated scan); the DuckDB oracle keeps the "
    "literal ntile, proving the decomposition value-exact",
)(_q92_spark)


# ---------------------------------------------------------------------------
# q93 — capped temperature budget allocation (water-filling)
# ---------------------------------------------------------------------------

_Q93_BUDGET = 200_000

_Q93_ORACLE = f"""
    with g as (
      select source,
             cast(sum(len(string_split_regex(trim(text), '\\s+'))) as bigint) as sz
      from documents group by source
    ),
    w as (
      select source, sz, round(pow(cast(sz as double), 0.7), 6) as w from g
    ),
    tot as (
      select cast(sum(cast(w as decimal(38,6))) as double) as tw from w
    ),
    r1 as (
      select source, sz, w,
             cast(floor({_Q93_BUDGET}.0 * w / tw) as bigint) as want
      from w cross join tot
    ),
    r1b as (
      select *, least(sz, want) as alloc1,
             (least(sz, want) < want) as capped
      from r1
    ),
    lo as (
      select {_Q93_BUDGET} - sum(alloc1) as leftover,
             cast(sum(case when not capped then cast(w as decimal(38,6))
                           else 0 end) as double) as wu
      from r1b
    )
    select source,
           sz as n_tokens,
           w,
           case when capped or wu <= 0 then alloc1
                else least(sz, alloc1 + cast(floor(cast(leftover as double) * w / wu)
                                             as bigint))
           end as alloc_tokens,
           capped as was_capped
    from r1b cross join lo
"""


@register(
    "q93_budget_allocation",
    _Q93_ORACLE,
    doc="capped temperature-weighted token-budget allocation (p ∝ n^0.7, "
    "water-filling with one redistribution round): per-source grants under "
    "a global budget, caps respected, freed budget re-shared. All floors, "
    "no round-half anywhere (operators/sampling.py budget_allocation)",
)
def q93_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import budget_allocation

    t = load_tables(spark, sf_dir, names=("events", "documents", "embeddings"))
    per_source = (
        t["documents"]
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.trim("text"), r"\s+")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    return budget_allocation(per_source, _Q93_BUDGET, temperature=0.7)


# ---------------------------------------------------------------------------
# q94 — time-decay weights + effective sample size over events
# ---------------------------------------------------------------------------

sql_case(
    "q94_decay_ess",
    """
    with m as (select max(ts) as mx from events),
    w as (
      select event_type,
             round(exp(-(cast(timestampdiff(MICROSECOND, ts, mx) as double)
                         / 3.6e9) / 72.0), 6) as wd
      from events cross join m
    )
    select event_type,
           count(*) as n_events,
           cast(sum(cast(wd as decimal(38,6))) as double) as w_sum,
           round(cast(sum(cast(wd as decimal(38,6))) as double)
                 * cast(sum(cast(wd as decimal(38,6))) as double)
                 / cast(sum(cast(round(wd * wd, 12) as decimal(38,12))) as double),
                 4) as ess
    from w group by event_type
    """,
    """
    with m as (select max(ts) as mx from events),
    w as (
      select event_type,
             round(exp(-(cast(date_diff('microseconds', ts, mx) as double)
                         / 3.6e9) / 72.0), 6) as wd
      from events cross join m
    )
    select event_type,
           count(*) as n_events,
           cast(sum(cast(wd as decimal(38,6))) as double) as w_sum,
           round(cast(sum(cast(wd as decimal(38,6))) as double)
                 * cast(sum(cast(wd as decimal(38,6))) as double)
                 / cast(sum(cast(round(wd * wd, 12) as decimal(38,12))) as double),
                 4) as ess
    from w group by event_type
    """,
    doc="recency-weighted sampling: exponential time-decay weights "
    "(tau=72h from the corpus head) + effective sample size "
    "(sum w)^2 / sum w^2 per event type — the freshness-weighting recipe "
    "for continually-updated corpora; decimal-routed weight sums",
)


# ---------------------------------------------------------------------------
# q95 — label-balanced resampling weights
# ---------------------------------------------------------------------------

sql_case(
    "q95_label_balance",
    """
    with t as (select count(*) as total, count(distinct label) as k from embeddings)
    select label,
           count(*) as n,
           cast(total as double) / (k * count(*)) as weight,
           cast(count(*) as double) * (cast(total as double) / (k * count(*)))
             / total as resampled_share
    from embeddings cross join t
    group by label, total, k
    """,
    """
    with t as (select count(*) as total, count(distinct label) as k from embeddings)
    select label,
           count(*) as n,
           cast(total as double) / (k * count(*)) as weight,
           cast(count(*) as double) * (cast(total as double) / (k * count(*)))
             / total as resampled_share
    from embeddings cross join t
    group by label, total, k
    """,
    doc="class-balanced resampling: inverse-frequency weights "
    "total/(k*n_label) per label and the implied uniform resampled share — "
    "the classifier-training rebalance step; pure exact-integer-ratio "
    "arithmetic (no rounding anywhere, bit-identical cross-engine)",
)


# ---------------------------------------------------------------------------
# q96 — quantized PageRank over the near-dup similarity graph
# ---------------------------------------------------------------------------

_Q96_ORACLE = """
    with words as (
      select doc_id,
             unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
               as word
      from documents where doc_id < 120
    ),
    sizes as (select doc_id, count(*) as sz from words group by doc_id),
    inter as (
      select a.doc_id as da, b.doc_id as db, count(*) as n_common
      from words a join words b on a.word = b.word and a.doc_id < b.doc_id
      group by 1, 2
    ),
    pairs as (
      select da, db from inter
      join sizes sa on sa.doc_id = da
      join sizes sb on sb.doc_id = db
      where cast(n_common as double) / (sa.sz + sb.sz - n_common) >= 0.5
    ),
    edges as (
      select da as src, db as dst from pairs
      union all select db, da from pairs
    ),
    nodes as (select doc_id as id from documents where doc_id < 120),
    deg as (select src, count(*) as deg from edges group by src),
    p as (
      select count(*) as n,
             cast(floor(1000000.0 / count(*)) as bigint) as r0,
             cast(floor(150000.0 / count(*)) as bigint) as base
      from nodes
    ),
    i1 as (
      select e.dst as id,
             sum(cast(floor(cast(p.r0 as double) / deg.deg) as bigint)) as s
      from edges e join deg on deg.src = e.src cross join p
      group by e.dst
    ),
    r1 as (
      select nodes.id,
             p.base + cast(floor(85.0 * coalesce(i1.s, 0) / 100) as bigint) as rank
      from nodes cross join p left join i1 on i1.id = nodes.id
    ),
    i2 as (
      select e.dst as id,
             sum(cast(floor(cast(r1.rank as double) / deg.deg) as bigint)) as s
      from edges e join r1 on r1.id = e.src join deg on deg.src = e.src
      group by e.dst
    ),
    r2 as (
      select nodes.id,
             p.base + cast(floor(85.0 * coalesce(i2.s, 0) / 100) as bigint) as rank
      from nodes cross join p left join i2 on i2.id = nodes.id
    ),
    i3 as (
      select e.dst as id,
             sum(cast(floor(cast(r2.rank as double) / deg.deg) as bigint)) as s
      from edges e join r2 on r2.id = e.src join deg on deg.src = e.src
      group by e.dst
    ),
    r3 as (
      select nodes.id,
             p.base + cast(floor(85.0 * coalesce(i3.s, 0) / 100) as bigint) as rank
      from nodes cross join p left join i3 on i3.id = nodes.id
    )
    select id as doc_id, rank from r3
"""


def _near_dup_pagerank(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    """q96/q123's Spark side: ONE collect brings the word sets of the
    ``doc_id < 120`` documents to the driver — tokenizing stays in Spark,
    so Java's lower()/regex semantics are kept — and the Jaccard >= 0.5
    pairs and the PageRank iterations run there, exactly. The graph is
    bounded by the query text (120 nodes, 7,140 candidate pairs) at any
    corpus scale, so a Spark word self-join and per-iteration shuffles
    would pay job overhead for a few hundred rows."""
    from .localdf import arrow_local_df
    from .operators.graph import pagerank_quantized

    load_tables(spark, sf_dir, names=("documents",))
    df = spark.sql(
        """
        select doc_id, array_distinct(split(trim(lower(text)), '\\\\s+')) as words
        from documents where doc_id < 120
        """
    )
    docs = df.collect()
    sets = [(r.doc_id, set(r.words)) for r in docs if r.words is not None]
    edges = []
    for i, (da, wa) in enumerate(sets):
        for db, wb in sets[i + 1 :]:
            nc = len(wa & wb)
            if nc and float(nc) / float(len(wa) + len(wb) - nc) >= 0.5:
                edges += [(da, db), (db, da)]
    rank = pagerank_quantized(edges, (r.doc_id for r in docs), iters=iters)
    id_type = df.schema["doc_id"].dataType.simpleString()
    return arrow_local_df(
        spark, sorted(rank.items()), f"doc_id {id_type}, rank bigint"
    )


@register(
    "q96_pagerank",
    _Q96_ORACLE,
    doc="quantized PageRank (3 damped power iterations, integer micro-units "
    "— floor-only bigint math, bit-exact oracle) over the symmetrized "
    "word-jaccard near-dup graph: the canonical-document / authority "
    "election step after clustering. The graph is bounded by doc_id < 120, "
    "so one collect brings the word sets to the driver and the pairs and "
    "iterations run there (operators/graph.py pagerank_quantized)",
)
def q96_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_dup_pagerank(spark, sf_dir, iters=3)


_Q123_GRAPH_HEAD = """
    with words as (
      select doc_id,
             unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
               as word
      from documents where doc_id < 120
    ),
    sizes as (select doc_id, count(*) as sz from words group by doc_id),
    inter as (
      select a.doc_id as da, b.doc_id as db, count(*) as n_common
      from words a join words b on a.word = b.word and a.doc_id < b.doc_id
      group by 1, 2
    ),
    pairs as (
      select da, db from inter
      join sizes sa on sa.doc_id = da
      join sizes sb on sb.doc_id = db
      where cast(n_common as double) / (sa.sz + sb.sz - n_common) >= 0.5
    ),
    edges as (
      select da as src, db as dst from pairs
      union all select db, da from pairs
    ),
    nodes as (select doc_id as id from documents where doc_id < 120),
    deg as (select src, count(*) as deg from edges group by src),
    p as (
      select count(*) as n,
             cast(floor(1000000.0 / count(*)) as bigint) as r0,
             cast(floor(150000.0 / count(*)) as bigint) as base
      from nodes
    )"""


def _pagerank_oracle(iters: int) -> str:
    """Unrolled integer PageRank recurrence (q96's algebra) for any fixed
    iteration count — one (i_k, r_k) CTE pair per damped power step."""
    ctes = []
    for k in range(1, iters + 1):
        src = "cast(p.r0 as double)" if k == 1 else f"cast(r{k-1}.rank as double)"
        jp = "" if k == 1 else f" join r{k-1} on r{k-1}.id = e.src"
        ctes.append(
            f"""i{k} as (
      select e.dst as id,
             sum(cast(floor({src} / deg.deg) as bigint)) as s
      from edges e{jp} join deg on deg.src = e.src cross join p
      group by e.dst
    ),
    r{k} as (
      select nodes.id,
             p.base + cast(floor(85.0 * coalesce(i{k}.s, 0) / 100) as bigint)
               as rank
      from nodes cross join p left join i{k} on i{k}.id = nodes.id
    )"""
        )
    return (
        _Q123_GRAPH_HEAD
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"\n    select id as doc_id, rank from r{iters}"
    )


@register(
    "q123_pagerank_checkpointed",
    _pagerank_oracle(12),
    doc="quantized PageRank at 12 damped power iterations — the depth a "
    "real authority ranking needs, over q96's near-dup graph; one collect "
    "of the bounded word sets, then all 12 steps on the driver (no Spark "
    "lineage to cut). The oracle unrolls all 12 integer recurrence steps, "
    "so every floor/damping step of every iteration is bit-checked",
)
def q123_pagerank_checkpointed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _near_dup_pagerank(spark, sf_dir, iters=12)


# ---------------------------------------------------------------------------
# q138 — similarity-graph topology: degrees, triangles, clustering
# ---------------------------------------------------------------------------
# The graph-shape report for the q96/q100 near-dup graph: triangle count
# via the standard two-path + closing-edge equi-join (each triangle a<b<c
# counted exactly once), wedge count from degrees, global clustering
# coefficient. The numbers that say whether near-dups form tight cliques
# (mirror farms) or long chains (drifting revisions).

_Q138_BODY = """
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
    ),
    pairs as (
      select da, db from inter
      join sizes sa on sa.doc_id = da
      join sizes sb on sb.doc_id = db
      where cast(nc as double) / (sa.sz + sb.sz - nc) >= 0.5
    ),
    deg as (
      select v, cast(count(*) as bigint) as d
      from (select da as v from pairs union all select db from pairs) t
      group by v
    ),
    tri as (
      select cast(count(*) as bigint) as n_tri
      from pairs e1
      join pairs e2 on e2.da = e1.db
      join pairs e3 on e3.da = e1.da and e3.db = e2.db
    ),
    w as (
      select cast(sum(d * (d - 1) {IDIV} 2) as bigint) as wedges,
             cast(max(d) as bigint) as max_degree,
             cast(count(*) as bigint) as n_connected
      from deg
    )
    select cast((select count(*) from documents where doc_id < 120) as bigint)
             as n_nodes,
           cast((select count(*) from pairs) as bigint) as n_edges,
           w.n_connected, w.max_degree, tri.n_tri as n_triangles,
           case when w.wedges > 0
                then round(3.0 * tri.n_tri / w.wedges, 6)
                else cast(null as double) end as global_clustering
    from w cross join tri
"""

_SPARK_Q138 = (
    _Q138_BODY.replace(
        "{TOK}", "explode(array_distinct(split(trim(lower(text)), '\\\\s+')))"
    ).replace("{IDIV}", "div")
)

sql_case(
    "q138_doc_graph_triangles",
    _SPARK_Q138,
    _Q138_BODY.replace(
        "{TOK}",
        "unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))",
    ).replace("{IDIV}", "//"),
    doc="topology report of the word-jaccard near-dup graph (q96/q100's "
    "edges): node/edge/degree stats, exact triangle count via the "
    "canonical a<b<c two-path + closing-edge equi-join (each triangle "
    "counted once, never a cartesian), and the global clustering "
    "coefficient 3T/wedges — cliques mean mirror farms, chains mean "
    "drifting revisions, and the dedup strategy differs. All-integer "
    "until the final ratio",
)
