"""Structured Streaming integration over the event log."""

import pytest

from leaf_spark.streaming.source import idx_window_counts, run_available_now
from leaf_spark.stream import Stream

from .fixtures import CHAT, msg


@pytest.fixture(scope="module")
def populated(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sstream"))
    s = Stream(spark, root, "did:plc:ss")
    s.provide_module(CHAT)
    # three commits → three parquet files → three streaming inputs
    for batch in range(3):
        s.add_events([msg("did:plc:u", f"m{batch}-{i}", batch * 10 + i) for i in range(5)])
    return s


def test_readstream_drains_log(spark, populated, tmp_path):
    run_available_now(
        populated,
        lambda src: idx_window_counts(src, window_size=10),
        checkpoint_dir=str(tmp_path / "ckpt"),
        output_table="ss_counts",
    )
    rows = {r["idx_bucket"]: r for r in spark.table("ss_counts").collect()}
    assert rows[0]["n_events"] == 9  # idx 1..9
    assert rows[1]["n_events"] == 6  # idx 10..15
    assert rows[0]["first_idx"] == 1
    assert rows[1]["last_idx"] == 15
    total = sum(r["n_events"] for r in rows.values())
    assert total == populated.state.latest_idx


# --- stateful extensions (streaming/stateful.py) ---------------------------


@pytest.fixture(scope="module")
def events_src_dir(tmp_path_factory):
    """events.parquet (sf0.001) copied into a dir usable as a file source."""
    import shutil

    d = tmp_path_factory.mktemp("events_src")
    shutil.copy("/root/testdata/sf0.001/events.parquet", str(d / "events.parquet"))
    return str(d)


def _batch_events(spark, events_src_dir):
    from leaf_spark.streaming.stateful import events_batch

    return events_batch(spark, events_src_dir)


def test_windowed_counts_match_batch(spark, events_src_dir, tmp_path):
    from leaf_spark.streaming.stateful import drain, events_stream, windowed_event_counts

    src = events_stream(spark, events_src_dir)
    drain(
        windowed_event_counts(src, window="1 hour", watermark="2 hours"),
        str(tmp_path / "ck1"),
        "wm_counts",
        output_mode="complete",
    )
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 6))
        for r in spark.table("wm_counts").collect()
    }
    from pyspark.sql import functions as F

    exp_df = (
        _batch_events(spark, events_src_dir)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
    )
    exp = {
        (r["win"]["start"], r["event_type"]): (r["n"], round(r["tv"], 6))
        for r in exp_df.collect()
    }
    assert got == exp


def test_sessionized_append_emits_closed_sessions(spark, events_src_dir, tmp_path):
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import drain, events_stream, sessionized

    src = events_stream(spark, events_src_dir)
    drain(
        sessionized(src, gap="30 minutes", watermark="0 seconds"),
        str(tmp_path / "ck2"),
        "sessions",
        output_mode="append",
    )
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("sessions").collect()
    }
    assert got  # at least the early sessions closed
    batch = _batch_events(spark, events_src_dir)
    max_ts = batch.agg(F.max("ts")).first()[0]
    exp_df = (
        batch.groupBy(F.session_window("ts", "30 minutes").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = {
        (r["user_id"], r["s"]["start"]): r["n"]
        for r in exp_df.collect()
        if r["s"]["end"] <= max_ts  # watermark closed these
    }
    # every closed session emitted exactly as batch computes it
    for k, n in exp.items():
        assert got[k] == n


def test_running_user_stats_stateful_fold(spark, events_src_dir, tmp_path):
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import drain, events_stream, running_user_stats

    src = events_stream(spark, events_src_dir)
    drain(
        running_user_stats(src),
        str(tmp_path / "ck3"),
        "user_stats",
        output_mode="update",
    )
    # last update per user == cumulative totals
    rows = spark.table("user_stats").collect()
    last = {}
    for r in rows:  # memory sink appends per batch; later rows overwrite
        last[r["user_id"]] = (r["n_events"], round(r["total_value"], 6), r["last_seen"])
    exp_df = (
        _batch_events(spark, events_src_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"), F.max("ts").alias("mx"))
    )
    exp = {
        r["user_id"]: (r["n"], round(r["tv"], 6), r["mx"]) for r in exp_df.collect()
    }
    assert last == exp


class TestIngestReplayIdempotence:
    """foreachBatch chunked ingest: a replayed micro-batch (same batch_id)
    must not duplicate committed chunks, and a mid-batch failure resumes
    from the first uncommitted chunk (VERDICT minor #5: bounded driver
    memory without losing exactly-once)."""

    def _mk(self, spark, tmp_root):
        from leaf_spark.stream import Stream
        from tests.fixtures import CHAT

        s = Stream(spark, tmp_root, "did:plc:ingest")
        s.provide_module(CHAT)
        return s

    def test_full_replay_is_noop(self, spark, tmp_root):
        from leaf_spark.streaming.source import make_ingest_sink
        from leaf_spark.types import IncomingEvent
        from leaf_spark import drisl

        s = self._mk(spark, tmp_root)
        df = spark.createDataFrame([(i, f"m{i}") for i in range(5)], "i int, m string")
        to_inc = lambda r: IncomingEvent(  # noqa: E731
            "u", drisl.encode({"content": r["m"], "sentAt": r["i"]})
        )
        sink = make_ingest_sink(s, to_inc, max_rows_per_chunk=2)
        sink(df, 7)
        assert s.state.latest_idx == 5
        sink(df, 7)  # checkpoint replay of the same batch id
        assert s.state.latest_idx == 5  # no duplicates
        sink(df, 8)  # a NEW batch id appends
        assert s.state.latest_idx == 10

    def test_mid_batch_failure_resumes_without_duplicates(self, spark, tmp_root):
        from leaf_spark.streaming.source import make_ingest_sink
        from leaf_spark.types import IncomingEvent
        from leaf_spark import drisl, stream as stream_mod
        from leaf_spark.types import LeafQuery

        s = self._mk(spark, tmp_root)
        df = spark.createDataFrame([(i, f"m{i}") for i in range(6)], "i int, m string")
        calls = {"n": 0}

        def flaky(r):
            calls["n"] += 1
            if calls["n"] == 5:  # fail inside the third chunk, first attempt
                raise RuntimeError("transient")
            return IncomingEvent("u", drisl.encode({"content": r["m"], "sentAt": r["i"]}))

        sink = make_ingest_sink(s, flaky, max_rows_per_chunk=2)
        import pytest as _pytest

        with _pytest.raises(RuntimeError):
            sink(df, 1)
        assert s.state.latest_idx == 4  # chunks 0 and 1 committed
        sink(df, 1)  # replay: skips committed chunks, commits the rest
        assert s.state.latest_idx == 6
        contents = [r["content"] for r in s.query(None, LeafQuery("messages"))]
        assert contents == [f"m{i}" for i in range(6)]


def test_streaming_exact_dedup_bounded_state(spark, events_src_dir, tmp_path):
    """Streaming dedup emits exactly one row per distinct content hash
    (which copy survives depends on arrival order; the set is what's
    deterministic)."""
    from leaf_spark.streaming.stateful import drain, events_stream, streaming_exact_dedup

    src = events_stream(spark, events_src_dir)
    drain(
        streaming_exact_dedup(src, text_col="event_type", watermark="2 hours"),
        str(tmp_path / "ckd"),
        "dedup_out",
        output_mode="append",
    )
    got = spark.table("dedup_out").collect()
    exp_types = {
        r["event_type"] for r in _batch_events(spark, events_src_dir).collect()
    }
    assert len(got) == len(exp_types)
    assert {r["event_type"] for r in got} == exp_types
    # one state row per hash, evictable by watermark: hash column present
    assert all(len(r["content_hash"]) == 64 for r in got)


@pytest.mark.slow
def test_subscription_pagination_complete_under_concurrent_appends(
    spark, tmp_path_factory
):
    """SURVEY §5 subscription-at-scale property: with a paged backfill
    subscription (LIMIT windowing) racing live appends, the concatenation of
    every has_more page must equal the final range query — every idx in
    1..head exactly once, in order, across 10⁵ events.

    Exercises the reference's self-scheduling drain loop (lib.rs:926-983)
    under genuine concurrency: a consumer thread drains the bounded result
    channel while the main thread keeps appending 10k-event batches."""
    import queue
    import threading
    import time

    from leaf_spark.streaming.subscribe import SubscriptionWorker
    from leaf_spark.types import LeafQuery

    root = str(tmp_path_factory.mktemp("pagesub"))
    s = Stream(spark, root, "did:plc:pagesub")
    s.provide_module(CHAT)

    BATCH, N_BATCHES, PAGE = 10_000, 10, 2_499
    total = BATCH * N_BATCHES

    # first batch lands before the subscription exists → backfill paging
    s.add_events([msg("did:plc:u", f"m{i}", i) for i in range(BATCH)])

    w = SubscriptionWorker(s)
    got: list[int] = []
    errors: list[str] = []
    done = threading.Event()

    try:
        sub = w.subscribe_events(None, LeafQuery("messages", start=1, limit=PAGE))

        def drain():
            while not done.is_set() or not sub.channel.empty():
                try:
                    resp = sub.channel.get(timeout=0.5)
                except queue.Empty:
                    continue
                if resp.error is not None:
                    errors.append(resp.error)
                    continue
                got.extend(r["idx"] for r in resp.rows)

        consumer = threading.Thread(target=drain)
        consumer.start()

        for b in range(1, N_BATCHES):
            s.add_events(
                [msg("did:plc:u", f"m{b}-{i}", i) for i in range(BATCH)]
            )

        deadline = time.time() + 420
        while len(got) < total and time.time() < deadline:
            time.sleep(0.5)
        done.set()
        consumer.join(timeout=30)

        assert not errors, errors[:3]
        # completeness, order, and no duplicates in one shot
        assert len(got) == total, (len(got), total)
        assert got == list(range(1, total + 1))
        # and the pages agree with a direct range query over the final state
        direct = s.query(None, LeafQuery("messages", start=1, limit=total))
        assert [r["idx"] for r in direct] == got
    finally:
        done.set()
        w.close()


def test_stream_stream_attribution_matches_batch_join(spark, events_src_dir, tmp_path):
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import (
        drain,
        events_stream,
        stream_stream_attribution,
    )

    # pick the two most frequent event types in the fixture so the join is
    # non-trivially populated
    b = _batch_events(spark, events_src_dir)
    types = [r["event_type"] for r in
             b.groupBy("event_type").count().orderBy(F.desc("count")).limit(2).collect()]
    exposure_t, action_t = types[0], types[1]

    src = events_stream(spark, events_src_dir)
    joined = stream_stream_attribution(
        src, src, horizon="30 minutes",
        action_type=action_t, exposure_type=exposure_t,
    )
    drain(joined, str(tmp_path / "ck_ssj"), "ss_attr", output_mode="append")
    got = {
        (r["action_id"], r["exposure_id"])
        for r in spark.table("ss_attr").collect()
    }
    assert got, "join produced no pairs — fixture types too sparse"

    a = b.where(F.col("event_type") == action_t).select(
        F.col("event_id").alias("action_id"), "user_id", F.col("ts").alias("ats")
    )
    e = b.where(F.col("event_type") == exposure_t).select(
        F.col("event_id").alias("exposure_id"),
        F.col("user_id").alias("eu"),
        F.col("ts").alias("ets"),
    )
    exp = {
        (r["action_id"], r["exposure_id"])
        for r in a.join(
            e,
            (F.col("user_id") == F.col("eu"))
            & (F.col("ets") <= F.col("ats"))
            & (F.col("ets") >= F.col("ats") - F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    # AvailableNow drains the whole bounded input, so the streaming result
    # must equal the batch interval join exactly
    assert got == exp


def test_identical_subscriptions_share_one_query_per_update(
    spark, tmp_path_factory
):
    """Fan-out efficiency: N subscribers with the SAME (user, query) must
    cost ONE engine execution per update cycle, not N — and every one of
    them still receives the rows."""
    import time

    from leaf_spark.streaming.subscribe import SubscriptionWorker
    from leaf_spark.types import LeafQuery

    root = str(tmp_path_factory.mktemp("sharesub"))
    s = Stream(spark, root, "did:plc:sharesub")
    s.provide_module(CHAT)
    s.add_events([msg("did:plc:u", "seed", 0)])

    w = SubscriptionWorker(s)
    calls = {"n": 0}
    real_query = s.query

    def counting_query(user, q):
        calls["n"] += 1
        return real_query(user, q)

    s.query = counting_query
    try:
        subs = [
            w.subscribe_events(None, LeafQuery("messages", limit=100))
            for _ in range(6)
        ]
        time.sleep(1.0)  # initial needs_update services drain (no shared cycle)
        calls["n"] = 0
        s.add_events([msg("did:plc:u", "live", 1)])
        rows_each = [sub.channel.get(timeout=30).rows for sub in subs]
        for rows in rows_each:
            assert any(r.get("content") == "live" for r in rows)
        # one "updated" cycle serviced all 6 identical subs with 1 query
        assert calls["n"] == 1, calls["n"]
    finally:
        s.query = real_query
        w.close()


def test_disorder_monitor_matches_batch_q130(spark, events_src_dir, tmp_path):
    """The streaming disorder monitor's final per-user totals must equal
    the batch lag-window computation (q130's algebra) over the same log."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import (
        disorder_monitor,
        drain,
        events_stream,
    )

    src = events_stream(spark, events_src_dir)
    drain(
        disorder_monitor(src),
        str(tmp_path / "ck_dis"),
        "disorder",
        output_mode="update",
    )
    last = {}
    for r in spark.table("disorder").collect():
        last[r["user_id"]] = (r["n_events"], r["n_out_of_order"])

    w = Window.partitionBy("user_id").orderBy("event_id")
    batch = (
        _batch_events(spark, events_src_dir)
        .withColumn(
            "ooo",
            (F.col("ts") < F.lag("ts").over(w)).cast("int"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("ooo"), F.lit(0)).alias("n_ooo"),
        )
    )
    exp = {r["user_id"]: (r["n"], r["n_ooo"]) for r in batch.collect()}
    assert last == exp
    assert sum(v[0] for v in last.values()) > 0


def test_transition_counts_match_batch_lead_window(spark, events_src_dir, tmp_path):
    """The streaming per-user transition state, summed over users, must
    equal the batch lead()-window transition matrix in the same
    (event_id) order over the same log."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import (
        drain,
        events_stream,
        transition_counts,
    )

    src = events_stream(spark, events_src_dir)
    drain(
        transition_counts(src),
        str(tmp_path / "ck_tr"),
        "transitions",
        output_mode="update",
    )
    # update mode re-emits a user's FULL counter map each batch: keep the
    # final row per (user, cur, nxt), then sum across users
    last: dict = {}
    for r in spark.table("transitions").collect():
        last[(r["user_id"], r["cur"], r["nxt"])] = r["n"]
    got: dict = {}
    for (_, cur, nxt), n in last.items():
        got[(cur, nxt)] = got.get((cur, nxt), 0) + n

    w = Window.partitionBy("user_id").orderBy("event_id")
    batch = (
        _batch_events(spark, events_src_dir)
        .withColumn("nxt", F.lead("event_type").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy("event_type", "nxt")
        .count()
    )
    exp = {(r["event_type"], r["nxt"]): r["count"] for r in batch.collect()}
    assert got == exp
    assert sum(got.values()) > 0


def test_scd2_versions_match_batch_windows(spark, events_src_dir, tmp_path):
    """Streaming SCD-2 closed versions must equal the batch lag/lead
    construction in the same (event_id) order over the same log — the
    stream-scale path of the q168 temporal-versioning build."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import (
        drain,
        events_stream,
        scd2_versions,
    )

    src = events_stream(spark, events_src_dir)
    drain(
        scd2_versions(src),
        str(tmp_path / "ck_scd"),
        "scd_versions",
        output_mode="append",
    )
    got = {
        (r["user_id"], r["attr"], r["valid_from_us"], r["valid_to_us"])
        for r in spark.table("scd_versions").collect()
    }

    w = Window.partitionBy("user_id").orderBy("event_id")
    ev = _batch_events(spark, events_src_dir).withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    chg = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    versions = chg.withColumn(
        "valid_to_us", F.lead("ts_us").over(w)
    ).where(F.col("valid_to_us").isNotNull())
    exp = {
        (r["user_id"], r["event_type"], r["ts_us"], r["valid_to_us"])
        for r in versions.collect()
    }
    assert got == exp
    assert len(got) > 0


def test_cms_cells_match_batch_sketch(spark, events_src_dir, tmp_path):
    """The streaming count-min cells, accumulated across micro-batches,
    must equal the batch-built sketch over the same log; point estimates
    must dominate exact counts (the CMS guarantee)."""
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import (
        cms_bucket_cols,
        cms_cells,
        drain,
        events_stream,
    )

    src = events_stream(spark, events_src_dir)
    drain(cms_cells(src), str(tmp_path / "ck_cms"), "cms", output_mode="update")
    # update mode re-emits refreshed cells; the memory sink appends, so
    # keep the LAST row per (r, bucket)
    got = {}
    for r in spark.table("cms").collect():
        got[(r["r"], r["bucket"])] = r["cell"]

    batch = _batch_events(spark, events_src_dir)
    exp = {
        (r["r"], r["bucket"]): r["cell"]
        for r in cms_cells(batch).collect()
    }
    assert got == exp
    assert len(got) <= 4 * 64

    # estimate >= exact for every user in the log
    exact = {
        r["user_id"]: r["c"]
        for r in batch.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    buckets = (
        batch.where(F.col("user_id").isNotNull())
        .select("user_id", F.explode(F.array(*cms_bucket_cols("user_id"))).alias("rb"))
        .select("user_id", "rb.r", "rb.bucket")
        .distinct()
        .collect()
    )
    per_user: dict = {}
    for row in buckets:
        per_user.setdefault(row["user_id"], []).append((row["r"], row["bucket"]))
    for uid, cells in per_user.items():
        est = min(exp[c] for c in cells)
        assert est >= exact[uid]


def test_heavy_hitters_match_python_misra_gries(spark, events_src_dir, tmp_path):
    """The per-shard Misra-Gries summaries must exactly match a Python
    reference run over the same events in event_id order, and every key
    whose true frequency beats the shard_n/(k+1) bound must be present.

    The source is re-split into 4 files drained one per micro-batch, so
    the counter state round-trips the state store serialization between
    batches — a single-batch drain would never exercise it."""
    from pyspark.sql import functions as F

    from leaf_spark.streaming.stateful import drain, events_stream, heavy_hitters

    K, NSHARDS = 4, 4
    split_dir = str(tmp_path / "split_src")
    # idx-ordered 4-way split: each file holds a contiguous event_id range,
    # so per-shard arrival order across micro-batches stays event_id order
    base = spark.read.parquet(events_src_dir).orderBy("event_id").collect()
    import os

    os.makedirs(split_dir)
    chunk = (len(base) + 3) // 4
    for i in range(4):
        part = base[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, spark.read.parquet(events_src_dir).schema) \
                .coalesce(1).write.mode("append").parquet(split_dir)
    src = events_stream(spark, split_dir, max_files=1)
    drain(
        heavy_hitters(src, k=K, nshards=NSHARDS),
        str(tmp_path / "ck_mg"),
        "mg",
        output_mode="update",
    )
    # keep each shard's freshest summary (highest shard_n)
    latest_n: dict = {}
    for r in spark.table("mg").collect():
        latest_n[r["shard"]] = max(latest_n.get(r["shard"], 0), r["shard_n"])
    got: dict = {}
    for r in spark.table("mg").collect():
        if r["shard_n"] == latest_n[r["shard"]]:
            got[(r["shard"], r["key"])] = r["est"]

    rows = (
        _batch_events(spark, events_src_dir)
        .where(F.col("user_id").isNotNull())
        .select("event_id", "user_id")
        .sort("event_id")
        .collect()
    )
    ref: dict = {}
    shard_n: dict = {}
    true_counts: dict = {}
    for r in rows:
        shard = r["user_id"] % NSHARDS
        key = str(r["user_id"])
        shard_n[shard] = shard_n.get(shard, 0) + 1
        true_counts[(shard, key)] = true_counts.get((shard, key), 0) + 1
        counters = ref.setdefault(shard, {})
        if key in counters:
            counters[key] += 1
        elif len(counters) < K:
            counters[key] = 1
        else:
            ref[shard] = {y: c - 1 for y, c in counters.items() if c > 1}
    exp = {(s, y): c for s, counters in ref.items() for y, c in counters.items()}
    assert got == exp
    # the Misra-Gries frequency guarantee, per shard
    for (s, y), true in true_counts.items():
        if true > shard_n[s] / (K + 1):
            assert (s, y) in got
            assert got[(s, y)] <= true <= got[(s, y)] + shard_n[s] // (K + 1)


def test_compaction_and_subscription_interleaving_property(
    spark, tmp_path_factory
):
    """VERDICT r5 'Next round #6': compact_log rewrites event files while a
    SubscriptionWorker may be mid-drain on the same stream. Interleave
    add_events / compact_log / subscription drains over 100 rng-seeded
    schedules and assert NO page is lost or duplicated: the concatenation
    of every subscription page is exactly 1..head in order, the raw log
    partition stays exactly-once at every quiesce point, and the final
    raw scan agrees. compact_log runs from a background thread racing the
    drain (the publish-before-unlink order + _log_files overlap-dedup is
    what keeps concurrent listings exactly-once)."""
    import queue
    import random
    import threading
    import time

    from leaf_spark.streaming.subscribe import SubscriptionWorker
    from leaf_spark.types import LeafQuery

    rng = random.Random(0xC0FFEE)
    root = str(tmp_path_factory.mktemp("compactsub"))
    s = Stream(spark, root, "did:plc:compactsub")
    s.provide_module(CHAT)

    w = SubscriptionWorker(s)
    got: list[int] = []
    errors: list[str] = []
    done = threading.Event()
    head = 0

    try:
        sub = w.subscribe_events(None, LeafQuery("messages", start=1, limit=7))

        def drain():
            while not done.is_set() or not sub.channel.empty():
                try:
                    resp = sub.channel.get(timeout=0.5)
                except queue.Empty:
                    continue
                if resp.error is not None:
                    errors.append(resp.error)
                    continue
                got.extend(r["idx"] for r in resp.rows)

        consumer = threading.Thread(target=drain)
        consumer.start()

        compactor: threading.Thread | None = None
        for i in range(100):
            # one random schedule: a batch append, maybe a concurrent
            # compaction racing the drain, maybe a quiesced exactly-once
            # raw-scan audit
            n = rng.randint(1, 6)
            s.add_events(
                [msg("did:plc:u", f"c{i}-{j}", i * 10 + j) for j in range(n)]
            )
            head += n
            if compactor is None and rng.random() < 0.5:
                compactor = threading.Thread(
                    target=s.compact_log,
                    kwargs={
                        "target_bytes": rng.choice([1, 10_000, 10**9]),
                        "min_group": rng.choice([2, 3]),
                    },
                )
                compactor.start()
            if compactor is not None and (rng.random() < 0.6 or i % 10 == 9):
                compactor.join()
                compactor = None
            if i % 10 == 9:
                # quiesce point: the committed log partitions 1..head
                # exactly once (no file lost, none double-listed)
                assert compactor is None
                ranges = [(a, b) for a, b, _ in s._log_files()]
                seen = [x for a, b in ranges for x in range(a, b + 1)]
                assert sorted(seen) == list(range(1, head + 1)), ranges
                ids = [e.idx for e in s.raw_get_events()]
                assert ids == list(range(1, head + 1))
        if compactor is not None:
            compactor.join()

        deadline = time.time() + 300
        while len(got) < head and time.time() < deadline:
            time.sleep(0.25)
        done.set()
        consumer.join(timeout=30)

        assert not errors, errors[:3]
        # every appended idx delivered exactly once, in order
        assert got == list(range(1, head + 1)), (len(got), head)
        # and the compacted log still replays to the same materialized state
        direct = s.query(None, LeafQuery("messages", start=1, limit=head))
        assert [r["idx"] for r in direct] == got
    finally:
        done.set()
        w.close()


def test_gap_moments_match_python_and_batch_q193(spark, tmp_path):
    """Streaming gap moments (q193's live counterpart): drain the op over
    FOUR micro-batches (maxFilesPerTrigger=1 over a 4-file split of the
    sf0.001 events log) and check the final per-stream moments against an
    exact Python recompute in processing order; on the time-ordered
    subset of streams the per-type totals equal the batch q193 moment
    CTE by construction."""
    import pyarrow.parquet as pq

    from leaf_spark.streaming.stateful import drain, gap_moments

    src_dir = tmp_path / "gapsrc"
    src_dir.mkdir()
    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = t.num_rows
    import os as _os
    import time as _time

    base_mtime = int(_time.time()) - 100
    for i in range(4):
        p = str(src_dir / f"part-{i}.parquet")
        pq.write_table(
            t.slice(i * n // 4, (i + 1) * n // 4 - i * n // 4), p
        )
        # pin strictly increasing mtimes: on a fast host all four writes
        # can land inside one clock tick, and the file source's
        # (modTime, path) ordering then falls to directory-listing order
        # — micro-batches would arrive out of event order and the gaps
        # become processing-order deltas (a real, documented semantics of
        # the op, but not what this in-order parity test is testing)
        _os.utime(p, (base_mtime + i, base_mtime + i))

    stream = (
        spark.readStream.schema(spark.read.parquet(str(src_dir)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    drain(
        gap_moments(stream),
        str(tmp_path / "ckgap"),
        "gap_moments_tbl",
        output_mode="update",
        timeout_s=240,
    )
    # memory sink in update mode appends every refresh — keep the LAST
    # row per (user, type)
    got_rows = spark.sql(
        "select * from gap_moments_tbl"
    ).collect()
    got: dict = {}
    for r in got_rows:  # later rows overwrite earlier (monotone n_gaps)
        k = (r["user_id"], r["event_type"])
        if k not in got or r["n_gaps"] >= got[k][0]:
            got[k] = (r["n_gaps"], int(r["sum_gap_us"]), int(r["sum_gap_sq"]))

    # exact recompute in processing order (event_id)
    rows = sorted(
        zip(
            t.column("user_id").to_pylist(),
            t.column("event_type").to_pylist(),
            t.column("event_id").to_pylist(),
            t.column("ts").to_pylist(),
        ),
        key=lambda x: x[2],
    )
    want: dict = {}
    last: dict = {}
    for u, et, _eid, ts in rows:
        us = int(ts.timestamp() * 1_000_000) if hasattr(ts, "timestamp") else int(ts)
        k = (u, et)
        if k in last:
            g = us - last[k]
            n0, s0, s20 = want.get(k, (0, 0, 0))
            want[k] = (n0 + 1, s0 + g, s20 + g * g)
        else:
            want.setdefault(k, (0, 0, 0))
        last[k] = us
    assert got == want
    assert sum(v[0] for v in want.values()) > 0  # non-vacuous


def test_conversion_counts_match_batch_q196_counts(spark, events_src_dir, tmp_path):
    """Streaming conversion tallies (q196's live counterpart): drained
    totals equal the batch exact counts per event type."""
    from leaf_spark.streaming.stateful import (
        conversion_counts,
        drain,
        events_batch,
        events_stream,
    )

    src = events_stream(spark, events_src_dir)
    drain(
        conversion_counts(src),
        str(tmp_path / "ckconv"),
        "conv_counts_tbl",
        output_mode="complete",
    )
    got = {
        r["event_type"]: (r["n"], r["x"])
        for r in spark.sql("select * from conv_counts_tbl").collect()
    }
    import pyspark.sql.functions as F

    batch = {
        r["event_type"]: (r["n"], r["x"])
        for r in events_batch(spark, events_src_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") >= 100.0, 1).otherwise(0)).alias("x"),
        )
        .collect()
    }
    assert got == batch and len(got) >= 2


def test_commit_jobs_run_in_the_stream_pool(spark, tmp_path):
    """Stream._scheduler_pool leaves the thread in the stream's FAIR pool
    and skips the py4j calls while it already is; a thread that switches
    streams switches pools, so a commit that does submit Spark work
    (here a fold the mirror may not take) submits it from the stream's
    own pool."""
    import unittest.mock as mock

    from leaf_spark.dml import DmlExecutor

    sc = spark.sparkContext
    a = Stream(spark, str(tmp_path / "a"), "did:plc:pool-a")
    b = Stream(spark, str(tmp_path / "b"), "did:plc:pool-b")
    for s in (a, b):
        s.provide_module(CHAT)
    seen = []
    execute = DmlExecutor.execute

    def recording(self, *args, **kwargs):
        seen.append(sc.getLocalProperty("spark.scheduler.pool"))
        return execute(self, *args, **kwargs)

    with mock.patch.object(
        Stream, "_mirror_fold", return_value=False
    ), mock.patch.object(DmlExecutor, "execute", recording):
        for s, i in ((a, 1), (b, 2), (a, 3), (a, 4)):
            seen.clear()
            s.add_events([msg("did:plc:u", f"m{i}", i)])
            assert seen and set(seen) == {s._pool_name}
    assert sc.getLocalProperty("spark.scheduler.pool") == a._pool_name
