"""The three module shapes the stream workloads drive, pinned here so that a
change to the test fixtures never changes the benchmark.

- CHAT: the chat module of ``tests/fixtures.py`` (authorizer, batch-safe
  INSERT…SELECT materializer, read-marker state table, four named queries);
  its fold runs in the set-wise tier.
- COUNTER: ``tests/fixtures.py``'s accumulate-by-key UPDATE module; its fold
  runs as pooled rounds.
- DEDUP: the NOT-EXISTS dedup module of ``tools/bench_stream.py dedup``.
"""

from __future__ import annotations

from leaf_spark import drisl
from leaf_spark.module import BasicModuleDef, QueryDef
from leaf_spark.types import IncomingEvent, QueryParamDef

CHAT = BasicModuleDef(
    init_sql=(
        "create table if not exists messages (idx integer primary key, sender text not null, "
        "content text not null, sent_at integer not null); "
        "create table if not exists bans (user text primary key);"
    ),
    authorizer=(
        "select iif(exists(select 1 from bans where user = (select user from event)), "
        "unauthorized('banned user'), 1); "
        "select iif(drisl_exists((select payload from event), '.content'), 1, "
        "throw('missing content'));"
    ),
    materializer=(
        "insert into messages (idx, sender, content, sent_at) "
        "select idx, user, drisl_extract(payload, '.content'), "
        "coalesce(drisl_extract_int(payload, '.sentAt'), unixepoch()) from event;"
    ),
    state_init_sql=(
        "create table if not exists state.read_markers "
        "(user text primary key, last_read integer not null);"
    ),
    state_materializer=(
        "insert into state.read_markers (user, last_read) "
        "select user, drisl_extract_int(payload, '.lastRead') from event where true "
        "on conflict(user) do update set last_read = excluded.last_read;"
    ),
    queries=(
        QueryDef(
            "messages",
            "select idx, sender, content, sent_at from messages where idx >= $start "
            "order by idx limit $limit",
        ),
        QueryDef(
            "messages_by_sender",
            "select idx, content from messages where sender = $sender and idx >= $start "
            "order by idx limit $limit",
            (QueryParamDef("sender", "text"),),
        ),
        QueryDef(
            "message_stats",
            "select sender, count(*) as n, min(sent_at) as first_at, max(sent_at) as last_at "
            "from messages group by sender order by n desc",
        ),
        QueryDef(
            "my_unread",
            "select count(*) as unread from messages where idx > "
            "coalesce((select last_read from state.read_markers "
            "where user = $requesting_user), 0)",
        ),
    ),
)

COUNTER = BasicModuleDef(
    init_sql=(
        "create table if not exists counters (name text primary key, value integer not null)"
    ),
    materializer=(
        "insert into counters (name, value) "
        "select drisl_extract(payload, '.name'), 0 from event "
        "where true on conflict(name) do nothing; "
        "update counters set value = value + "
        "(select drisl_extract_int(payload, '.delta') from event) "
        "where name = (select drisl_extract(payload, '.name') from event);"
    ),
    queries=(QueryDef("counters", "select name, value from counters order by name"),),
)

DEDUP = BasicModuleDef(
    init_sql="create table if not exists seen (key text not null, idx integer not null)",
    materializer=(
        "insert into seen (key, idx) "
        "select drisl_extract(payload, '.key'), idx from event "
        "where not exists (select 1 from seen "
        "where key = drisl_extract(payload, '.key'));"
    ),
    queries=(QueryDef("n", "select count(*) as n from seen"),),
)


def chat_payload(content: str, sent_at: int) -> bytes:
    return drisl.encode({"content": content, "sentAt": sent_at})


def malformed_payload(sent_at: int) -> bytes:
    """A chat message without ``content``: the authorizer must reject it."""
    return drisl.encode({"sentAt": sent_at})


def marker_payload(last_read: int) -> bytes:
    return drisl.encode({"lastRead": last_read})


def msg(user: str, content: str, sent_at: int) -> IncomingEvent:
    return IncomingEvent(user, chat_payload(content, sent_at))


def bump(user: str, name: str, delta: int) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode({"name": name, "delta": delta}))


def dedup_key(user: str, key: str) -> IncomingEvent:
    return IncomingEvent(user, drisl.encode({"key": key}))
