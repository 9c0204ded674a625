"""Catalog + subscriptions + server API (A12/A13/A20/A22/A23) e2e tests."""

import queue

import pytest

from leaf_spark import drisl
from leaf_spark.catalog import StreamCatalog
from leaf_spark.server import Connection, LeafServer
from leaf_spark.types import LeafQuery

from .fixtures import CHAT, msg


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("served"))
    catalog = StreamCatalog(spark, root)
    server = LeafServer(catalog)
    cid = catalog.modules.upload(CHAT)
    trusted = Connection(user="did:plc:admin", trusted=True)
    server.dispatch(trusted, "stream/create", {"streamDid": "did:plc:s1", "moduleCid": cid})
    yield server, catalog, cid
    catalog.close()


def _drisl_call(server, conn, endpoint, args):
    out = drisl.decode(server.handle(conn, endpoint, drisl.encode(args)))
    assert "Ok" in out or "Err" in out
    return out


class TestServerEndpoints:
    def test_module_exists(self, served):
        server, _, cid = served
        conn = Connection()
        out = _drisl_call(server, conn, "module/exists", {"cid": cid})
        assert out == {"Ok": {"exists": True}}
        out = _drisl_call(server, conn, "module/exists", {"cid": "0" * 64})
        assert out == {"Ok": {"exists": False}}

    def test_write_requires_auth(self, served):
        server, _, _ = served
        out = _drisl_call(
            server,
            Connection(),  # anonymous
            "stream/event_batch",
            {"streamDid": "did:plc:s1", "payloads": [drisl.encode({"content": "x"})]},
        )
        assert "Err" in out and "authentication" in out["Err"]

    def test_event_batch_query_roundtrip(self, served):
        server, _, _ = served
        alice = Connection(user="did:plc:alice")
        out = _drisl_call(
            server,
            alice,
            "stream/event_batch",
            {
                "streamDid": "did:plc:s1",
                "payloads": [
                    drisl.encode({"content": "hi", "sentAt": 5}),
                    drisl.encode({"content": "there", "sentAt": 6}),
                ],
            },
        )
        assert out["Ok"]["latestEvent"] == 2
        out = _drisl_call(
            server,
            Connection(),
            "stream/query",
            {"streamDid": "did:plc:s1", "query": {"name": "messages"}},
        )
        rows = out["Ok"]["rows"]
        assert len(rows) == 2
        assert rows[0]["content"] == {"$type": "muni.town.sqliteValue.text", "value": "hi"}

    def test_user_override_trust_gate(self, served):
        server, _, _ = served
        out = _drisl_call(
            server,
            Connection(user="did:plc:alice"),
            "stream/event_batch",
            {
                "streamDid": "did:plc:s1",
                "payloads": [drisl.encode({"content": "x"})],
                "userOverride": "did:plc:mallory",
            },
        )
        assert "Err" in out and "trusted" in out["Err"]

    def test_stream_info_and_handle(self, served):
        server, _, cid = served
        admin = Connection(user="did:plc:admin", trusted=True)
        _drisl_call(server, admin, "stream/set_handle",
                    {"streamDid": "did:plc:s1", "handle": "main-chat"})
        out = _drisl_call(server, Connection(), "stream/info", {"streamDid": "did:plc:s1"})
        assert out["Ok"]["handle"] == "main-chat"
        assert out["Ok"]["moduleCid"] == cid

    def test_admin_list_requires_trust(self, served):
        server, _, _ = served
        out = _drisl_call(server, Connection(user="did:plc:alice"), "admin/list_streams", {})
        assert "Err" in out
        out = _drisl_call(server, Connection(trusted=True), "admin/list_streams", {})
        assert any(s["streamDid"] == "did:plc:s1" for s in out["Ok"]["streams"])


class TestSubscriptions:
    def test_backfill_then_live(self, served):
        server, catalog, _ = served
        worker = catalog.worker("did:plc:s1")
        # explicit start=1 → backfill everything in pages of 1
        sub = worker.subscribe_events(None, LeafQuery("messages", start=1, limit=1))
        seen = []
        for _ in range(10):
            try:
                resp = sub.channel.get(timeout=20)
            except queue.Empty:
                break
            assert resp.error is None, resp.error
            seen.extend(r["idx"] for r in resp.rows)
            if not resp.has_more:
                break
        head = catalog.open("did:plc:s1").state.latest_idx
        assert seen == list(range(1, head + 1))  # pages concat to full range

        # live: a new event arrives → pushed incrementally
        alice = Connection(user="did:plc:alice")
        server.dispatch(
            alice,
            "stream/event_batch",
            {"streamDid": "did:plc:s1",
             "payloads": [drisl.encode({"content": "live!", "sentAt": 99})]},
        )
        resp = sub.channel.get(timeout=30)
        assert [r["idx"] for r in resp.rows] == [head + 1]
        assert resp.rows[0]["content"] == "live!"
        worker.unsubscribe(sub.sub_id)

    def test_default_subscription_is_new_events_only(self, served):
        server, catalog, _ = served
        worker = catalog.worker("did:plc:s1")
        sub = worker.subscribe_events(None, LeafQuery("messages"))
        with pytest.raises(queue.Empty):
            sub.channel.get(timeout=2)  # nothing historical delivered
        worker.unsubscribe(sub.sub_id)

    def test_update_pubsub(self, served):
        server, catalog, _ = served
        worker = catalog.worker("did:plc:s1")
        ch = worker.subscribe_updates()
        alice = Connection(user="did:plc:alice")
        server.dispatch(
            alice,
            "stream/event_batch",
            {"streamDid": "did:plc:s1",
             "payloads": [drisl.encode({"content": "ping", "sentAt": 1})]},
        )
        upd = ch.get(timeout=30)
        assert upd.kind == "new_events"
        assert upd.latest_idx == catalog.open("did:plc:s1").state.latest_idx


class TestCatalog:
    def test_module_gc_keeps_referenced(self, served):
        _, catalog, cid = served
        from .fixtures import COUNTER

        other = catalog.modules.upload(COUNTER)
        catalog.modules._staged[other] = 0  # expire TTL
        deleted = catalog.gc_modules()
        assert other in deleted and cid not in deleted
        assert catalog.modules.exists(cid)

    def test_reopen_from_metadata(self, spark, served):
        _, catalog, _ = served
        catalog.evict("did:plc:s1")
        s = catalog.open("did:plc:s1")
        assert len(s.query(None, LeafQuery("messages"))) == s.state.latest_idx

    def test_duplicate_handle_rejected(self, served):
        _, catalog, cid = served
        catalog.create_stream("did:plc:s2", cid)
        with pytest.raises(ValueError, match="taken"):
            catalog.set_handle("did:plc:s2", "main-chat")

    def test_commit_leaves_meta_file_and_info_reads_head(self, spark, tmp_path):
        """A commit rewrites no catalog-wide file: streams_meta.json keeps
        its bytes, and stream_info reads the head from the stream — open,
        evicted, and after the catalog is closed and reopened."""
        import os

        root = str(tmp_path)
        catalog = StreamCatalog(spark, root)
        cid = catalog.modules.upload(CHAT)
        did = "did:plc:meta1"
        s = catalog.create_stream(did, cid)
        meta_path = os.path.join(root, "streams_meta.json")
        with open(meta_path, "rb") as f:
            before = f.read()
        s.add_events([msg("a", "one", 1)])
        s.add_events([msg("b", "two", 2), msg("a", "three", 3)])
        with open(meta_path, "rb") as f:
            assert f.read() == before
        assert catalog.stream_info(did).latest_event == 3
        catalog.evict(did)
        assert catalog.stream_info(did).latest_event == 3
        catalog.close()

        reopened = StreamCatalog(spark, root)
        assert [i.latest_event for i in reopened.list_streams()] == [3]
        reopened.open(did).add_events([msg("c", "four", 4)])
        assert reopened.stream_info(did).latest_event == 4
        reopened.close()
        with open(meta_path, "rb") as f:
            assert f.read() == before
