"""CREATE TRIGGER folding (VERDICT missing #5) + task-8 hardening tests.

The reference's SQLite executes triggers natively (authorizer allows
CreateTrigger, leaf-stream/src/lib.rs:1005); here the body folds into the
mutation set-wise over ``new``/``old`` batch views.
"""

import pytest

from leaf_spark import drisl
from leaf_spark.dml import DmlExecutor, TableStore
from leaf_spark.fold import plan as fold_plan
from leaf_spark.module import BasicModuleDef, QueryDef, split_statements
from leaf_spark.stream import Stream
from leaf_spark.types import IncomingEvent, LeafQuery


@pytest.fixture()
def store(spark):
    st = TableStore(spark, "t_trig_")
    ex = DmlExecutor(st)
    ex.execute("create table items (id integer primary key, name text, qty integer)")
    ex.execute("create table audit (op text, item_id integer, detail text)")
    return st


def rows(store, table, order):
    return sorted(
        (r.asDict() for r in store.tables[table].collect()),
        key=lambda r: tuple((r[c] is None, r[c]) for c in order),
    )


class TestInsertTriggers:
    def test_after_insert_values_rewrite(self, store):
        ex = DmlExecutor(store)
        ex.execute(
            "create trigger log_ins after insert on items begin "
            "insert into audit values ('ins', new.id, new.name); end"
        )
        ex.execute("insert into items (id, name, qty) values (1, 'a', 5), (2, 'b', 6)")
        assert rows(store, "audit", ["item_id"]) == [
            {"op": "ins", "item_id": 1, "detail": "a"},
            {"op": "ins", "item_id": 2, "detail": "b"},
        ]

    def test_when_clause_filters(self, store):
        ex = DmlExecutor(store)
        ex.execute(
            "create trigger log_big after insert on items "
            "when new.qty > 10 begin "
            "insert into audit values ('big', new.id, null); end"
        )
        ex.execute("insert into items (id, name, qty) values (1, 'a', 5), (2, 'b', 50)")
        assert rows(store, "audit", ["item_id"]) == [
            {"op": "big", "item_id": 2, "detail": None}
        ]

    def test_counter_body_statement(self, store):
        ex = DmlExecutor(store)
        ex.execute("create table stats (k text primary key, n integer)")
        ex.execute("insert into stats values ('inserts', 0)")
        ex.execute(
            "create trigger cnt after insert on items begin "
            "update stats set n = n + (select count(*) from new) "
            "where k = 'inserts'; end"
        )
        ex.execute("insert into items (id, name, qty) values (1, 'a', 1), (2, 'b', 2)")
        ex.execute("insert into items (id, name, qty) values (3, 'c', 3)")
        assert rows(store, "stats", ["k"]) == [{"k": "inserts", "n": 3}]


class TestUpdateDeleteTriggers:
    def test_update_trigger_old_new_pairing(self, store):
        ex = DmlExecutor(store)
        ex.execute("insert into items (id, name, qty) values (1, 'a', 5), (2, 'b', 6)")
        ex.execute(
            "create trigger log_upd after update on items begin "
            "insert into audit values ('upd', new.id, "
            "cast(old.qty as text) || '->' || cast(new.qty as text)); end"
        )
        ex.execute("update items set qty = qty + 10 where id = 2")
        assert rows(store, "audit", ["item_id"]) == [
            {"op": "upd", "item_id": 2, "detail": "6->16"}
        ]

    def test_delete_trigger(self, store):
        ex = DmlExecutor(store)
        ex.execute("insert into items (id, name, qty) values (1, 'a', 5), (2, 'b', 6)")
        ex.execute(
            "create trigger log_del after delete on items begin "
            "insert into audit values ('del', old.id, old.name); end"
        )
        ex.execute("delete from items where qty > 5")
        assert rows(store, "audit", ["item_id"]) == [
            {"op": "del", "item_id": 2, "detail": "b"}
        ]
        assert len(store.tables["items"].collect()) == 1

    def test_upsert_fires_insert_and_update(self, store):
        ex = DmlExecutor(store)
        ex.execute("insert into items (id, name, qty) values (1, 'a', 5)")
        ex.execute(
            "create trigger log_ins after insert on items begin "
            "insert into audit values ('ins', new.id, null); end"
        )
        ex.execute(
            "create trigger log_upd after update on items begin "
            "insert into audit values ('upd', new.id, null); end"
        )
        ex.execute(
            "insert into items (id, name, qty) values (1, 'x', 9), (3, 'c', 7) "
            "on conflict(id) do update set qty = excluded.qty"
        )
        assert rows(store, "audit", ["op", "item_id"]) == [
            {"op": "ins", "item_id": 3, "detail": None},
            {"op": "upd", "item_id": 1, "detail": None},
        ]

    def test_drop_trigger(self, store):
        ex = DmlExecutor(store)
        ex.execute(
            "create trigger t1 after insert on items begin "
            "insert into audit values ('x', new.id, null); end"
        )
        ex.execute("drop trigger t1")
        ex.execute("insert into items (id, name, qty) values (9, 'z', 0)")
        assert store.tables["audit"].count() == 0
        from leaf_spark.sqlcompat import SqlTranslationError

        with pytest.raises(SqlTranslationError, match="no such trigger"):
            ex.execute("drop trigger t1")


TRIG_MOD = BasicModuleDef(
    init_sql=(
        "create table if not exists msgs (idx integer primary key, body text); "
        "create table if not exists audit (idx integer, note text); "
        "create trigger if not exists log after insert on msgs begin "
        "insert into audit values (new.idx, 'seen'); end"
    ),
    materializer=(
        "insert into msgs (idx, body) select idx, drisl_extract(payload, '.b') from event;"
    ),
    queries=(
        QueryDef("audit", "select idx, note from audit order by idx"),
        QueryDef("msgs", "select idx, body from msgs order by idx"),
    ),
)


class TestTriggersInModules:
    def test_module_trigger_fires_per_event(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:trig")
        s.provide_module(TRIG_MOD)
        # trigger on the insert target forces the per-event fold path
        assert fold_plan.plan(split_statements(TRIG_MOD.materializer), s.store) is None
        s.add_events(
            [
                IncomingEvent("u", drisl.encode({"b": "one"})),
                IncomingEvent("u", drisl.encode({"b": "two"})),
            ]
        )
        assert s.query(None, LeafQuery("audit")) == [
            {"idx": 1, "note": "seen"},
            {"idx": 2, "note": "seen"},
        ]

    def test_trigger_survives_snapshot_reopen(self, spark, tmp_root):
        s = Stream(spark, tmp_root, "did:plc:trig2")
        s.provide_module(TRIG_MOD)
        s.add_events([IncomingEvent("u", drisl.encode({"b": "one"}))])
        s.persist_state()
        s2 = Stream(spark, tmp_root, "did:plc:trig2")
        s2.provide_module(TRIG_MOD)
        s2.add_events([IncomingEvent("u", drisl.encode({"b": "two"}))])
        assert s2.query(None, LeafQuery("audit")) == [
            {"idx": 1, "note": "seen"},
            {"idx": 2, "note": "seen"},
        ]


class TestServerHardening:
    def test_module_upload_cap(self, spark, tmp_root):
        from leaf_spark.catalog import StreamCatalog
        from leaf_spark.server import Connection, LeafServer

        server = LeafServer(StreamCatalog(spark, tmp_root))
        conn = Connection(user="did:plc:u")
        big = drisl.encode({"module": {"blob": b"x" * (11 * 1024 * 1024)}})
        out = drisl.decode(server.handle(conn, "module/upload", big))
        assert "Err" in out and "10MB" in out["Err"]

    def test_emit_backoff_delivers_after_drain(self, spark, tmp_root):
        """A full channel delays delivery instead of dropping it."""
        import queue
        import threading
        import time

        from leaf_spark.streaming import subscribe as sub_mod

        class FakeStream:
            def __init__(self):
                self.state = type("S", (), {"latest_idx": 0})()

            def on_update(self, cb):
                return lambda: None

        w = sub_mod.SubscriptionWorker(FakeStream())
        try:
            ch: queue.Queue = queue.Queue(maxsize=1)
            ch.put("occupied")

            def drain():
                time.sleep(0.3)
                ch.get()

            t = threading.Thread(target=drain)
            t.start()
            assert w._emit(ch, "delivered") is True
            t.join()
            assert ch.get() == "delivered"
        finally:
            w.close()


class TestEcdsaSigning:
    def test_sign_verify_roundtrip(self):
        pytest.importorskip("cryptography")
        from cryptography.hazmat.primitives import serialization
        from cryptography.hazmat.primitives.asymmetric import ec

        from leaf_spark.stream import ecdsa_signer, verify_batch_signature

        key = ec.generate_private_key(ec.SECP256R1())
        priv_pem = key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        )
        pub_pem = key.public_key().public_bytes(
            serialization.Encoding.PEM,
            serialization.PublicFormat.SubjectPublicKeyInfo,
        )
        payloads = [drisl.encode({"n": 1}), drisl.encode({"n": 2})]
        sig = ecdsa_signer(priv_pem)(payloads)
        assert verify_batch_signature(pub_pem, payloads, sig)
        assert not verify_batch_signature(pub_pem, payloads[:1], sig)

    def test_stream_uses_custom_signer(self, spark, tmp_root):
        pytest.importorskip("cryptography")
        from cryptography.hazmat.primitives import serialization
        from cryptography.hazmat.primitives.asymmetric import ec

        from leaf_spark.stream import ecdsa_signer, verify_batch_signature

        from .fixtures import CHAT, msg

        key = ec.generate_private_key(ec.SECP256R1())
        priv_pem = key.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        )
        pub_pem = key.public_key().public_bytes(
            serialization.Encoding.PEM,
            serialization.PublicFormat.SubjectPublicKeyInfo,
        )
        s = Stream(spark, tmp_root, "did:plc:signed")
        s.provide_module(CHAT)
        events = [msg("a", "m1", 1), msg("a", "m2", 2)]
        s.add_events(events, signer=ecdsa_signer(priv_pem))
        stored = s.raw_get_events()
        assert verify_batch_signature(
            pub_pem, [e.payload for e in events], stored[0].signature
        )
