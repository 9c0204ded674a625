"""Stream engine — append/authorize/materialize/replay/query (SURVEY §2.A).

Parity map (reference file:line → here):

- A1  add_events atomic batch      leaf-stream/src/lib.rs:596-719
- A2  batch signing                leaf-stream/src/lib.rs:621-632 (stubbed
      as sha-256 over the DRISL batch; ECDSA slot documented)
- A3  authorize filter             leaf-stream/src/module/basic.rs:134-158
- A4  materialize fold             leaf-stream/src/module/basic.rs:76-105
- A5  state-event fold             leaf-stream/src/lib.rs:721-773
- A6  replay / catch-up            leaf-stream/src/lib.rs:468-590
- A7  raw range scan               leaf-stream/src/lib.rs:775-817
- A8  raw import                   leaf-stream/src/lib.rs:819-840
- A9  named-query dispatch         leaf-stream/src/lib.rs:842-862
- A10 param binding + builtins     leaf-stream/src/module/basic.rs:193-214
- A14 module provide/swap          leaf-stream/src/lib.rs:391-454
- A15 clear ephemeral state        leaf-stream/src/lib.rs:173-217
- A16 open/bootstrap               leaf-stream/src/lib.rs:237-330

Architecture (Spark-first, not a port):

- The event log is an append-only parquet directory per stream; files are
  written by the single-writer commit path (pyarrow, driver-side — an event
  batch is small) and read by Spark jobs (replay, queries, streaming). At
  100 TB the same layout partitions by stream and prunes on idx min/max.
- The commit point is ``stream.json`` (atomic rename): events files contain
  only rows ≤ latest_idx; a crash between parquet write and state update
  leaves ignorable orphan rows — the WAL-equivalent of the reference's
  ``begin immediate … commit``.
- Materialized tables are Spark DataFrames managed by dml.TableStore,
  rebuilt by deterministic replay (the reference's own recovery path) and
  folded batch-wise: statements that are provably set-oriented
  (INSERT…SELECT FROM event, incl. ON CONFLICT upserts with last-per-key
  dedup) run once per batch as one distributed job; anything else falls
  back to per-event application in idx order (reference semantics,
  lib.rs:543-569).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import threading
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import drisl, localexec
from .dml import DmlExecutor, TableStore, flat_name, int_pk, qualified_name
from .module import BasicModuleDef, split_statements, strip_comments
from .sqlcompat import Authorizer, classify, tokenize, _is_word
from .types import Event, IncomingEvent, LeafQuery, SqlValue, validate_params

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("idx", T.LongType(), False),
        T.StructField("user", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("signature", T.BinaryType(), True),
    ]
)

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("idx", pa.int64(), nullable=False),
        pa.field("user", pa.string(), nullable=False),
        pa.field("payload", pa.binary(), nullable=False),
        pa.field("signature", pa.binary()),
    ]
)


class StreamError(RuntimeError):
    pass


class BatchRejected(StreamError):
    """Authorizer rejected an event → the WHOLE batch rolls back
    (reference lib.rs:592-595)."""


def _norm_sql_value(v):
    """Normalize a Spark-collected query value to the reference's SQLite
    value space: booleans → 1/0 (SQLite has no boolean storage class;
    the wire codec already maps bool→integer) and bytearray → bytes.
    Keeps the Spark path and the driver-side sqlite read path
    value-identical."""
    if isinstance(v, bool):
        return 1 if v else 0
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _safe_dirname(did: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", did)


def default_signer(batch_payloads: list[bytes]) -> bytes:
    """A2 fallback: one signature per batch over the DRISL-encoded payload
    list.

    The reference signs with ECDSA P256/K256 (lib.rs:623-632); without a key
    we compute a deterministic sha-256 so replay/backup round-trips are
    checkable. For real signing use ``ecdsa_signer`` (P-256 via the
    ``cryptography`` package when importable).
    """
    return hashlib.sha256(drisl.encode([bytes(p) for p in batch_payloads])).digest()


def ecdsa_signer(private_key_pem: bytes):
    """A2: ECDSA P-256 batch signer over the same DRISL batch encoding the
    reference signs (``key.sign(drisl(events))``, lib.rs:628-632).

    Returns a ``signer`` callable for Stream.add_events. Requires the
    ``cryptography`` package; raises ImportError otherwise (callers fall
    back to ``default_signer``)."""
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec

    key = serialization.load_pem_private_key(private_key_pem, password=None)

    def signer(batch_payloads: list[bytes]) -> bytes:
        data = drisl.encode([bytes(p) for p in batch_payloads])
        return key.sign(data, ec.ECDSA(hashes.SHA256()))

    return signer


def verify_batch_signature(
    public_key_pem: bytes, batch_payloads: list[bytes], signature: bytes
) -> bool:
    """Verify an ``ecdsa_signer`` signature against the batch payloads."""
    from cryptography.exceptions import InvalidSignature
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec

    pub = serialization.load_pem_public_key(public_key_pem)
    data = drisl.encode([bytes(p) for p in batch_payloads])
    try:
        pub.verify(signature, data, ec.ECDSA(hashes.SHA256()))
        return True
    except InvalidSignature:
        return False


@dataclass
class StreamState:
    """≈ stream_state row (streamdb_schema_00.sql:12-21)."""

    stream_did: str
    latest_idx: int = 0
    module_cid: str | None = None
    module_event_cursor: int = 0


@dataclass(frozen=True)
class FoldStep:
    """One materializer statement's place in a fold plan
    (``Stream._fold_plan``). ``kind`` is ``plain`` (one set-wise
    statement over the whole batch), ``roundwise`` (an accumulating
    upsert applied in per-key occurrence rounds), ``compiled`` (the dedup
    idiom or an event-keyed DELETE rewritten set-wise) or ``pooled`` (a
    shared-target group applied in pooled per-key rounds)."""

    kind: str
    sql: str  # the statement as it executes (compiled / __ord__-injected)
    target: str | None = None  # pooled: the group's flat target
    group: list | None = None  # pooled: the group, on its FIRST member only


class Stream:
    """One append-only, totally-ordered event log + its module-defined
    materialized state. Single writer per stream (threading lock ≈ the
    reference's async write lock, lib.rs:607-617)."""

    def __init__(
        self,
        spark: SparkSession,
        root_dir: str,
        stream_did: str,
        authorizer: Authorizer | None = None,
        snapshot_every: int = 256,
        snapshot_frac: float = 0.25,
        compact_files: int = 0,
    ):
        self.spark = spark
        self.stream_did = stream_did
        self.dir = os.path.join(root_dir, "streams", _safe_dirname(stream_did))
        self.events_dir = os.path.join(self.dir, "events")
        # parquet state snapshots (≈ the reference's module_<cid>.db +
        # state.db files, streams.rs:101-150): reopen loads the snapshot and
        # replays only the tail beyond its cursor. Cadence: snapshot once the
        # un-snapshotted tail reaches max(snapshot_every,
        # snapshot_frac·snapshot_cursor). The proportional term is the scale
        # guard — a snapshot rewrites the FULL state (O(state) parquet), so a
        # fixed cadence costs O(state²/snapshot_every) cumulative over a long
        # log; the doubling-style cadence keeps it amortized O(1) per event
        # while bounding recovery replay to snapshot_frac of the log.
        self.snapshot_every = snapshot_every
        self.snapshot_frac = snapshot_frac
        # auto-compaction cadence: when > 0, compact_log() runs as part of
        # batch maintenance once the committed log holds this many files —
        # the same between-batches slot snapshots use, so ingest latency
        # pays for maintenance at a bounded, amortized rate. 0 keeps
        # compaction an explicit maintenance call (the default: some
        # deployments schedule it off-peak instead).
        self.compact_files = compact_files
        self._snap_cursor = 0
        # table registration version at the last persisted snapshot —
        # persist_state skips rewriting (and re-registering) tables whose
        # version is unchanged, referencing the prior snapshot files in
        # the new manifest instead. Any mutation, rollback-restore, or
        # checkpoint re-registration bumps the store version and forces a
        # rewrite (the safe direction).
        self._snap_table_versions: dict[str, int] = {}
        self._lock = threading.RLock()
        # per-stream FAIR scheduler pool (pools are created on demand by
        # name): commit jobs and subscription re-queries submitted from a
        # thread that entered _scheduler_pool() share this stream's pool,
        # so N concurrent streams split the cores N ways instead of
        # FIFO-queueing whole job chains behind each other. On a real
        # cluster the same property routes to YARN/K8s FAIR pools.
        self._pool_name = "stream-" + hashlib.sha256(
            stream_did.encode()
        ).hexdigest()[:10]
        self.sql_authorizer = authorizer or Authorizer()
        self.module: BasicModuleDef | None = None
        prefix = "leaf_" + hashlib.sha256(stream_did.encode()).hexdigest()[:10] + "_"
        self.store = TableStore(spark, prefix)
        self._update_listeners: list[Callable[[int], None]] = []
        # driver-side sqlite evaluator for event-only statements (lazy;
        # see localexec.py — removes the per-commit Python-runner jobs)
        self._local_eval_inst: localexec.LocalEval | None = None
        self._mirror_versions: dict[str, int] = {}
        # rows currently staged per mirror — the append-growth budget
        # (_MIRROR_CAP_APPEND) is enforced against this
        self._mirror_rows: dict[str, int] = {}
        # table versions whose mirror staging FAILED (> cap /
        # unmirrorable) — skip re-probing until the version changes
        self._mirror_failed: dict[str, int] = {}
        os.makedirs(self.events_dir, exist_ok=True)
        self._recover_compaction()
        self.state = self._load_state()
        drisl.register_udfs(spark)
        from .sqlcompat import register_json_udfs

        register_json_udfs(spark)

    def _event_local_df(
        self, rows: list[tuple], schema: T.StructType = EVENT_SCHEMA
    ) -> DataFrame:
        """Stage event tuples (in ``schema`` field order) as a JVM-local
        DataFrame via pandas/Arrow. A plain ``createDataFrame(list)``
        pickles the rows into a PythonRDD, so EVERY downstream action
        (authorize take, fold insert, checkpoint) re-runs a Python worker
        round-trip — measured ~295 ms per action vs ~6 ms for the Arrow
        path's ``LocalTableScan`` (53x). The fold/authorize chain runs
        3-5 actions per commit, so this is most of the single-event
        commit latency. Falls back to the classic path on any Arrow
        conversion failure (never a correctness dependency)."""
        from .localdf import arrow_local_df

        return arrow_local_df(self.spark, rows, schema)

    def _scheduler_pool(self):
        """Route jobs submitted from the calling thread into this stream's
        FAIR pool (restoring the caller's previous pool on exit). Local
        properties are per-thread (PySpark pinned-thread mode), so
        concurrent streams' commit/query chains schedule fairly instead of
        FIFO-queueing behind each other — measured 4-stream push p95 drops
        ~2.5x (SCALE.md subscription table)."""
        from contextlib import contextmanager

        @contextmanager
        def _cm():
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.scheduler.pool")
            sc.setLocalProperty("spark.scheduler.pool", self._pool_name)
            try:
                yield
            finally:
                sc.setLocalProperty("spark.scheduler.pool", prev)

        return _cm()

    # -- A16 open/bootstrap --------------------------------------------------

    def _state_path(self) -> str:
        return os.path.join(self.dir, "stream.json")

    def _load_state(self) -> StreamState:
        p = self._state_path()
        if os.path.exists(p):
            with open(p) as f:
                d = json.load(f)
            if d["stream_did"] != self.stream_did:
                raise StreamError(
                    f"stream dir {self.dir} belongs to {d['stream_did']}"
                )
            return StreamState(**d)
        return StreamState(self.stream_did)

    def _commit_state(self) -> None:
        tmp = self._state_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state.__dict__, f)
        os.replace(tmp, self._state_path())  # the atomic commit point

    # -- event log access ----------------------------------------------------

    def events_df(self) -> DataFrame:
        """The committed event log (rows beyond the commit point filtered —
        crash-orphan tolerance).

        Reads the explicit overlap-deduped file list from ``_log_files``
        rather than the directory: during compact_log's publish window the
        merged file and its sources coexist, and a directory read would
        double-count that range (``_compacting-*`` temp files are already
        invisible via the leading underscore, but the published final is
        not)."""
        files = [p for _, _, p in self._log_files()]
        if not files:
            from .localdf import arrow_local_df

            return arrow_local_df(self.spark, [], EVENT_SCHEMA)
        return self.spark.read.schema(EVENT_SCHEMA).parquet(*files).where(
            F.col("idx") <= self.state.latest_idx
        )

    def raw_get_events(self, lo: int = 1, hi: int | None = None) -> list[Event]:
        """A7: range scan bypassing module/ACL (backup path)."""
        df = self.events_df().where(F.col("idx") >= lo)
        if hi is not None:
            df = df.where(F.col("idx") <= hi)
        return [
            Event(r["idx"], r["user"], bytes(r["payload"]), bytes(r["signature"] or b""))
            for r in df.orderBy("idx").collect()
        ]

    def raw_import_events(self, events: list[Event]) -> None:
        """A8: sequentiality-checked bulk insert (restore path)."""
        with self._lock:
            expect = self.state.latest_idx + 1
            for e in events:
                if e.idx != expect:
                    raise StreamError(f"import gap: expected idx {expect}, got {e.idx}")
                expect += 1
            if not events:
                return
            self._append_parquet(events)
            self.state.latest_idx = events[-1].idx
            self._commit_state()

    def _append_parquet(self, events: list[Event]) -> None:
        t = pa.Table.from_pydict(
            {
                "idx": [e.idx for e in events],
                "user": [e.user for e in events],
                "payload": [e.payload for e in events],
                "signature": [e.signature for e in events],
            },
            schema=_ARROW_SCHEMA,
        )
        path = os.path.join(
            self.events_dir, f"part-{events[0].idx:012d}-{events[-1].idx:012d}.parquet"
        )
        pq.write_table(t, path)

    # -- log compaction (small-files control) --------------------------------

    def _journal_path(self) -> str:
        return os.path.join(self.dir, "compact.journal.json")

    def _log_files(self) -> list[tuple[int, int, str]]:
        """Committed log files as (start_idx, end_idx, path), idx-sorted.

        Overlap-deduped: during compact_log's publish window the merged
        file (renamed into place FIRST) briefly coexists with the source
        files it covers; sorting wider-range-first and skipping any file
        whose range is contained in the previous one makes every listing
        prefer the merged file, so a concurrent reader sees each event
        exactly once rather than duplicated (or — under the old
        unlink-first order — missing)."""
        out = []
        for name in os.listdir(self.events_dir):
            m = re.fullmatch(r"part-(\d{12})-(\d{12})\.parquet", name)
            if m:
                out.append(
                    (int(m.group(1)), int(m.group(2)), os.path.join(self.events_dir, name))
                )
        out.sort(key=lambda f: (f[0], -f[1]))
        dedup: list[tuple[int, int, str]] = []
        for f in out:
            if dedup and f[1] <= dedup[-1][1]:
                continue  # range contained in the previous (wider) file
            dedup.append(f)
        return dedup

    def compact_log(
        self, target_bytes: int = 128 * 1024 * 1024, min_group: int = 2
    ) -> int:
        """Bin-pack adjacent small log files into ~target_bytes files.

        One parquet file lands per committed batch (`_append_parquet`), so a
        long-lived stream accumulates thousands of tiny files — the classic
        small-files failure: every replay/range scan pays per-file footer
        reads and scheduler overhead instead of sequential row-group IO.
        (The reference never meets this because SQLite is one file —
        leaf-stream/src/streams.rs:101-150 keeps a single db per stream;
        this is the parquet-log equivalent of its compile-time layout.)

        Crash-safe roll-forward protocol, per merged group:
          1. stream-write the merged file as ``_compacting-*`` (the leading
             underscore hides it from Spark's file listings) and fsync;
          2. atomically publish a journal naming sources/tmp/final
             (``os.replace`` — the commit point of the swap);
          3. rename tmp → final; 4. unlink the sources; 5. drop the journal.
        A crash anywhere replays forward on next open (`_recover_compaction`):
        before the journal exists nothing observable changed; after it, the
        merged file already holds every source row, so finishing the deletes
        and the rename is always safe. Runs under the stream's single-writer
        lock; like a snapshot, it is a between-batches maintenance action —
        concurrent ad-hoc scans of the raw log should be quiesced, exactly
        as the reference serializes maintenance on its write lock. A
        streaming file source tailing the raw directory sees merged files as
        new inputs (the standard Spark file-source caveat); subscriptions
        and queries read materialized state and keep cursor semantics.

        Merging streams row groups file-by-file (constant memory, no Spark
        job — the same driver-side path that wrote the batches). Returns the
        number of merged groups."""
        with self._lock:
            files = [
                f for f in self._log_files() if f[1] <= self.state.latest_idx
            ]
            groups: list[list[tuple[int, int, str]]] = []
            cur: list[tuple[int, int, str]] = []
            cur_bytes = 0
            for f in files:
                sz = os.path.getsize(f[2])
                contiguous = not cur or f[0] == cur[-1][1] + 1
                if cur and (not contiguous or cur_bytes + sz > target_bytes):
                    groups.append(cur)
                    cur, cur_bytes = [], 0
                cur.append(f)
                cur_bytes += sz
            if cur:
                groups.append(cur)
            merged = 0
            for g in groups:
                if len(g) < min_group:
                    continue
                start, end = g[0][0], g[-1][1]
                final = os.path.join(
                    self.events_dir, f"part-{start:012d}-{end:012d}.parquet"
                )
                tmp = os.path.join(
                    self.events_dir, f"_compacting-{start:012d}-{end:012d}.parquet"
                )
                writer = pq.ParquetWriter(tmp, _ARROW_SCHEMA)
                for _, _, path in g:
                    writer.write_table(pq.read_table(path, schema=_ARROW_SCHEMA))
                writer.close()
                with open(tmp, "rb") as fh:
                    os.fsync(fh.fileno())
                jtmp = self._journal_path() + ".tmp"
                with open(jtmp, "w") as fh:
                    json.dump(
                        {
                            "sources": [p for _, _, p in g],
                            "tmp": tmp,
                            "final": final,
                        },
                        fh,
                    )
                    fh.flush()
                    os.fsync(fh.fileno())
                os.replace(jtmp, self._journal_path())  # swap commit point
                # publish BEFORE unlinking: a concurrent listing never sees
                # the range missing — at worst it sees merged + sources
                # together, which _log_files' overlap-dedup resolves to the
                # merged file alone (ADVICE r5: the old unlink-first order
                # left a window where the range's events vanished from
                # ad-hoc raw scans)
                os.replace(tmp, final)
                for _, _, path in g:
                    os.unlink(path)
                os.unlink(self._journal_path())
                merged += 1
            return merged

    def _recover_compaction(self) -> None:
        """Roll an interrupted compact_log forward (see protocol above)."""
        jp = self._journal_path()
        if os.path.exists(jp):
            with open(jp) as fh:
                j = json.load(fh)
            if os.path.exists(j["tmp"]) or os.path.exists(j["final"]):
                # journal published → the merged file holds every source row
                for src in j["sources"]:
                    if os.path.exists(src):
                        os.unlink(src)
                if os.path.exists(j["tmp"]):
                    os.replace(j["tmp"], j["final"])
            os.unlink(jp)
        # pre-journal temp files are invisible leftovers — drop them
        for name in os.listdir(self.events_dir):
            if name.startswith("_compacting-"):
                os.unlink(os.path.join(self.events_dir, name))

    # -- state snapshots (persistence across restarts) -----------------------

    def _snapshot_base(self) -> str:
        return os.path.join(self.dir, "snapshot")

    def _snapshot_manifest_path(self) -> str:
        return os.path.join(self._snapshot_base(), "manifest.json")

    def persist_state(self) -> None:
        """Write every materialized table (incl. state.*) as parquet plus a
        manifest carrying the module CID, fold cursor, schemas, and views.

        Mirrors the reference's durable module_<cid>.db / state.db files
        (leaf-server/src/streams.rs:101-150) with a Spark-native layout:
        tables are written from executors (``df.write.parquet`` — no driver
        materialization), versioned under ``snapshot/v<seq>/``, and the
        manifest rename is the atomic commit point. After the write, tables
        are re-registered as reads OF the new snapshot, which truncates
        lineage and lets the previous version be garbage-collected safely."""
        with self._lock:
            if self.module is None:
                return
            base = self._snapshot_base()
            prev = None
            if os.path.exists(self._snapshot_manifest_path()):
                with open(self._snapshot_manifest_path()) as f:
                    prev = json.load(f)
            seq = (prev["seq"] + 1) if prev else 1
            vdir = os.path.join(base, f"v{seq:06d}")
            prev_tables = (prev or {}).get("tables", {})
            prev_seq_dir = f"v{prev['seq']:06d}" if prev else ""
            tables_meta: dict[str, dict] = {}
            for name, tdef in self.store.defs.items():
                schema_json = tdef.schema.json()
                pm = prev_tables.get(name)
                prev_paths = None
                if pm is not None and pm.get("schema") == schema_json:
                    prev_paths = pm.get("paths") or [
                        pm.get("path", f"{prev_seq_dir}/{name}")
                    ]
                    if not all(
                        os.path.isdir(os.path.join(base, p))
                        for p in prev_paths
                    ):
                        prev_paths = None
                deltas = self.store.snap_deltas(name)
                if (
                    prev_paths is not None
                    and deltas == []
                    and self._snap_table_versions.get(name)
                    == self.store.table_version(name)
                ):
                    # untouched since the last persist: the new manifest
                    # references the existing files (no rewrite, no
                    # re-register → the table's version stays stable, so
                    # localexec mirrors keyed on it stay valid too)
                    tables_meta[name] = {
                        **pm,
                        "paths": prev_paths,
                        # schema metadata refreshes from the live def even
                        # when the data is untouched (a pre-fix manifest
                        # may lack these keys)
                        "defaults": dict(tdef.defaults),
                        "unique_cols": sorted(tdef.unique_cols),
                    }
                    continue
                rel = f"v{seq:06d}/{name}"
                path = os.path.join(base, rel)
                if (
                    prev_paths is not None
                    and deltas
                    and len(prev_paths) < self._SNAPSHOT_CHAIN_CAP
                ):
                    # incremental snapshot: every mutation since the last
                    # persist was a pure driver-local append — write ONLY
                    # the delta rows as a new chain link; the table is the
                    # union of all chain dirs. O(delta) per persist
                    # regardless of table size (the SQLite-txn analogue).
                    d = deltas[0]
                    for extra in deltas[1:]:
                        d = d.unionByName(extra)
                    if self._write_snapshot_table(name, tdef, path, df=d):
                        paths = prev_paths + [rel]
                        tables_meta[name] = {
                            "schema": schema_json,
                            "primary_key": list(tdef.primary_key),
                            "is_state": tdef.is_state,
                            "defaults": dict(tdef.defaults),
                            "unique_cols": sorted(tdef.unique_cols),
                            "paths": paths,
                        }
                        self.store.reregister_preserving(
                            name, self._read_chain(tdef.schema, paths)
                        )
                        self._snap_table_versions[name] = (
                            self.store.table_version(name)
                        )
                        self.store.snapshot_written(name)
                        continue
                    # delta too big / unconvertible → full rewrite below
                if not self._write_snapshot_table(name, tdef, path):
                    self.store.tables[name].write.mode(
                        "overwrite"
                    ).parquet(path)
                tables_meta[name] = {
                    "schema": schema_json,
                    "primary_key": list(tdef.primary_key),
                    "is_state": tdef.is_state,
                    "defaults": dict(tdef.defaults),
                    "unique_cols": sorted(tdef.unique_cols),
                    "paths": [rel],
                }
                # re-point the live DataFrame at the durable copy: truncates
                # lineage and drops references to the previous snapshot files
                self.store.reregister_preserving(
                    name, self.spark.read.schema(tdef.schema).parquet(path)
                )
                self._snap_table_versions[name] = self.store.table_version(
                    name
                )
                self.store.snapshot_written(name)
            manifest = {
                "module_cid": self.state.module_cid,
                "cursor": self.state.module_event_cursor,
                "seq": seq,
                "tables": tables_meta,
                "views": dict(self.store.views),
                "triggers": {
                    n: t.__dict__ | {"body": list(t.body)}
                    for n, t in self.store.triggers.items()
                },
                "unique_indexes": {
                    ix: list(tc)
                    for ix, tc in self.store.unique_indexes.items()
                },
            }
            tmp = self._snapshot_manifest_path() + ".tmp"
            os.makedirs(base, exist_ok=True)
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            os.replace(tmp, self._snapshot_manifest_path())
            # GC superseded table snapshots at per-table granularity —
            # unchanged tables reference files possibly several seqs old,
            # so a v<seq> dir stays only as long as some table still
            # points into it; superseded sibling copies go now
            live = {p for m in tables_meta.values() for p in m["paths"]}
            for d in os.listdir(base):
                if not d.startswith("v") or d == f"v{seq:06d}":
                    continue
                dpath = os.path.join(base, d)
                if not os.path.isdir(dpath):
                    continue
                for t in os.listdir(dpath):
                    if f"{d}/{t}" not in live:
                        shutil.rmtree(
                            os.path.join(dpath, t), ignore_errors=True
                        )
                if not os.listdir(dpath):
                    os.rmdir(dpath)
            self._snap_cursor = self.state.module_event_cursor

    def _read_chain(self, schema, rels: list) -> "DataFrame":
        """Read a snapshot chain (base + delta dirs) preserving insertion
        order. A single ``spark.read.parquet(*dirs)`` packs input files
        into partitions sorted by SIZE, so base and delta rows can
        interleave — order-sensitive SQLite semantics (scalar subqueries,
        LIMIT without ORDER BY, mirror first-row answers) would silently
        diverge after a persist or restart. Union concatenates its
        children's partitions in order, so per-dir reads unioned in chain
        order keep rowid-like scan order stable."""
        base = self._snapshot_base()
        df = None
        for r in rels:
            part = self.spark.read.schema(schema).parquet(
                os.path.join(base, r)
            )
            df = part if df is None else df.unionByName(part)
        return df

    def _drop_snapshot(self) -> None:
        shutil.rmtree(self._snapshot_base(), ignore_errors=True)
        self._snap_cursor = 0
        self._snap_table_versions.clear()

    def _try_load_snapshot(self) -> bool:
        """Load the persisted tables if the snapshot matches the installed
        module; returns True when tables were restored (fold cursor set to
        the snapshot's — catch_up then replays only the tail)."""
        p = self._snapshot_manifest_path()
        if not os.path.exists(p):
            return False
        with open(p) as f:
            manifest = json.load(f)
        if (
            manifest["module_cid"] != self.state.module_cid
            or manifest["cursor"] > self.state.latest_idx
        ):
            # stale snapshot from another module (reference deletes stray
            # module_*.db files on load, streams.rs:116-127) or a cursor
            # beyond the committed log (corrupt) → full replay instead
            self._drop_snapshot()
            return False
        from .dml import TableDef

        base = self._snapshot_base()
        for name, meta in manifest["tables"].items():
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            tdef = TableDef(
                name,
                schema,
                tuple(meta["primary_key"]),
                meta["is_state"],
                # pre-fix manifests carry no defaults/unique_cols — a
                # restore from one loses DDL DEFAULT expressions until
                # the next persist refreshes the manifest (the old,
                # silently-diverging behavior, now only transitional)
                dict(meta.get("defaults", {})),
                set(meta.get("unique_cols", [])),
            )
            # per-table path chain: unchanged tables reference files from
            # an earlier seq; append-only tables a list of delta dirs
            # (pre-r9 manifests carry neither → the seq dir)
            rels = meta.get("paths") or [
                meta.get("path", f"v{manifest['seq']:06d}/{name}")
            ]
            df = self._read_chain(schema, rels)
            self.store.defs[name] = tdef
            self.store.register(name, df)
            self._snap_table_versions[name] = self.store.table_version(name)
            self.store.snapshot_written(name)
        self.store.views = dict(manifest.get("views", {}))
        self.store.unique_indexes = {
            ix: tuple(tc)
            for ix, tc in manifest.get("unique_indexes", {}).items()
        }
        from .dml import TriggerDef

        self.store.triggers = {
            n: TriggerDef(**{**d, "body": tuple(d["body"])})
            for n, d in manifest.get("triggers", {}).items()
        }
        self.state.module_event_cursor = manifest["cursor"]
        self._snap_cursor = manifest["cursor"]
        return True

    # tables at most this many rows snapshot via a driver-side pyarrow
    # write: a Spark parquet write JOB costs ~300 ms of fixed commit
    # machinery regardless of size, and the snapshot cadence made that
    # ~60% of batch-ingest wall time for small-state modules. Large
    # tables keep the executor-side write (no driver materialization).
    _SNAPSHOT_DRIVER_CAP = 10_000

    # incremental snapshots chain at most this many part dirs before a
    # full rewrite compacts them (bounds restore-time file listing and
    # read fan-in; the LSM compaction analogue)
    _SNAPSHOT_CHAIN_CAP = 8

    def _write_snapshot_table(
        self, name: str, tdef, path: str, df=None
    ) -> bool:
        """Write a small table's snapshot directly with pyarrow. The
        layout matches the restore path exactly (a directory holding
        parquet files, read back via spark.read.schema(...).parquet);
        arrow types come from the Spark schema, so read-back types are
        identical. Returns False (caller uses the Spark writer) for
        big/unconvertible tables — never a correctness dependency.
        ``df`` overrides the source frame (the incremental-snapshot path
        writes just the append delta)."""
        try:
            src = df if df is not None else self.store.tables[name]
            rows = src.take(self._SNAPSHOT_DRIVER_CAP + 1)
            if len(rows) > self._SNAPSHOT_DRIVER_CAP:
                return False
            from pyspark.sql.pandas.types import to_arrow_schema

            asch = to_arrow_schema(tdef.schema)
            cols = tdef.schema.fieldNames()
            tbl = pa.Table.from_pydict(
                {c: [r[c] for r in rows] for c in cols}, schema=asch
            )
            # a persist that crashed before the manifest rename leaves its
            # part files in this same v<seq> dir (the manifest seq never
            # advanced); the Spark writer clears them via mode('overwrite'),
            # this path must clear them itself or restore would read
            # stale+new parts merged
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
            pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))
            return True
        except Exception:
            return False

    def _maybe_persist(self) -> None:
        since = self.state.module_event_cursor - self._snap_cursor
        threshold = max(self.snapshot_every, int(self.snapshot_frac * self._snap_cursor))
        if since >= threshold:
            self.persist_state()
        if self.compact_files > 0:
            committed = sum(
                1 for f in self._log_files() if f[1] <= self.state.latest_idx
            )
            if committed >= self.compact_files:
                self.compact_log()

    # -- A14 module provide/swap --------------------------------------------

    def needs_module(self) -> bool:
        return self.module is None

    def provide_module(self, module: BasicModuleDef) -> None:
        """Install a module matching the recorded CID (or first install)."""
        with self._lock:
            cid = module.cid()
            if self.state.module_cid is not None and self.state.module_cid != cid:
                raise StreamError(
                    f"module cid mismatch: stream has {self.state.module_cid}, got {cid}"
                )
            self.module = module
            self.state.module_cid = cid
            # connection-state fns (last_insert_rowid/changes/total_changes)
            # cost a count job per DML — track only when the module uses them
            module_sql = " ".join(
                [
                    module.init_sql,
                    module.materializer,
                    module.state_init_sql,
                    module.state_materializer,
                    *[q.sql for q in module.queries],
                ]
            )
            if re.search(
                r"\b(last_insert_rowid|changes|total_changes)\s*\(", module_sql, re.I
            ):
                self.store.track_changes = True
            if not self.store.defs and self.state.module_event_cursor > 0:
                # fresh process: restore from the parquet snapshot when one
                # matches (replays only the tail beyond its cursor); fall
                # back to deterministic rebuild from idx 0, the reference's
                # own recovery path (A6)
                if not self._try_load_snapshot():
                    self.state.module_event_cursor = 0
            self.catch_up()

    def update_module(self, module: BasicModuleDef) -> None:
        """Swap modules: reset cursor, drop derived tables, replay
        (reference lib.rs:222-235 + streams.rs:117-127)."""
        with self._lock:
            self.module = module
            self.state.module_cid = module.cid()
            self.state.module_event_cursor = 0
            self._drop_snapshot()  # ≈ reference deleting old module_*.db
            for name in list(self.store.defs):
                self.store.drop(name, if_exists=True)
            self.store.views.clear()
            self.store.triggers.clear()
            self.catch_up()
            self._commit_state()

    # -- A6 replay / catch-up -----------------------------------------------

    def _executor(
        self, event_view: str | None = None, with_events: bool = True
    ) -> DmlExecutor:
        extra = {}
        if with_events:
            extra["events"] = self._events_view()
        if event_view:
            extra["event"] = event_view
        return DmlExecutor(self.store, extra)

    def _events_view(self) -> str:
        name = self.store.view_prefix + "events_log"
        self.events_df().createOrReplaceTempView(name)
        return name

    def _run_script(self, sql: str, policy: str, event_view: str | None = None,
                    args: dict | None = None, is_state: bool = False):
        stmts = split_statements(strip_comments(sql))
        # ONE executor per script, and the raw-log view only when some
        # statement actually references ``events``: re-reading the parquet
        # log + re-registering its temp view per statement was ~80 ms of
        # driver round-trips on every fold statement and subscription
        # re-query that never touches the raw log (a literal-string false
        # positive merely over-registers — harmless)
        needs_events = any(
            re.search(r"\bevents\b", s, re.IGNORECASE) for s in stmts
        )
        ex = self._executor(event_view, with_events=needs_events)
        last = None
        for stmt in stmts:
            self.sql_authorizer.check(stmt, policy)
            last = ex.execute(stmt, args=args, is_state=is_state)
        return last

    def catch_up(self) -> None:
        """Fold events beyond the cursor through the materializer; cursor==0
        also runs init_sql + state_init_sql first (lib.rs:468-590)."""
        if self.module is None:
            raise StreamError("no module loaded")
        with self._lock:
            if self.state.module_event_cursor == 0:
                self._run_script(self.module.init_sql, "materialize")
                self._run_script(self.module.state_init_sql, "state_materialize", is_state=True)
            lo = self.state.module_event_cursor + 1
            hi = self.state.latest_idx
            if hi < lo:
                return
            pending = self.events_df().where(F.col("idx").between(lo, hi))
            self._fold_df(pending, self.module.materializer, "materialize")
            self.state.module_event_cursor = hi
            self.store.checkpoint_all()
            self._commit_state()
            self._maybe_persist()

    # -- fold execution ------------------------------------------------------

    def _fold_plan(self, stmts: list[str]) -> list[FoldStep] | None:
        """Plan a materializer script as one step per statement, or None
        for the per-event fold (reference lib.rs:543-569). The first tier
        that takes the WHOLE script wins:

        1. plain + round-wise: every statement is INSERT … SELECT … FROM
           event (``_stmt_batch_safe``) and no two statements share an
           order-visible target (``_shared_target_hazard``). Applying the
           whole idx-ordered batch set-wise ≡ the per-event fold (upserts
           keep the last event per conflict key via __ord__), except for
           accumulating upserts (DO UPDATE reads the current row, e.g.
           ``n = n + 1``): those apply the r-th occurrence of every key
           per round — R = max per-key multiplicity bounded statements
           instead of one per event. Statements whose SELECT reads a
           managed table (e.g. the dedup idiom's NOT EXISTS probe) are
           not batch-safe: set-wise they would see the pre-batch snapshot
           and miss intra-batch effects (basic.rs:76-105).
        2. compiled: the rest of the script is plain and at least one
           statement compiles set-wise — the NOT-EXISTS-on-target dedup
           idiom (first-occurrence election + pre-state probe) or an
           event-keyed DELETE — with no shared target (a compiled probe
           reads the pre-statement table, and a compiled DELETE's
           set-wise OR is exact only while no other statement writes its
           target).
        3. pooled: shared-target groups run in pooled per-key rounds at
           their first member's position (``_pooled_steps``).

        Each of these replays in O(statements · rounds) Spark statements,
        not O(events)."""
        safe = [self._stmt_batch_safe(st) for st in stmts]
        acc = [self._accumulating_upsert(st) for st in stmts]
        if (
            None not in safe
            and not self._shared_target_hazard(safe)
            and all(self._roundwise_ok(st) for st, a in zip(stmts, acc) if a)
        ):
            return [
                FoldStep("roundwise", st) if a else self._plain_step(st)
                for st, a in zip(stmts, acc)
            ]
        steps: list[FoldStep] = []
        targets: list[tuple[str, bool]] = []
        for st, got, a in zip(stmts, safe, acc):
            if got is not None and not a:
                steps.append(self._plain_step(st))
                targets.append(got)
                continue
            cd = self._compile_dedup_idiom(st) or self._compile_delete_setwise(st)
            if cd is None:
                break
            steps.append(FoldStep("compiled", cd[1]))
            targets.append((cd[0], True))  # probe/interleave order visible
        else:
            if any(
                st.kind == "compiled" for st in steps
            ) and not self._shared_target_hazard(targets):
                return steps
        return self._pooled_steps(stmts, safe, acc)

    def _plain_step(self, stmt: str) -> FoldStep:
        # __ord__ rides along when conflict resolution or rowid
        # auto-assignment makes event order visible
        return FoldStep(
            "plain", self._inject_ord(stmt) if self._ord_needed(stmt) else stmt
        )

    def _stmt_batch_safe(self, stmt: str) -> tuple[str, bool] | None:
        """(flat target, order-sensitive) when ONE statement is
        INSERT … SELECT … FROM event touching no managed table and no
        trigger; None otherwise. Order-sensitive = conflict-resolving
        (which execution sees a key first is visible in the result).
        Accumulating-upsert handling is the caller's concern."""
        known = self._known_tables()
        info = classify(stmt)
        if info.kind != "insert":
            return None
        # triggers on the insert target run their bodies per statement
        # execution; per-event application keeps their visibility
        # semantics identical to the reference's row-at-a-time fold
        tgt = flat_name(info.target or "")
        if any(t.table == tgt for t in self.store.triggers.values()):
            return None
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        depth = 0
        from_ok = False
        for i, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and lows[i] == "from":
                if i + 1 < len(toks) and lows[i + 1] == "event":
                    nxt = lows[i + 2] if i + 2 < len(toks) else None
                    # ONLY row-local tails: WHERE filters and the ON
                    # CONFLICT clause. GROUP BY / ORDER BY / LIMIT /
                    # HAVING / compounds — anywhere at depth 0 after the
                    # FROM — are set-wise vs per-event DIVERGENT: the
                    # reference evaluates them against a SINGLE-row
                    # event table (count(*) group by user = (user, 1)
                    # per event; limit 1 = every event's row), so those
                    # shapes must fold per event (r10 review finding).
                    if nxt in (None, "where", "on"):
                        from_ok = True
                        d2 = 0
                        for k in range(i + 2, len(toks)):
                            tk = toks[k]
                            if tk == "(":
                                d2 += 1
                            elif tk == ")":
                                d2 -= 1
                            elif d2 == 0 and lows[k] in (
                                "group", "order", "limit", "having",
                                "union", "intersect", "except", "window",
                            ):
                                from_ok = False
                                break
                break
        if not from_ok:
            return None
        # aggregate calls are set-wise vs per-event divergent even
        # WITHOUT group by (count(*) over a single-row event table = 1
        # per event; over the batch = N once). min/max are aggregates
        # only in their 1-arg form — the 2-arg scalar form stays legal.
        for i, t in enumerate(toks):
            if not _is_word(t) or i + 1 >= len(toks) or toks[i + 1] != "(":
                continue
            low = lows[i]
            if low in ("count", "sum", "avg", "total", "group_concat"):
                return None
            if low in ("min", "max"):
                d2, has_comma = 0, False
                for k in range(i + 1, len(toks)):
                    tk = toks[k]
                    if tk == "(":
                        d2 += 1
                    elif tk == ")":
                        d2 -= 1
                        if d2 == 0:
                            break
                    elif tk == "," and d2 == 1:
                        has_comma = True
                if not has_comma:
                    return None
        # reject managed-table references anywhere inside parens
        # (subqueries); the only sanctioned relation is the top-level
        # FROM event. db-qualified names flatten like _create_table.
        depth = 0
        for i, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth > 0 and _is_word(t):
                low = lows[i]
                if low in ("state", "main") and i + 2 < len(toks) and toks[i + 1] == ".":
                    nxt = lows[i + 2]
                    flat = nxt if low == "main" else f"state_{nxt}"
                    if flat in known:
                        return None
                if (
                    low in known
                    and (i == 0 or toks[i - 1] != ".")
                    and (i + 1 >= len(toks) or toks[i + 1] != "(")
                ):
                    return None
        return tgt, self._has_conflict_clause(stmt)

    def _shared_target_hazard(
        self, targets: list[tuple[str, bool]]
    ) -> bool:
        """Statement-major hazard (advice r8): batch/round-wise execution
        applies all events of stmt1, then stmt2, but the reference fold
        interleaves statements per event (lib.rs:543-569). Statements
        writing DIFFERENT tables can't observe each other (their SELECTs
        read only ``event``), so statement-major ≡ interleaved there — but
        two statements sharing a target diverge whenever execution order
        is visible: conflict resolution / dedup probes (which statement's
        row wins a key) or rowid-alias auto-assignment (max+1 order).
        Such scripts take the per-event fold."""
        by_tgt: dict[str, int] = {}
        for tgt, _ in targets:
            by_tgt[tgt] = by_tgt.get(tgt, 0) + 1
        for tgt, sensitive in targets:
            if by_tgt[tgt] < 2:
                continue
            if sensitive:
                return True
            tdef = self.store.defs.get(tgt)
            if tdef is not None and int_pk(tdef) is not None:
                return True  # rowid-alias assignment is order-visible
        return False

    @staticmethod
    def _has_conflict_clause(stmt: str) -> bool:
        """ON CONFLICT, REPLACE or INSERT OR REPLACE/IGNORE: which
        execution sees a key first is visible in the result."""
        low = stmt.lower()
        return (
            " conflict" in low
            or re.search(r"^\s*replace\b", low) is not None
            or re.search(r"\binsert\s+or\s+(replace|ignore)\b", low)
            is not None
        )

    @staticmethod
    def _find_on_conflict(toks: list[str], lows: list[str]) -> int:
        """Index of the depth-0 ``on conflict`` pair, or -1."""
        depth = 0
        for i, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif (
                depth == 0
                and lows[i] == "on"
                and i + 1 < len(toks)
                and lows[i + 1] == "conflict"
            ):
                return i
        return -1

    @staticmethod
    def _accumulating_upsert(stmt: str) -> bool:
        """True when the statement's ON CONFLICT DO UPDATE reads the
        CURRENT target row: any reference that is not
        excluded.-qualified (``n = n + 1``, target-qualified ``t.n``, a
        DO UPDATE … WHERE condition) makes one-shot set-wise application
        diverge from the per-event fold when one batch carries the same
        conflict key twice — __ord__ keeps only the LAST row per key, so
        the reference increments twice where set-wise increments once
        (found by the round-8 model-based soak). Such statements apply
        round-wise (one set-wise upsert per per-key occurrence rank) or,
        when the script disqualifies entirely, per event."""
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        oc = Stream._find_on_conflict(toks, lows)
        if oc < 0:
            return False
        tail = toks[oc:]
        tlows = lows[oc:]
        try:
            do_i = next(j for j, x in enumerate(tlows) if x == "do")
        except StopIteration:
            return False
        if do_i + 1 >= len(tail) or tlows[do_i + 1] != "update":
            return False
        for j in range(do_i + 2, len(tail)):
            w = tail[j]
            if not _is_word(w):
                continue
            if tlows[j] in ("set", "where", "excluded", "and", "or",
                            "not", "is", "null", "case", "when", "then",
                            "else", "end", "like", "in", "between"):
                continue
            # function name or excluded./qualifier-prefixed
            if j + 1 < len(tail) and tail[j + 1] == "(":
                continue
            if j >= 1 and tail[j - 1] == ".":
                prev = tlows[j - 2] if j >= 2 else ""
                if prev == "excluded":
                    continue
                # any other qualifier is the target table
                return True
            # bare identifier: an assignment TARGET (followed by '=')
            # is fine; anything else may read the current row
            if j + 1 < len(tail) and tail[j + 1] == "=":
                continue
            return True
        return False

    @staticmethod
    def _inject_ord(stmt: str) -> str:
        """INSERT…SELECT list gains ``, idx as __ord__`` (top-level FROM) so
        batch upserts can keep sequential last-write-wins semantics."""
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        depth = 0
        for i, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and lows[i] == "from":
                return (
                    " ".join(toks[:i]) + " , idx as __ord__ from " + " ".join(toks[i + 1 :])
                )
        return stmt

    @staticmethod
    def _split_insert(
        toks: list[str], lows: list[str]
    ) -> tuple[int, int] | None:
        """For INSERT … SELECT … [ON CONFLICT …]: (index of the depth-0
        SELECT, index of the depth-0 ON CONFLICT or -1). None when the
        statement is not that shape (VALUES insert, RETURNING, …)."""
        if not lows or lows[0] not in ("insert", "replace"):
            return None
        if "returning" in lows:
            return None
        depth = 0
        isel = icut = -1
        for i, t in enumerate(toks):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and isel < 0 and lows[i] == "select":
                isel = i
            elif (
                depth == 0
                and isel >= 0
                and lows[i] == "on"
                and i + 1 < len(lows)
                and lows[i + 1] == "conflict"
            ):
                icut = i
                break
        if isel < 0:
            return None
        return isel, icut

    def _localize_insert(
        self, stmt: str, local_rows: list[tuple] | None
    ) -> str | None:
        """When ``stmt`` is INSERT … SELECT whose source reads only the
        staged ``event`` rows (which are driver-local Python objects),
        evaluate the SELECT in sqlite on the driver (localexec.py) and
        rewrite the statement to read the result as a JVM-local literal
        view. The surrounding insert machinery (defaults, auto-PK,
        NOT NULL, ON CONFLICT, triggers) is untouched — but now operates
        on a LocalTableScan, so its constraint scan and the pre-commit
        checkpoint are pure-JVM jobs instead of Python-runner round
        trips (~200 ms each on a one-row batch). Returns the rewritten
        statement, or None to use the normal Spark path. Never writes —
        any local-eval failure falls back safely."""
        if local_rows is None:
            return None
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        split = self._split_insert(toks, lows)
        if split is None:
            return None
        isel, icut = split
        src = " ".join(toks[isel : icut if icut >= 0 else len(toks)])
        if not localexec.eligible(
            src, self._known_tables(), allow_abort=False
        ):
            return None
        try:
            names, rows = self._local_eval.run_select(src, local_rows)
        except (localexec.LocalEvalError, localexec.LocalAbort):
            return None
        rows = self._assign_local_rowids(toks, lows, isel, names, rows)
        if rows is None:
            return None
        # positional rename (sqlite expression names may collide or fail
        # to parse); keep the __ord__ marker the upsert path looks for
        cols = [
            "__ord__" if n == "__ord__" else f"_c{i}"
            for i, n in enumerate(names)
        ]
        schema = localexec.infer_spark_schema(cols, rows)
        if schema is None or not names:
            return None
        # a module table named __localsrc__ would own this view name —
        # registering over it would leak staged rows into its queries
        if "__localsrc__" in self.store.defs or (
            "__localsrc__" in self.store.views
        ):
            return None
        view = self.store.view_prefix + "__localsrc__"
        self._event_local_df(rows, schema).createOrReplaceTempView(view)
        return (
            " ".join(toks[:isel])
            + " select "
            + ", ".join(cols)
            + " from "
            + view
            + ((" " + " ".join(toks[icut:])) if icut >= 0 else "")
        )

    def _assign_local_rowids(
        self,
        toks: list[str],
        lows: list[str],
        isel: int,
        names: list[str],
        rows: list[tuple],
    ) -> list[tuple] | None:
        """Fill NULL rowid-alias ids in driver-evaluated insert rows with
        SQLite's sequential max+1 fold (explicit ids raise the running
        max) — done HERE, in plain Python over the literal rows, so the
        emitted ``__localsrc__`` statement carries fully-assigned ids and
        the dml layer can skip its window-based assignment: the insert
        delta stays a LocalRelation, which is what the incremental
        snapshot chain and the mirror append chain key on. Only applies
        when the pk is among the INSERT columns (the 'occasional id
        override' shape); pk-omitted inserts keep the dml path. None on
        a malformed shape (caller falls back to the Spark path)."""
        try:
            raw, j = qualified_name(toks, lows.index("into") + 1)
            flat = flat_name(raw)
            tdef = self.store.defs.get(flat)
            if tdef is None:
                # target didn't resolve under THIS parse (quoted names,
                # schema-qualified shapes this walk doesn't cover). The
                # rows may still carry NULL rowid-alias pks that SQLite
                # would assign, and the dml layer skips assignment for
                # __localsrc__ statements — so signal the caller to take
                # the normal Spark path rather than pass unassigned rows
                # through (ADVICE r11, dml.py preassigned-id exemption).
                return None
            pk = int_pk(tdef)
            if pk is None:
                return rows
            if j < isel and toks[j] == "(":
                cols = [
                    t for t in toks[j + 1 : toks.index(")", j)] if _is_word(t)
                ]
            else:
                cols = [f.name for f in tdef.schema.fields]
            lc = [c.lower() for c in cols]
            if pk.lower() not in lc:
                return rows
            ci = lc.index(pk.lower())
            if ci >= len(names) or all(
                r[ci] is not None for r in rows
            ):
                return rows
            cur = (
                self.store.tables[flat]
                .agg(F.coalesce(F.max(pk), F.lit(0)).alias("m"))
                .first()["m"]
            ) or 0
            out = []
            for r in rows:
                v = r[ci]
                if v is None:
                    cur += 1
                    out.append(r[:ci] + (cur,) + r[ci + 1 :])
                else:
                    cur = max(cur, int(v))
                    out.append(r)
            return out
        except Exception:
            return None

    def _parse_upsert_shape(
        self, stmt: str
    ) -> tuple[list[str], list[str], str, str, str] | None:
        """Parse an ord-injected accumulating upsert into
        (insert columns, conflict key columns, source select SQL,
        insert prefix SQL, ON CONFLICT tail SQL). None when the shape
        can't be handled round-wise (no explicit/derivable conflict keys
        among the inserted columns, unknown target, …) — the caller then
        uses the per-event path for the whole script."""
        try:
            s = self._inject_ord(stmt)
            toks = tokenize(s)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            split = self._split_insert(toks, lows)
            if split is None:
                return None
            isel, icut = split
            if icut < 0:
                return None
            raw, j = qualified_name(toks, lows.index("into") + 1)
            tdef = self.store.defs.get(flat_name(raw))
            if tdef is None:
                return None
            if j < isel and toks[j] == "(":
                cols = [
                    t for t in toks[j + 1 : toks.index(")", j)] if _is_word(t)
                ]
            else:
                cols = [f.name for f in tdef.schema.fields]
            tail = toks[icut:]
            if len(tail) > 2 and tail[2] == "(":
                keys = [
                    t for t in tail[3 : tail.index(")", 3)] if _is_word(t)
                ]
            else:
                keys = list(tdef.primary_key)
            if not keys or not all(k in cols for k in keys):
                # a defaulted/auto-assigned conflict key can't be ranked
                # before the insert computes it
                return None
            return (
                cols,
                keys,
                " ".join(toks[isel:icut]),
                " ".join(toks[:isel]),
                " ".join(tail),
            )
        except Exception:
            return None

    def _roundwise_ok(self, stmt: str) -> bool:
        # a module table named __roundsrc__ would own the round-source
        # view name — registering over it would leak staged rounds into
        # its queries (same guard _localize_insert applies to __localsrc__)
        if "__roundsrc__" in self.store.defs or (
            "__roundsrc__" in self.store.views
        ):
            return False
        return self._parse_upsert_shape(stmt) is not None

    # -- set-wise DELETE compilation (round 10, VERDICT r9 #4) ---------------

    # order-sensitive / nondeterministic functions that make per-event vs
    # set-wise application observable inside a DELETE predicate
    _DELETE_UNSAFE_FNS = frozenset({
        "random", "randomblob", "changes", "last_insert_rowid",
        "total_changes",
    })
    # aggregates re-scope from the single-row per-event table to the batch
    _AGG_FNS = frozenset({
        "count", "sum", "avg", "min", "max", "total", "group_concat",
    })

    def _compile_delete_setwise(self, stmt: str) -> tuple[str, str] | None:
        """Compile an event-keyed DELETE

            DELETE FROM t WHERE <pred over t-columns and
                                 (SELECT <expr> FROM event) subqueries>

        into ONE set-wise statement

            DELETE FROM t WHERE EXISTS (SELECT 1 FROM event AS __ev__
                                        WHERE <pred'>)

        where each scalar event subquery becomes its expression over the
        correlated ``__ev__`` row. Exact vs the reference's sequential
        per-event fold (leaf-stream/src/lib.rs:543-569) because deletes
        only REMOVE and the predicate reads no live table state: a row
        survives the sequential per-event fold iff NO event's predicate
        matches it,
        which is precisely NOT EXISTS — for ANY predicate shape, not
        just key equality. Gates (any miss → None, caller falls back):

        - single target, known, no triggers (trigger bodies fire per
          statement execution — count is order-visible);
        - WHERE only (no RETURNING / ORDER / LIMIT tails);
        - ``event`` referenced ONLY via ``(select <expr> from event)``
          scalar subqueries whose <expr> is aggregate-free (an aggregate
          over the single-row per-event table degenerates to the value,
          but over ``__ev__`` columns it would change meaning);
        - no other subquery at all (a SELECT over the target or another
          managed table makes per-event order visible);
        - no bare idx/user/payload outside the subqueries (they would be
          captured by ``__ev__`` after the rewrite — shadowing);
        - no random()/changes()-class functions anywhere.

        Returns (flat target, compiled SQL). The caller is responsible
        for the shared-target rule: a compiled DELETE is exact only when
        no OTHER statement in the script writes the same target
        (insert/delete interleaving per event is order-visible)."""
        try:
            toks = tokenize(stmt)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            if (
                len(lows) < 5
                or lows[0] != "delete"
                or lows[1] != "from"
                or "returning" in lows
            ):
                return None
            raw_target, j = qualified_name(toks, 2)
            flat = flat_name(raw_target)
            tdef = self.store.defs.get(flat)
            if tdef is None:
                return None
            if any(t.table == flat for t in self.store.triggers.values()):
                return None
            if "__ev__" in {f.name.lower() for f in tdef.schema.fields}:
                return None
            if j >= len(toks) or lows[j] != "where":
                return None
            wlo = j + 1
            # no trailing clauses at depth 0
            depth = 0
            for i in range(wlo, len(toks)):
                t = toks[i]
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and lows[i] in ("order", "limit"):
                    return None
            # locate (select <expr> from event) spans; validate + rewrite
            known = self._known_tables()
            out: list[str] = []
            i = wlo
            n = len(toks)
            while i < n:
                t = toks[i]
                low = lows[i]
                if t == "(" and i + 1 < n and lows[i + 1] == "select":
                    # the span is replaced by its bare expression, so a
                    # structural consumer of the SUBQUERY form breaks:
                    # EXISTS(<expr>) is a syntax error (r10 review
                    # finding) — reject rather than emit invalid SQL
                    if out and out[-1].lower() == "exists":
                        return None
                    k = self._close_paren(toks, i)
                    if k >= n:
                        return None
                    sub = toks[i + 1 : k]
                    slows = lows[i + 1 : k]
                    # shape: select <expr> from event  (nothing after)
                    d2 = 0
                    from_i = -1
                    for m, st in enumerate(sub):
                        if st == "(":
                            d2 += 1
                        elif st == ")":
                            d2 -= 1
                        elif d2 == 0 and slows[m] in (
                            "from", "where", "group", "order", "limit",
                            "union", "intersect", "except",
                        ):
                            if slows[m] != "from":
                                return None
                            from_i = m
                            break
                    if (
                        from_i < 0
                        or from_i + 2 != len(sub)
                        or slows[from_i + 1] != "event"
                    ):
                        return None
                    expr = sub[1:from_i]
                    elows = slows[1:from_i]
                    if not expr:
                        return None
                    # validate + rewrite the expression
                    rewritten: list[str] = []
                    for m, et in enumerate(expr):
                        el = elows[m]
                        if _is_word(et):
                            nxt = expr[m + 1] if m + 1 < len(expr) else ""
                            prv = expr[m - 1] if m > 0 else ""
                            if nxt == "(":
                                if el in self._AGG_FNS or el in self._DELETE_UNSAFE_FNS:
                                    return None
                                rewritten.append(et)
                                continue
                            if el in ("event",) and nxt == ".":
                                rewritten.append("__ev__")
                                continue
                            if (
                                el in ("idx", "user", "payload")
                                and prv != "."
                            ):
                                rewritten += ["__ev__", ".", et]
                                continue
                            if el in ("events",) or el in known:
                                return None
                        rewritten.append(et)
                    out += ["(", *rewritten, ")"]
                    i = k + 1
                    continue
                if _is_word(t):
                    nxt = toks[i + 1] if i + 1 < n else ""
                    prv = toks[i - 1] if i > 0 else ""
                    if low == "select":
                        return None  # a subquery we didn't recognize
                    if nxt == "(" and low in self._DELETE_UNSAFE_FNS:
                        return None
                    if low in ("event", "events") and prv != ".":
                        return None
                    if (
                        low in ("idx", "user", "payload")
                        and prv != "."
                        and nxt != "("
                    ):
                        return None  # would be captured by __ev__
                    if (
                        low in known
                        and prv != "."
                        and nxt != "."  # t.col qualifiers stay legal
                    ):
                        return None  # stray managed-table reference
                out.append(t)
                i += 1
            compiled = (
                f"delete from {raw_target} where exists ( select 1 from "
                f"event as __ev__ where {' '.join(out)} )"
            )
            return flat, compiled
        except Exception:
            return None

    def _parse_pooled_delete(
        self, stmt: str, key: str
    ) -> tuple[str, str, str, list[str], str] | None:
        """Parse a DELETE so it can join a pooled-round group keyed on
        ``key``: (raw target, source SQL, residual predicate,
        mixed-guard source columns, mixed-guard predicate).

        Required shape: ``DELETE FROM t WHERE <conjunction>`` where
        exactly ONE depth-0 conjunct is ``<key> = (SELECT <expr> FROM
        event)`` (either side order), every other conjunct is either
        event-only (its only identifiers live inside ``(select …
        from event)`` scalar subqueries — moved into the source WHERE,
        with each subquery collapsing to its bare expression since the
        source itself scans ``event``) or target-only (no subqueries,
        no managed-table/event words — kept in the DELETE as a residual
        that evaluates against the live interleaved state, which is
        exactly per-event semantics). The per-(event, statement) op
        then touches only its key's rows, so it commutes across keys
        and ranks into the same (idx, statement) order as the inserts.

        Source SQL: ``select <expr> as <key>, idx as __ord__ from event
        [where <event conjs>]``. Execution per round: ``delete from t
        where <key> in (select <key> from <round view>) [and
        (<residual>)]``. NULL keys never match either side — the same
        no-op as the reference's ``k = NULL``.

        r12 extension — MIXED event/target conjuncts (the guarded
        delete, ``… AND n < (SELECT cap FROM event)``) classify via
        ``_classify_mixed_conj``: each event subquery becomes a
        ``__e<n>__`` source column (the key then aliases ``__k__`` so
        target columns correlate cleanly) and execution switches to
        ``DELETE FROM t WHERE EXISTS (SELECT 1 FROM <round view> WHERE
        __k__ = <key> AND <guard>)`` — the guard reads the pre-round
        row of the op's own key, which is the sequential fold's
        evaluation order restricted to that key (keys are unique per
        round, deletes of different keys commute)."""
        try:
            toks = tokenize(stmt)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            if (
                len(lows) < 5
                or lows[0] != "delete"
                or lows[1] != "from"
                or "returning" in lows
            ):
                return None
            raw_target, j = qualified_name(toks, 2)
            flat = flat_name(raw_target)
            tdef = self.store.defs.get(flat)
            if tdef is None:
                return None
            if any(t.table == flat for t in self.store.triggers.values()):
                return None
            fields = {f.name.lower() for f in tdef.schema.fields}
            if key.lower() not in fields:
                return None
            if j >= len(toks) or lows[j] != "where":
                return None
            wlo = j + 1
            depth = 0
            for i in range(wlo, len(toks)):
                t = toks[i]
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and lows[i] in ("order", "limit"):
                    return None
            known = self._known_tables()
            key_expr: list[str] | None = None
            ev_conjs: list[list[str]] = []
            residual: list[list[str]] = []
            mixed: list[tuple[list[str], list[list[str]]]] = []
            for lo, hi in self._top_spans(toks, lows, "and", wlo, len(toks)):
                span = toks[lo:hi]
                slows = lows[lo:hi]
                got = self._classify_delete_conj(
                    span, slows, key, flat, known
                )
                if got is None:
                    mg = self._classify_mixed_conj(
                        span, slows, flat, fields, known
                    )
                    if mg is None:
                        return None
                    mixed.append(mg)
                    continue
                kind, payload = got
                if kind == "key":
                    if key_expr is not None:
                        return None  # two key equalities: ambiguous
                    key_expr = payload
                elif kind == "event":
                    ev_conjs.append(payload)
                else:
                    residual.append(payload)
            if key_expr is None:
                return None
            e_exprs: list[list[str]] = []
            mixed_parts: list[str] = []
            for mtoks, mexprs in mixed:
                final: list[str] = []
                for t in mtoks:
                    if t.startswith("\x00E"):
                        e_exprs.append(mexprs[int(t[2:])])
                        final += ["(", f"__e{len(e_exprs)}__", ")"]
                    else:
                        final.append(t)
                mixed_parts.append("( " + " ".join(final) + " )")
            ecols = [f"__e{n + 1}__" for n in range(len(e_exprs))]
            key_alias = "__k__" if ecols else key
            sels = [f"{' '.join(key_expr)} as {key_alias}"]
            sels += [
                f"{' '.join(e)} as __e{n + 1}__"
                for n, e in enumerate(e_exprs)
            ]
            src = f"select {', '.join(sels)} , idx as __ord__ from event"
            if ev_conjs:
                src += " where " + " and ".join(
                    "( " + " ".join(c) + " )" for c in ev_conjs
                )
            res = " and ".join(
                "( " + " ".join(c) + " )" for c in residual
            )
            return raw_target, src, res, ecols, " and ".join(mixed_parts)
        except Exception:
            return None

    def _parse_pooled_update(
        self, stmt: str, key: str | None
    ) -> tuple | None:
        """Parse an event-keyed UPDATE so it can run in pooled per-key
        occurrence rounds: (flat target, raw target, key column, source
        SQL, SET assignment list, residual predicate, carried columns).

        Required shape: ``UPDATE t SET <col> = <expr over t-columns and
        (SELECT e FROM event) scalar subqueries>, … WHERE <conjunction
        with exactly one key equality <pk-col> = (SELECT … FROM
        event)>`` — the reference's accumulate-by-key module shape (the
        COUNTER fixture); the key must be t's single-column primary
        key. Each (event, statement) op touches only its key's row, so
        it commutes across keys and ranks by (idx, statement) like the
        pooled inserts/deletes (lib.rs:543-569 order per key).

        Round execution rewrites to an UPSERT whose source joins the
        target: every event subquery becomes a materialized source
        column ``__e<n>__`` and the statement becomes ``INSERT INTO t
        (key, cols…) SELECT view.__k__, <exprs(__e<n>__)>, <carried>
        FROM view, t WHERE view.__k__ = t.key [AND residual] ON
        CONFLICT(key) DO UPDATE SET col = excluded.col`` — keys are
        unique per round (rank), only existing rows are selected (the
        join), so the DO UPDATE branch always fires and UPDATE
        semantics hold exactly. This shape deliberately AVOIDS
        UPDATE…FROM: its existing⋈matches self-join under the fold's
        insert-union trips Spark's Union.rewriteConstraints at the
        batch-end checkpoint, while join-under-union inside an insert
        source is the shape the compiled dedup idiom has exercised
        since r9. ``key=None`` discovers the key column from the
        equality conjunct; a non-None key (imposed by the group's
        conflict key) must match it."""
        try:
            toks = tokenize(stmt)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            if (
                len(lows) < 6
                or lows[0] != "update"
                or "returning" in lows
                or lows[1] in ("or",)  # UPDATE OR IGNORE/… conflict
            ):
                return None
            raw_target, j = qualified_name(toks, 1)
            flat = flat_name(raw_target)
            tdef = self.store.defs.get(flat)
            if tdef is None:
                return None
            if any(t.table == flat for t in self.store.triggers.values()):
                return None
            fields = {f.name.lower() for f in tdef.schema.fields}
            if any(f.startswith("__") for f in fields):
                return None
            if j >= len(toks) or lows[j] != "set":
                return None
            # depth-0 WHERE / FROM after SET
            depth = 0
            where_i = None
            for i in range(j + 1, len(toks)):
                t = toks[i]
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and lows[i] in ("from", "order", "limit"):
                    return None  # already a join-update / ordered form
                elif depth == 0 and lows[i] == "where":
                    where_i = i
                    break
            if where_i is None:
                return None  # unkeyed UPDATE touches every row
            known = self._known_tables()
            # --- WHERE: find the key conjunct, split the rest ----------
            key_expr: list[str] | None = None
            key_col: str | None = None
            ev_conjs: list[list[str]] = []
            residual: list[list[str]] = []
            mixed: list[tuple[list[str], list[list[str]]]] = []
            for lo, hi in self._top_spans(
                toks, lows, "and", where_i + 1, len(toks)
            ):
                span, slows = toks[lo:hi], lows[lo:hi]
                cand_cols = (
                    [key] if key is not None
                    else sorted(fields)
                )
                got = None
                for kc in cand_cols:
                    got = self._classify_delete_conj(
                        span, slows, kc, flat, known
                    )
                    if got is not None and got[0] == "key":
                        if key_expr is not None:
                            return None  # two key equalities
                        key_expr, key_col = got[1], kc
                        break
                    if key is not None:
                        break  # classification below handles non-key
                if key_expr is not None and got and got[0] == "key":
                    continue
                got = self._classify_delete_conj(
                    span, slows, key or "\x00nokey", flat, known
                )
                if got is None:
                    # guarded-counter shape (r12): a conjunct mixing an
                    # event subquery with target columns compiles too —
                    # it applies at round time against the pre-round row
                    mg = self._classify_mixed_conj(
                        span, slows, flat, fields, known
                    )
                    if mg is None:
                        return None
                    mixed.append(mg)
                    continue
                kind, payload = got
                if kind == "key":
                    if key_expr is not None:
                        return None
                    key_expr, key_col = payload, key
                elif kind == "event":
                    ev_conjs.append(payload)
                else:
                    residual.append(payload)
            if key_expr is None or key_col is None:
                return None
            if key is not None and key_col.lower() != key.lower():
                return None
            # --- SET: rewrite event subqueries to source columns -------
            e_exprs: list[list[str]] = []
            set_parts: list[str] = []
            for lo, hi in self._top_spans(toks, lows, ",", j + 1, where_i):
                span, slows = toks[lo:hi], lows[lo:hi]
                if (
                    len(span) < 3
                    or not _is_word(span[0])
                    or slows[0] not in fields
                    or span[1] != "="
                ):
                    return None
                out: list[str] = [span[0], "="]
                i2, n2 = 2, len(span)
                while i2 < n2:
                    t = span[i2]
                    if (
                        t == "("
                        and i2 + 1 < n2
                        and slows[i2 + 1] == "select"
                    ):
                        k2 = self._close_paren(span, i2)
                        expr = self._scalar_event_subq(
                            span[i2 : k2 + 1], slows[i2 : k2 + 1]
                        )
                        if expr is None or not self._event_expr_ok(
                            expr, known
                        ):
                            return None
                        if out and out[-1].lower() in ("exists",):
                            return None
                        e_exprs.append(expr)
                        out.append(f"__e{len(e_exprs)}__")
                        i2 = k2 + 1
                        continue
                    if _is_word(t):
                        low = slows[i2]
                        nxt = span[i2 + 1] if i2 + 1 < n2 else ""
                        prv = span[i2 - 1] if i2 > 0 else ""
                        if low == "select":
                            return None  # unrecognized subquery
                        if nxt == "(" and low in self._DELETE_UNSAFE_FNS:
                            return None
                        if low in ("event", "events") and prv != ".":
                            return None
                        if low in known and prv != "." and nxt != ".":
                            return None
                    out.append(t)
                    i2 += 1
                set_parts.append(" ".join(out))
            if not set_parts:
                return None
            # mixed conjuncts: materialize their event subqueries as
            # further __e<n>__ source columns (numbering continues the
            # SET clause's) and fold the rewritten conjunct into the
            # residual — the round join applies it against the
            # pre-round target row
            for mtoks, mexprs in mixed:
                final: list[str] = []
                for t in mtoks:
                    if t.startswith("\x00E"):
                        e_exprs.append(mexprs[int(t[2:])])
                        final += ["(", f"__e{len(e_exprs)}__", ")"]
                    else:
                        final.append(t)
                residual.append(final)
            sels = [f"{' '.join(key_expr)} as __k__"]
            sels += [
                f"{' '.join(e)} as __e{n + 1}__"
                for n, e in enumerate(e_exprs)
            ]
            src = (
                f"select {', '.join(sels)}, idx as __ord__ from event"
            )
            if ev_conjs:
                src += " where " + " and ".join(
                    "( " + " ".join(c) + " )" for c in ev_conjs
                )
            res = " and ".join(
                "( " + " ".join(c) + " )" for c in residual
            )
            # the round rewrite expresses the update as an upsert on the
            # key; with a NON-unique key the conflict machinery would
            # collapse the multi-row update — require the key be the
            # single-column primary key OR carry a declared single-column
            # UNIQUE constraint / unique index (r12: the register-then-
            # update-by-handle module shape keys on a unique TEXT column,
            # not the rowid pk), and refuse key reassignment (the
            # upsert's conflict target cannot also be SET)
            if [
                k.lower() for k in tdef.primary_key
            ] != [key_col.lower()] and key_col.lower() not in (
                self.store.unique_key_cols(flat)
            ):
                return None
            assigned = {p.split("=", 1)[0].strip().lower() for p in set_parts}
            if key_col.lower() in assigned:
                return None
            others = [
                f.name
                for f in tdef.schema.fields
                if f.name.lower() != key_col.lower()
                and f.name.lower() not in assigned
            ]
            return (
                flat,
                raw_target,
                key_col,
                src,
                set_parts,
                res,
                others,
            )
        except Exception:
            return None

    @staticmethod
    def _scalar_event_subq(
        tokens: list[str], tl: list[str]
    ) -> list[str] | None:
        """``(select <expr> from event)`` → expr tokens, else None."""
        if (
            len(tokens) >= 5
            and tokens[0] == "("
            and tl[1] == "select"
            and tokens[-1] == ")"
        ):
            d = 0
            for m in range(1, len(tokens) - 1):
                if tokens[m] == "(":
                    d += 1
                elif tokens[m] == ")":
                    d -= 1
                elif d == 0 and tl[m] in (
                    "from", "where", "group", "order", "limit",
                    "union", "intersect", "except",
                ):
                    if tl[m] != "from":
                        return None
                    if m + 2 == len(tokens) - 1 and tl[m + 1] == "event":
                        return tokens[2:m]
                    return None
        return None

    def _classify_delete_conj(
        self,
        span: list[str],
        slows: list[str],
        key: str,
        flat: str,
        known: set[str],
    ) -> tuple[str, list[str]] | None:
        """Classify one depth-0 conjunct of a pooled DELETE:
        ("key", expr tokens) | ("event", rewritten tokens) |
        ("residual", tokens) | None (unpoolable)."""
        if not span:
            return None
        # --- key equality: <key> = (select <expr> from event) ----------
        def _is_key_ref(tokens: list[str], tl: list[str]) -> bool:
            if len(tokens) == 1 and tl[0] == key.lower():
                return True
            return (
                len(tokens) == 3
                and tl[0] == flat
                and tokens[1] == "."
                and tl[2] == key.lower()
            )

        # find a depth-0 '=' splitting the span
        d = 0
        for m, t in enumerate(span):
            if t == "(":
                d += 1
            elif t == ")":
                d -= 1
            elif d == 0 and t == "=":
                left, lleft = span[:m], slows[:m]
                right, lright = span[m + 1:], slows[m + 1:]
                for a, la, b, lb in (
                    (left, lleft, right, lright),
                    (right, lright, left, lleft),
                ):
                    if _is_key_ref(a, la):
                        expr = self._scalar_event_subq(b, lb)
                        if expr is not None and self._event_expr_ok(
                            expr, known
                        ):
                            return "key", expr
                break  # '=' present but not the key shape → other rules
        has_select = any(sl == "select" for sl in slows)
        i, n = 0, len(span)
        subq_ok = True
        bare_outside = False  # bare identifier OUTSIDE any subquery =
        # a target column in the original DELETE's scope; moving it
        # into the event-scanning source would rebind it — mixed
        # event/target conjuncts are unpoolable
        out: list[str] = []
        while i < n:
            t = span[i]
            if t == "(" and i + 1 < n and slows[i + 1] == "select":
                k = self._close_paren(span, i)
                expr = self._scalar_event_subq(span[i : k + 1], slows[i : k + 1])
                if expr is None or not self._event_expr_ok(expr, known):
                    subq_ok = False
                    break
                # in the source's FROM event context the subquery
                # collapses to its bare expression
                out += ["(", *expr, ")"]
                i = k + 1
                continue
            if _is_word(t):
                low = slows[i]
                nxt = span[i + 1] if i + 1 < n else ""
                prv = span[i - 1] if i > 0 else ""
                if nxt == "(":
                    if low in self._DELETE_UNSAFE_FNS:
                        subq_ok = False
                        break
                elif low not in localexec._KEYWORDS and prv != ".":
                    bare_outside = True
            out.append(t)
            i += 1
        if has_select:
            if subq_ok and not bare_outside:
                return "event", out
            return None
        if has_select:
            return None
        # residual (target-only): no event/known-table words, no
        # unsafe/connection fns
        for idx, t in enumerate(span):
            if not _is_word(t):
                continue
            low = slows[idx]
            nxt = span[idx + 1] if idx + 1 < len(span) else ""
            prv = span[idx - 1] if idx > 0 else ""
            if nxt == "(" and low in self._DELETE_UNSAFE_FNS:
                return None
            if low in ("event", "events") and prv != ".":
                return None
            if low in known and prv != "." and nxt != ".":
                return None
        return "residual", span

    def _classify_mixed_conj(
        self,
        span: list[str],
        slows: list[str],
        flat: str,
        fields: set[str],
        known: set[str],
    ) -> tuple[list[str], list[list[str]]] | None:
        """MIXED event/target conjunct of a pooled keyed UPDATE/DELETE —
        the guarded-counter shape (``… AND n < (SELECT cap FROM
        event)``): contains BOTH scalar ``(select <expr> from event)``
        subqueries and target-column references. Returns (tokens with
        ``\\x00E<k>`` sentinels replacing each subquery, [expr token
        lists]), or None (unpoolable).

        The caller materializes each expr as a ``__e<n>__`` SOURCE
        column and applies the conjunct at round-apply time against the
        pre-round table — which is exactly the sequential fold's guard
        evaluation (lib.rs:543-569) restricted to the op's own key: the
        key-equality conjunct scopes the op to one row, rank r applies
        after ranks <r of the same key, and cross-key ops commute
        because the guard reads only the joined row. Gates: every
        subquery expr passes ``_event_expr_ok``; every bare identifier
        is a target column (or keyword/number); qualified refs only as
        ``<flat>.<col>``; no aggregates or unsafe fns; no EXISTS over
        the subquery (scalar collapse would change its meaning)."""
        if any(f.startswith("__") for f in fields):
            return None  # target cols would collide with __e<n>__ refs
        out: list[str] = []
        exprs: list[list[str]] = []
        saw_target = False
        i, n = 0, len(span)
        while i < n:
            t = span[i]
            if t == "(" and i + 1 < n and slows[i + 1] == "select":
                k = self._close_paren(span, i)
                expr = self._scalar_event_subq(
                    span[i : k + 1], slows[i : k + 1]
                )
                if expr is None or not self._event_expr_ok(expr, known):
                    return None
                if out and out[-1].lower() == "exists":
                    return None
                out.append(f"\x00E{len(exprs)}")
                exprs.append(expr)
                i = k + 1
                continue
            if _is_word(t):
                low = slows[i]
                nxt = span[i + 1] if i + 1 < n else ""
                prv = span[i - 1] if i > 0 else ""
                if low == "select":
                    return None  # non-event subquery
                if nxt == "(":
                    if low in self._DELETE_UNSAFE_FNS or low in self._AGG_FNS:
                        return None
                elif prv == ".":
                    if low not in fields:
                        return None
                    saw_target = True
                elif nxt == ".":
                    if low != flat:
                        return None  # only the target may qualify
                elif low in localexec._KEYWORDS:
                    pass
                elif low in fields:
                    saw_target = True
                elif low in ("event", "events") or low in known:
                    return None
                else:
                    return None  # unknown identifier: not provably safe
            out.append(t)
            i += 1
        if not exprs or not saw_target:
            return None  # pure shapes belong to the event/residual classes
        return out, exprs

    def _event_expr_ok(self, expr: list[str], known: set[str]) -> bool:
        """An expression destined for the pooled-delete SOURCE select
        (FROM event context): no aggregates (they'd re-scope from the
        single-row per-event table to the whole batch), no unsafe fns,
        no managed-table references."""
        lows = [t.lower() if _is_word(t) else t for t in expr]
        for i, t in enumerate(expr):
            if not _is_word(t):
                continue
            low = lows[i]
            nxt = expr[i + 1] if i + 1 < len(expr) else ""
            prv = expr[i - 1] if i > 0 else ""
            if nxt == "(":
                if low in self._AGG_FNS or low in self._DELETE_UNSAFE_FNS:
                    return False
                continue
            if low in ("event",) and nxt == ".":
                continue
            if (low in known or low == "events") and prv != ".":
                return False
        return True

    # -- set-wise dedup-idiom compilation (round 9, VERDICT r8 #2) -----------

    _DEDUP_ALIASES = ("__dedupsrc__", "__dedupcand__", "__deduptgt__")

    @staticmethod
    def _close_paren(toks: list[str], i: int) -> int:
        """Index of the ``)`` closing ``toks[i] == "("`` (len(toks) when
        unbalanced)."""
        d = 0
        for k in range(i, len(toks)):
            if toks[k] == "(":
                d += 1
            elif toks[k] == ")":
                d -= 1
                if d == 0:
                    return k
        return len(toks)

    @staticmethod
    def _top_spans(
        toks: list[str], lows: list[str], sep: str, start: int, end: int
    ) -> list[tuple[int, int]]:
        """[start, end) split on depth-0 occurrences of ``sep`` (compared
        against lows); returns (lo, hi) spans excluding separators."""
        spans: list[tuple[int, int]] = []
        depth, lo = 0, start
        for i in range(start, end):
            t = toks[i]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and lows[i] == sep:
                spans.append((lo, i))
                lo = i + 1
        spans.append((lo, end))
        return spans

    def _compile_dedup_idiom(self, stmt: str) -> tuple[str, str] | None:
        """Compile the NOT-EXISTS-on-target dedup idiom

            INSERT INTO t (cols) SELECT … FROM event
            WHERE … AND NOT EXISTS (SELECT … FROM t WHERE k = <expr> …)

        into ONE set-wise statement: elect the first occurrence per probe
        key within the batch (row_number over the key, ordered by event
        idx — exactly the intra-batch blocking the reference's sequential
        fold produces, leaf-stream/src/lib.rs:543-569), then keep the
        NOT EXISTS against the pre-statement table, which is now exact
        because elected keys are unique. A replay fold of such a module
        becomes one Spark statement instead of one per event.

        Exactness conditions enforced here: every correlated equality
        pairs a target column with an event-side expression that is
        TOKEN-IDENTICAL to that column's inserted value (so inserting a
        row blocks exactly the later events the reference would block);
        rows whose key is NULL bypass election and the probe (NULL = NULL
        is not true in SQLite — every NULL-key event inserts and blocks
        nothing); no other managed reference anywhere in the statement.
        Returns (flat target, compiled SQL) or None."""
        try:
            toks = tokenize(stmt)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            if not lows or lows[0] != "insert" or "returning" in lows:
                return None
            split = self._split_insert(toks, lows)
            if split is None:
                return None
            isel, icut = split
            if icut >= 0:  # ON CONFLICT is the upsert machinery's job
                return None
            raw_target, j = qualified_name(toks, lows.index("into") + 1)
            flat = flat_name(raw_target)
            tdef = self.store.defs.get(flat)
            if tdef is None:
                return None
            if any(t.table == flat for t in self.store.triggers.values()):
                return None
            if toks[j] == "(":
                close = toks.index(")", j)
                cols = [t for t in toks[j + 1 : close] if _is_word(t)]
            else:
                cols = [f.name for f in tdef.schema.fields]
            tcols = {f.name.lower() for f in tdef.schema.fields}
            reserved = {"__ord__", "__rn__"}
            if reserved & {c.lower() for c in cols} or reserved & tcols:
                return None
            for a in self._DEDUP_ALIASES:
                if a in self.store.defs or a in self.store.views:
                    return None
            # depth-0 FROM event WHERE …
            ifrom, depth = -1, 0
            for i in range(isel, len(toks)):
                t = toks[i]
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and lows[i] == "from":
                    ifrom = i
                    break
            if (
                ifrom < 0
                or ifrom + 2 >= len(toks)
                or lows[ifrom + 1] != "event"
                or lows[ifrom + 2] != "where"
            ):
                return None
            # select list: one expression per target column, optional AS
            exprs: list[list[str]] = []
            for lo, hi in self._top_spans(toks, lows, ",", isel + 1, ifrom):
                item = toks[lo:hi]
                if (
                    len(item) >= 2
                    and _is_word(item[-1])
                    and item[-2].lower() == "as"
                ):
                    item = item[:-2]
                if not item:
                    return None
                exprs.append(item)
            if len(exprs) != len(cols):
                return None
            # WHERE region must be a bare conjunction (no trailing clauses)
            wlo, whi = ifrom + 3, len(toks)
            depth = 0
            for i in range(wlo, whi):
                t = toks[i]
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and lows[i] in (
                    "group", "order", "limit", "having", "union",
                    "intersect", "except", "window", "on", "or",
                ):
                    return None
            conjs = self._top_spans(toks, lows, "and", wlo, whi)
            ne = [
                (lo, hi)
                for lo, hi in conjs
                if hi - lo >= 4
                and lows[lo] == "not"
                and lows[lo + 1] == "exists"
                and toks[lo + 2] == "("
                and toks[hi - 1] == ")"
            ]
            if len(ne) != 1:
                return None
            nlo, nhi = ne[0]
            keys = self._parse_dedup_probe(
                toks[nlo + 3 : nhi - 1],
                lows[nlo + 3 : nhi - 1],
                raw_target,
                flat,
                tdef,
                cols,
                exprs,
            )
            if not keys:
                return None
            # the reduced statement (idiom conjunct removed) must be the
            # plain insert-from-event shape with no other managed refs
            wprime: list[str] = []
            for lo, hi in conjs:
                if (lo, hi) == (nlo, nhi):
                    continue
                if wprime:
                    wprime.append("and")
                wprime.extend(toks[lo:hi])
            reduced = " ".join(
                toks[: ifrom + 2] + (["where", *wprime] if wprime else [])
            )
            if self._stmt_batch_safe(reduced) is None:
                return None
            inner_sel = (
                "select "
                + ", ".join(
                    " ".join(exprs[i]) + " as " + c
                    for i, c in enumerate(cols)
                )
                + ", idx as __ord__ from event"
                + ((" where " + " ".join(wprime)) if wprime else "")
            )
            null_bypass = "".join(f" or {k} is null" for k in keys)
            probe = " and ".join(
                f"__deduptgt__.{k} = __dedupcand__.{k}" for k in keys
            )
            compiled = (
                " ".join(toks[:isel])
                + " select "
                + ", ".join(cols)
                + ", __ord__ from (select "
                + ", ".join(cols)
                + ", __ord__, row_number() over (partition by "
                + ", ".join(keys)
                + " order by __ord__) as __rn__ from ("
                + inner_sel
                + ") __dedupsrc__) __dedupcand__ where (__rn__ = 1"
                + null_bypass
                + ") and not exists (select 1 from "
                + raw_target
                + " __deduptgt__ where "
                + probe
                + ")"
            )
            return flat, compiled
        except Exception:
            return None

    @staticmethod
    def _parse_dedup_probe(
        inner: list[str],
        inlows: list[str],
        raw_target: str,
        flat: str,
        tdef,
        cols: list[str],
        exprs: list[list[str]],
    ) -> list[str] | None:
        """The NOT EXISTS body must be SELECT … FROM <target> WHERE a
        conjunction of equalities, each pairing a target column with the
        token-identical expression inserted for that column (so the
        insert blocks exactly what the probe would later see). Returns
        the key column list, or None."""
        if not inner or inlows[0] != "select":
            return None
        depth, ifrom = 0, -1
        for i, t in enumerate(inner):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and inlows[i] == "from":
                ifrom = i
                break
        if ifrom < 0:
            return None
        if ifrom + 1 >= len(inner):
            return None
        probe, j = qualified_name(inner, ifrom + 1)
        if flat_name(probe) != flat:
            return None
        if j >= len(inner) or inlows[j] != "where":  # no alias/join forms
            return None
        tname = inner[j - 1].lower()
        tcols = {f.name.lower() for f in tdef.schema.fields}
        colmap = {
            c.lower(): " ".join(
                t.lower() if _is_word(t) else t for t in exprs[i]
            )
            for i, c in enumerate(cols)
        }

        def colref(ts: list[str], ls: list[str]) -> str | None:
            if len(ts) == 1 and _is_word(ts[0]) and ls[0] in tcols:
                return ls[0]
            if (
                len(ts) == 3
                and ts[1] == "."
                and _is_word(ts[0])
                and ls[0] in (tname, flat)
                and ls[2] in tcols
            ):
                return ls[2]
            return None

        keys: list[str] = []
        for lo, hi in Stream._top_spans(inner, inlows, "and", j + 1, len(inner)):
            span, slows = inner[lo:hi], inlows[lo:hi]
            depth, ieq = 0, -1
            for i, t in enumerate(span):
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and t == "=":
                    ieq = i
                    break
            if ieq < 0:
                return None
            c = colref(span[:ieq], slows[:ieq])
            evt, evl = span[ieq + 1 :], slows[ieq + 1 :]
            if c is None:
                c = colref(span[ieq + 1 :], slows[ieq + 1 :])
                evt, evl = span[:ieq], slows[:ieq]
            if c is None or not evt:
                return None
            # the event-side expression must not resolve to the inner
            # table (bare target-column names win inner resolution in
            # SQLite and Spark alike) nor nest its own query
            for i, t in enumerate(evt):
                if not _is_word(t):
                    continue
                w = evl[i]
                if w in ("select", "exists"):
                    return None
                if i + 1 < len(evt) and evt[i + 1] == "(":
                    continue  # function name
                if i >= 1 and evt[i - 1] == ".":
                    continue  # qualified member; qualifier checked below
                if w in tcols or w in (tname, flat):
                    return None
            if c not in colmap:
                return None
            norm = " ".join(t.lower() if _is_word(t) else t for t in evt)
            if norm != colmap[c]:
                return None
            if c not in keys:
                keys.append(c)
        return keys or None

    def _exec_roundwise(
        self,
        ex: DmlExecutor,
        stmt: str,
        is_state: bool,
        local_rows: list[tuple] | None,
    ) -> None:
        """Apply an accumulating upsert in per-key occurrence rounds.

        The source select (event-only by the round-wise gate) evaluates
        ONCE; each row gets ``__round__`` = its occurrence rank within
        its conflict key (ordered by event idx). Round r then applies the
        r-th occurrences set-wise — unique keys within a round, so the
        __ord__ dedup collapses nothing and DO UPDATE's current-row reads
        see exactly the state the per-event fold would have produced.
        R = max multiplicity Spark statements total (R ≤ N, typically
        ≪ N; a replay is O(R) jobs, not O(events))."""
        from pyspark.sql import Window

        shape = self._parse_upsert_shape(stmt)
        assert shape is not None  # caller gates on _roundwise_ok
        cols, keys, src_sql, prefix_sql_, tail_sql_ = shape
        src = ex.execute(src_sql, is_state=is_state).toDF(*cols, "__ord__")
        w = Window.partitionBy(*keys).orderBy(F.col("__ord__"))
        src = src.withColumn(
            "__round__", F.row_number().over(w)
        ).localCheckpoint(eager=True)
        n_rounds = src.agg(F.max("__round__").alias("r")).first()["r"] or 0
        view = self.store.view_prefix + "__roundsrc__"
        prefix_sql, tail_sql = prefix_sql_, tail_sql_
        for r in range(1, n_rounds + 1):
            src.where(F.col("__round__") == r).select(
                *cols, "__ord__"
            ).createOrReplaceTempView(view)
            ex.execute(
                f"{prefix_sql} select * from {view} {tail_sql}",
                is_state=is_state,
            )

    def _pooled_steps(
        self,
        stmts: list[str],
        safe: list[tuple[str, bool] | None],
        acc: list[bool],
    ) -> list[FoldStep] | None:
        """The POOLED-ROUND tier of ``_fold_plan`` (r10, VERDICT r9 #4):
        scripts where two or more conflict-handling INSERT…SELECT FROM
        event statements share a target — the shape
        `_shared_target_hazard` otherwise forces per-event. ``safe`` and
        ``acc`` are the planner's per-statement ``_stmt_batch_safe`` and
        ``_accumulating_upsert`` results. Every member of a shared group
        becomes a ``pooled`` step; the first carries the group
        [(stmt_idx, tagged shape), …], which runs there (cross-target
        statements commute — sources read only event). Returns None when
        the script doesn't qualify.

        Why rounds interleave correctly: each (event, statement) pair is
        an operation touching ONLY the rows of its conflict key (the
        source reads just ``event``), so operations on different keys
        commute; per key, the reference's sequential fold
        (leaf-stream/src/lib.rs:543-569) applies operations in (event
        idx, statement position) order. Rank every pooled operation
        within its key by that order; round r then applies each
        statement's rank-r operations set-wise, in statement order —
        keys inside one round are unique across the whole pool, so the
        execution order within a round is invisible and the per-key
        subsequence replays exactly. R = max operations per key →
        O(R·S) Spark statements, not O(events).

        Qualification per shared target: every statement on it is a
        conflict-handling insert with a parseable upsert shape and the
        SAME conflict-key column set; no auto-assigned INTEGER PK (row
        ids would assign in pooled order, which is order-visible); no
        reserved-name collisions."""
        if (
            "__poolsrc__" in self.store.defs
            or "__poolsrc__" in self.store.views
        ):
            return None
        # ("insert", tgt, conflict?) | ("delete", tgt) | ("update", tgt)
        per_stmt: list[tuple[str, str, bool]] = []
        for stmt, got in zip(stmts, safe):
            if got is not None:
                per_stmt.append(("insert", got[0], got[1]))
                continue
            dt = self._delete_target(stmt)
            if dt is not None:
                per_stmt.append(("delete", dt, True))
                continue
            ut = self._update_target(stmt)
            if ut is not None:
                per_stmt.append(("update", ut, True))
                continue
            return None
        by_tgt: dict[str, list[int]] = {}
        for i, (_, tgt, _) in enumerate(per_stmt):
            by_tgt.setdefault(tgt, []).append(i)
        # a target is a pooled GROUP when >1 statement writes it, or
        # when an UPDATE writes it at all: same-key updates must apply
        # sequentially even standalone (n = n + delta twice), so a lone
        # update still needs per-key rounds
        shared = {
            t: idxs
            for t, idxs in by_tgt.items()
            if len(idxs) > 1
            or any(per_stmt[i][0] == "update" for i in idxs)
        }
        # a LONE delete is the compiled tier's territory; a lone delete
        # here (reached because something ELSE made the script
        # unpoolable by that tier, e.g. a shared group) compiles the
        # same way
        if not shared:
            return None
        plan: dict[str, list[tuple[int, tuple]]] = {}
        for tgt, idxs in shared.items():
            tdef = self.store.defs.get(tgt)
            if tdef is None:
                return None
            fields = {f.name.lower() for f in tdef.schema.fields}
            if fields & {"__ord__", "__round__", "__stmt__", "__pk__", "__newid__"}:
                return None
            ins_idxs = [i for i in idxs if per_stmt[i][0] == "insert"]
            del_idxs = [i for i in idxs if per_stmt[i][0] == "delete"]
            upd_idxs = [i for i in idxs if per_stmt[i][0] == "update"]
            if (
                ins_idxs
                and not del_idxs
                and not upd_idxs
                and all(not per_stmt[i][2] for i in ins_idxs)
            ):
                # shared PLAIN inserts: only hazard is the rowid-alias
                # id sequence (why the plain tier rejected them) —
                # compile by assigning ids explicitly as max + global
                # (idx, statement) rank
                shapes = []
                for i in ins_idxs:
                    ps = self._parse_plain_insert(stmts[i])
                    if ps is None:
                        return None
                    shapes.append((i, ("plainins", ps)))
                plan[tgt] = shapes
                continue
            if not ins_idxs and not upd_idxs:
                # deletes-only shared target: deletes COMMUTE (both only
                # remove; the survivor set is "no statement's predicate
                # matched for any event" regardless of order), so each
                # compiles independently set-wise
                shapes = []
                for i in del_idxs:
                    cd = self._compile_delete_setwise(stmts[i])
                    if cd is None:
                        return None
                    shapes.append((i, ("delcompiled", cd[1])))
                plan[tgt] = shapes
                continue
            shapes = []
            keyset: set[str] | None = None
            for i in ins_idxs:
                if not per_stmt[i][2]:  # plain insert on a shared
                    return None  # conflict target: order-visible dupes
                shape = self._parse_upsert_shape(stmts[i])
                if shape is None:
                    return None
                cols, keys, *_ = shape
                ks = {k.lower() for k in keys}
                if keyset is None:
                    keyset = ks
                elif ks != keyset:
                    return None
                # auto-assigned rowid-alias PK would number rows in
                # pooled order — require it be explicitly inserted
                pk = int_pk(tdef)
                if pk is not None and pk.lower() not in {
                    c.lower() for c in cols
                }:
                    return None
                shapes.append((i, ("upsert", shape)))
            if del_idxs or upd_idxs:
                # interleaved delete/update ops must be keyed by ONE
                # column shared with the inserts' conflict key (when
                # inserts are present) so every op ranks into the pool
                if keyset is not None and len(keyset) != 1:
                    return None
                key = next(iter(keyset)) if keyset is not None else None
                for i in upd_idxs:
                    us = self._parse_pooled_update(stmts[i], key)
                    if us is None:
                        return None
                    _flat, raw, key_col, src, set_sql, res, others = us
                    if key is None:
                        key = key_col  # first update fixes the group key
                    elif key_col.lower() != key.lower():
                        return None
                    shapes.append(
                        (
                            i,
                            (
                                "update",
                                (key_col, raw, src, set_sql, res, others),
                            ),
                        )
                    )
                for i in del_idxs:
                    if key is None:
                        return None  # deletes need a keyed sibling
                    ds = self._parse_pooled_delete(stmts[i], key)
                    if ds is None:
                        return None
                    shapes.append((i, ("delete", (key, *ds))))
            plan[tgt] = sorted(shapes)
        # unshared statements must be safe to run set-wise on their own:
        # non-accumulating (or round-wise-able) — accumulating singles
        # reuse the round-wise executor; unshared deletes compile via
        # the compiled tier's rewrite or refuse the plan
        steps: list[FoldStep] = []
        for i, (kind, tgt, _) in enumerate(per_stmt):
            if tgt in plan:
                first = plan[tgt][0][0] == i
                steps.append(
                    FoldStep(
                        "pooled", stmts[i], tgt, plan[tgt] if first else None
                    )
                )
            elif kind == "delete":
                cd = self._compile_delete_setwise(stmts[i])
                if cd is None:
                    return None
                steps.append(FoldStep("compiled", cd[1]))
            elif acc[i]:
                if not self._roundwise_ok(stmts[i]):
                    return None
                steps.append(FoldStep("roundwise", stmts[i]))
            else:
                steps.append(self._plain_step(stmts[i]))
        return steps

    def _parse_plain_insert(
        self, stmt: str
    ) -> tuple[str, list[str], str] | None:
        """(raw target, insert columns, ord-injected source SQL) for a
        PLAIN insert (no conflict clause) into a rowid-alias table whose
        id column is auto-assigned — the shape whose only order
        visibility is the id sequence itself. The pooled compile assigns
        ids explicitly as max+global-rank over (event idx, statement
        position), exactly the sequence the per-event fold produces."""
        try:
            s = self._inject_ord(stmt)
            toks = tokenize(s)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            split = self._split_insert(toks, lows)
            if split is None:
                return None
            isel, icut = split
            if icut >= 0 or "returning" in lows:
                return None
            raw_target, j = qualified_name(toks, lows.index("into") + 1)
            tdef = self.store.defs.get(flat_name(raw_target))
            if tdef is None:
                return None
            if j < isel and toks[j] == "(":
                cols = [
                    t for t in toks[j + 1 : toks.index(")", j)] if _is_word(t)
                ]
            else:
                cols = [f.name for f in tdef.schema.fields]
            if int_pk(tdef) is None:
                return None
            # pk listed in the insert columns is fine (r11): a runtime-NULL
            # id auto-assigns, an explicit one pins — the pooled executor
            # runs the same sequential-fold closed form dml.py uses, over
            # the global (idx, statement) order
            return raw_target, cols, " ".join(toks[isel:])
        except Exception:
            return None

    @staticmethod
    def _update_target(stmt: str) -> str | None:
        """Flat target of a plain UPDATE statement, else None."""
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        if len(lows) < 4 or lows[0] != "update" or lows[1] == "or":
            return None
        return flat_name(qualified_name(toks, 1)[0])

    @staticmethod
    def _delete_target(stmt: str) -> str | None:
        """Flat target of a DELETE FROM statement, else None."""
        toks = tokenize(stmt)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        if len(lows) < 3 or lows[0] != "delete" or lows[1] != "from":
            return None
        return flat_name(qualified_name(toks, 2)[0])

    def _pooled_source_df(
        self,
        ex: DmlExecutor,
        src_sql: str,
        cols: list[str] | None,
        is_state: bool,
        local_rows: list[tuple] | None,
    ):
        """Source relation for one pooled statement. When the staged
        events are driver-local and the source reads only ``event``,
        evaluate it in sqlite and stage the result as a JVM-local literal
        frame — no source job AND no checkpoint job (a LocalRelation is
        already re-scan-free across the rounds that join it). Any miss
        falls back to the Spark select + lineage cut."""
        if local_rows is not None and localexec.eligible(
            src_sql, self._known_tables(), allow_abort=False
        ):
            try:
                names, rows = self._local_eval.run_select(src_sql, local_rows)
            except (localexec.LocalEvalError, localexec.LocalAbort):
                names = None
            if names is not None:
                out_names = [*cols, "__ord__"] if cols is not None else list(names)
                if len(out_names) == len(names):
                    schema = localexec.infer_spark_schema(out_names, rows)
                    if schema is not None:
                        try:
                            return self._event_local_df(rows, schema)
                        except Exception:
                            pass
        src = ex.execute(src_sql, is_state=is_state)
        if cols is not None:
            src = src.toDF(*cols, "__ord__")
        return src.localCheckpoint(eager=True)

    def _exec_pooled_rounds(
        self,
        ex: DmlExecutor,
        group: list[tuple[int, tuple]],
        is_state: bool,
        flat_target: str | None = None,
        local_rows: list[tuple] | None = None,
    ) -> None:
        """Apply one shared-target statement group in pooled per-key
        occurrence rounds (see _pooled_steps). Group entries are tagged:
        ("upsert", upsert_shape), ("delete", (key, raw_target, src_sql,
        residual)) — a keyed delete ranked into the pool — or
        ("delcompiled", sql) for deletes-only groups, which commute and
        run once each."""
        from pyspark.sql import Window

        if all(tag == "delcompiled" for _, (tag, _) in group):
            for _si, (_tag, sql) in group:
                ex.execute(sql, is_state=is_state)
            return
        if all(tag == "plainins" for _, (tag, _) in group):
            # shared plain inserts into a rowid-alias table: assign ids
            # with the sequential-fold closed form over the global
            # (event idx, statement) order — c = autos so far, explicit
            # ids enter as key = id − c, auto row i gets
            # max(base, runmax(key)_i) + c_i (dml.py uses the identical
            # formula; with no explicit ids it degenerates to the r10
            # base + rank). Then each statement inserts ONCE (plain
            # inserts commute after ids are fixed). The window is
            # single-partition like the dml layer's own assignment:
            # sequential ids are inherently serial, event-batch-sized
            # only.
            flat0 = flat_name(group[0][1][1][0])
            tdef0 = self.store.defs[flat0]
            pk = tdef0.primary_key[0]
            pk_type = next(
                f.dataType for f in tdef0.schema.fields if f.name == pk
            )
            srcs2 = []
            frames = []
            for si, (_tag, (raw, cols, src_sql)) in group:
                src = self._pooled_source_df(
                    ex, src_sql, cols, is_state, local_rows
                )
                srcs2.append((si, raw, cols, src))
                pk_col = next(
                    (c for c in cols if c.lower() == pk.lower()), None
                )
                frames.append(
                    src.select(
                        "__ord__",
                        F.lit(si).alias("__stmt__"),
                        (
                            F.col(pk_col).cast(pk_type)
                            if pk_col is not None
                            else F.lit(None).cast(pk_type)
                        ).alias("__pk__"),
                    )
                )
            pool = frames[0]
            for fr in frames[1:]:
                pool = pool.unionByName(fr)
            base = (
                self.store.tables[flat0]
                .agg(F.coalesce(F.max(pk), F.lit(0)).alias("m"))
                .first()["m"]
            ) or 0
            w = Window.orderBy(
                F.col("__ord__"), F.col("__stmt__")
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            c = F.sum(
                F.when(F.col("__pk__").isNull(), 1).otherwise(0)
            ).over(w)
            key = F.when(F.col("__pk__").isNotNull(), F.col("__pk__") - c)
            runmax = F.max(key).over(w)
            pool = pool.withColumn(
                "__newid__",
                F.coalesce(
                    F.col("__pk__"),
                    (
                        F.greatest(
                            F.coalesce(runmax, F.lit(base)), F.lit(base)
                        )
                        + c
                    ).cast(pk_type),
                ),
            ).localCheckpoint(eager=True)
            live = {
                r["__stmt__"]
                for r in pool.select("__stmt__").distinct().collect()
            }
            view = self.store.view_prefix + "__poolsrc__"
            for si, raw, cols, src in srcs2:
                if si not in live:
                    continue
                picked = pool.where(F.col("__stmt__") == si).select(
                    "__ord__", "__newid__"
                )
                cols_wo_pk = [c for c in cols if c.lower() != pk.lower()]
                sub = src.join(picked, "__ord__").select(
                    F.col("__newid__").cast(pk_type).alias(pk),
                    *cols_wo_pk,
                )
                sub.createOrReplaceTempView(view)
                collist = " , ".join([pk, *cols_wo_pk])
                ex.execute(
                    f"insert into {raw} ( {collist} ) "
                    f"select * from {view}",
                    is_state=is_state,
                )
            return
        keys: list[str] | None = None
        for _si, (tag, shape) in group:
            if tag == "upsert":
                keys = [k.lower() for k in shape[1]]
                break
        if keys is None:  # update-led group: its key column names the pool
            for _si, (tag, shape) in group:
                if tag == "update":
                    keys = [shape[0].lower()]
                    break
        assert keys is not None  # _pooled_steps guarantees a keyed statement
        has_delete = any(tag == "delete" for _, (tag, _) in group)
        srcs: list[tuple[int, str, tuple, DataFrame]] = []
        key_frames = []
        for si, (tag, shape) in group:
            if tag == "upsert":
                cols, _, src_sql, _, tail_sql = shape
            elif tag == "delete":  # source selects (key,[__e*__],__ord__)
                _key, _raw, src_sql, _res, ecols, _mix = shape
                # a mixed-guard delete keys its source __k__ (like
                # updates) so the EXISTS guard can correlate the bare
                # target columns outward
                cols = (["__k__", *ecols] if ecols else [keys[0]])
            else:  # update: source is explicitly aliased (__k__, __e*__)
                src_sql = shape[2]
                cols = None
            # each source select is re-joined once per round below — the
            # helper either stages a driver-evaluated LocalRelation (no
            # job, re-scan-free) or cuts lineage with a localCheckpoint
            # (the _exec_roundwise discipline)
            src = self._pooled_source_df(ex, src_sql, cols, is_state, local_rows)
            srcs.append((si, tag, shape, src))
            if tag == "update" or (tag == "delete" and "__k__" in src.columns):
                kf = src.select(
                    F.col("__k__").alias(keys[0]),
                    F.col("__ord__"),
                    F.lit(si).alias("__stmt__"),
                )
            else:
                kf = src.select(
                    *[F.col(k).alias(k) for k in keys],
                    F.col("__ord__"),
                    F.lit(si).alias("__stmt__"),
                )
                if (
                    tag == "upsert"
                    and not has_delete
                    and re.search(
                        r"\bdo\s+nothing\s*$", tail_sql, re.IGNORECASE
                    )
                ):
                    # DO NOTHING ops beyond a key's FIRST are provably
                    # no-ops when nothing can delete the key mid-batch
                    # (updates never remove rows): pool only the first
                    # occurrence per non-NULL key — halves R for the
                    # insert-then-accumulate module shape. NULL keys
                    # never conflict (every one inserts), so they all
                    # stay pooled.
                    anynull = F.lit(False)
                    for k in keys:
                        anynull = anynull | F.col(k).isNull()
                    firsts = kf.where(~anynull).groupBy(*keys).agg(
                        F.min("__ord__").alias("__ord__"),
                        F.min("__stmt__").alias("__stmt__"),
                    )
                    kf = firsts.unionByName(kf.where(anynull))
            key_frames.append(kf)
        pool = key_frames[0]
        for kf in key_frames[1:]:
            pool = pool.unionByName(kf)
        w = Window.partitionBy(*keys).orderBy(
            F.col("__ord__"), F.col("__stmt__")
        )
        pool = pool.withColumn(
            "__round__", F.row_number().over(w)
        ).localCheckpoint(eager=True)
        # one aggregation tells which (round, stmt) cells are non-empty —
        # NOT a take(1) probe job per cell (r10 review finding); the
        # collect is bounded by total ops (≤ events × statements) and
        # carries two ints per row
        cells = {
            (r["__round__"], r["__stmt__"])
            for r in pool.select("__round__", "__stmt__")
            .distinct()
            .collect()
        }
        n_rounds = max((r for r, _ in cells), default=0)
        view = self.store.view_prefix + "__poolsrc__"
        for r in range(1, n_rounds + 1):
            round_had_update = False
            for si, tag, shape, src in srcs:
                if (r, si) not in cells:
                    continue  # no rank-r operations for this statement
                picked = pool.where(
                    (F.col("__round__") == r) & (F.col("__stmt__") == si)
                ).select("__ord__")
                if tag == "upsert":
                    cols, _, _, prefix_sql, tail_sql = shape
                    sub = src.join(picked, "__ord__").select(
                        *cols, "__ord__"
                    )
                    sub.createOrReplaceTempView(view)
                    ex.execute(
                        f"{prefix_sql} select * from {view} {tail_sql}",
                        is_state=is_state,
                    )
                elif tag == "delete":
                    key, raw_target, _src_sql, residual, ecols, mix = shape
                    if ecols:
                        # guarded delete (r12): the round view carries
                        # __k__ + the materialized event exprs; the
                        # guard correlates the target row through
                        # EXISTS and evaluates against the PRE-ROUND
                        # table — bare target columns resolve outward
                        # (nothing in the view shadows them; fields
                        # starting with __ are rejected at parse)
                        sub = src.join(picked, "__ord__").select(
                            "__k__", *ecols
                        )
                        sub.createOrReplaceTempView(view)
                        sql = (
                            f"delete from {raw_target} where exists ( "
                            f"select 1 from {view} where __k__ = {key} "
                            f"and ( {mix} ) )"
                        )
                    else:
                        sub = src.join(picked, "__ord__").select(keys[0])
                        sub.createOrReplaceTempView(view)
                        sql = (
                            f"delete from {raw_target} where {key} in "
                            f"( select {key} from {view} )"
                        )
                    if residual:
                        sql += f" and ( {residual} )"
                    ex.execute(sql, is_state=is_state)
                    if ecols:
                        # the EXISTS guard embeds the target in its own
                        # delete plan — checkpoint after the round like
                        # updates do, or plans nest once per round
                        round_had_update = True
                else:  # update → upsert with a target-joining source
                    # NOT an UPDATE…FROM: its existing⋈matches self-join
                    # under the fold's insert-union trips Spark's
                    # Union.rewriteConstraints at the batch-end
                    # checkpoint ("key not found: <attr>"). The upsert
                    # form keeps the target read INSIDE the insert
                    # source (the same join-under-union shape the
                    # compiled dedup idiom has exercised since r9):
                    # rows select only keys that exist (join) and pass
                    # the residual, so the DO UPDATE branch always
                    # fires and non-existent keys stay no-ops — exact
                    # UPDATE semantics.
                    (
                        key,
                        raw_target,
                        _src_sql,
                        set_assigns,
                        residual,
                        others,
                    ) = shape  # noqa: F841
                    sub = src.join(picked, "__ord__").drop("__ord__")
                    sub.createOrReplaceTempView(view)
                    set_cols = [a.split("=", 1) for a in set_assigns]
                    col_names = [c.strip() for c, _ in set_cols]
                    sel_exprs = [
                        f"( {e.strip()} ) as {c.strip()}"
                        for c, e in set_cols
                    ]
                    # unassigned columns ride along from the joined
                    # target row so the candidate row is always fully
                    # populated (NOT NULL constraints never see a
                    # default) — the DO UPDATE only touches assigned
                    # columns, so they are read-through either way
                    sel_exprs += [
                        f"{raw_target}.{c} as {c}" for c in others
                    ]
                    where = f"{view}.__k__ = {raw_target}.{key}"
                    if residual:
                        where += f" and ( {residual} )"
                    sql = (
                        f"insert into {raw_target} "
                        f"( {key} , {' , '.join(col_names + others)} ) "
                        f"select {view}.__k__ , {' , '.join(sel_exprs)} "
                        f"from {view} , {raw_target} where {where} "
                        f"on conflict ( {key} ) do update set "
                        + " , ".join(
                            f"{c} = excluded.{c}" for c in col_names
                        )
                    )
                    ex.execute(sql, is_state=is_state)
                    round_had_update = True
            if round_had_update and flat_target in self.store.tables:
                # an update round JOINS the target into its own plan —
                # without a lineage cut the plan EMBEDS itself once per
                # round (exponential analysis cost by round ~10).
                # Eagerly checkpoint the target after every update
                # round: O(R·table) materializations, linear plans —
                # the price of exact per-key sequencing, still far
                # cheaper than the per-event fold it replaces.
                self.store.register(
                    flat_target,
                    self.store.tables[flat_target].localCheckpoint(
                        eager=True
                    ),
                )

    def _ord_needed(self, stmt: str) -> bool:
        """True when a set-wise insert must carry ``__ord__``: conflict
        resolution (last-event-wins order) OR rowid-alias auto-assignment
        (the dml layer numbers max+1 ids in __ord__ order when present;
        without it FRAME order decides — which on a replayed multi-file
        log is size-sorted file order, not event order — r10 finding:
        replayed rowid tables came back with permuted ids)."""
        if self._has_conflict_clause(stmt):
            return True
        try:
            toks = tokenize(stmt)
            lows = [t.lower() if _is_word(t) else t for t in toks]
            if not lows or lows[0] != "insert":
                return False
            raw, _ = qualified_name(toks, lows.index("into") + 1)
            tdef = self.store.defs.get(flat_name(raw))
            # rowid-alias targets ALWAYS carry __ord__: even with the pk
            # listed in the insert columns, a runtime-NULL id expression
            # auto-assigns, and the assignment sequence (dml.py's
            # sequential-fold closed form) is defined by event order
            return tdef is not None and int_pk(tdef) is not None
        except Exception:
            return False

    def _fold_df(
        self,
        events: DataFrame,
        fold_sql: str,
        policy: str,
        local_rows: list[tuple] | None = None,
    ) -> None:
        """Fold an idx-ordered event DataFrame through materializer SQL.

        The staged ``event`` view exposes exactly the reference's
        materializer columns (idx, user, payload — basic.rs:60-74);
        signature is log-only, and a module doing ``SELECT * FROM event``
        must see the same arity as it would on the reference.

        ``local_rows`` — the staged (idx, user, payload) tuples when they
        are driver-local (interactive commits); enables the sqlite
        fold-source fast path. Replay/catch-up folds read the parquet log
        distributed and pass None — at that scale the set-wise Spark path
        is the right one.

        Every statement authorizes before the first one executes; then
        ``_fold_plan``'s steps run in one loop, or — when the planner
        returns None — the whole script folds per event."""
        if not fold_sql.strip():
            return
        is_state = policy == "state_materialize"
        ev_view = self.store.view_prefix + "event"
        events = events.select("idx", "user", "payload")
        stmts = split_statements(strip_comments(fold_sql))
        # raw-log view only when some statement actually references it
        # (the _run_script rule; materializers read the staged `event`
        # view, almost never the whole `events` log)
        needs_events = any(
            re.search(r"\bevents\b", st, re.IGNORECASE) for st in stmts
        )
        plan = self._fold_plan(stmts)
        for stmt in stmts:
            self.sql_authorizer.check(stmt, policy)
        if plan is not None:
            events.createOrReplaceTempView(ev_view)
            ex = self._executor(ev_view, with_events=needs_events)
            for step in plan:
                if step.kind == "roundwise":
                    self._exec_roundwise(ex, step.sql, is_state, local_rows)
                elif step.kind == "pooled":
                    if step.group is not None:
                        self._exec_pooled_rounds(
                            ex,
                            step.group,
                            is_state,
                            flat_target=step.target,
                            local_rows=local_rows,
                        )
                else:
                    s = self._localize_insert(step.sql, local_rows) or step.sql
                    ex.execute(s, is_state=is_state)
            return
        # per-event sequential fold (reference lib.rs:543-569)
        rows = events.orderBy("idx").collect()
        cols = events.columns
        for r in rows:
            row = tuple(r[c] for c in cols)
            one = self._event_local_df([row], events.schema)
            one.createOrReplaceTempView(ev_view)
            ex = self._executor(ev_view, with_events=needs_events)
            for stmt in stmts:
                # event-only INSERT sources (e.g. the accumulating-upsert
                # shape that forces this path) still localize per event —
                # the statement's own managed-table reads stay in Spark
                s2 = self._localize_insert(stmt, [row[:3]]) or stmt
                ex.execute(s2, is_state=is_state)

    # -- A3 authorize --------------------------------------------------------

    _AUTH_CHUNK = 32  # events per evaluation job (bounds union-plan depth)

    # authorize-context event table carries ONLY (user, payload) — the
    # reference's temp event table for authorization (basic.rs:134-158);
    # idx/signature references fail there too.
    _SCALAR_EV_RE = re.compile(
        r"\(\s*select\s+(user|payload)\s+from\s+event\s*\)",
        re.IGNORECASE,
    )

    def _vectorize_auth_stmt(self, stmt: str) -> str | None:
        """Rewrite an authorizer statement to evaluate per-event over the
        WHOLE staged batch in one pass, when provably equivalent:

        the statement must be a bare SELECT (no top-level FROM/WHERE/GROUP/
        ORDER/LIMIT) whose only references to ``event`` are scalar
        subqueries ``(select col from event)``. Those become column refs on
        an appended ``from event __ev__`` — one row per staged event, so
        throw()/unauthorized() fires iff it would fire for some event in
        the per-event loop. Returns None when not provably rewritable
        (caller falls back to the per-event path)."""
        s2 = self._SCALAR_EV_RE.sub(lambda m: "__ev__." + m.group(1).lower(), stmt)
        toks = tokenize(s2)
        lows = [t.lower() if _is_word(t) else t for t in toks]
        if not lows or lows[0] != "select":
            return None
        depth = 0
        for t, low in zip(toks, lows):
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            elif depth == 0 and low in (
                "from", "where", "group", "order", "limit",
                # compound selects: the appended "from event" would bind
                # only to the LAST arm, and event-free earlier arms with
                # throw()/unauthorized() would evaluate once per batch
                # instead of once per event — not provably equivalent
                "union", "intersect", "except", "values",
            ):
                return None  # has its own relation/clauses — not a bare select
            elif low == "event":
                return None  # residual event reference we can't prove safe
        return s2 + " from event as __ev__"

    @property
    def _local_eval(self) -> localexec.LocalEval:
        if self._local_eval_inst is None:
            self._local_eval_inst = localexec.LocalEval()
        return self._local_eval_inst

    # managed tables with at most this many rows mirror into the local
    # evaluator so table-referencing authorizer statements (the bans
    # EXISTS) also skip the per-commit Spark job; bigger tables keep the
    # Spark path (broadcast joins are what Spark is FOR at that size)
    _MIRROR_CAP = 256
    # a mirror that is ALREADY staged keeps serving while the table grows
    # by provable pure appends (TableStore.mirror_deltas): each commit
    # inserts only the delta rows — O(delta) maintenance, no Spark job —
    # up to this many rows. Chat-message-sized live state stays on the
    # ~3,000 rt/s local path instead of dropping to the ~100 ms Spark
    # floor at 257 rows; any non-append mutation poisons the chain and
    # the next version check falls back to Spark (the safe direction).
    _MIRROR_CAP_APPEND = 16384

    def _purge_stale_mirrors(self) -> None:
        """Drop mirrors whose table left the store (module swap, DROP):
        a lingering mirror would silently ANSWER for a statement the
        Spark path rejects with "no such table". Runs before EVERY local
        authorize evaluation — a statement referencing a dropped table
        has empty known-refs and would otherwise pass the eligibility
        gate straight into the stale mirror."""
        if not self._mirror_versions:
            return
        known = self._known_tables()
        le = self._local_eval
        for name in list(self._mirror_versions):
            if name not in known:
                le.drop_table(name)
                del self._mirror_versions[name]

    def _mirror_tables(self, names: set[str]) -> bool:
        """Stage each named managed table into the local evaluator as
        literal rows, cached per TableStore registration version (any
        mutation/rollback/restore re-registers and bumps it, so a stale
        mirror can never answer). Returns False when any table exceeds
        the cap or carries unmirrorable value types."""
        le = self._local_eval
        for name in sorted(names):
            ver = self.store.table_version(name)
            staged = self._mirror_versions.get(name)
            if staged == ver:
                continue
            if self._mirror_failed.get(name) == ver:
                # this exact version already failed staging (> cap /
                # unmirrorable values) — without this negative cache
                # every read-path attempt on a big table would re-pay
                # the take() Spark job just to re-discover that
                return False
            df = self.store.tables.get(name)
            if df is None:
                return False
            if staged is None:
                # never staged, but the append chain may be complete since
                # CREATE (provably empty base): bootstrap by replaying the
                # deltas into an empty mirror — no take(), no Spark job,
                # and no 256-row ceiling on the first look
                base = self.store.mirror_base(name)
                if (
                    base is not None
                    and self.store.mirror_deltas(name, base) is not None
                    and le.stage_table(name, df.columns, [])
                ):
                    self._mirror_rows[name] = 0
                    staged = base
            if staged is not None:
                advanced = self._advance_mirror(name, df, staged, ver)
                if advanced == "advanced":
                    continue
                if advanced == "toobig":
                    return False
                # "restage" falls through to the full path below
                self._mirror_versions.pop(name, None)
                self._mirror_rows.pop(name, None)
            rows = df.take(self._MIRROR_CAP + 1)
            if len(rows) > self._MIRROR_CAP:
                self._mirror_versions.pop(name, None)
                self._mirror_failed[name] = ver
                le.drop_table(name)
                return False
            cols = df.columns
            if not le.stage_table(
                name, cols, [tuple(r[c] for c in cols) for r in rows]
            ):
                self._mirror_versions.pop(name, None)
                self._mirror_failed[name] = ver
                return False
            self._mirror_versions[name] = ver
            self._mirror_rows[name] = len(rows)
            self.store.mirror_synced(name, ver)
        return True

    def _advance_mirror(self, name: str, df, staged: int, ver: int) -> str:
        """Try to advance an already-staged mirror to ``ver`` by inserting
        only the append-delta rows (TableStore.mirror_deltas) — no Spark
        job, O(delta) sqlite inserts. Returns "advanced" (mirror now at
        ``ver``), "restage" (chain unprovable → caller re-stages fully,
        which re-applies the 256-row cap), or "toobig" (growth passed
        _MIRROR_CAP_APPEND / unmirrorable values → mirror dropped and the
        version negative-cached, caller uses Spark)."""
        deltas = self.store.mirror_deltas(name, staged)
        if deltas is None:
            return "restage"
        le = self._local_eval

        def _fail() -> str:
            self._mirror_versions.pop(name, None)
            self._mirror_rows.pop(name, None)
            self._mirror_failed[name] = ver
            le.drop_table(name)
            return "toobig"

        cols = df.columns
        total = self._mirror_rows.get(name, 0)
        batches: list[list[tuple]] = []
        for d in deltas:
            if d.columns != cols:
                if set(d.columns) >= set(cols):
                    d = d.select(*cols)
                else:
                    return "restage"
            # LocalRelation plans (proved in mirror_deltas): collect() is a
            # driver-side literal read, not a cluster scan
            drows = d.collect()
            total += len(drows)
            if total > self._MIRROR_CAP_APPEND:
                return _fail()
            batches.append([tuple(r[c] for c in cols) for r in drows])
        for rows_ in batches:
            if not le.insert_rows(name, cols, rows_):
                # unmirrorable value types; earlier batches may already be
                # in — the mirror is dropped either way, nothing can answer
                return _fail()
        self._mirror_versions[name] = ver
        self._mirror_rows[name] = total
        # prune consumed history so the chain's fold budget covers LIVE
        # entries only (r12 chain-longevity: fold, never drop unconsumed)
        self.store.mirror_synced(name, ver)
        return "advanced"

    def _known_tables(self) -> set[str]:
        return {n.lower() for n in self.store.defs} | {
            n.lower() for n in self.store.views
        }

    def _authorize(self, staged: list[Event], staged_df: DataFrame) -> None:
        """Run the authorizer for every staged event.

        Statements that touch only the staged ``event`` table evaluate
        driver-side in sqlite (localexec.py) — per-event, the reference's
        exact in-process shape (lib.rs:636-644), at microseconds instead
        of a Spark job. For the rest (managed-table reads like the bans
        EXISTS), per-event semantics (each statement sees a single-row
        ``event`` table) are preserved by building one lazy result branch
        per (event, statement) — a filter of the SAME staged DataFrame, so
        no per-event driver→JVM data transfer — and forcing evaluation in
        chunked unions: ~N/32 Spark jobs per batch instead of multiple jobs
        per event. Any ``throw``/``unauthorized`` fires during evaluation
        and rejects the whole batch (reference lib.rs:592-595)."""
        if self.module is None or not self.module.authorizer.strip():
            return
        stmts = split_statements(strip_comments(self.module.authorizer))
        for stmt in stmts:
            self.sql_authorizer.check(stmt, "authorize")
        known = self._known_tables()
        local: list[str] = []
        needed: set[str] = set()
        for s_ in stmts:
            refs = localexec.table_refs(s_, known)
            if localexec.eligible(
                s_, known, allow_abort=True, mirrorable=refs
            ):
                local.append(s_)
                needed |= refs
        if local:
            self._purge_stale_mirrors()
        if local and needed and not self._mirror_tables(needed):
            local = []  # a referenced table is too big / unmirrorable
        if local:
            try:
                ev_rows = [(e.user, e.payload) for e in staged]
                # vectorizable statements evaluate ONCE over the whole
                # staged batch (one sqlite scan each — per-batch GIL
                # cost, not per-event); the rest share a SINGLE
                # event-major pass (all statements per event — the
                # reference's order among them, lib.rs:636-644 — and
                # one event stage/delete/insert loop total instead of
                # one per statement)
                vec_map = {
                    s_: self._vectorize_auth_stmt(s_) for s_ in local
                }
                vecs = [v for v in vec_map.values() if v is not None]
                others = [s_ for s_ in local if vec_map[s_] is None]
                try:
                    if vecs:
                        self._local_eval.authorize_setwise(vecs, ev_rows)
                    if others:
                        self._local_eval.authorize(others, ev_rows)
                except localexec.LocalAbort:
                    if len(local) > 1:
                        # the fast path is statement-major across
                        # groups; the reference reports the FIRST
                        # (event, statement) abort in event-major
                        # order. The batch is rejected either way, so
                        # replay per-event off the hot path to recover
                        # the reference-exact error detail (this raises
                        # LocalAbort with the winning message).
                        self._local_eval.authorize(local, ev_rows)
                    raise
                local_set = set(local)
                stmts = [s for s in stmts if s not in local_set]
            except localexec.LocalAbort as ab:
                raise BatchRejected(
                    f"batch rejected: {ab.detail}"
                ) from None
            except localexec.LocalEvalError:
                pass  # mis-gated: evaluate everything through Spark
        if not stmts:
            return
        if not staged_df.isLocal():
            # lineage-truncate non-local staging so the N lazy branches
            # don't re-run an upstream scan each; Arrow-local staging
            # (LocalTableScan) is already a materialized literal — a
            # checkpoint there is a pure ~200 ms driver round-trip
            staged_df = staged_df.localCheckpoint()
        vectorized = [self._vectorize_auth_stmt(s) for s in stmts]
        needs_events = any(
            re.search(r"\bevents\b", st, re.IGNORECASE) for st in stmts
        )

        branches: list[DataFrame] = []
        views: list[str] = []
        batch_view = f"{self.store.view_prefix}event_auth_batch"
        if all(v is not None for v in vectorized):
            # fast path: each statement evaluates once over all staged rows
            staged_df.select("user", "payload").createOrReplaceTempView(batch_view)
            views.append(batch_view)
            ex = self._executor(batch_view, with_events=needs_events)
            for v in vectorized:
                res = ex.execute(v)
                if res is not None:
                    branches.append(self._force_all_columns(res))
        else:
            # per-event fallback: lazy branch per (event, statement), no
            # per-event driver→JVM transfer (filters of one DataFrame)
            for e in staged:
                ev_view = f"{self.store.view_prefix}event_auth_{e.idx}"
                staged_df.where(F.col("idx") == e.idx).select(
                    "user", "payload"
                ).createOrReplaceTempView(ev_view)
                views.append(ev_view)
                ex = self._executor(ev_view, with_events=needs_events)
                for stmt in stmts:
                    res = ex.execute(stmt)
                    if res is not None:
                        branches.append(self._force_all_columns(res))
        try:
            for lo in range(0, len(branches), self._AUTH_CHUNK):
                chunk = branches[lo : lo + self._AUTH_CHUNK]
                df = chunk[0]
                for b in chunk[1:]:
                    df = df.unionByName(b)
                df.collect()  # force evaluation → raise_error fires
        except Exception as ex:  # raise_error surfaces as a Py4J error
            msg = str(ex)
            m = re.search(r"(Unauthorized:[^\n\"]*)", msg)
            detail = m.group(1) if m else msg.splitlines()[0][:200]
            raise BatchRejected(f"batch rejected: {detail}") from None
        finally:
            for v in views:
                self.spark.catalog.dropTempView(v)

    @staticmethod
    def _force_all_columns(res: DataFrame) -> DataFrame:
        """One string column referencing every output column, so column
        pruning can't eliminate a raise_error expression (positional rename
        first: generated names may not round-trip through the parser)."""
        plain = res.toDF(*[f"c{i}" for i in range(len(res.columns))])
        return plain.select(F.to_json(F.struct(*plain.columns)).alias("r"))

    # -- A1 add_events -------------------------------------------------------

    def add_events(
        self,
        events: list[IncomingEvent],
        signer: Callable[[list[bytes]], bytes] | None = default_signer,
    ) -> int:
        """Append a batch atomically: authorize each event, materialize, then
        commit (advance latest_idx). Any failure → nothing is committed.

        Batch semantics note (deliberate divergence, documented): the
        reference interleaves authorize(e_i)/materialize(e_i) per event
        inside the txn (lib.rs:636-675), so e_2's authorizer can observe
        e_1's materialized effects. Here the whole batch authorizes against
        the batch-start snapshot, then materializes — callers needing
        intra-batch visibility submit separate batches."""
        if self.module is None:
            raise StreamError("no module loaded")
        if not events:
            return self.state.latest_idx
        with self._lock, self._scheduler_pool():
            self.catch_up()
            # the payload-decode memo's wins are all WITHIN one commit
            # (authorize + fold touch the same payloads ~5×); reset per
            # batch so driver memory stays O(batch), not
            # O(lifetime-distinct-payloads) (r10 review finding)
            if self._local_eval_inst is not None:
                self._local_eval_inst.reset_decode_cache()
            sig = signer([e.payload for e in events]) if signer else b""
            start = self.state.latest_idx + 1
            staged = [
                Event(start + i, e.user, e.payload, sig) for i, e in enumerate(events)
            ]
            snap = self.store.snapshot()
            try:
                staged_df = self._event_local_df(
                    [(e.idx, e.user, e.payload, e.signature) for e in staged]
                )
                self._authorize(staged, staged_df)
                self._fold_df(
                    staged_df,
                    self.module.materializer,
                    "materialize",
                    local_rows=[(e.idx, e.user, e.payload) for e in staged],
                )
                self.store.checkpoint_all()  # force evaluation pre-commit
            except Exception:
                # rollback: restore pre-batch table/view versions (nothing was
                # written to the log yet — mirrors SQLite txn rollback)
                self.store.restore(snap)
                raise
            self._append_parquet(staged)
            self.state.latest_idx = staged[-1].idx
            self.state.module_event_cursor = staged[-1].idx
            self._commit_state()
            self._maybe_persist()
            latest = self.state.latest_idx
        for cb in list(self._update_listeners):
            cb(latest)
        return latest

    # -- A5/A15 state events -------------------------------------------------

    def add_state_events(self, events: list[IncomingEvent]) -> None:
        """Fold non-persisted state events (no log append).

        Synthetic idx 1..n keeps the fold order deterministic for
        multi-event batches (per-event path orders by idx; batch upserts
        break __ord__ ties by it), and the fold runs under the same
        snapshot/rollback as add_events — the reference applies
        state-event batches in order inside a transaction and rolls back
        on error (lib.rs:721-773)."""
        if self.module is None:
            raise StreamError("no module loaded")
        if not events:
            return
        with self._lock:
            staged_df = self._event_local_df(
                [(i + 1, e.user, e.payload, b"") for i, e in enumerate(events)]
            )
            snap = self.store.snapshot()
            try:
                self._fold_df(
                    staged_df,
                    self.module.state_materializer,
                    "state_materialize",
                    local_rows=[
                        (i + 1, e.user, e.payload)
                        for i, e in enumerate(events)
                    ],
                )
                self.store.checkpoint_all()
            except Exception:
                self.store.restore(snap)
                raise
        for cb in list(self._update_listeners):
            cb(self.state.latest_idx)

    def clear_state(self) -> None:
        """Drop every state-namespace table, re-run state_init_sql
        (lib.rs:173-217)."""
        if self.module is None:
            raise StreamError("no module loaded")
        with self._lock:
            for name in self.store.state_tables():
                self.store.drop(name, if_exists=True)
            self._run_script(self.module.state_init_sql, "state_materialize", is_state=True)
            if os.path.exists(self._snapshot_manifest_path()):
                # the durable snapshot must reflect the clear (reference
                # clears the state.db FILE, lib.rs:173-217)
                self.persist_state()

    # -- A9/A10 named queries ------------------------------------------------

    def query(self, user: str | None, q: LeafQuery) -> list[dict]:
        """Dispatch a named query with validated params + builtin
        $start/$limit/$requesting_user; rows of the LAST statement return.

        When every statement is a SELECT over mirror-eligible tables
        (the ≤_MIRROR_CAP-row, version-keyed mirrors the authorize path
        already maintains), the query is served from driver-side sqlite
        — the reference's own in-process query shape
        (leaf-stream/src/lib.rs:842-862) — skipping the ~70-110 ms Spark
        SQL floor per named query and subscription re-query. Any gate
        miss or sqlite error falls back to the Spark path (the local
        path never writes, so falling back mid-way is always safe)."""
        if self.module is None:
            raise StreamError("no module loaded")
        qdef = self.module.query_def(q.name)
        bound = validate_params(list(qdef.params), q.params)
        args: dict = {k: v.to_python() for k, v in bound.items()}
        args["start"] = q.start if q.start is not None else 1
        args["limit"] = q.limit
        args["requesting_user"] = user
        rows = self._local_query(qdef.sql, args)
        if rows is not None:
            return rows
        df = self.query_df(user, q, args)
        if df is None:
            return []
        return [
            {k: _norm_sql_value(v) for k, v in r.asDict().items()}
            for r in df.collect()
        ]

    def _local_query(self, sql: str, args: dict) -> list[dict] | None:
        """Serve a named-query script from the driver-side sqlite table
        mirrors when provably equivalent; None → caller uses Spark.

        Eligibility (all conservative, any miss → Spark):
        - every statement is a SELECT touching only mirrorable managed
          tables (≤_MIRROR_CAP rows, scalar-typed values) and
          allowlisted functions — the same gate as local authorize;
        - no statement references ``event``/``events`` (no staged event
          exists in query context, and the LocalEval connection may
          hold a leftover authorize staging that must never answer);
        - every result column is a plain identifier (bare column or
          explicit alias) — unaliased expressions are NAMED differently
          by SQLite and Spark ('count(*)' vs 'count(1)').
        Value parity: mirrors are staged from the live DataFrames, and
        sqlite is the dialect the Spark translation approximates (the
        differential suite's invariant), so matching rows are identical;
        boolean expression results surface as sqlite 1/0, which the
        Spark path normalizes to as well (_norm_sql_value)."""
        stmts = split_statements(strip_comments(sql))
        if not stmts:
            return None
        known = self._known_tables()
        flat: list[str] = []
        needed: set[str] = set()
        for s_ in stmts:
            # the same pre-execution policy gate the Spark path runs in
            # _run_script — the local path must never bypass an
            # enforced authorizer (r10 review finding); failures
            # propagate identically to the Spark path's
            self.sql_authorizer.check(s_, "query")
            s2 = localexec.flatten_namespaces(s_)
            toks = tokenize(s2)
            if any(
                _is_word(t)
                and t.lower() in ("event", "events")
                and (i == 0 or toks[i - 1] != ".")
                for i, t in enumerate(toks)
            ):
                return None
            refs = localexec.table_refs(s2, known)
            if not localexec.eligible(
                s2, known, allow_abort=False, toks=toks, mirrorable=refs
            ):
                return None
            needed |= refs
            flat.append(s2)
        with self._lock:
            self._purge_stale_mirrors()
            if needed and not self._mirror_tables(needed):
                return None
            try:
                names, rows = self._local_eval.run_readonly(flat, args)
            except (localexec.LocalEvalError, localexec.LocalAbort):
                return None  # mis-gated → Spark path (nothing written)
        if not all(localexec.plain_ident(n) for n in names):
            return None
        return [dict(zip(names, r)) for r in rows]

    def query_df(self, user: str | None, q: LeafQuery, args: dict | None = None) -> DataFrame | None:
        if args is None:
            qdef = self.module.query_def(q.name)
            bound = validate_params(list(qdef.params), q.params)
            args = {k: v.to_python() for k, v in bound.items()}
            args["start"] = q.start if q.start is not None else 1
            args["limit"] = q.limit
            args["requesting_user"] = user
        qdef = self.module.query_def(q.name)
        with self._lock, self._scheduler_pool():
            return self._run_script(qdef.sql, "query", args=args)

    # -- A13 update pub/sub --------------------------------------------------

    def on_update(self, cb: Callable[[int], None]) -> Callable[[], None]:
        """Register a latest-idx listener; returns an unsubscribe fn."""
        self._update_listeners.append(cb)
        return lambda: self._update_listeners.remove(cb)

    def rows_to_wire(self, rows: list[dict]) -> list[dict]:
        """A11: rows → wire-codec maps ({col: {$type, value}})."""
        return [{k: SqlValue.of(v).to_wire() for k, v in r.items()} for r in rows]
