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
  lib.rs:543-569). The fold plan comes from ``fold/plan.py``; its
  round-wise and pooled steps run in ``fold/execute.py``.
"""

from __future__ import annotations

import functools
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
from .dml import DmlExecutor, TableStore
from .fold import execute as fold_exec
from .fold import plan as fold_plan
from .module import ANALYSIS_CACHE, BasicModuleDef, statements
from .localdf import arrow_local_df
from .sqlcompat import Authorizer, lex, on_conflict_at, top_level
from .types import Event, IncomingEvent, LeafQuery, to_wire, validate_params

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


# the FAIR pool each thread's Spark jobs go to, as Stream._scheduler_pool
# last set it (a local property of the thread's JVM peer)
_THREAD_POOL = threading.local()


class StreamError(RuntimeError):
    pass


class BatchRejected(StreamError):
    """Authorizer rejected an event → the WHOLE batch rolls back
    (reference lib.rs:592-595)."""


# authorize-context event table carries ONLY (user, payload) — the
# reference's temp event table for authorization (basic.rs:134-158);
# idx/signature references fail there too.
_SCALAR_EV_RE = re.compile(
    r"\(\s*select\s+(user|payload)\s+from\s+event\s*\)",
    re.IGNORECASE,
)


@functools.lru_cache(maxsize=ANALYSIS_CACHE)
def _vectorize_auth_stmt(stmt: str) -> str | None:
    """Rewrite an authorizer statement to evaluate per-event over the
    WHOLE staged batch in one pass, when provably equivalent:

    the statement must be a bare SELECT (no top-level FROM/WHERE/GROUP/
    ORDER/LIMIT) whose only references to ``event`` are scalar
    subqueries ``(select col from event)``. Those become column refs on
    an appended ``from event __ev__`` — one row per staged event, so
    throw()/unauthorized() fires iff it would fire for some event in
    the per-event loop. Returns None when not provably rewritable
    (caller falls back to the per-event path). Memoized on the text."""
    s2 = _SCALAR_EV_RE.sub(lambda m: "__ev__." + m.group(1).lower(), stmt)
    toks, lows = lex(s2)
    if not lows or lows[0] != "select":
        return None
    if any(
        lows[i] in (
            "from", "where", "group", "order", "limit",
            # compound selects: the appended "from event" would bind
            # only to the LAST arm, and event-free earlier arms with
            # throw()/unauthorized() would evaluate once per batch
            # instead of once per event — not provably equivalent
            "union", "intersect", "except", "values",
        )
        for i in top_level(toks)
    ):
        return None  # has its own relation/clauses — not a bare select
    if "event" in lows:
        return None  # residual event reference we can't prove safe
    return s2 + " from event as __ev__"


def _norm_sql_value(v):
    """Normalize a Spark-collected query value to the reference's SQLite
    value space: booleans → 1/0 (SQLite has no boolean storage class;
    the wire codec already maps bool→integer) and bytearray → bytes.
    Keeps the values of the Spark path and the in-process sqlite read
    path identical (row order: see ``Stream.query``)."""
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
        # table version each table's last persisted snapshot holds — the
        # snapshot's reader position on the store's append chain:
        # persist_state references the prior files for a table with no
        # delta since it, writes only the deltas of a pure-append table,
        # and rewrites anything the chain cannot prove (the safe direction)
        self._snap_table_versions: dict[str, int] = {}
        self._lock = threading.RLock()
        # per-stream FAIR scheduler pool (pools are created on demand by
        # name): commit jobs and subscription re-queries submitted from a
        # thread that called _scheduler_pool() share this stream's pool,
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
        self.store.chain_readers = self._chain_readers
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
        return arrow_local_df(self.spark, rows, schema)

    def _scheduler_pool(self) -> None:
        """Route jobs submitted from the calling thread into this stream's
        FAIR pool. Local properties are per-thread (PySpark pinned-thread
        mode), so concurrent streams' commit/query chains schedule fairly
        instead of FIFO-queueing behind each other — measured 4-stream
        push p95 drops ~2.5x (SCALE.md subscription table). The pool stays
        set when the call returns, and a thread-local record of what was
        set skips the py4j round trip while the thread's pool already is
        this stream's: a thread serving one stream pays it once, not per
        commit, and one that serves another stream switches on its next
        call."""
        if getattr(_THREAD_POOL, "name", None) != self._pool_name:
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", self._pool_name
            )
            _THREAD_POOL.name = self._pool_name

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
            prev_tables = (prev or {}).get("tables", {})
            prev_seq_dir = f"v{prev['seq']:06d}" if prev else ""
            tables_meta: dict[str, dict] = {}
            # each table's new snapshot version — the snapshot reader
            # moves only once the manifest is published
            synced: dict[str, int] = {}
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
                deltas = self.store.deltas_since(
                    name, self._snap_table_versions.get(name)
                )
                # schema metadata always comes from the live def, even
                # when the data is untouched (a pre-fix manifest may lack
                # some of these keys)
                meta = {
                    "schema": schema_json,
                    "primary_key": list(tdef.primary_key),
                    "is_state": tdef.is_state,
                    "defaults": dict(tdef.defaults),
                    "unique_cols": sorted(tdef.unique_cols),
                }
                if prev_paths is not None and deltas == []:
                    # untouched since the last persist (at most no-op
                    # re-registrations, e.g. a rejected batch): the new
                    # manifest references the existing files (no rewrite,
                    # no re-register → the table's version stays stable,
                    # so localexec mirrors keyed on it stay valid too)
                    tables_meta[name] = {**meta, "paths": prev_paths}
                    synced[name] = self.store.table_version(name)
                    continue
                rel = f"v{seq:06d}/{name}"
                path = os.path.join(base, rel)
                paths = [rel]
                if (
                    prev_paths is not None
                    and deltas
                    and len(prev_paths) < self._SNAPSHOT_CHAIN_CAP
                    # incremental snapshot: every change since the last
                    # persist was a pure driver-local append — write ONLY
                    # the delta rows as a new chain link; the table is the
                    # union of all chain dirs. O(delta) per persist
                    # regardless of table size (the SQLite-txn analogue).
                    and self._write_snapshot_table(
                        name, tdef, path, rows=[r for d in deltas for r in d]
                    )
                ):
                    paths = prev_paths + [rel]
                elif not self._write_snapshot_table(name, tdef, path):
                    # (a delta too big / unconvertible lands here too)
                    self.store.tables[name].write.mode(
                        "overwrite"
                    ).parquet(path)
                tables_meta[name] = {**meta, "paths": paths}
                # re-point the live DataFrame at the durable copy: truncates
                # lineage and drops references to the previous snapshot files
                self.store.reregister_preserving(
                    name, self._read_chain(tdef.schema, paths)
                )
                synced[name] = self.store.table_version(name)
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
            self._snap_table_versions.update(synced)
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

    def _chain_readers(self, name: str) -> list[int]:
        """Versions ``name``'s append chain is read from
        (``TableStore.chain_readers``): the last persisted snapshot, and
        the sqlite mirror — at its staged version, or at the CREATE base
        when that is newer (never staged, or staged for a dropped table
        of the same name), since the mirror then bootstraps from it."""
        mirror = self._mirror_versions.get(name)
        base = self.store.mirror_base(name)
        if mirror is None or (base is not None and base > mirror):
            mirror = base
        snap = self._snap_table_versions.get(name)
        return [v for v in (mirror, snap) if v is not None]

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
            # the loaded files are settled content: the chain starts here
            self._snap_table_versions[name] = self.store.replaced(name, df)
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
        self, name: str, tdef, path: str, rows: list[tuple] | None = None
    ) -> bool:
        """Write a small table's snapshot directly with pyarrow. The
        layout matches the restore path exactly (a directory holding
        parquet files, read back via spark.read.schema(...).parquet);
        arrow types come from the Spark schema, so read-back types are
        identical. Returns False (caller uses the Spark writer) for
        big/unconvertible tables — never a correctness dependency.
        ``rows`` (in field order) replaces the table's own rows: the
        incremental-snapshot path writes just the append delta."""
        try:
            cols = tdef.schema.fieldNames()
            if rows is None:
                got = self.store.tables[name].take(self._SNAPSHOT_DRIVER_CAP + 1)
                rows = [tuple(r[c] for c in cols) for r in got]
            if len(rows) > self._SNAPSHOT_DRIVER_CAP:
                return False
            from pyspark.sql.pandas.types import to_arrow_schema

            tbl = pa.Table.from_pydict(
                {c: [r[i] for r in rows] for i, c in enumerate(cols)},
                schema=to_arrow_schema(tdef.schema),
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
        self, event_view: str | Callable[[], str] | None, stmts: list[str]
    ) -> DmlExecutor:
        """ONE executor per script, and the raw-log view only when some
        statement references ``events``: re-reading the parquet log +
        re-registering its temp view per statement was ~80 ms of driver
        round-trips on every fold statement and subscription re-query
        that never touches the raw log (a literal-string false positive
        merely over-registers — harmless). ``event_view`` may be a
        callable that registers the view on first reference."""
        extra = {}
        if any(re.search(r"\bevents\b", s, re.IGNORECASE) for s in stmts):
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
        stmts = statements(sql)
        ex = self._executor(event_view, stmts)
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

    def _fold_df(
        self,
        events: DataFrame | Callable[[], DataFrame],
        fold_sql: str,
        policy: str,
        local_rows: list[tuple] | None = None,
    ) -> None:
        """Fold an idx-ordered event DataFrame through materializer SQL.

        The staged ``event`` view exposes exactly the reference's
        materializer columns (idx, user, payload — basic.rs:60-74);
        signature is log-only, and a module doing ``SELECT * FROM event``
        must see the same arity as it would on the reference. ``events``
        may be a zero-argument callable: the frame is then built, and the
        view registered, only when a Spark statement reads ``event``.

        ``local_rows`` — the staged (idx, user, payload) tuples when they
        are driver-local (interactive commits); enables the mirror fold
        of small tables (``_mirror_fold``) and the sqlite fold-source
        fast path. Replay/catch-up folds read the parquet log
        distributed and pass None — at that scale the set-wise Spark path
        is the right one.

        Every statement authorizes before the first one executes; then
        the mirror fold, or the steps of ``fold.plan.plan`` in one loop,
        or — when the planner returns None — the per-event fold."""
        if not fold_sql.strip():
            return
        is_state = policy == "state_materialize"
        stmts = statements(fold_sql)
        for stmt in stmts:
            self.sql_authorizer.check(stmt, policy)
        if local_rows is not None and self._mirror_fold(stmts, local_rows):
            return
        ev_view = self.store.view_prefix + "event"
        source = (lambda: events) if isinstance(events, DataFrame) else events

        @functools.cache
        def events_df() -> DataFrame:
            return source().select("idx", "user", "payload")

        @functools.cache
        def staged_view() -> str:
            events_df().createOrReplaceTempView(ev_view)
            return ev_view

        steps = fold_plan.plan(stmts, self.store)
        le = self._local_eval
        if steps is not None:
            ex = self._executor(staged_view, stmts)
            for step in steps:
                if step.kind == "roundwise":
                    fold_exec.exec_roundwise(ex, step.sql, is_state)
                elif step.kind == "pooled":
                    if step.group is not None:
                        fold_exec.exec_pooled_rounds(
                            ex,
                            le,
                            step.group,
                            is_state,
                            flat_target=step.target,
                            local_rows=local_rows,
                        )
                else:
                    s = (
                        fold_exec.localize_insert(ex, le, step.sql, local_rows)
                        or step.sql
                    )
                    ex.execute(s, is_state=is_state)
            return
        # per-event sequential fold (reference lib.rs:543-569)
        rows = events_df().orderBy("idx").collect()
        cols = events_df().columns
        for r in rows:
            row = tuple(r[c] for c in cols)
            one = self._event_local_df([row], events_df().schema)
            one.createOrReplaceTempView(ev_view)
            ex = self._executor(ev_view, stmts)
            for stmt in stmts:
                # event-only INSERT sources (e.g. the accumulating-upsert
                # shape that forces this path) still localize per event —
                # the statement's own managed-table reads stay in Spark
                s2 = fold_exec.localize_insert(ex, le, stmt, [row[:3]]) or stmt
                ex.execute(s2, is_state=is_state)

    def _mirror_fold(self, stmts: list[str], local_rows: list[tuple]) -> bool:
        """Fold an interactive batch in the localexec sqlite mirror when
        it writes only small mirrored tables — the reference folds in
        process in SQLite (lib.rs:543-569; state events lib.rs:721-773)
        — and hand each written table to the store as Python rows
        (``TableStore.appended_rows`` / ``replaced_rows``): no Spark DML
        plan, join, window, checkpoint job or JVM call. Spark sees the
        rows when it next reads the table.

        Applies when every statement passes
        ``localexec.eligible(write=True)``, every table it reads or
        writes is managed, trigger-free and mirrored at its current
        version (``_mirror_tables``, which re-probes no table whose
        staging failed before), every written mirror is typed, and
        connection-state tracking is off. ``LocalEval.fold`` then runs
        the batch in a SAVEPOINT. A script of plain INSERTs — one per
        written table, each reading only ``event`` — hands over only
        the rows it appended, and its tables may grow to
        ``_MIRROR_CAP_APPEND`` mirror rows; any other script of plain
        INSERTs keeps the Spark path. A script with any other statement
        hands over each written table whole, which must hold at most
        ``_MIRROR_CAP`` rows. A table past its bound, a value of the
        wrong type, or any sqlite error or abort rolls the SAVEPOINT
        back. Returns False — nothing written anywhere — for the
        caller's Spark fold."""
        store = self.store
        if store.track_changes:
            return False
        known = store.known_tables()
        flat: list[str] = []
        refs: set[str] = set()
        written: list[str] = []
        appends = True
        reads = False  # some statement reads a table besides its target
        for s_ in stmts:
            s2 = localexec.flatten_namespaces(s_)
            toks, lows = lex(s2)
            r = localexec.table_refs(s2, known)
            if not localexec.eligible(
                s2, known, allow_abort=False, mirrorable=r, write=True
            ):
                return False
            target = localexec.write_target(lows)
            appends &= lows[0] == "insert" and on_conflict_at(toks, lows) < 0
            reads |= r != {target} or lows.count(target) > 1
            written.append(target)
            flat.append(s2)
            refs |= r
        if (
            not refs <= store.defs.keys()
            or any(t.table in refs for t in store.triggers.values())
            # plain INSERTs keep the Spark path's set-wise plans when a
            # source reads a table (here it would rescan it per event)
            # or two of them write one table (they interleave per event
            # here, statement by statement there)
            or (appends and (reads or len(set(written)) < len(written)))
        ):
            return False
        self._purge_stale_mirrors()
        le = self._local_eval
        if not self._mirror_tables(refs, retry_failed=False) or not all(
            le.typed(t) for t in written
        ):
            return False
        schemas = {
            t: T.StructType(
                [T.StructField(f.name, f.dataType) for f in store.defs[t].schema]
            )
            for t in written
        }
        cap = (
            self._MIRROR_CAP_APPEND - max(self._mirror_rows[t] for t in written)
            if appends
            else self._MIRROR_CAP
        )
        out = le.fold(flat, local_rows, schemas, cap, appends=appends)
        if out is None:
            return False
        for name, rows in out.items():
            if appends:
                ver = store.appended_rows(name, schemas[name], rows)
                self._mirror_rows[name] += len(rows)
            else:
                ver = store.replaced_rows(name, schemas[name], rows)
                self._mirror_rows[name] = len(rows)
            self._mirror_versions[name] = ver
            store.synced(name)
        return True

    # -- A3 authorize --------------------------------------------------------

    _AUTH_CHUNK = 32  # events per evaluation job (bounds union-plan depth)

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
    # by provable pure appends (TableStore.deltas_since): each commit
    # inserts only the delta rows — O(delta) maintenance, no Spark job —
    # up to this many rows. Chat-message-sized live state stays on the
    # ~3,000 rt/s local path instead of dropping to the ~100 ms Spark
    # floor at 257 rows; any non-append mutation poisons the chain and
    # the next version check falls back to Spark (the safe direction).
    _MIRROR_CAP_APPEND = TableStore._MIRROR_FOLD_SPAN

    def _purge_stale_mirrors(self) -> None:
        """Drop mirrors whose table left the store (module swap, DROP):
        a lingering mirror would silently ANSWER for a statement the
        Spark path rejects with "no such table". Runs before EVERY local
        authorize evaluation — a statement referencing a dropped table
        has empty known-refs and would otherwise pass the eligibility
        gate straight into the stale mirror."""
        if not self._mirror_versions:
            return
        known = self.store.known_tables()
        le = self._local_eval
        for name in list(self._mirror_versions):
            if name not in known:
                le.drop_table(name)
                del self._mirror_versions[name]

    def _mirror_tables(self, names: set[str], retry_failed: bool = True) -> bool:
        """Stage each named managed table into the local evaluator as
        literal rows, cached per TableStore registration version (any
        mutation/rollback/restore re-registers and bumps it, so a stale
        mirror can never answer). Mirrors are typed from the table's
        ``TableDef`` (``LocalEval.stage_table``). Returns False when any
        table exceeds the cap or carries unmirrorable value types.
        Without ``retry_failed`` a table whose staging failed before, at
        any version, is not probed again with a ``take()`` job — the
        mirror fold's rule: a table past the cap would otherwise pay
        that job on every commit."""
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
            tdef = self.store.defs.get(name)
            if tdef is None:
                return False
            cols = tdef.schema.fieldNames()
            if self.store.deltas_since(name, staged) is None:
                # never staged (or the chain from the staged version is
                # lost), but the append chain may be complete since CREATE
                # (provably empty base): bootstrap by replaying the
                # deltas into an empty mirror — no take(), no Spark job,
                # and no 256-row ceiling on the first look
                base = self.store.mirror_base(name)
                if (
                    base is not None
                    and self.store.deltas_since(name, base) is not None
                    and le.stage_table(name, cols, [], *self._mirror_def(name))
                ):
                    self._mirror_rows[name] = 0
                    staged = base
            if staged is not None:
                advanced = self._advance_mirror(name, cols, staged, ver)
                if advanced == "advanced":
                    continue
                if advanced == "toobig":
                    return False
                # "restage" falls through to the full path below
                self._mirror_versions.pop(name, None)
                self._mirror_rows.pop(name, None)
            if not retry_failed and name in self._mirror_failed:
                return False
            df = self.store.tables[name]
            rows = df.take(self._MIRROR_CAP + 1)
            if len(rows) > self._MIRROR_CAP:
                self._mirror_versions.pop(name, None)
                self._mirror_failed[name] = ver
                le.drop_table(name)
                return False
            cols = df.columns
            if not le.stage_table(
                name,
                cols,
                [tuple(r[c] for c in cols) for r in rows],
                *self._mirror_def(name),
            ):
                self._mirror_versions.pop(name, None)
                self._mirror_failed[name] = ver
                return False
            self._mirror_versions[name] = ver
            self._mirror_rows[name] = len(rows)
            self.store.synced(name)
        return True

    def _mirror_def(self, name: str) -> tuple:
        """(TableDef, UNIQUE columns) a typed mirror of ``name`` declares."""
        return self.store.defs.get(name), self.store.unique_key_cols(name)

    def _advance_mirror(
        self, name: str, cols: list[str], staged: int, ver: int
    ) -> str:
        """Try to advance an already-staged mirror to ``ver`` by inserting
        only the append-delta rows (TableStore.deltas_since, in the
        table's field order ``cols``) — no JVM call, O(delta) sqlite
        inserts. Returns "advanced" (mirror now at ``ver``), "restage"
        (chain unprovable → caller re-stages fully, which re-applies the
        256-row cap), or "toobig" (growth passed _MIRROR_CAP_APPEND /
        unmirrorable values → mirror dropped and the version
        negative-cached, caller uses Spark)."""
        deltas = self.store.deltas_since(name, staged)
        if deltas is None:
            return "restage"
        le = self._local_eval
        total = self._mirror_rows.get(name, 0) + sum(map(len, deltas))
        if total > self._MIRROR_CAP_APPEND or not all(
            le.insert_rows(name, cols, rows_) for rows_ in deltas
        ):
            # unmirrorable value types may fail a later batch after
            # earlier ones went in — the mirror is dropped either way,
            # nothing can answer
            self._mirror_versions.pop(name, None)
            self._mirror_rows.pop(name, None)
            self._mirror_failed[name] = ver
            le.drop_table(name)
            return "toobig"
        self._mirror_versions[name] = ver
        self._mirror_rows[name] = total
        # prune consumed history so the chain's fold budget covers LIVE
        # entries only (r12 chain-longevity: fold, never drop unconsumed)
        self.store.synced(name)
        return "advanced"

    def _authorize(
        self, staged: list[Event], staged_df: Callable[[], DataFrame]
    ) -> None:
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
        and rejects the whole batch (reference lib.rs:592-595).
        ``staged_df`` builds the staged batch frame; only that Spark
        branch calls it."""
        if self.module is None or not self.module.authorizer.strip():
            return
        stmts = statements(self.module.authorizer)
        for stmt in stmts:
            self.sql_authorizer.check(stmt, "authorize")
        known = self.store.known_tables()
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
                    s_: _vectorize_auth_stmt(s_) for s_ in local
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
        staged_df = staged_df()
        if not staged_df.isLocal():
            # lineage-truncate non-local staging so the N lazy branches
            # don't re-run an upstream scan each; Arrow-local staging
            # (LocalTableScan) is already a materialized literal — a
            # checkpoint there is a pure ~200 ms driver round-trip
            staged_df = staged_df.localCheckpoint()
        vectorized = [_vectorize_auth_stmt(s) for s in stmts]

        branches: list[DataFrame] = []
        views: list[str] = []
        batch_view = f"{self.store.view_prefix}event_auth_batch"
        if all(v is not None for v in vectorized):
            # fast path: each statement evaluates once over all staged rows
            staged_df.select("user", "payload").createOrReplaceTempView(batch_view)
            views.append(batch_view)
            ex = self._executor(batch_view, stmts)
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
                ex = self._executor(ev_view, stmts)
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
        with self._lock:
            self._scheduler_pool()
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
                # built only if a Spark branch reads the batch
                staged_df = functools.cache(
                    lambda: self._event_local_df(
                        [(e.idx, e.user, e.payload, e.signature) for e in staged]
                    )
                )
                self._authorize(staged, staged_df)
                self._fold_df(
                    staged_df,
                    self.module.materializer,
                    "materialize",
                    local_rows=[(e.idx, e.user, e.payload) for e in staged],
                )
                # force evaluation pre-commit: a lazy error must reject
                # the batch here, not surface in a later read. Tables
                # grown only by literal appends stay clean and cost no
                # job — a LocalRelation delta was already evaluated on
                # the driver when the optimizer built it
                self.store.checkpoint_all()
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
            self._scheduler_pool()
            rows = [(i + 1, e.user, e.payload) for i, e in enumerate(events)]
            snap = self.store.snapshot()
            try:
                self._fold_df(
                    lambda: self._event_local_df([(*r, b"") for r in rows]),
                    self.module.state_materializer,
                    "state_materialize",
                    local_rows=rows,
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
        path never writes, so falling back mid-way is always safe).

        The two paths return the same multiset of rows, in the same
        order wherever the ORDER BY is total. Rows that tie under a
        partial ORDER BY (CHAT's ``message_stats`` orders by count only)
        or come from a query with none may come back in another order:
        each engine breaks ties by its own scan and aggregation order."""
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
        - no statement references ``event``/``events`` (``eligible``
          with ``event=False``: no staged event exists in query
          context, and the LocalEval connection may hold a leftover
          authorize staging that must never answer);
        - every result column is a plain identifier (bare column or
          explicit alias) — unaliased expressions are NAMED differently
          by SQLite and Spark ('count(*)' vs 'count(1)').
        Value parity: mirrors hold the same rows as the store's tables,
        and sqlite is the dialect the Spark translation approximates (the
        differential suite's invariant), so matching rows are identical
        (their order only as far as ``query``'s contract says);
        boolean expression results surface as sqlite 1/0, which the
        Spark path normalizes to as well (_norm_sql_value)."""
        stmts = statements(sql)
        if not stmts:
            return None
        known = self.store.known_tables()
        flat: list[str] = []
        needed: set[str] = set()
        for s_ in stmts:
            # the same pre-execution policy gate the Spark path runs in
            # _run_script — the local path must never bypass an
            # enforced authorizer (r10 review finding); failures
            # propagate identically to the Spark path's
            self.sql_authorizer.check(s_, "query")
            s2 = localexec.flatten_namespaces(s_)
            refs = localexec.table_refs(s2, known)
            if not localexec.eligible(
                s2, known, allow_abort=False, mirrorable=refs, event=False
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

    def query_df(self, user: str | None, q: LeafQuery, args: dict) -> DataFrame | None:
        """The Spark path of ``query``: run the named query's script with
        its bound ``args``; the last statement's result returns."""
        qdef = self.module.query_def(q.name)
        with self._lock:
            self._scheduler_pool()
            return self._run_script(qdef.sql, "query", args=args)

    # -- A13 update pub/sub --------------------------------------------------

    def on_update(self, cb: Callable[[int], None]) -> Callable[[], None]:
        """Register a latest-idx listener; returns an unsubscribe fn."""
        self._update_listeners.append(cb)
        return lambda: self._update_listeners.remove(cb)

    def rows_to_wire(self, rows: list[dict]) -> list[dict]:
        """A11: rows → wire-codec maps ({col: {$type, value}}), each cell
        exactly ``SqlValue.of(v).to_wire()`` (``types.to_wire``, which
        builds no SqlValue). Plain dicts: the JSON bridge and the shard
        relay consume them as they are, and DRISL encodes them."""
        return [{k: to_wire(v) for k, v in r.items()} for r in rows]
