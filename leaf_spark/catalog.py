"""Stream + module catalog — parity with the reference server's storage
layer (leaf-server/src/storage.rs, leaf-server/src/streams.rs).

- ModuleRegistry: content-addressed module blob store with staged-upload TTL
  and reference-counting GC (A20: schema.sql:1-20, storage.rs:459-546).
- StreamCatalog: stream directory + cache (A22 weak-value maps → here a
  plain dict with explicit eviction; Python GC semantics differ and a
  driver-side handle is cheap), global stream metadata (module, handle)
  like storage.rs:254-290, admin listing (A23 admin/list_streams). A
  stream's latest_event is read from its own commit point (stream.json),
  never copied into the catalog-wide meta file per commit.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from .module import BasicModuleDef
from .sqlcompat import Authorizer
from .stream import Stream, _safe_dirname
from .streaming.subscribe import SubscriptionWorker

STAGED_MODULE_TTL_S = 500  # reference storage.rs staged_modules TTL
MODULE_SIZE_CAP = 10 * 1024 * 1024  # 10 MB upload cap (connection.rs:55-57)


class ModuleRegistry:
    def __init__(self, root_dir: str):
        self.dir = os.path.join(root_dir, "modules")
        os.makedirs(self.dir, exist_ok=True)
        self._staged: dict[str, float] = {}  # cid → staged_at
        self._cache: dict[str, BasicModuleDef] = {}

    def _path(self, cid: str) -> str:
        return os.path.join(self.dir, f"{cid}.json")

    def upload(self, module: BasicModuleDef) -> str:
        """Store a module blob (staged until a stream references it)."""
        blob = json.dumps(module.to_codec())
        if len(blob) > MODULE_SIZE_CAP:
            raise ValueError(f"module exceeds {MODULE_SIZE_CAP} byte cap")
        cid = module.cid()
        tmp = self._path(cid) + ".tmp"
        with open(tmp, "w") as f:
            f.write(blob)
        os.replace(tmp, self._path(cid))
        self._staged[cid] = time.time()
        self._cache[cid] = module
        return cid

    def exists(self, cid: str) -> bool:
        return os.path.exists(self._path(cid))

    def get(self, cid: str) -> BasicModuleDef:
        if cid in self._cache:  # parse cache keyed by CID (storage.rs:209-232)
            return self._cache[cid]
        with open(self._path(cid)) as f:
            m = BasicModuleDef.from_codec(json.load(f))
        self._cache[cid] = m
        return m

    def gc(self, referenced_cids: set[str]) -> list[str]:
        """Delete module blobs not referenced by any stream and past the
        staged TTL (storage.rs:459-546)."""
        now = time.time()
        deleted = []
        for fn in os.listdir(self.dir):
            if not fn.endswith(".json"):
                continue
            cid = fn[: -len(".json")]
            if cid in referenced_cids:
                continue
            if now - self._staged.get(cid, 0) < STAGED_MODULE_TTL_S:
                continue
            os.remove(self._path(cid))
            self._cache.pop(cid, None)
            self._staged.pop(cid, None)
            deleted.append(cid)
        return deleted


@dataclass
class StreamInfo:
    stream_did: str
    latest_event: int
    module_cid: str | None
    handle: str | None = None


@dataclass
class _Entry:
    stream: Stream
    worker: SubscriptionWorker


class StreamCatalog:
    """Open-stream cache + global metadata (≈ leaf-server STREAMS map +
    the `streams` table in schema.sql)."""

    def __init__(self, spark: SparkSession, root_dir: str, authorizer: Authorizer | None = None):
        self.spark = spark
        self.root = root_dir
        self.authorizer = authorizer
        self.modules = ModuleRegistry(root_dir)
        self._open: dict[str, _Entry] = {}
        self._meta_path = os.path.join(root_dir, "streams_meta.json")
        self._meta: dict[str, dict] = self._load_meta()
        # concurrent meta writes (create, handle, module, shard migration)
        # on DIFFERENT streams: without the lock, two writers race on the
        # same .tmp file (the loser's os.replace hits FileNotFoundError)
        # and json.dump can iterate _meta mid-mutation
        self._meta_lock = threading.RLock()
        # per-DID open serialization: two concurrent COLD opens of one
        # stream would otherwise both construct + replay it and race on
        # its stream.json commit (same FileNotFoundError shape as above —
        # surfaced by shard revival, where a request can race the
        # revival's own resubscribe open)
        self._open_locks: dict[str, threading.Lock] = {}
        self._open_guard = threading.Lock()

    def _load_meta(self) -> dict:
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                return json.load(f)
        return {}

    def _save_meta(self) -> None:
        with self._meta_lock:
            os.makedirs(self.root, exist_ok=True)
            tmp = self._meta_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._meta, f)
            os.replace(tmp, self._meta_path)

    # -- stream lifecycle ----------------------------------------------------

    def create_stream(self, stream_did: str, module_cid: str) -> Stream:
        if stream_did in self._meta:
            raise ValueError(f"stream {stream_did} already exists")
        module = self.modules.get(module_cid)
        stream = Stream(self.spark, self.root, stream_did, self.authorizer)
        stream.provide_module(module)
        with self._meta_lock:
            self._meta[stream_did] = {"handle": None, "latest_event": 0, "module_cid": module_cid}
            self._save_meta()
        self._register(stream)
        return stream

    def _register(self, stream: Stream) -> None:
        self._open[stream.stream_did] = _Entry(stream, SubscriptionWorker(stream))

    def open(self, stream_did: str) -> Stream:
        e = self._open.get(stream_did)
        if e is not None:
            return e.stream
        with self._open_guard:
            lk = self._open_locks.setdefault(stream_did, threading.Lock())
        with lk:
            e = self._open.get(stream_did)  # lost the open race: reuse
            if e is not None:
                return e.stream
            if stream_did not in self._meta:
                raise KeyError(f"no such stream {stream_did}")
            stream = Stream(self.spark, self.root, stream_did, self.authorizer)
            cid = (
                self._meta[stream_did].get("module_cid")
                or stream.state.module_cid
            )
            if cid:
                stream.provide_module(self.modules.get(cid))
            self._register(stream)
            return stream

    def worker(self, stream_did: str) -> SubscriptionWorker:
        self.open(stream_did)
        return self._open[stream_did].worker

    def evict(self, stream_did: str) -> None:
        """≈ weak-map eviction of idle streams (streams.rs:14-21)."""
        e = self._open.pop(stream_did, None)
        if e:
            e.worker.close()

    # -- metadata ------------------------------------------------------------

    def update_module(self, stream_did: str, module_cid: str) -> None:
        stream = self.open(stream_did)
        stream.update_module(self.modules.get(module_cid))
        with self._meta_lock:
            self._meta[stream_did]["module_cid"] = module_cid
            self._save_meta()

    def set_handle(self, stream_did: str, handle: str | None) -> None:
        if stream_did not in self._meta:
            raise KeyError(f"no such stream {stream_did}")
        for did, m in self._meta.items():
            if handle is not None and m.get("handle") == handle and did != stream_did:
                raise ValueError(f"handle {handle!r} already taken")
        with self._meta_lock:
            self._meta[stream_did]["handle"] = handle
            self._save_meta()

    def _latest_event(self, stream_did: str) -> int:
        """The stream's head: the open stream's committed ``latest_idx``,
        else its stream.json commit point. The reference keeps the head in
        its server db (streams.rs:64-73); here the stream's own state file
        already holds it durably, so a commit rewrites no catalog file. The
        meta entry's ``latest_event`` (0 at create, the head at a shard
        migration) answers only for a stream that never committed."""
        e = self._open.get(stream_did)
        if e is not None:
            return e.stream.state.latest_idx
        sj = os.path.join(self.root, "streams", _safe_dirname(stream_did), "stream.json")
        try:
            with open(sj) as f:
                return int(json.load(f).get("latest_idx", 0))
        except FileNotFoundError:
            return int(self._meta[stream_did].get("latest_event", 0))

    def stream_info(self, stream_did: str) -> StreamInfo:
        m = self._meta.get(stream_did)
        if m is None:
            raise KeyError(f"no such stream {stream_did}")
        return StreamInfo(
            stream_did, self._latest_event(stream_did), m.get("module_cid"), m.get("handle")
        )

    def list_streams(self) -> list[StreamInfo]:
        return [self.stream_info(did) for did in sorted(self._meta)]

    def gc_modules(self) -> list[str]:
        referenced = {
            m["module_cid"] for m in self._meta.values() if m.get("module_cid")
        }
        return self.modules.gc(referenced)

    def close(self) -> None:
        for did in list(self._open):
            self.evict(did)
