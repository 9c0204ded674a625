"""Offline shard rebalancing for LeafShardSupervisor roots.

``sharding.py`` routes every stream to ``shard_of(did, n_shards)`` — a pure
hash, so changing the shard count over an existing root silently strands
streams on directories the router no longer consults. This tool makes the
count change an OPERATION instead of a caveat: it recomputes the owner of
every stream under the old layout and moves each stream's directory (plus
its catalog metadata and referenced module blob) to its new shard root.

The move is safe because a stream is fully self-contained on disk — the
reference's file-per-stream portability (leaf-server/src/streams.rs:36-46:
one sqlite file per stream, movable at rest), mirrored here as one
directory per stream (events/ + stream.json + snapshot/ with
manifest-relative paths; nothing absolute).

MUST run offline: no supervisor or shard process over ``root`` while
resharding. The tool takes a best-effort lock (``.reshard.lock``) and
refuses to start when one is present.

Usage:
    python tools/reshard.py ROOT NEW_SHARD_COUNT

Algorithm:
 1. discover old shards = every ``shard{i}`` dir under ROOT (dense 0..N-1);
 2. plan: for each stream in each old shard's streams_meta.json compute the
    new owner; verify no target directory collision;
 3. create missing new shard roots; union module blobs into every new
    shard (uploads broadcast to all shards, so any shard may own a stream
    of any module);
 4. move ``streams/<dir>`` for every relocating stream, rewrite each
    shard's streams_meta.json (atomic tmp+rename per shard);
 5. drop now-empty surplus shard roots (only when they hold no streams);
 6. verify: every stream's DID hashes to the shard it now lives in, its
    meta entry exists exactly once, and its stream.json is not behind the
    meta's latest_event (the meta records the head only at create and at
    a shard migration; the stream's own stream.json is the commit point,
    so a meta head above it means commits were lost).

Idempotent: re-running over an already-resharded root is a no-op plan.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from leaf_spark.sharding import shard_of  # noqa: E402
from leaf_spark.stream import _safe_dirname  # noqa: E402

_SHARD_RE = re.compile(r"^shard(\d+)$")


class ReshardError(RuntimeError):
    pass


def _shard_dirs(root: str) -> dict[int, str]:
    out: dict[int, str] = {}
    for name in os.listdir(root):
        m = _SHARD_RE.match(name)
        p = os.path.join(root, name)
        if m and os.path.isdir(p):
            out[int(m.group(1))] = p
    if not out:
        raise ReshardError(f"no shard directories under {root}")
    if sorted(out) != list(range(len(out))):
        raise ReshardError(f"shard indexes not dense 0..N-1: {sorted(out)}")
    return out


def _load_meta(shard_dir: str) -> dict[str, dict]:
    p = os.path.join(shard_dir, "streams_meta.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _save_meta(shard_dir: str, meta: dict[str, dict]) -> None:
    p = os.path.join(shard_dir, "streams_meta.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, p)


def plan(root: str, new_n: int) -> list[tuple[str, int, int]]:
    """[(stream_did, old_shard, new_shard)] for every stream that moves."""
    moves: list[tuple[str, int, int]] = []
    for old_i, shard_dir in sorted(_shard_dirs(root).items()):
        for did in _load_meta(shard_dir):
            new_i = shard_of(did, new_n)
            if new_i != old_i:
                moves.append((did, old_i, new_i))
    return moves


def reshard(root: str, new_n: int, verbose: bool = True) -> dict:
    """Execute the reshard; returns a summary dict. Raises ReshardError on
    any inconsistency — nothing is half-applied past the per-stream move
    (each move is directory-rename + two atomic meta rewrites, and a
    re-run picks up exactly where a crash left off because the plan is
    recomputed from the surviving meta files)."""
    if new_n < 1:
        raise ReshardError("new shard count must be >= 1")
    lock = os.path.join(root, ".reshard.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        raise ReshardError(
            f"{lock} exists — another reshard in progress (or crashed; "
            "remove the lock after checking)"
        )
    try:
        return _reshard_locked(root, new_n, verbose)
    finally:
        os.unlink(lock)


def _reshard_locked(root: str, new_n: int, verbose: bool) -> dict:
    old = _shard_dirs(root)
    metas = {i: _load_meta(d) for i, d in old.items()}

    # -- plan + collision check -------------------------------------------
    moves: list[tuple[str, int, int]] = []
    for old_i, meta in sorted(metas.items()):
        for did in meta:
            new_i = shard_of(did, new_n)
            if new_i != old_i:
                moves.append((did, old_i, new_i))
    seen: set[str] = set()
    for did, _o, _n2 in moves:
        if did in seen:
            raise ReshardError(f"stream {did} appears in two shards")
        seen.add(did)

    # -- create target roots + union module blobs --------------------------
    new_dirs = {}
    for i in range(new_n):
        d = os.path.join(root, f"shard{i}")
        os.makedirs(os.path.join(d, "modules"), exist_ok=True)
        os.makedirs(os.path.join(d, "streams"), exist_ok=True)
        new_dirs[i] = d
    blobs: dict[str, str] = {}
    for d in old.values():
        mdir = os.path.join(d, "modules")
        if os.path.isdir(mdir):
            for fn in os.listdir(mdir):
                if fn.endswith(".json"):
                    blobs.setdefault(fn, os.path.join(mdir, fn))
    copied = 0
    for i, d in new_dirs.items():
        for fn, src in blobs.items():
            dst = os.path.join(d, "modules", fn)
            if not os.path.exists(dst):
                shutil.copy2(src, dst)
                copied += 1

    # -- move stream dirs + meta entries ------------------------------------
    for did, old_i, new_i in moves:
        sdir = _safe_dirname(did)
        src = os.path.join(old[old_i], "streams", sdir)
        dst = os.path.join(new_dirs[new_i], "streams", sdir)
        if not os.path.isdir(src):
            # meta without a directory = stream created but never folded;
            # the meta move below is still required
            pass
        elif os.path.exists(dst):
            raise ReshardError(f"target {dst} already exists for {did}")
        else:
            os.rename(src, dst)
        entry = metas[old_i].pop(did)
        metas.setdefault(new_i, {})[did] = entry
        # persist BOTH sides immediately so a crash between streams leaves
        # a consistent (re-plannable) state — the dir moved above is
        # already owned by new_i
        _save_meta(old[old_i], metas[old_i])
        _save_meta(new_dirs[new_i], metas[new_i])
        if verbose:
            print(f"moved {did}: shard{old_i} -> shard{new_i}")

    # make sure every retained shard has its meta file written (including
    # brand-new empty shards, so the supervisor can open them)
    for i, d in new_dirs.items():
        _save_meta(d, metas.get(i, {}))

    # -- drop surplus shard roots (shrink) ----------------------------------
    removed = []
    for i, d in sorted(old.items()):
        if i >= new_n:
            leftover = _load_meta(d)
            if leftover:
                raise ReshardError(
                    f"shard{i} still holds {len(leftover)} streams after move"
                )
            sdir = os.path.join(d, "streams")
            if os.path.isdir(sdir) and os.listdir(sdir):
                raise ReshardError(f"shard{i}/streams not empty after move")
            shutil.rmtree(d)
            removed.append(i)

    # -- verify --------------------------------------------------------------
    total = 0
    for i in range(new_n):
        meta = _load_meta(new_dirs[i])
        for did, m in meta.items():
            total += 1
            owner = shard_of(did, new_n)
            if owner != i:
                raise ReshardError(f"{did} in shard{i} but hashes to {owner}")
            sj = os.path.join(
                new_dirs[i], "streams", _safe_dirname(did), "stream.json"
            )
            if os.path.exists(sj):
                with open(sj) as f:
                    state = json.load(f)
                if state.get("stream_did") != did:
                    raise ReshardError(f"{sj} belongs to {state.get('stream_did')}")
                if int(state.get("latest_idx", 0)) < int(m.get("latest_event", 0)):
                    raise ReshardError(
                        f"{did}: stream.json latest_idx "
                        f"{state.get('latest_idx')} < meta latest_event "
                        f"{m.get('latest_event')}"
                    )
    summary = {
        "streams": total,
        "moved": len(moves),
        "old_shards": len(old),
        "new_shards": new_n,
        "removed_shards": removed,
        "module_blobs_copied": copied,
    }
    if verbose:
        print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    reshard(sys.argv[1], int(sys.argv[2]))
