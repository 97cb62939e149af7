"""Snapshot-manifest table store: Iceberg-style commit/resume over Parquet.

No Iceberg runtime jar exists in this environment (verified — SURVEY.md §7.6),
so this emulates the subset of Iceberg semantics the north rule needs, with
the same atomicity shape Iceberg uses (write data files → atomically publish
a manifest that makes them visible):

- data lives under ``root/data/group=<gid>/`` — one directory per committed
  bucket-group (the commit unit);
- a commit writes ``root/_snapshots/manifest-<N>.json`` via fsync'd temp
  file + ``os.link`` (the POSIX compare-and-swap: publish fails loudly if a
  concurrent committer already claimed the snapshot id, where rename would
  silently overwrite) + directory fsync, recording: snapshot id, parent id,
  the bucket ids covered, data paths, and counter metrics;
- readers see exactly the union of data paths listed in manifests — an
  uncommitted/partially-written group directory is invisible;
- resume = recompute the input's bucket-group partition, anti-filter the
  groups already present in manifests, process only the rest. A run writes
  all of its pending groups in one job (dynamic partition overwrite:
  exactly the pending ``group=<gid>`` directories are replaced) and then
  publishes one manifest per group, so a driver lost mid-run loses every
  group that run had not yet published; the resume rewrites those
  directories before their manifests publish, so the pipeline is
  idempotent (exactly-once per group). A pending group that received no
  rows commits with zero counters and no data path.

On a real cluster the same class works unchanged on any shared filesystem
with atomic link/rename (HDFS, NFS); for S3-class stores swap the link for
a conditional PUT (If-None-Match).
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Set


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: Optional[int]
    group_ids: List[int]
    data_paths: List[str]
    counters: Dict[str, int] = field(default_factory=dict)
    # a checkpoint manifest carries the MERGED state of all its ancestors
    # (compact_manifests): readers resolve the latest checkpoint plus its
    # descendants, so every older manifest is superseded and expirable.
    # Manifests written before this field existed deserialize with the
    # default — they are ordinary (non-checkpoint) snapshots.
    checkpoint: bool = False


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- reading ----------------------------------------------------------
    def snapshots(self) -> List[Snapshot]:
        out = []
        for name in sorted(os.listdir(self.snap_dir)):
            if not (name.startswith("manifest-") and name.endswith(".json")):
                continue
            with open(os.path.join(self.snap_dir, name)) as f:
                d = json.load(f)
            out.append(Snapshot(**d))
        out.sort(key=lambda s: s.snapshot_id)
        return out

    def live_snapshots(self, as_of: Optional[int] = None) -> List[Snapshot]:
        """The snapshots that define table state: the latest checkpoint
        (which carries the merged state of everything before it) plus every
        later snapshot. With no checkpoint, all snapshots are live.
        Everything before the latest checkpoint is superseded — readable
        history until ``expire_snapshots`` garbage-collects it.

        ``as_of`` is the Iceberg time-travel analog: resolve the state AS OF
        that snapshot id (inclusive) instead of the current head. A snapshot
        id that does not exist on disk — never committed, or expired —
        raises ``KeyError`` loudly (silently returning the nearest state
        would misreport what a historical read actually saw)."""
        snaps = self.snapshots()
        if as_of is not None:
            if as_of not in {s.snapshot_id for s in snaps}:
                raise KeyError(
                    f"snapshot {as_of} not found under {self.root} "
                    f"(never committed, or expired by expire_snapshots)"
                )
            snaps = [s for s in snaps if s.snapshot_id <= as_of]
        for i in range(len(snaps) - 1, -1, -1):
            if snaps[i].checkpoint:
                return snaps[i:]
        return snaps

    def committed_groups(self, as_of: Optional[int] = None) -> Set[int]:
        return {g for s in self.live_snapshots(as_of) for g in s.group_ids}

    def data_paths(self, as_of: Optional[int] = None) -> List[str]:
        return [p for s in self.live_snapshots(as_of) for p in s.data_paths]

    def counters(self, as_of: Optional[int] = None) -> Dict[str, int]:
        total: Dict[str, int] = {}
        for s in self.live_snapshots(as_of):
            for k, v in s.counters.items():
                total[k] = total.get(k, 0) + v
        return total

    def history(self) -> List[Dict]:
        """Commit log for audit/UI (Iceberg ``table.history()`` analog):
        one row per on-disk manifest, oldest first."""
        return [
            {
                "snapshot_id": s.snapshot_id,
                "parent_id": s.parent_id,
                "checkpoint": s.checkpoint,
                "group_ids": s.group_ids,
                "n_data_paths": len(s.data_paths),
                "counters": dict(s.counters),
            }
            for s in self.snapshots()
        ]

    def group_path(self, gid: int) -> str:
        return os.path.join(self.data_dir, f"group={gid}")

    # -- committing -------------------------------------------------------
    def commit(
        self,
        group_ids: List[int],
        data_paths: List[str],
        counters: Dict[str, int],
        checkpoint: bool = False,
    ) -> Snapshot:
        snaps = self.snapshots()
        sid = (snaps[-1].snapshot_id + 1) if snaps else 1
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=snaps[-1].snapshot_id if snaps else None,
            group_ids=sorted(group_ids),
            data_paths=sorted(data_paths),
            counters=dict(counters),
            checkpoint=checkpoint,
        )
        fd, tmp = tempfile.mkstemp(dir=self.snap_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(snap.__dict__, f, indent=1)
            # durability before visibility: without the fsync a crash can
            # make the publish durable while the contents are not, leaving a
            # truncated manifest that poisons every later read/resume
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(self.snap_dir, f"manifest-{sid:06d}.json")
        try:
            # conditional publish (the POSIX compare-and-swap): link() fails
            # with EEXIST if another committer already published this
            # snapshot id — rename() would silently overwrite their commit
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise RuntimeError(
                f"snapshot {sid} already committed by a concurrent writer"
            )
        os.unlink(tmp)
        if not checkpoint:
            # The sid CAS alone serializes snapshot IDs, not GROUPS: two
            # runs that both read committed_groups()={g} before either
            # published would each commit g under a different sid, and
            # readers would double-read/double-count the group silently.
            # Post-link validation closes that window: every commit that
            # happened-before our link has sid < ours and is visible now
            # (manifests are immutable), so a duplicate group can always
            # be detected by exactly one of the two racers — roll our
            # manifest back and abort loudly. Checkpoint commits are
            # exempt: re-listing every live group is their job.
            prior = {
                g
                for s in self.live_snapshots()
                if s.snapshot_id < sid
                for g in s.group_ids
            }
            dup = sorted(set(group_ids) & prior)
            if dup:
                os.unlink(final)
                raise RuntimeError(
                    f"groups {dup} were committed concurrently by another "
                    f"run on {self.root} — two pipelines are writing the "
                    f"same store; this run's snapshot {sid} was rolled "
                    f"back (its data/group dirs may have been overwritten "
                    f"mid-write: re-run to reprocess)"
                )
        # make the directory entry itself durable
        dfd = os.open(self.snap_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
        return snap

    # -- lifecycle (Iceberg expire-snapshots / rewrite-manifests analogs) --
    def compact_manifests(self) -> Snapshot:
        """Merge current table state into ONE checkpoint manifest (Iceberg
        rewrite_manifests analog): a long-lived table otherwise accumulates
        one manifest per commit, and every read/resume lists and parses all
        of them. Publishing uses the same fsync+link CAS as commit, so a
        crash mid-compaction leaves the old manifests authoritative and the
        retry publishes under the next id. Ancestors stay on disk (and
        readable as history) until ``expire_snapshots``."""
        live = self.live_snapshots()
        if not live:
            raise FileNotFoundError(f"nothing to compact under {self.root}")
        return self.commit(
            group_ids=sorted({g for s in live for g in s.group_ids}),
            data_paths=sorted({p for s in live for p in s.data_paths}),
            counters=self.counters(),
            checkpoint=True,
        )

    def expire_snapshots(self) -> int:
        """Delete the manifest FILES superseded by the latest checkpoint
        (Iceberg expire_snapshots analog). Data directories are untouched —
        every live group is referenced by the checkpoint. Safe in any crash
        order: readers resolve state from the latest checkpoint onward, so
        a half-finished expiry only leaves extra (ignored) history files.
        Returns the number of manifests removed."""
        live_ids = {s.snapshot_id for s in self.live_snapshots()}
        removed = 0
        for name in sorted(os.listdir(self.snap_dir)):
            if not (name.startswith("manifest-") and name.endswith(".json")):
                continue
            sid = int(name[len("manifest-"):-len(".json")])
            if sid not in live_ids:
                os.unlink(os.path.join(self.snap_dir, name))
                removed += 1
        return removed

    def remove_orphans(self, min_age_s: float = 3600.0) -> List[str]:
        """Delete data/ directories no live manifest references (Iceberg
        remove_orphan_files analog): the leftovers of a run that crashed
        after writing a group but before publishing its manifest, and the
        ``.spark-staging-*`` directory of a write job lost mid-flight.
        ``min_age_s`` guards against deleting an IN-FLIGHT writer's
        directory — only dirs whose newest file is older than the window
        are collected (Iceberg's older_than, same rationale). Returns the
        removed paths."""
        import shutil
        import time

        # liveness by BASENAME, not raw path string: manifests may record
        # the committing run's spelling of the root (absolute, relative,
        # symlinked) while this store was opened under another — a raw
        # normpath comparison would then match nothing and delete every
        # LIVE committed group directory. Group dirs all live directly
        # under root/data, so the basename is the identity.
        live = {
            os.path.basename(os.path.normpath(p)) for p in self.data_paths()
        }
        removed = []
        now = time.time()
        for name in sorted(os.listdir(self.data_dir)):
            path = os.path.join(self.data_dir, name)
            if not os.path.isdir(path) or name in live:
                continue
            newest = max(
                (
                    os.path.getmtime(os.path.join(dp, f))
                    for dp, _dn, fs in os.walk(path)
                    for f in fs
                ),
                default=os.path.getmtime(path),
            )
            if now - newest >= min_age_s:
                shutil.rmtree(path)
                removed.append(path)
        # also sweep stranded commit temp files: a crash between mkstemp
        # and the link/unlink pair leaves a *.tmp in _snapshots that no
        # other path ever cleans (reads filter on manifest-*.json, so they
        # are invisible — but every snapshots() listdir pays for them
        # forever). Same age guard: an in-flight committer's tmp survives.
        for name in sorted(os.listdir(self.snap_dir)):
            if not name.endswith(".tmp"):
                continue
            path = os.path.join(self.snap_dir, name)
            if now - os.path.getmtime(path) >= min_age_s:
                os.unlink(path)
                removed.append(path)
        return removed
