"""The commit primitive every persisted artifact publishes through: the
named-graph store, the snapshot tables and the MinHash and IVF indexes.

An artifact is a directory holding data dirs and a log of published ids,
``manifests/cNNNNNNNN.json``. A writer takes the artifact's lock, checks
that no id was published since it read the head, writes its data to dirs
no published id reads, and publishes the next id's JSON metadata by temp
file and ``os.replace`` — the one atomic step, as a commit is one metadata
swap in Iceberg. A writer killed at any point leaves the head as it was;
readers read only the dirs the metadata they opened names.

Superseded ids are dropped by :meth:`CommitLog.expire` (Iceberg's
``expire_snapshots``, which takes both ``retain_last`` and ``older_than``):
an id goes only once it is past the newest ``keep_last`` AND its successor
was published at least :data:`RETAIN_S` seconds ago, so a reader that
planned against an id while it was the head can still read its files for
that long. Then every data dir no remaining id reads is removed.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager

# how long a superseded id's files outlive their supersession: longer than
# any read planned against the old head runs
RETAIN_S = 3600.0


def tag(commit: int) -> str:
    """The name of ``commit``'s metadata and data dirs in every artifact."""
    return f"c{commit:08d}"


class CommitLog:
    """The published ids of the artifact at ``path``. ``roots`` are the
    artifact's data roots (relative dirs whose entries are data dirs) and
    ``dirs(meta)`` the data dirs an id's metadata reads, relative to
    ``path``; :meth:`expire` removes the entries of ``roots`` that no
    retained id reads."""

    def __init__(self, path: str, roots: tuple[str, ...] = (),
                 dirs: Callable[[dict], Iterable[str]] = lambda meta: ()):
        self.path = path
        self.roots = roots
        self.dirs = dirs
        self._manifests = os.path.join(path, "manifests")

    def _manifest(self, commit: int) -> str:
        return os.path.join(self._manifests, f"{tag(commit)}.json")

    def ids(self) -> list[int]:
        """The published ids, oldest first."""
        names = os.listdir(self._manifests) if os.path.isdir(self._manifests) else []
        return sorted(int(m[1:-5]) for m in names if m.startswith("c") and m.endswith(".json"))

    def head(self) -> int | None:
        ids = self.ids()
        return ids[-1] if ids else None

    def read(self, commit: int) -> dict:
        """The metadata ``commit`` was published with."""
        try:
            with open(self._manifest(commit)) as f:
                return json.load(f)
        except FileNotFoundError:
            ids = self.ids()
            oldest = f"the oldest retained commit is {ids[0]}" if ids else "it has no commits"
            raise ValueError(f"commit {commit} is not retained in {self.path}; {oldest}") from None

    def latest(self) -> dict | None:
        """The head's metadata, or None before the first publish."""
        head = self.head()
        return None if head is None else self.read(head)

    @contextmanager
    def lock(self):
        """A kernel ``flock`` on ``writer-mutex.lock`` for the whole commit: a
        second writer (also another open of the file in this process) fails
        fast, and a killed writer's lock dies with it. Never unlinked: a
        holder of an unlinked file would no longer exclude the next writer."""
        import fcntl

        os.makedirs(self.path, exist_ok=True)
        fd = os.open(os.path.join(self.path, "writer-mutex.lock"), os.O_CREAT | os.O_WRONLY)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise RuntimeError(
                    f"concurrent writer holds the lock of {self.path}; the store is single-writer"
                ) from None
            yield
        finally:
            os.close(fd)

    @contextmanager
    def commit(self, last: int | None):
        """Under the writer lock, yield the id after ``last`` once a re-read
        shows no id was published since; a commit built on an older head
        would overwrite it."""
        with self.lock():
            if self.head() != last:
                raise RuntimeError(f"store advanced past commit {last!r} while acquiring the "
                                   "commit lock; retry against the new head")
            yield 0 if last is None else last + 1

    def publish(self, commit: int, meta: dict) -> dict:
        """Publish ``commit`` with the fields of ``meta`` that are not None
        (plus its id and wall time) and return what was written. The file
        is written under a temp name and renamed into place, so a writer
        killed mid-write leaves no truncated metadata for :meth:`ids` to
        list."""
        meta = {"commit": commit, **{k: v for k, v in meta.items() if v is not None},
                "wall_ts": time.time()}
        path = self._manifest(commit)
        os.makedirs(self._manifests, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(path + ".tmp", path)
        return meta

    def expire(self, keep_last: int) -> list[str]:
        """Drop the ids past the newest ``keep_last`` whose successor was
        published :data:`RETAIN_S` or more seconds ago, then remove the data
        dirs no remaining id reads; return those dirs. The caller holds the
        lock. Metadata goes first, data dirs second: a crash at any point
        leaves every listed id readable in full, at worst with orphan dirs,
        which the next expiry removes."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be at least 1, got {keep_last}")
        ids = self.ids()
        now = time.time()
        drop = {
            c for c, successor in zip(ids[:-keep_last], ids[1:])
            if now - self.read(successor)["wall_ts"] >= RETAIN_S
        }
        live = {d for c in ids if c not in drop for d in self.dirs(self.read(c))}
        for c in sorted(drop):
            os.remove(self._manifest(c))
        removed = []
        for root in self.roots:
            full = os.path.join(self.path, root)
            for d in sorted(os.listdir(full) if os.path.isdir(full) else []):
                rel = os.path.join(root, d)
                if rel not in live:
                    shutil.rmtree(os.path.join(self.path, rel), ignore_errors=True)
                    removed.append(rel)
        return removed
