"""Crash-safe versioned state on a Hadoop filesystem: the one commit
protocol behind every streaming state in :mod:`.jobs` (the five
rollups and the near-dup index).

A state root holds version dirs plus two small text files:

* a version dir is complete iff it holds the engine-owned
  :data:`MARKER`, written after ALL of its data.  Deliberately not the
  job committer's ``_SUCCESS``: object-store deployments commonly set
  ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false``, and a
  fallback gated on a marker that is never written would treat every
  complete version as partial — rebuilding state from one replayed
  batch and deleting real history;
* :data:`POINTER` holds the head batch_id: the last batch whose version
  is published.

Publishing batch ``b`` is: write the data, mark it committed, advance
the pointer, then garbage-collect.  A crash after any step leaves the
old head or the new one, never a torn state: until the pointer moves,
readers resolve the old head; in the window between the old pointer's
delete and the rename (and before the very first pointer exists),
:meth:`StateStore.head` falls back to the highest committed version,
which is complete by construction.  A replay of ``b`` after its
version committed sees ``b <= head`` and is skipped — the idempotent
sink that, with a replayable source, makes foreachBatch's
at-least-once delivery exactly-once.

Contract: batch_ids are monotone within ONE checkpoint lineage; a state
root and its checkpoint move together.
"""

from __future__ import annotations

from typing import Callable

POINTER = "_CURRENT"
MARKER = "_COMMITTED"

#: A version dir as ``(lo, hi, name)``: the batch-id interval it covers.
Entry = tuple[int, int, str]


class StateStore:
    """Versioned state under ``root``.  ``parse`` maps a dir name to the
    batch-id interval ``(lo, hi)`` it covers, or None when the name is
    not one of the caller's version dirs — strays are skipped, never
    parsed into an error."""

    def __init__(
        self, spark, root: str, parse: Callable[[str], tuple[int, int] | None]
    ) -> None:
        self.root = root.rstrip("/")
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(self.root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self._parse = parse

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def _apply(self, step: str, path: str, action: Callable[[], object]) -> None:
        """Run one mutation of the root.  Every write, rename and delete
        goes through here (``step`` names it: ``data``, ``marker``,
        ``meta``, ``pointer_tmp``, ``pointer_delete``, ``pointer_rename``
        or ``gc``), so a fault-injection test can crash the protocol
        after any single step."""
        action()

    def read_text(self, name: str) -> str | None:
        p = self._path(self.path(name))
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            return bytes(stream.readAllBytes()).decode("utf-8")
        finally:
            stream.close()

    def write_text(self, name: str, text: str, step: str = "meta") -> None:
        path = self.path(name)

        def write() -> None:
            out = self._fs.create(self._path(path), True)
            try:
                out.write(text.encode("utf-8"))
            finally:
                out.close()

        self._apply(step, path, write)

    def commit(self, name: str, write: Callable[[str], object] | None) -> None:
        """Write version ``name`` with ``write(path)`` (None: a dir with
        no data), then mark it committed."""
        path = self.path(name)
        if write is not None:
            self._apply("data", path, lambda: write(path))
        self.write_text(f"{name}/{MARKER}", "", step="marker")

    def versions(self, committed: bool = True) -> list[Entry]:
        """Version dirs oldest-first; only committed ones unless
        ``committed=False``."""
        base = self._path(self.root)
        if not self._fs.exists(base):
            return []
        out = []
        for s in self._fs.listStatus(base):
            name = s.getPath().getName()
            interval = self._parse(name) if s.isDirectory() else None
            if interval is not None and (
                not committed
                or self._fs.exists(self._path(self.path(name), MARKER))
            ):
                out.append((*interval, name))
        return sorted(out)

    def head(self) -> int:
        """The pointer's batch_id, else the highest committed ``hi``,
        else -1 (nothing published)."""
        raw = self.read_text(POINTER)
        if raw is not None:
            return int(raw.strip())
        return max((hi for _, hi, _ in self.versions()), default=-1)

    def advance(self, batch_id: int) -> None:
        """Point the head at ``batch_id``: write a temp file, then rename
        it over the pointer."""
        tmp = f"{POINTER}.{batch_id}.tmp"
        self.write_text(tmp, str(batch_id), step="pointer_tmp")
        ptr = self._path(self.path(POINTER))
        if self._fs.exists(ptr):
            # rename-over is not portable across Hadoop filesystems;
            # head()'s committed-dir fallback covers the gap
            self._apply("pointer_delete", self.path(POINTER),
                        lambda: self._fs.delete(ptr, False))
        self._apply("pointer_rename", self.path(POINTER),
                    lambda: self._fs.rename(self._path(self.path(tmp)), ptr))

    def delete(self, names: list[str]) -> None:
        """Recursively delete version dirs: the one path all GC takes."""
        for name in names:
            path = self.path(name)
            self._apply("gc", path,
                        lambda: self._fs.delete(self._path(path), True))
