"""The one commit protocol for persisted state.

A state root is a directory that holds one manifest, ROOT/_filemap_memo.json,
and the tables it names: plain parquet or text directories under the root
(the root itself may be its only table), which Spark reads whole. The
manifest lists the path, relative to the root, of every live data file, the
key of the last committed batch, and whatever else its writer keeps there
(a map stage's inputs, a survivor corpus's fingerprint).

A write goes through a `Transaction`:

1. new data files are written under ROOT/_staging/;
2. at commit they are moved into their tables;
3. one `os.replace` of the manifest commits them;
4. the files the commit dropped (a compaction's or an upsert's old files)
   are deleted.

Opening a root deletes every data file of its tables that the manifest does
not list, and the staging dir. So a crash before step 3 leaves the last
commit, a crash after it leaves the new one (the next open finishes step 4),
and a reader that opens the root sees exactly the last commit. A listed
file is never rewritten in place: a commit that reuses a listed name first
commits a manifest without it.

A root with data files but no manifest (or a manifest without "files") was
written before this protocol, and opening it adopts those files as
committed. Opening a new root writes its empty manifest before any data
file exists, so a missing manifest never means "crashed before the first
commit".

A transaction on a directory inside a root that already has a transaction
open on this thread joins it: its writes commit with the enclosing ones.
That is how `dedup --stream` commits a batch's ledger, index and `_pairs`
rows with one rename. A table that belongs to a larger root must therefore
be written inside that root's transaction. (The open transaction is kept
per thread because the ingest functions' signatures take a state dir, not
a transaction.)

One process writes a root at a time: opening a root deletes what another
writer has moved in but not yet committed, as it must after a crash.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import threading
import uuid

MANIFEST = "_filemap_memo.json"
STAGING = "_staging"
_OPEN = threading.local()


def _hidden(name: str) -> bool:
    """The names Hadoop's and Spark's file listings skip."""
    return name.startswith(("_", "."))


def read_manifest(root: str) -> dict:
    """ROOT's manifest, or {} when it has none (or an unreadable one)."""
    try:
        with open(os.path.join(root, MANIFEST)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


class Transaction:
    """An opened root: its last commit, and the changes staged for the next."""

    def __init__(self, root: str, tables=("",), batch: int | None = None):
        self.root, self.tables = os.path.abspath(root), tables
        for t in tables:
            os.makedirs(os.path.join(self.root, t), exist_ok=True)
        self.manifest = read_manifest(self.root)
        if "files" not in self.manifest:  # a new root, or one to adopt
            self.manifest = {"batch": -1, **self.manifest, "files": sorted(
                rel for rel, path in self._disk() if not _hidden(os.path.basename(path))
            )}
            self._write(self.manifest)
        self._sweep()
        self.meta = {k: v for k, v in self.manifest.items() if k not in ("files", "batch")}
        self.batch = self.manifest["batch"] if batch is None else batch
        # a foreachBatch replay of a batch this root already committed
        self.replay = batch is not None and batch <= self.manifest["batch"]
        self._files, self._moves = set(self.manifest["files"]), []

    def _disk(self):
        """(data file, path) of every file in the tables; a checksum
        sidecar belongs to its data file."""
        for t in self.tables:
            d = os.path.join(self.root, t)
            for n in os.listdir(d):
                data = n[1:-4] if n.startswith(".") and n.endswith(".crc") else n
                if not _hidden(data) and os.path.isfile(os.path.join(d, n)):
                    yield os.path.join(t, data), os.path.join(d, n)

    def _sweep(self) -> None:
        """Delete the files the manifest does not list, and the staging dir."""
        listed = set(self.manifest["files"])
        for rel, path in list(self._disk()):
            if rel not in listed:
                os.remove(path)
        shutil.rmtree(os.path.join(self.root, STAGING), ignore_errors=True)

    def _rel(self, table: str) -> str:
        rel = os.path.relpath(os.path.abspath(table), self.root)
        return "" if rel == "." else rel

    def _write(self, manifest: dict) -> None:
        staged = os.path.join(self.root, MANIFEST + ".tmp")
        with open(staged, "w") as f:
            json.dump(manifest, f)
        os.replace(staged, os.path.join(self.root, MANIFEST))

    def files(self, table: str) -> list[str]:
        """A table's data file names as of the next commit (the last
        commit's until something is added or dropped)."""
        rel = self._rel(table)
        return sorted(os.path.basename(f) for f in self._files if os.path.dirname(f) == rel)

    def staging(self) -> str:
        """A fresh path under the staging dir for one writer's output."""
        return os.path.join(self.root, STAGING, uuid.uuid4().hex)

    def add(self, src: str, table: str, name: str | None = None) -> None:
        """Move the staged file `src` into `table` (as `name`) at commit."""
        rel = os.path.join(self._rel(table), name or os.path.basename(src))
        self._moves.append((src, rel))
        self._files.add(rel)
        # the checksum sidecar Hadoop's local file system verifies reads with
        crc = os.path.join(os.path.dirname(src), f".{os.path.basename(src)}.crc")
        if os.path.exists(crc):
            dst = os.path.join(os.path.dirname(rel), f".{os.path.basename(rel)}.crc")
            self._moves.append((crc, dst))

    def append(self, df, table: str, fmt: str = "parquet") -> None:
        """Write a DataFrame to staging, its files to be added to `table`."""
        out = self.staging()
        getattr(df.write, fmt)(out)
        for n in sorted(os.listdir(out)):
            if not _hidden(n):
                self.add(os.path.join(out, n), table)

    def drop(self, table: str, name: str | None = None) -> None:
        """Drop one committed file of `table`, or all of them, at commit."""
        for n in [name] if name else self.files(table):
            self._files.discard(os.path.join(self._rel(table), n))

    def commit(self) -> None:
        old = set(self.manifest["files"])
        reused = old & {rel for _, rel in self._moves}
        if reused:  # a listed file is never rewritten in place
            self._write({**self.manifest, "files": sorted(old - reused)})
        for src, rel in self._moves:
            os.replace(src, os.path.join(self.root, rel))
        manifest = {**self.meta, "files": sorted(self._files),
                    "batch": max(self.batch, self.manifest["batch"])}
        if reused or manifest != self.manifest:
            self._write(manifest)
        self.manifest, self._moves = manifest, []
        self._sweep()


@contextlib.contextmanager
def transaction(root: str, tables=("",), batch: int | None = None):
    """Open ROOT (or join the transaction open on this thread whose root
    holds it) and commit what the block stages, keyed by `batch`, when the
    block exits without an exception. An exception commits nothing; the
    next open deletes what was staged or moved."""
    outer = getattr(_OPEN, "txn", None)
    if outer and os.path.commonpath([os.path.abspath(root), outer.root]) == outer.root:
        yield outer
        return
    _OPEN.txn = txn = Transaction(root, tables, batch)
    try:
        yield txn
    finally:
        _OPEN.txn = outer
    txn.commit()
