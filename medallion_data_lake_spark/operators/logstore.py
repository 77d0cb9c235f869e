"""Pluggable log store for the versioned table's commit log.

The versioned table's whole concurrency story rests on ONE primitive:
atomically create `_log/{version}.json` such that exactly one of two
racing writers succeeds (``put_exclusive``). On a laptop that is
``open(path, 'x')``; on a cluster it must be an atomic-put object/file
store — S3 conditional PUT (If-None-Match), GCS generation-0
preconditions, HDFS create-no-overwrite, or a coordination service.
That is precisely what Delta Lake abstracts as its LogStore
(io.delta.storage.LogStore: read / write-with-no-overwrite / list);
this module is the same seam, scoped to what this engine's log needs:

- ``put_exclusive(file, text)`` — atomic create-if-absent; MUST raise
  ``FileExistsError`` when the target already exists (implementations
  translate their store's conflict signal — HTTP 412, precondition
  failure — into that exception so the claim-retry loop stays
  store-agnostic);
- ``list(dir)`` — names in a log directory ([] when absent). Listing
  may lag on eventually-consistent stores; the claim loop tolerates
  that by LOSING races loudly (a stale list just means claiming a taken
  version → FileExistsError → retry), never by publishing twice;
- ``read(file)`` / ``delete(file)`` / ``ensure_dir(dir)``.

DATA files are out of scope on purpose — parquet IO goes through
Spark's Hadoop filesystem layer, which already speaks s3a/abfs/gs; only
the log's exclusive-create needs semantics object stores don't give
spark.write. Same split as Delta.

Select the store process-wide with :func:`set_log_store`; the default
is the local filesystem. Every log touch in ``operators/versioned.py``
routes through :func:`get_log_store` — a cluster backend is a class,
not a rewrite (property-tested against the interface in
``tests/test_logstore.py``).
"""

from __future__ import annotations

import os
import threading


class LogStore:
    """Interface. Implementations must make ``put_exclusive`` atomic:
    of N concurrent calls for one target, exactly one returns, the rest
    raise ``FileExistsError``."""

    def list(self, dir_path: str) -> list[str]:
        raise NotImplementedError

    def read(self, file_path: str) -> str:
        raise NotImplementedError

    def put_exclusive(self, file_path: str, text: str) -> None:
        raise NotImplementedError

    def delete(self, file_path: str) -> None:
        raise NotImplementedError

    def ensure_dir(self, dir_path: str) -> None:
        raise NotImplementedError

    def replace(self, file_path: str, text: str) -> None:
        """Overwrite ``file_path`` with ``text``, atomically where the
        backend allows (POSIX rename, mutex-held dict swap). The default
        is delete + exclusive-create — NON-atomic: a concurrent reader
        can observe the file missing in the gap, so callers relying on
        this for metadata a reader may hold a listing of must tolerate
        a transient miss (see ``wap._txn_protection``)."""
        try:
            self.delete(file_path)
        except (FileNotFoundError, KeyError):
            pass
        self.put_exclusive(file_path, text)


class LocalLogStore(LogStore):
    """POSIX filesystem: ``open(..., 'x')`` IS the atomic create (the
    kernel serializes O_CREAT|O_EXCL). Correct for local disks and NFS
    with proper O_EXCL; NOT for s3a-mounted paths — plain S3 writes
    can't refuse-if-exists, which is the entire reason this interface
    exists."""

    def list(self, dir_path: str) -> list[str]:
        if not os.path.isdir(dir_path):
            return []
        return sorted(os.listdir(dir_path))

    def read(self, file_path: str) -> str:
        with open(file_path) as fh:
            return fh.read()

    def put_exclusive(self, file_path: str, text: str) -> None:
        with open(file_path, "x") as fh:
            fh.write(text)

    def delete(self, file_path: str) -> None:
        os.remove(file_path)

    def ensure_dir(self, dir_path: str) -> None:
        os.makedirs(dir_path, exist_ok=True)

    def replace(self, file_path: str, text: str) -> None:
        # write-then-rename: readers see the old OR the new bytes,
        # never a missing or torn file (kernel-atomic rename)
        tmp = f"{file_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, file_path)


class InMemoryLogStore(LogStore):
    """Dict-backed store with a real mutex around the exists-check+put —
    the reference implementation of the atomicity contract, and the
    test double proving versioned.py performs NO log IO outside this
    interface (tables commit/read/rollback with no ``_log`` directory
    ever touching disk)."""

    def __init__(self) -> None:
        self._files: dict[str, str] = {}
        self._dirs: set[str] = set()
        self._lock = threading.Lock()

    def list(self, dir_path: str) -> list[str]:
        prefix = dir_path.rstrip("/") + "/"
        with self._lock:
            return sorted(
                f[len(prefix):]
                for f in self._files
                if f.startswith(prefix) and "/" not in f[len(prefix):]
            )

    def read(self, file_path: str) -> str:
        with self._lock:
            return self._files[file_path]

    def put_exclusive(self, file_path: str, text: str) -> None:
        with self._lock:
            if file_path in self._files:
                raise FileExistsError(file_path)
            self._files[file_path] = text

    def delete(self, file_path: str) -> None:
        with self._lock:
            del self._files[file_path]

    def ensure_dir(self, dir_path: str) -> None:
        with self._lock:
            self._dirs.add(dir_path)

    def replace(self, file_path: str, text: str) -> None:
        with self._lock:  # single swap under the mutex: atomic
            self._files[file_path] = text


_STORE: LogStore = LocalLogStore()


def get_log_store() -> LogStore:
    return _STORE


def set_log_store(store: LogStore) -> LogStore:
    """Install a store process-wide; returns the previous one (restore
    it in a finally — tests do)."""
    global _STORE
    prev = _STORE
    _STORE = store
    return prev
