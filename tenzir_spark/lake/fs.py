"""Driver-side filesystem abstraction for manifest/state IO.

Spark moves the DATA through whatever Hadoop filesystem a path names
(file://, s3a://, gs://, hdfs://) — but the lake's snapshot/manifest
bookkeeping and the dedup indexes' persisted state are small
driver-side files the engine itself lists/reads/writes/renames.
Hard-coding ``os.``/``shutil.`` there makes the warehouse POSIX-only;
this layer is the store boundary that makes the manifest path portable
(reference analog: the store plugin abstraction,
libtenzir/src/active_partition.cpp, plugins/parquet/parquet.cpp:37-58).

Two implementations:

- :class:`LocalFS` (default) — os/shutil/fcntl. Bit-identical to the
  historical behavior: fsync'd atomic renames for manifest publication
  and flock writer leases (auto-released when the process dies).
- :class:`ArrowFS` — any ``pyarrow.fs.FileSystem`` (S3FileSystem,
  GcsFileSystem, HadoopFileSystem, or the in-memory ``_MockFileSystem``
  the tests use). Atomic publication is write-temp + move. On object
  stores move is copy+delete rather than a rename, which is still
  crash-safe for this protocol because every manifest file is immutable
  and uniquely named (``v<NNNNNNNN>.json`` — a torn or duplicated copy
  is invisible until the HEAD pointer names it) and HEAD itself is one
  small object whose PUT is atomic per object-store semantics. Writer
  leases degrade to a best-effort lock FILE: object stores have no
  advisory locks, so cross-process single-writer enforcement is a
  DEPLOYMENT contract there (Iceberg solves the same problem with a
  catalog's conditional swap; this pointer-file protocol assumes one
  writer, and the lease file only catches the accidental second writer
  that outlives a crash's ``stale_after_s``).

``spark_path`` translates an engine path into what the Spark JVM should
scan: identity for LocalFS; ``spark_prefix`` + path for ArrowFS (e.g. a
warehouse at S3 path ``bucket/wh`` with ``spark_prefix="s3a://"`` scans
``s3a://bucket/wh/...``). The in-memory mock has no JVM counterpart —
tests over it exercise exactly the manifest/state protocol, never Spark
data IO.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid


class LocalFS:
    """POSIX filesystem via os/shutil/fcntl — the default, and the only
    implementation with true advisory-lock writer leases."""

    # ------------------------------------------------------------ queries
    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)

    def size(self, path: str) -> int:
        return os.path.getsize(path)

    def mtime(self, path: str) -> float:
        return os.stat(path).st_mtime

    def walk_files(self, root: str):
        """Yield full paths of every FILE under ``root`` (recursive)."""
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                yield os.path.join(dirpath, fn)

    def walk_dirs_bottom_up(self, root: str):
        """Yield every directory under ``root`` (excluding ``root``),
        children before parents — the shape empty-dir pruning needs."""
        for dirpath, _dirnames, _filenames in os.walk(root, topdown=False):
            if dirpath != root:
                yield dirpath

    # ------------------------------------------------------------ content
    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_text_atomic(self, path: str, payload: str) -> None:
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    # ----------------------------------------------------------- mutation
    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def rmdir_if_empty(self, path: str) -> None:
        try:
            os.rmdir(path)
        except OSError:
            pass

    # ------------------------------------------------------------ parquet
    def parquet_metadata(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_metadata(path)

    def parquet_column(self, path: str, column: str) -> list:
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=[column])[column].to_pylist()

    def parquet_read(self, path: str, columns: list[str] | None = None,
                     filters=None):
        """``filters``: a pyarrow filter (expression or DNF list); row
        groups whose min/max statistics exclude it are skipped."""
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=columns, filters=filters)

    def parquet_write(self, table, path: str) -> None:
        import pyarrow.parquet as pq

        pq.write_table(table, path)

    # -------------------------------------------------------------- spark
    def spark_path(self, path: str) -> str:
        return path

    # -------------------------------------------------------------- lease
    def try_acquire_lease(self, path: str):
        """Exclusive advisory flock on ``path``; returns an opaque handle
        or None when another process holds it. Auto-released when the
        holding process dies (flock semantics — no stale-lease problem)."""
        import fcntl

        fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(fd)
            return None
        os.ftruncate(fd, 0)
        os.write(fd, str(os.getpid()).encode())
        return fd

    def release_lease(self, handle) -> None:
        os.close(handle)  # closing the fd drops the flock

    def lease_held_by_other(self, path: str) -> bool:
        import fcntl

        if not os.path.exists(path):
            return False
        fd = os.open(path, os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            fcntl.flock(fd, fcntl.LOCK_UN)
            return False
        except OSError:
            return True
        finally:
            os.close(fd)


class ArrowFS:
    """Manifest/state IO over any ``pyarrow.fs.FileSystem``.

    ``spark_prefix`` maps engine paths to JVM scan URIs (see module
    docstring). ``lease_stale_after_s`` bounds how long a crashed
    writer's lock FILE blocks a successor — there are no advisory locks
    off-POSIX, so the lease is best-effort and single-writer is the
    deployment contract (documented above).
    """

    def __init__(self, fs, spark_prefix: str = "",
                 lease_stale_after_s: float = 3600.0):
        self._fs = fs
        self._prefix = spark_prefix
        self._stale = lease_stale_after_s
        self._held: set[str] = set()

    # ------------------------------------------------------------ queries
    def _info(self, path: str):
        return self._fs.get_file_info(path)

    def exists(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self._info(path).type != FileType.NotFound

    def isdir(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self._info(path).type == FileType.Directory

    def listdir(self, path: str) -> list[str]:
        from pyarrow.fs import FileSelector, FileType

        if self._info(path).type == FileType.NotFound:
            raise FileNotFoundError(path)
        infos = self._fs.get_file_info(FileSelector(path, recursive=False))
        return [i.path.rsplit("/", 1)[-1] for i in infos]

    def size(self, path: str) -> int:
        info = self._info(path)
        if info.size is None:
            # missing file (or a directory): FileInfo.size is None —
            # surface the same error LocalFS raises so GC's
            # vanished-file handling works on both stores
            raise FileNotFoundError(path)
        return info.size

    def mtime(self, path: str) -> float:
        m = self._info(path).mtime
        # a store that reports no mtime (the in-memory mock) treats the
        # file as brand-new: age-guarded GC then never deletes it — the
        # safe direction
        return m.timestamp() if m is not None else time.time()

    def walk_files(self, root: str):
        from pyarrow.fs import FileSelector, FileType

        if self._info(root).type == FileType.NotFound:
            return
        for i in self._fs.get_file_info(FileSelector(root, recursive=True)):
            if i.type == FileType.File:
                yield i.path

    def walk_dirs_bottom_up(self, root: str):
        from pyarrow.fs import FileSelector, FileType

        if self._info(root).type == FileType.NotFound:
            return
        dirs = [i.path
                for i in self._fs.get_file_info(
                    FileSelector(root, recursive=True))
                if i.type == FileType.Directory]
        # deepest first == children before parents
        yield from sorted(dirs, key=lambda p: p.count("/"), reverse=True)

    # ------------------------------------------------------------ content
    def read_text(self, path: str) -> str:
        from pyarrow.fs import FileType

        if self._info(path).type != FileType.File:
            raise FileNotFoundError(path)
        with self._fs.open_input_stream(path) as f:
            return f.read().decode("utf-8")

    def write_text_atomic(self, path: str, payload: str) -> None:
        # write-temp + move: on stores where move is copy+delete this is
        # still safe for the manifest protocol (immutable unique names +
        # atomic per-object PUT for the HEAD pointer) — see module doc
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with self._fs.open_output_stream(tmp) as f:
            f.write(payload.encode("utf-8"))
        self._fs.move(tmp, path)

    # ----------------------------------------------------------- mutation
    def makedirs(self, path: str) -> None:
        self._fs.create_dir(path, recursive=True)

    def rename(self, src: str, dst: str) -> None:
        self._fs.move(src, dst)

    def remove(self, path: str) -> None:
        from pyarrow.fs import FileType

        if self._info(path).type == FileType.NotFound:
            raise FileNotFoundError(path)
        self._fs.delete_file(path)

    def rmtree(self, path: str) -> None:
        from pyarrow.fs import FileType

        if self._info(path).type == FileType.Directory:
            self._fs.delete_dir(path)

    def rmdir_if_empty(self, path: str) -> None:
        from pyarrow.fs import FileSelector

        try:
            if not self._fs.get_file_info(FileSelector(path)):
                self._fs.delete_dir(path)
        except (OSError, FileNotFoundError):
            pass

    # ------------------------------------------------------------ parquet
    def parquet_metadata(self, path: str):
        import pyarrow.parquet as pq

        return pq.read_metadata(path, filesystem=self._fs)

    def parquet_column(self, path: str, column: str) -> list:
        import pyarrow.parquet as pq

        return pq.read_table(
            path, columns=[column], filesystem=self._fs)[column].to_pylist()

    def parquet_read(self, path: str, columns: list[str] | None = None,
                     filters=None):
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=columns, filters=filters,
                             filesystem=self._fs)

    def parquet_write(self, table, path: str) -> None:
        import pyarrow.parquet as pq

        pq.write_table(table, path, filesystem=self._fs)

    # -------------------------------------------------------------- spark
    def spark_path(self, path: str) -> str:
        return f"{self._prefix}{path}"

    # -------------------------------------------------------------- lease
    def try_acquire_lease(self, path: str):
        """Best-effort lock file (no advisory locks off-POSIX): refuse
        while a FRESH foreign lock file exists; a stale one (older than
        ``lease_stale_after_s``) is reclaimed. NOT race-free — two
        writers racing the same instant can both 'win'; single-writer is
        the deployment contract on object stores (module doc)."""
        if self.exists(path) and path not in self._held:
            if time.time() - self.mtime(path) < self._stale:
                return None
        with self._fs.open_output_stream(path) as f:
            f.write(str(os.getpid()).encode())
        self._held.add(path)
        return path

    def release_lease(self, handle) -> None:
        self._held.discard(handle)
        try:
            self.remove(handle)
        except FileNotFoundError:
            pass

    def lease_held_by_other(self, path: str) -> bool:
        if path in self._held or not self.exists(path):
            return False
        return time.time() - self.mtime(path) < self._stale
