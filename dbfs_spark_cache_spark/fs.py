"""Thin filesystem abstraction.

The reference talks to DBFS through ``dbutils.fs`` (reference:
core_caching.py:47-62, cache_management.py); this engine needs the same four
primitives (stat/list, read text, write text, remove) against whatever
filesystem the Spark cluster uses. Strategy:

* local paths (``/...`` or ``file:/...``) -> plain ``os`` calls — fast, no JVM
  round-trip, correct for local[] testing;
* any other scheme (``s3a://``, ``hdfs://``, ``abfss://`` ...) -> Hadoop
  FileSystem via the active SparkSession's JVM, which is what a 1000-executor
  cluster would use anyway (one driver-side metadata call, no data movement).
"""
from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from datetime import datetime
from typing import Dict, Iterable, Iterator, List, Optional


@dataclass
class FileStat:
    path: str
    name: str
    size: int
    mtime_ms: int
    is_dir: bool


def strip_scheme(path: str) -> str:
    """Normalize ``file:/x`` and ``file:///x`` to ``/x``; leave other schemes."""
    if path.startswith("file://"):
        rest = path[len("file://"):]
        return rest if rest.startswith("/") else "/" + rest
    if path.startswith("file:/"):
        return path[len("file:"):]
    return path


def is_local(path: str) -> bool:
    return path.startswith("file:") or "://" not in path


def _active_jvm_fs(path: str):
    """Hadoop FileSystem + Path for a non-local URI via the active session."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(f"No active SparkSession to access remote path {path}")
    jvm = spark._jvm  # type: ignore[attr-defined]
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    jfs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # type: ignore[attr-defined]
    return jfs, jpath


def exists(path: str) -> bool:
    if is_local(path):
        return os.path.exists(strip_scheme(path))
    jfs, jpath = _active_jvm_fs(path)
    return bool(jfs.exists(jpath))


def list_dir(path: str) -> List[FileStat]:
    """Non-recursive listing with sizes and modification times (ms)."""
    if is_local(path):
        local = strip_scheme(path)
        if not os.path.isdir(local):
            if os.path.isfile(local):
                st = os.stat(local)
                return [FileStat(local, os.path.basename(local), st.st_size,
                                 int(st.st_mtime * 1000), False)]
            return []
        out: List[FileStat] = []
        with os.scandir(local) as entries:
            for entry in entries:
                try:
                    st = entry.stat()
                    is_dir = entry.is_dir()
                except FileNotFoundError:
                    # The entry vanished between scandir and stat — a
                    # CONCURRENT EVICTION deleting cache files while this
                    # session scans the same directory (CLI cron + live
                    # session is a supported combination), or a dangling
                    # symlink (stat follows the link; a missing target is
                    # ENOENT). One disappearing file must not kill the
                    # whole registry scan; the entry is simply no longer
                    # listable, which is also what the post-delete state
                    # would have shown. ONLY ENOENT is swallowed: a
                    # PermissionError (or any other OSError) here would
                    # silently drop a real entry from registry scans and
                    # tree_size, so size-budget eviction would undercount
                    # the footprint — that must fail loudly instead.
                    continue
                out.append(FileStat(entry.path, entry.name, st.st_size,
                                    int(st.st_mtime * 1000), is_dir))
        return out
    jfs, jpath = _active_jvm_fs(path)
    # A missing path lists as empty, mirroring the local branch — Hadoop's
    # listStatus instead throws FileNotFoundException, which would fail the
    # FIRST batch of any sink whose ledger dir doesn't exist yet on remote
    # storage (local tests never hit this branch). Catch rather than probe:
    # an exists() pre-check would double the metadata RPCs on every listing
    # (list_dir runs once per micro-batch in _ledger_state and recursively
    # under tree_size) to save nothing the catch doesn't already handle.
    try:
        statuses = jfs.listStatus(jpath)
    except Exception as exc:
        if "FileNotFoundException" in str(exc):
            return []
        raise
    return [FileStat(s.getPath().toString(), s.getPath().getName(), int(s.getLen()),
                     int(s.getModificationTime()), s.isDirectory()) for s in statuses]


def file_size(path: str) -> Optional[int]:
    if is_local(path):
        try:
            return os.stat(strip_scheme(path)).st_size
        except OSError:
            return None
    try:
        jfs, jpath = _active_jvm_fs(path)
        return int(jfs.getFileStatus(jpath).getLen())
    except Exception:
        return None


def file_sizes(paths: Iterable[str]) -> List[int]:
    """Byte sizes of the files at ``paths``, with one :func:`list_dir` per
    distinct parent directory instead of one stat per file: a table of
    thousands of files on remote storage would otherwise cost thousands of
    sequential getFileStatus round-trips. A file the listing misses (a
    racing compaction or rename) gets a direct stat; a file that is gone
    adds nothing."""
    wanted: Dict[str, set] = {}
    for path in paths:
        wanted.setdefault(os.path.dirname(path), set()).add(os.path.basename(path))
    sizes: List[int] = []
    for d, names in wanted.items():
        listed = {stat.name: stat.size for stat in list_dir(d)}
        for name in names:
            size = listed[name] if name in listed else file_size(f"{d}/{name}")
            if size is not None:
                sizes.append(size)
    return sizes


def walk_files(path: str, skip_hidden: bool = False,
               listing: Optional[List[FileStat]] = None) -> Iterator[FileStat]:
    """Every file under ``path``, recursing into subdirectories with one
    :func:`list_dir` per directory, so it works on local and Hadoop-scheme
    paths alike. ``skip_hidden`` prunes entries named ``_*`` or ``.*``
    (files and whole subtrees). ``listing`` is ``path``'s own listing
    when the caller has already made it."""
    pending = [list_dir(path) if listing is None else listing]
    while pending:
        for stat in pending.pop():
            if skip_hidden and stat.name.startswith(("_", ".")):
                continue
            if stat.is_dir:
                pending.append(list_dir(stat.path))
            else:
                yield stat


def tree_size(path: str) -> int:
    """Total bytes of every file under ``path``, recursing into
    subdirectories (partitioned/bucketed cache tables nest their data
    files; a shallow listing under-reports them)."""
    return sum(stat.size for stat in walk_files(path))


def data_file_inventory(path: str, listing: Optional[list] = None) -> tuple:
    """(file_count, total_bytes) of the DATA files under ``path``,
    recursing into partition/bucket subdirectories. Hidden entries
    (``_SUCCESS``, ``.crc`` sidecars, ``_delta_log``, commit markers)
    are bookkeeping, not data, and are excluded — so the inventory is
    stable across committer/marker differences and changes only when
    data files are lost, truncated, or altered. ``listing``: see
    :func:`walk_files`."""
    sizes = [stat.size for stat in walk_files(path, True, listing)]
    return len(sizes), sum(sizes)


def render_inventory(files: int, total: int) -> str:
    """The two inventory lines a commit marker carries."""
    return f"files={files}\nbytes={total}"


def write_commit_marker(path: str, name: str, extra: str = "") -> bool:
    """Publish the dataset just written at ``path`` as complete: write
    ``<path>/<name>`` holding its data-file inventory (plus ``extra``)
    and return True. The package's own writer marks its datasets this way
    rather than trusting the job committer's ``_SUCCESS``, which a
    committer configured with ``marksuccessfuljobs=false`` never writes.
    The name must start with ``_``: Spark scans skip it and the inventory
    leaves it out. A later check against the inventory catches files lost
    or altered after the write.

    The listing must be the caller's own output, so the marker is refused
    (False, nothing written) when ``path`` lists empty, as it does once
    the data was removed, or holds a job committer's ``_temporary``, the
    in-flight output of another writer that removed ``path`` and is
    rewriting it. Either way a marker would publish an empty or partial
    dataset as committed."""
    listing = list_dir(path)
    if not listing or any(stat.name == "_temporary" for stat in listing):
        return False
    inventory = render_inventory(*data_file_inventory(path, listing))
    write_text(f"{path.rstrip('/')}/{name}", inventory + extra)
    return True


def parse_inventory(text: Optional[str]) -> Optional[tuple]:
    """(files, bytes) parsed from marker text carrying ``files=N`` /
    ``bytes=M`` lines anywhere in it; None when the text has no complete,
    parseable inventory."""
    if not text:
        return None
    found = {}
    for line in text.splitlines():
        key, _, val = line.strip().partition("=")
        if key in ("files", "bytes"):
            try:
                found[key] = int(val)
            except ValueError:
                return None
    if "files" not in found or "bytes" not in found:
        return None
    return found["files"], found["bytes"]


def inventory_matches(path: str, recorded: Optional[str]) -> Optional[bool]:
    """Compare ``path``'s live data listing against a recorded inventory:
    True/False when ``recorded`` carries one, None when there is nothing
    to compare. The shared definition of "corrupt committed data" used by
    the cache read path, the fold, and the sink scans — a False means
    data files were lost, truncated, or altered AFTER commit. A Delta log
    (``_delta_log``) beside the inventory reads False too: a transactional
    write landed there after the commit, and its superseded files would
    scan as rows."""
    want = parse_inventory(recorded)
    if want is None:
        return None
    listing = list_dir(path)
    if any(stat.name == "_delta_log" for stat in listing):
        return False
    return data_file_inventory(path, listing) == want


def dir_summary(path: str, skip_names: tuple = ("_delta_log",)) -> Optional[tuple]:
    """(newest mtime, file count, total file bytes) of the entries
    directly under ``path``, from one listing; None when no mtime can be
    read.

    Mirrors the reference's per-source-directory fingerprint (reference:
    core_caching.py:217-244): skip transaction-log dirs, fall back to the
    directory's own mtime when it holds no relevant entries. The count and
    bytes cover files only (a subdirectory's size says nothing of its
    content), so a deleted or resized file shows even when the newest
    mtime does not move.
    """
    stats = [s for s in list_dir(path)
             if s.name.rstrip("/") not in skip_names]
    files = [s.size for s in stats if not s.is_dir]
    newest = (_utc_naive(max(s.mtime_ms for s in stats) / 1000) if stats
              else _own_mtime(path))
    return None if newest is None else (newest, len(files), sum(files))


def _own_mtime(path: str) -> Optional[datetime]:
    """``path``'s own modification time; None when it cannot be read."""
    try:
        if is_local(path):
            return _utc_naive(os.stat(strip_scheme(path)).st_mtime)
        jfs, jpath = _active_jvm_fs(path)
        return _utc_naive(jfs.getFileStatus(jpath).getModificationTime() / 1000)
    except Exception:
        return None


def max_mtime(path: str, skip_names: tuple = ("_delta_log",)) -> Optional[datetime]:
    """Latest modification time of entries directly under ``path`` (see
    :func:`dir_summary`)."""
    summary = dir_summary(path, skip_names)
    return None if summary is None else summary[0]


def _utc_naive(epoch_seconds: float) -> datetime:
    """Epoch -> naive UTC datetime. Cache keys render these with no zone
    marker, so a LOCAL-time rendering made the key depend on the driver
    host's timezone and flip across DST transitions — every entry written
    before the flip silently missed and was rebuilt (twice a year, or
    whenever two drivers in different zones share a cache dir). UTC is
    the only rendering that is the same everywhere. NOTE this is a
    key-FORMAT change on non-UTC hosts (one-time rebuild of their
    entries, per the cache_metadata_document contract); on UTC hosts —
    every fixture/driver run here — keys are byte-identical."""
    from datetime import timezone

    return datetime.fromtimestamp(epoch_seconds, tz=timezone.utc).replace(
        tzinfo=None
    )


def read_text(path: str) -> Optional[str]:
    if is_local(path):
        local = strip_scheme(path)
        try:
            with open(local, "r", encoding="utf-8") as fh:
                return fh.read()
        except OSError:
            return None
    try:
        jfs, jpath = _active_jvm_fs(path)
        stream = jfs.open(jpath)
        try:
            from py4j.java_gateway import java_import  # noqa: F401
            # Read fully via IOUtils to avoid chunked reads over py4j.
            from pyspark.sql import SparkSession
            jvm = SparkSession.getActiveSession()._jvm  # type: ignore
            data = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            return str(data)
        finally:
            stream.close()
    except Exception:
        return None


def _temp_sibling(path: str) -> str:
    """A writer-unique temp name in the same directory as ``path`` (rename
    is only atomic within a filesystem/directory). pid+tid alone is NOT
    unique across HOSTS sharing one filesystem (NFS/object store — the
    exact multi-driver scenario the shared cache exists for): two writers
    on different machines can hold the same (pid, tid) pair and interleave
    writes into one temp file, producing a torn document that the atomic
    rename then publishes. The uuid component makes the name
    single-writer by construction."""
    import threading
    import uuid

    return (
        f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
        f".{uuid.uuid4().hex[:8]}"
    )


def write_text(path: str, content: str) -> None:
    """Write ``content`` so that no reader can ever observe a torn file.

    Concurrent readers of a metadata sidecar (another session probing the
    same cache key mid-update) must see either the old document or the new
    one — a half-written sidecar reads as a corrupt entry. Locally that is
    ``os.replace`` (atomic POSIX rename). On Hadoop filesystems the temp
    file is renamed into place; HDFS rename is atomic, and where the target
    must be deleted first the transient state is *absence* (a clean cache
    miss for readers), never a torn read.

    Contract: ``path`` must carry a directory component — a bare relative
    filename ("sidecar.txt") raises ``FileNotFoundError`` from
    ``os.makedirs("")`` rather than guessing a working directory.
    Every internal caller builds paths from a configured base; loud beats
    a sidecar quietly landing in whatever CWD the driver happens to have.
    """
    if is_local(path):
        local = strip_scheme(path)
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = _temp_sibling(local)
        try:
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(content)
            os.replace(tmp, local)
        finally:
            if os.path.exists(tmp):  # replace failed; don't leak the temp
                try:
                    os.remove(tmp)
                except OSError:
                    pass
        return
    jfs, jpath = _active_jvm_fs(path)
    jfs.mkdirs(jpath.getParent())
    from pyspark.sql import SparkSession

    jvm = SparkSession.getActiveSession()._jvm  # type: ignore[union-attr]
    jtmp = jvm.org.apache.hadoop.fs.Path(_temp_sibling(path))
    stream = jfs.create(jtmp, True)
    try:
        stream.write(bytearray(content.encode("utf-8")))
    finally:
        stream.close()
    # Hadoop rename does not overwrite: clear the target first. The
    # reader-visible intermediate state is a missing sidecar (= miss).
    if jfs.exists(jpath):
        jfs.delete(jpath, False)
    if not jfs.rename(jtmp, jpath):
        jfs.delete(jtmp, False)
        # Cross-process race: another writer's rename can land between our
        # delete and rename. Metadata sidecars are content-addressed (same
        # key -> same document), so when the target now holds EXACTLY our
        # content the goal state is in place — succeed silently, as
        # create(overwrite=True) and the reference's dbutils.fs.put always
        # did. The content check is load-bearing, not pedantry: the ledger
        # manifest is a MUTABLE document at a fixed path, and silently
        # "succeeding" over a racer's different manifest would let a
        # compactor proceed to delete markers its surviving manifest never
        # absorbed (dropping committed batch ids). Different content ->
        # raise, exactly as before.
        if read_text(path) == content:
            return
        raise OSError(f"rename {jtmp} -> {jpath} failed")


def rename(src: str, dst: str) -> None:
    """Move ``src`` (file or directory) to ``dst``, raising on failure.

    Used by maintenance flows that publish a completed directory with a
    swap (write to a temp sibling, then rename into place) — the rename
    is the commit point, so a silent failure must not look like success.
    ``dst`` must not exist (Hadoop rename does not overwrite; the local
    branch matches that contract for cross-platform parity).

    The local no-overwrite check is best-effort, not a lock: a ``dst``
    created between the ``exists`` probe and ``os.rename`` can still be
    replaced (POSIX rename overwrites a file target; a directory renames
    over an empty directory target). The
    maintenance flows that call this are single-owner by contract — the
    fold's uuid temp sibling and ``_FOLDED_OK`` stamp guard the racing-
    owner aftermath — so the probe's job is only to fail FAST on a
    clearly-stale target, not to arbitrate concurrent writers."""
    if is_local(src) and is_local(dst):
        lsrc, ldst = strip_scheme(src), strip_scheme(dst)
        if os.path.exists(ldst):
            raise OSError(f"rename target already exists: {dst}")
        os.makedirs(os.path.dirname(ldst) or ".", exist_ok=True)
        os.rename(lsrc, ldst)
        return
    jfs, jsrc = _active_jvm_fs(src)
    from pyspark.sql import SparkSession

    jvm = SparkSession.getActiveSession()._jvm  # type: ignore[union-attr]
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    if jfs.exists(jdst):
        raise OSError(f"rename target already exists: {dst}")
    jfs.mkdirs(jdst.getParent())
    if not jfs.rename(jsrc, jdst):
        raise OSError(f"rename {src} -> {dst} failed")


def remove(path: str, recursive: bool = True) -> bool:
    if is_local(path):
        local = strip_scheme(path)
        try:
            if os.path.isdir(local):
                if recursive:
                    shutil.rmtree(local)
                else:
                    os.rmdir(local)
            elif os.path.exists(local):
                os.remove(local)
            else:
                return False
            return True
        except OSError:
            return False
    try:
        jfs, jpath = _active_jvm_fs(path)
        return bool(jfs.delete(jpath, recursive))
    except Exception:
        return False
