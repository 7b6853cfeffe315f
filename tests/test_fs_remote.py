"""Hadoop-scheme branches of the fs abstraction, driven through fake JVM
objects (no cluster in this sandbox — the local branches are covered by
the cache roundtrip suite; these pin the remote-only contracts the r6
advisor flagged: a missing dir lists as empty instead of failing the
first sink batch, and a lost rename race to an identical
content-addressed sidecar succeeds silently).
"""
from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbfs_spark_cache_spark import fs


class _FakePath:
    def __init__(self, path: str):
        self._path = path

    def toString(self):
        return self._path

    def getName(self):
        return self._path.rstrip("/").rsplit("/", 1)[-1]

    def getParent(self):
        return _FakePath(self._path.rsplit("/", 1)[0])


class _FakeStatus:
    def __init__(self, path: str, size: int = 3, mtime: int = 1000):
        self._p = _FakePath(path)
        self._size, self._mtime = size, mtime

    def getPath(self):
        return self._p

    def getLen(self):
        return self._size

    def getModificationTime(self):
        return self._mtime

    def isDirectory(self):
        return False


class _FakeJfs:
    """In-memory stand-in for org.apache.hadoop.fs.FileSystem: exists /
    listStatus / rename semantics, with listStatus throwing on a missing
    path exactly like the real one."""

    def __init__(self):
        self.files: dict[str, str] = {}
        self.rename_results: list[bool] = []

    def exists(self, jpath):
        p = jpath.toString()
        return p in self.files or any(
            f.startswith(p.rstrip("/") + "/") for f in self.files
        )

    def listStatus(self, jpath):
        p = jpath.toString().rstrip("/")
        children = [f for f in self.files if f.startswith(p + "/")]
        if not children and p not in self.files:
            raise RuntimeError(
                f"java.io.FileNotFoundException: File {p} does not exist"
            )
        return [_FakeStatus(f) for f in children]

    def delete(self, jpath, recursive):
        return self.files.pop(jpath.toString(), None) is not None

    def mkdirs(self, jpath):
        return True

    def rename(self, src, dst):
        ok = self.rename_results.pop(0) if self.rename_results else True
        if ok:
            self.files[dst.toString()] = self.files.pop(src.toString(), "")
        return ok


@pytest.fixture()
def fake_fs(monkeypatch):
    jfs = _FakeJfs()
    monkeypatch.setattr(
        fs, "_active_jvm_fs", lambda path: (jfs, _FakePath(path))
    )
    return jfs


def test_list_dir_missing_remote_path_is_empty(fake_fs):
    """The first micro-batch of a fresh exactly-once sink probes the
    ledger dir before anything created it; on Hadoop schemes listStatus
    throws FileNotFoundException, which must read as 'no entries', not an
    error (the local branch already returns [])."""
    assert fs.list_dir("s3a://bucket/sink/_committed") == []


def test_list_dir_remote_lists_existing_entries(fake_fs):
    fake_fs.files["s3a://bucket/sink/_committed/1.txt"] = "x"
    fake_fs.files["s3a://bucket/sink/_committed/2.txt"] = "y"
    names = {s.name for s in fs.list_dir("s3a://bucket/sink/_committed")}
    assert names == {"1.txt", "2.txt"}


def _install_fake_jvm(monkeypatch, fake_fs):
    """Wire the fake FileSystem into write_text's and read_text's JVM
    plumbing: create() returns a write stream, open()+IOUtils.toString
    serve the stored content back (write_text re-reads the target to
    verify a lost race left IDENTICAL content before succeeding
    silently)."""

    class _WriteStream:
        def write(self, data):
            pass

        def close(self):
            pass

    class _ReadStream:
        def __init__(self, content):
            self.content = content

        def close(self):
            pass

    fake_fs.create = lambda jpath, overwrite: _WriteStream()
    fake_fs.open = lambda jpath: _ReadStream(
        fake_fs.files.get(jpath.toString())
    )

    class _IOUtils:
        @staticmethod
        def toString(stream, encoding):
            if stream.content is None:
                raise RuntimeError("java.io.FileNotFoundException")
            return stream.content

    class _FakeJvm:
        class org:
            class apache:
                class hadoop:
                    class fs:
                        Path = _FakePath

                class commons:
                    class io:
                        IOUtils = _IOUtils

    class _FakeSession:
        _jvm = _FakeJvm

    monkeypatch.setattr(
        "pyspark.sql.SparkSession.getActiveSession",
        classmethod(lambda cls: _FakeSession()),
    )


def test_write_text_lost_rename_race_with_identical_content_is_silent(
    fake_fs, monkeypatch
):
    """A racer's IDENTICAL sidecar landing between our delete and rename
    makes our rename return False with the goal state already in place
    (content-addressed writes are byte-identical per key) — the caller's
    job must not fail."""
    _install_fake_jvm(monkeypatch, fake_fs)
    target = "s3a://bucket/cache/key.meta.txt"

    def losing_rename(src, dst):
        fake_fs.files.pop(src.toString(), None)
        fake_fs.files[target] = "racer-wrote-identical-content"
        return False

    fake_fs.rename = losing_rename
    fs.write_text(target, "racer-wrote-identical-content")  # must not raise
    assert fake_fs.files[target] == "racer-wrote-identical-content"


def test_write_text_lost_rename_race_with_different_content_raises(
    fake_fs, monkeypatch
):
    """The silent path is content-gated: losing a rename race to a
    DIFFERENT document (the mutable ledger manifest, not a
    content-addressed sidecar) must raise, or a compactor would proceed
    to delete markers its surviving manifest never absorbed."""
    _install_fake_jvm(monkeypatch, fake_fs)
    target = "s3a://bucket/sink/_committed/manifest.txt"

    def losing_rename(src, dst):
        fake_fs.files.pop(src.toString(), None)
        fake_fs.files[target] = "1\n2\n3"
        return False

    fake_fs.rename = losing_rename
    with pytest.raises(OSError):
        fs.write_text(target, "1\n2\n3\n7")
    assert fake_fs.files[target] == "1\n2\n3"  # racer's document intact


def test_write_text_rename_failure_without_target_still_raises(
    fake_fs, monkeypatch
):
    """A rename that fails with NO replacement in place is a real error —
    the silent-success path is strictly for the won-by-someone-else race."""
    _install_fake_jvm(monkeypatch, fake_fs)

    def broken_rename(src, dst):
        fake_fs.files.pop(src.toString(), None)
        return False

    fake_fs.rename = broken_rename
    with pytest.raises(OSError):
        fs.write_text("s3a://bucket/cache/other.meta.txt", "content")


def test_put_file_uploads_the_staged_file_and_removes_it(fake_fs, monkeypatch):
    """A Hadoop-scheme target gets the driver-written file through one
    ``copyFromLocalFile`` to a hidden name beside the target's directory
    (deleting the local copy), then a rename into place; nothing staged
    is left locally or in the store, also when the upload or the rename
    fails."""
    _install_fake_jvm(monkeypatch, fake_fs)
    uploads = []

    def copy_from_local(del_src, overwrite, src, dst):
        local = src.toString()[len("file://"):]
        with open(local) as fh:
            fake_fs.files[dst.toString()] = fh.read()
        uploads.append((del_src, overwrite, local, dst.toString()))
        if del_src:
            os.remove(local)

    fake_fs.copyFromLocalFile = copy_from_local
    target = "s3a://bucket/wh/db.db/data_x/data.parquet"

    def write(path):
        with open(path, "w") as fh:
            fh.write("rows")

    fs.put_file(target, write)
    ((del_src, overwrite, local, staged),) = uploads
    assert (del_src, overwrite) == (True, True)
    assert staged.startswith("s3a://bucket/wh/db.db/.data_x-data.parquet.tmp.")
    assert fake_fs.files == {target: "rows"}
    assert not os.path.exists(local)

    fake_fs.rename_results.append(False)
    with pytest.raises(OSError):
        fs.put_file(target, write)
    assert fake_fs.files == {}  # the target was cleared before the rename
    assert not os.path.exists(uploads[-1][2])

    def failing(del_src, overwrite, src, dst):
        uploads.append(src.toString()[len("file://"):])
        raise RuntimeError("java.io.IOException: upload failed")

    fake_fs.copyFromLocalFile = failing
    with pytest.raises(RuntimeError):
        fs.put_file(target, write)
    assert not os.path.exists(uploads[-1])
    assert fake_fs.files == {}


def test_put_file_local_target_is_renamed_into_place(tmp_path):
    """A local target is staged under a hidden name beside its directory
    and renamed over it: the directory ends with the one file,
    overwritten, and nothing staged is left beside it."""
    target = tmp_path / "entry" / "data.parquet"
    for content in ("old", "new"):
        fs.put_file(str(target), lambda path, c=content: Path(path).write_text(c))
    assert os.listdir(target.parent) == ["data.parquet"]
    assert os.listdir(tmp_path) == ["entry"]
    assert target.read_text() == "new"


def test_put_file_directory_never_lists_the_file_in_flight(tmp_path):
    """While the file is being written, its directory does not list it:
    a commit marker written from that listing then sees an empty
    directory and is refused."""
    target = tmp_path / "entry" / "data.parquet"
    seen = []

    def write(path):
        Path(path).write_text("rows")
        seen.append(fs.write_commit_marker(str(target.parent), "_M"))

    fs.put_file(str(target), write)
    assert seen == [False]
    assert os.listdir(target.parent) == ["data.parquet"]
