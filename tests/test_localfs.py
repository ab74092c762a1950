"""Unit tests for the local filesystem layer of the write path.

The writer lease, the staged swap, vacuum and the replay markers all go
through ``parquet_index_spark._localfs``; these tests pin its contract
directly, without a Spark session.
"""

import os
import threading

import pytest

from parquet_index_spark import _localfs as L


def _siblings(path):
    d, base = os.path.split(path)
    return sorted(n for n in os.listdir(d) if n.startswith(base))


class TestLocalPath:
    def test_plain_and_file_uri_forms_are_one_path(self, tmp_path):
        p = str(tmp_path / "t")
        assert L.local_path(p) == p
        assert L.local_path("file:" + p) == p
        assert L.local_path("file://" + p) == p

    def test_relative_path_made_absolute(self, tmp_path, monkeypatch):
        monkeypatch.chdir(tmp_path)
        assert L.local_path("a/b") == str(tmp_path / "a" / "b")

    @pytest.mark.parametrize("uri", ["hdfs://nn/t", "s3a://bucket/t"])
    def test_other_schemes_refused(self, uri):
        with pytest.raises(ValueError, match="local filesystem"):
            L.local_path(uri)


class TestChecksumNames:
    def test_checksum_name_is_recognised(self):
        name = L.checksum_name("part-0.parquet")
        assert name == ".part-0.parquet.crc"
        assert L.is_checksum(name)

    def test_data_and_hidden_files_are_not_checksums(self):
        assert not L.is_checksum("part-0.parquet")
        assert not L.is_checksum("_SUCCESS")
        assert not L.is_checksum(".hidden")
        assert not L.is_checksum("part-0.crc")


class TestRecords:
    def test_exclusive_create_keeps_the_first_record(self, tmp_path):
        lock = str(tmp_path / "lock")
        assert L.create_record_exclusive(lock, b"first") is True
        assert L.create_record_exclusive(lock, b"second") is False
        assert L.read_record(lock) == b"first"
        assert _siblings(lock) == ["lock"], "a private record was left"

    def test_exclusive_create_race_has_one_winner(self, tmp_path):
        lock = str(tmp_path / "lock")
        n = 8
        barrier = threading.Barrier(n)
        won = []

        def racer(i):
            barrier.wait()
            if L.create_record_exclusive(lock, f"owner-{i}".encode()):
                won.append(i)

        threads = [threading.Thread(target=racer, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(won) == 1
        assert L.read_record(lock) == f"owner-{won[0]}".encode()
        assert _siblings(lock) == ["lock"]

    def test_failed_private_write_leaves_nothing(self, tmp_path,
                                                 monkeypatch):
        lock = str(tmp_path / "lock")

        def full(fd):
            raise OSError(28, "No space left on device")

        monkeypatch.setattr(os, "fsync", full)
        with pytest.raises(OSError, match="No space"):
            L.create_record_exclusive(lock, b"x")
        monkeypatch.undo()
        assert os.listdir(tmp_path) == []

    def test_write_record_replaces_whole_record(self, tmp_path):
        rec = str(tmp_path / "rec")
        L.write_record(rec, b"old record")
        L.write_record(rec, b"new")
        assert L.read_record(rec) == b"new"
        assert _siblings(rec) == ["rec"]

    def test_absent_file_reads_as_none(self, tmp_path):
        missing = str(tmp_path / "missing")
        assert L.read_record(missing) is None
        assert L.mtime(missing) is None


class TestTouchAndRmtree:
    def test_touch_moves_mtime_and_never_creates(self, tmp_path):
        rec = str(tmp_path / "rec")
        L.write_record(rec, b"x")
        os.utime(rec, (1_000_000, 1_000_000))
        L.touch(rec)
        assert L.mtime(rec) > 1_000_000
        missing = str(tmp_path / "missing")
        with pytest.raises(FileNotFoundError):
            L.touch(missing)
        assert not os.path.exists(missing)

    def test_rmtree_of_absent_dir_is_a_no_op(self, tmp_path):
        d = tmp_path / "d"
        (d / "sub").mkdir(parents=True)
        (d / "sub" / "f").write_bytes(b"x")
        L.rmtree(str(d))
        assert not d.exists()
        L.rmtree(str(d))
