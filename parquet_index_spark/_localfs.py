"""Local filesystem primitives for the write path.

Every table an index can cover is local: the refresh lists it with
``os.walk`` and :class:`~parquet_index_spark.metastore.LocationSpec`
refuses any other scheme. So the writer lease, the staged swap, vacuum,
crash recovery and the streaming replay markers work on plain paths
through ``os``. Callers go through this module's names, which is also
where tests inject faults.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from os import listdir, remove, rename  # noqa: F401 — re-exported seams
from os.path import exists  # noqa: F401
from urllib.parse import urlparse


def local_path(path: str) -> str:
    """Absolute local path of a table path given plainly or as a
    ``file:`` URI: ``/x``, ``file:/x`` and ``file:///x`` are one path.
    Any other scheme raises ValueError."""
    if re.match(r"^[A-Za-z][A-Za-z0-9+.-]+:", path):
        u = urlparse(path)
        if u.scheme != "file":
            raise ValueError(
                f"table path {path!r} is on a {u.scheme}: filesystem; "
                "indexed tables must be on the local filesystem (a plain "
                "path or a file: URI).")
        path = u.path
    return os.path.abspath(path)


def is_checksum(name: str) -> bool:
    """Whether ``name`` is a Hadoop checksum sidecar (``.<file>.crc``),
    which Hadoop's local filesystem writes beside each file and hides
    from its listings."""
    return name.startswith(".") and name.endswith(".crc")


def checksum_name(name: str) -> str:
    """The name of the checksum sidecar Hadoop keeps for file ``name``."""
    return f".{name}.crc"


def _write_private(path: str, data: bytes) -> str:
    """Write ``data`` to a fresh sibling of ``path`` and fsync it;
    returns the sibling's name. Nothing is left behind on failure."""
    private = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(private, "xb") as fh:
            fh.write(data)
            fh.flush()
            os.fsync(fh.fileno())
    except BaseException:
        try:
            os.remove(private)
        except OSError:
            pass
        raise
    return private


def create_record_exclusive(path: str, data: bytes) -> bool:
    """Publish ``data`` at ``path`` only if no file has that name: True
    when this call created it, False when the name exists. The record
    is complete before it becomes visible, and ``os.link`` fails
    atomically on an existing name, so of any number of racers exactly
    one creates it."""
    private = _write_private(path, data)
    try:
        os.link(private, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(private)


def write_record(path: str, data: bytes) -> None:
    """Replace the file at ``path`` with ``data``; readers see the old
    record or the complete new one, never a partial write."""
    os.replace(_write_private(path, data), path)


def read_record(path: str):
    """The bytes of the file at ``path``, or None when it is absent."""
    try:
        with open(path, "rb") as fh:
            return fh.read()
    except FileNotFoundError:
        return None


def mtime(path: str):
    """Modification time of ``path`` in seconds, or None when absent."""
    try:
        return os.stat(path).st_mtime
    except FileNotFoundError:
        return None


def touch(path: str) -> None:
    """Set the mtime of an existing ``path`` to now; never creates it."""
    os.utime(path)


def rmtree(path: str) -> None:
    """Delete the directory tree at ``path`` if it exists."""
    try:
        shutil.rmtree(path)
    except FileNotFoundError:
        pass
