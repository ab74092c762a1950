"""Every Python source of the project compiles with no warning.

An invalid escape sequence in a string literal compiles with a
``SyntaxWarning`` (a ``DeprecationWarning`` before Python 3.12) that
later Pythons turn into an error; this check raises it now. No Spark
session is needed.
"""

import pathlib
import warnings

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
SOURCES = sorted(p for d in ("parquet_index_spark", "tests", "perfbench",
                             "tools")
                 for p in (ROOT / d).rglob("*.py"))


def test_sources_compile_without_warnings():
    assert SOURCES
    failed = []
    for path in SOURCES:
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_bytes(), str(path), "exec")
            except (SyntaxError, SyntaxWarning, DeprecationWarning) as e:
                failed.append(f"{path.relative_to(ROOT)}: {e}")
    if failed:
        pytest.fail("\n".join(failed))
