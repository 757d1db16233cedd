"""Process-scoped temp directories with exit-time cleanup, and the
one atomic file landing.

Staging spools, checkpoints and sink dirs are per-process scratch; they
must not accumulate across driver/bench/test runs."""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_CREATED: list[str] = []


def mkdtemp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _CREATED.append(d)
    return d


@atexit.register
def _cleanup() -> None:
    for d in _CREATED:
        shutil.rmtree(d, ignore_errors=True)


def land_atomic(directory: str, name: str, data: bytes) -> None:
    """Write `data` to `directory/name` through the hidden
    `.<stem>.tmp` and one `os.replace`: a reader listing the directory
    sees the whole file or nothing."""
    tmp = os.path.join(directory, f".{os.path.splitext(name)[0]}.tmp")
    dst = os.path.join(directory, name)
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, dst)
