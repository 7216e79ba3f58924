"""Process-scoped scratch directories.

Streaming landing zones, checkpoints, and txn-table warehouse roots
need to live for the rest of the Spark session (a checkpoint removed
mid-stream corrupts the query; a landing zone is re-read by every
``stream_*`` registry entry), so per-call cleanup is wrong — but
``tempfile.mkdtemp`` alone leaks the dirs across process exits and a
week of registry runs fills /tmp. Every temp dir in the package goes
through :func:`scratch_dir`, which registers one atexit sweep:
process exit leaves /tmp no larger than before the run.

Call sites that CAN clean earlier (e.g. the per-drain memory-sink
checkpoints) still do — the exit sweep is ``ignore_errors`` and
double-removal is a no-op.
"""

from __future__ import annotations

import atexit
import errno
import os
import shutil
import tempfile

_CREATED: list[str] = []

# Free space /dev/shm must have for ephemeral_dir to use it.
SHM_MIN_FREE_BYTES = 1 << 30


def scratch_dir(prefix: str) -> str:
    """mkdtemp that is removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    _CREATED.append(path)
    return path


def ephemeral_dir(prefix: str) -> str:
    """Scratch dir for state that never needs to survive the process —
    per-drain streaming checkpoints, per-entry maintained-index roots,
    micro-batch output staging. Backed by /dev/shm when available so
    the many small fsync-ed files Structured Streaming's commit
    protocol writes (offset/commit logs, state-store deltas) cost RAM
    writes instead of disk round-trips; falls back to the normal
    scratch dir otherwise. Correctness is unaffected: every caller
    deletes the dir in the same query invocation, so its durability
    is never exercised — a production deployment points checkpoints
    at durable storage precisely because it DOES reuse them across
    restarts (the restart paths in tests use their own tmp dirs).

    Callers also stage maintained indexes and micro-batch output here,
    which grow with the corpus, so /dev/shm is used only while it has
    at least ``SHM_MIN_FREE_BYTES`` free; a smaller or fuller mount
    gets disk scratch instead of failing a query with ENOSPC."""
    base = "/dev/shm"
    if not (os.path.isdir(base) and os.access(base, os.W_OK)
            and _free_bytes(base) >= SHM_MIN_FREE_BYTES):
        return scratch_dir(prefix)
    path = tempfile.mkdtemp(prefix=prefix, dir=base)
    _CREATED.append(path)
    return path


def _free_bytes(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize


def link_or_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst``; copy it where the two paths cannot
    share an inode (different filesystems, or a filesystem or mount
    that refuses hard links)."""
    try:
        os.link(src, dst)
    except OSError as e:
        if e.errno not in (errno.EXDEV, errno.EPERM, errno.ENOTSUP):
            raise
        shutil.copyfile(src, dst)


@atexit.register
def _cleanup() -> None:
    while _CREATED:
        shutil.rmtree(_CREATED.pop(), ignore_errors=True)
