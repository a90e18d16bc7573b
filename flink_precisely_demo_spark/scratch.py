"""Scratch-directory placement for replay staging, streaming
checkpoints, and fixture builds.

Every streaming replay and fixture path in this package is EPHEMERAL
by construction: the directory is created, consumed within the same
query invocation (or process), and removed. What that scratch medium
costs matters, though — a bounded availableNow replay pays a state
store commit (delta file write + fsync) per partition per trigger,
plus offset/commit WAL writes, plus the staged-feed and drain parquet
I/O, and on a disk-backed /tmp those fsyncs were the measured top
line of the per-trigger fixed cost (guide §6; stateCommitMs ~0.1 s
per partition-commit on this host's ext4 vs tmpfs).

``scratch_dir`` therefore places scratch on the fastest medium
available, in order:

1. ``$SPARK_GRAFT_SCRATCH`` — explicit operator override (point it
   at NVMe scratch on a cluster node, or back at /tmp to keep RAM
   free on a small host);
2. ``/dev/shm`` (RAM-backed tmpfs) when present and writable — the
   right default for a bounded replay whose checkpoint dir dies with
   the query: crash durability across host reboot is not part of its
   contract, exactly like Spark's own local shuffle dirs;
3. the system default tempdir.

A long-running PRODUCTION streaming job with a recovery contract
must keep its checkpoint on durable shared storage — this helper is
for the scratch class only, which is why call sites route through it
explicitly rather than it patching tempfile globally.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

_SHM = "/dev/shm"


def _scratch_base() -> str | None:
    base = os.environ.get("SPARK_GRAFT_SCRATCH")
    if base:
        return base
    if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK):
        return os.path.join(_SHM, "spark_graft_scratch")
    return None


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` on the fastest available scratch medium
    (see module docstring); falls back to the system tempdir when the
    preferred base cannot be created."""
    base = _scratch_base()
    if base is not None:
        try:
            os.makedirs(base, exist_ok=True)
            return tempfile.mkdtemp(prefix=prefix, dir=base)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix)


@contextmanager
def scratch(prefix: str):
    """A :func:`scratch_dir` for the duration of the block, removed
    when the block exits — also when it raises."""
    d = scratch_dir(prefix)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)
