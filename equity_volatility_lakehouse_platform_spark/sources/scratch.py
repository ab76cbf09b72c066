"""Ephemeral scratch placement (round-14 optimization).

Every scratch artifact the engine creates — streaming landing dirs,
streaming checkpoints, ACID table roots for the sink queries — is
EPHEMERAL by contract: created inside one query invocation (or one
process) and deleted before it returns. Every streaming query's landing
dir, checkpoint and table roots live under one temp root owned by
``streaming.events_stream._run_stream_scoped``; the sink queries use
``sources.sinks.session_scratch``. Durability is therefore irrelevant for these
paths, and their cost profile is many small file creates/renames —
exactly the pattern journaling-disk filesystems serve worst. Profiled
at sf0.1 (guide §1/§6): the stream-stream join cells spent ~1 s and
most of their run-to-run variance in state-store/checkpoint small-file
I/O on the ext3 /tmp; the same runs on tmpfs were both faster and
stable (st16 4.1-6.1 s -> 3.2±0.1 s).

``scratch_base()`` picks the fastest available scratch root:

* ``$EVLP_SCRATCH_DIR`` when set — the deployment knob. A production
  cluster points this at the job's fast local scratch (NVMe,
  instance-store) or leaves checkpoints on durable storage by setting
  it to the checkpoint volume; a RAM-backed dir is only the LOCAL
  default because local bench scratch is torn down within the run.
* ``/dev/shm`` when present and writable (Linux tmpfs).
* ``None`` otherwise — tempfile's default resolution (honors TMPDIR).

Nothing here changes what any query computes: only where its throwaway
files live.
"""

from __future__ import annotations

import os
import warnings

# RAM-backed scratch is only safe while the artifacts stay a small
# fraction of the tmpfs: streaming state/checkpoints at bench SFs are a
# few MB, but a larger-than-bench state store on a RAM-limited host
# would ENOSPC where disk /tmp worked. Require this much free space on
# /dev/shm before electing it as the DEFAULT (an explicit
# $EVLP_SCRATCH_DIR is the operator's call and skips the size check).
_SHM_MIN_FREE_BYTES = 1 << 30  # 1 GiB


def _dir_usable(path: str) -> bool:
    return os.path.isdir(path) and os.access(path, os.W_OK)


def _free_bytes(path: str) -> int:
    st = os.statvfs(path)
    return st.f_bavail * st.f_frsize


def scratch_base() -> str | None:
    """Directory to pass as ``dir=`` to ``tempfile.mkdtemp`` for
    ephemeral engine scratch; ``None`` means tempfile's default.

    ``$EVLP_SCRATCH_DIR`` is validated (exists + writable) and falls
    back with a warning instead of poisoning every later mkdtemp with
    FileNotFoundError. ``/dev/shm`` is only auto-selected while it has
    ``_SHM_MIN_FREE_BYTES`` free — a RAM-squeezed host degrades to the
    tempfile default (disk /tmp) rather than ENOSPC mid-query."""
    env = os.environ.get("EVLP_SCRATCH_DIR")
    if env:
        if _dir_usable(env):
            return env
        warnings.warn(
            f"EVLP_SCRATCH_DIR={env!r} is not a writable directory; "
            "falling back to default scratch resolution",
            stacklevel=2,
        )
    shm = "/dev/shm"
    try:
        if _dir_usable(shm) and _free_bytes(shm) >= _SHM_MIN_FREE_BYTES:
            return shm
    except OSError:
        pass
    return None
