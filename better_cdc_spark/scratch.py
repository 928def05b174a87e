"""Per-process scratch directories for queries that persist-and-reread.

Registry queries materialize indexes, sinks, staged sources and streaming
checkpoints to local disk and read them back cold (q97f IVF, q97k BM25,
the streaming sinks, `streaming.core.run_to_memory`/`run_to_parquet`).
`scratch_dir` is the one mechanism they use for a per-run directory:
`tempfile.mkdtemp` per invocation leaked a directory on every bench/check
sweep, while this helper gives each logical name ONE deterministic
per-process path that is wiped on reuse and removed at interpreter exit,
so repeated sweeps are steady-state on disk.

At 100 TB these paths are object-store URIs managed by the table format /
catalog, not local temp dirs — this module is test-scale plumbing only.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_ROOT = os.path.join(tempfile.gettempdir(), f"bcs_scratch_{os.getpid()}")
_registered = False


def _cleanup() -> None:
    shutil.rmtree(_ROOT, ignore_errors=True)


def scratch_dir(name: str) -> str:
    """Fresh NONEXISTENT path for `name`, stable within this process.

    Re-calling with the same name wipes the path (a re-run must never see
    a prior run's files — e.g. a stale streaming checkpoint or parquet
    fragment). The leaf is deliberately not created: `df.write.parquet`
    refuses an existing path under the default save mode. The whole
    per-process root is removed via atexit.
    """
    global _registered
    if not _registered:
        atexit.register(_cleanup)
        _registered = True
    path = os.path.join(_ROOT, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(_ROOT, exist_ok=True)
    return path
