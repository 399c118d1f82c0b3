"""Scratch space: the only code that knows where ``.tmp`` lives.

The reference runs each product job in a fresh container that stages its
inputs, writes its output and exits.  The engine's analog is two kinds of
directory, both top-level entries under the repo's ``.tmp``:

- ``fresh(prefix)``: a new per-call directory ``{prefix}_{uuid8}``.  The
  directories a process creates are removed when that process exits, so
  a frame built on one stays readable for the life of the session and
  nothing is left behind.
- ``artifact(name, build, tag)``: a write-once derived artifact
  ``{name}_{tag}``, built into a staging directory and published with one
  ``os.rename``.  The final directory existing means it is complete.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import uuid
from collections.abc import Callable
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1] / ".tmp"

# (creating pid, directory): a forked child inherits this list and the
# exit hook, and must never remove the directories of its parent
_owned: list[tuple[int, Path]] = []


def fresh(prefix: str) -> Path:
    """Create and return a new ``.tmp/{prefix}_{uuid8}`` directory, removed
    when the creating process exits."""
    d = ROOT / f"{prefix}_{uuid.uuid4().hex[:8]}"
    d.mkdir(parents=True)
    _owned.append((os.getpid(), d))
    return d


@atexit.register
def _remove_owned() -> None:
    pid = os.getpid()
    for owner, d in _owned:
        if owner == pid:
            shutil.rmtree(d, ignore_errors=True)


def artifact(name: str, build: Callable[[str], object], tag: str) -> str:
    """Return the path of the write-once artifact ``.tmp/{name}_{tag}``,
    calling ``build(staging_dir)`` to write it if it does not exist yet.

    ``tag`` carries the source identity (``fixture_tag`` or the generation
    parameters), so a changed source is simply a new directory.  If a
    concurrent writer publishes first, the rename fails and its complete
    copy is used; a ``build`` that raises leaves nothing behind."""
    target = ROOT / f"{name}_{tag}"
    if not target.is_dir():
        stage = fresh(f".{name}")
        try:
            build(str(stage))
            os.rename(stage, target)
        except OSError:
            if not target.is_dir():
                raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    return str(target)


def fixture_tag(sf_dir: str, table: str = "lineitem") -> str:
    """Artifact tag for a fixture table: sanitized ``sf_dir`` + a
    fingerprint of the table's parquet bytes (total size + newest mtime).
    A tag keyed on ``sf_dir`` alone silently serves STALE derived
    artifacts after the fixture is regenerated in place — with five
    graded graph keys reading one edge artifact, that's five wrong-answer
    rows from one refresh.  The 12-hex fingerprint never equals the
    10-hex one of the earlier marker-file artifacts, so a half-written
    directory from that non-atomic scheme is never read as complete."""
    base = re.sub(r"\W+", "_", sf_dir.strip("/"))
    path = os.path.join(sf_dir, f"{table}.parquet")
    size = 0
    mtime = 0
    try:
        if os.path.isdir(path):
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    st = os.stat(os.path.join(root, fn))
                    size += st.st_size
                    mtime = max(mtime, st.st_mtime_ns)
        else:
            st = os.stat(path)
            size, mtime = st.st_size, st.st_mtime_ns
    except OSError:
        pass  # missing fixture: tag degrades to sf_dir-only, load() will fail loudly anyway
    fp = hashlib.md5(f"{size}:{mtime}".encode()).hexdigest()[:12]
    return f"{base}_{fp}"
