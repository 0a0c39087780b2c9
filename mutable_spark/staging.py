"""Build-once staging of derived on-disk copies: relayouts, IMPORT stores,
format round-trip fixtures. A copy lives under ``SPARK_GRAFT_RELAYOUT_DIR``
(default ``.relayout/``), which is safe to delete, keyed by its source
files' realpath, size and ``mtime_ns`` plus the caller's recipe. It is built
in a private ``.build-*`` directory and published by an atomic rename, so an
existing copy is complete and a failed build leaves nothing behind."""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
from pathlib import Path

_DEFAULT_ROOT = Path(__file__).resolve().parent.parent / ".relayout"
_LOCKS: dict[str, threading.Lock] = {}  # one builder per copy in a process


def source_files(paths) -> list[Path]:
    """The files behind ``paths``: a directory's files, none for a missing path."""
    out: list[Path] = []
    for p in map(Path, paths):
        if p.is_dir():
            out += sorted(f for f in p.iterdir() if f.is_file())
        elif p.exists():
            out.append(p)
    return out


def staged(name: str, sources, recipe: str, write) -> str:
    """The copy ``write(tmp_path)`` builds from ``sources`` under ``recipe``;
    ``write`` runs only when that copy does not exist yet."""
    h = hashlib.sha256(recipe.encode())
    for f in source_files(sources):
        st = f.stat()
        h.update(f"\0{os.path.realpath(f)}:{st.st_size}:{st.st_mtime_ns}".encode())
    fp = h.hexdigest()[:16]
    dest = Path(os.environ.get("SPARK_GRAFT_RELAYOUT_DIR", _DEFAULT_ROOT)) / f"{name}-{fp}"
    with _LOCKS.setdefault(str(dest), threading.Lock()):
        if not dest.exists():
            tmp = dest.with_name(f".build-{name}-{fp}-{os.getpid()}")
            tmp.parent.mkdir(parents=True, exist_ok=True)
            try:
                write(str(tmp))
                try:
                    os.rename(tmp, dest)
                except OSError:
                    if not dest.exists():  # else another process published first
                        raise
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
    return str(dest)
