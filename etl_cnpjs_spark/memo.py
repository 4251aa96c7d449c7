"""The one place the engine keeps results between calls: session memos
(``SessionMemo``, ``session_memo``, ``clear``) for in-process values, and
``stage_once`` for directories shared across processes.

Memo keys carry the applicationId, not ``id(spark)``, so a recreated
session never aliases a dead entry (localCheckpoint blocks die with
their application); each entry also carries its input's fingerprint,
re-taken on every lookup, so a rewritten input rebuilds its entry.
"""

from __future__ import annotations

import atexit
import functools
import json
import os
import shutil
import stat
import tempfile
from typing import Callable

_MEMOS: list[SessionMemo] = []


def _fingerprint(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative path, size, mtime_ns) of every file under ``path``, or
    of ``path`` itself when it is a file; empty when it does not exist."""
    files = [path]
    if os.path.isdir(path):
        files = [os.path.join(d, n) for d, _, names in os.walk(path) for n in names]
    out = []
    for p in sorted(files):
        try:
            st = os.stat(p)
        except FileNotFoundError:
            continue
        out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


class SessionMemo:
    """Values keyed by ``(applicationId, path)``, each rebuilt when the
    fingerprint of ``path`` differs from the one it was built under."""

    def __init__(self) -> None:
        self._entries: dict[tuple[str, str], tuple[tuple, object]] = {}
        _MEMOS.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def __iter__(self):
        return iter(self._entries)

    def get(self, spark, path: str, build: Callable[[], object]) -> object:
        key = (spark.sparkContext.applicationId, path)
        fp = _fingerprint(path)
        hit = self._entries.get(key)
        if hit is None or hit[0] != fp:
            hit = self._entries[key] = (fp, build())
        return hit[1]

    def clear(self, app_id: str | None = None) -> int:
        drop = [k for k in self._entries if app_id in (None, k[0])]
        for k in drop:
            del self._entries[k]
        return len(drop)


def session_memo(build: Callable) -> Callable:
    """Memoize a ``(spark, sf_dir, *rest)`` builder per (session, sf_dir);
    ``rest`` reaches the builder but is not part of the key. The
    wrapper's ``memo`` attribute is its SessionMemo."""
    memo = SessionMemo()

    @functools.wraps(build)
    def memoized(spark, sf_dir: str, *rest):
        return memo.get(spark, sf_dir, lambda: build(spark, sf_dir, *rest))

    memoized.memo = memo
    return memoized


def clear(app_id: str | None = None) -> int:
    """Evict one application's entries (all entries when ``app_id`` is
    None) from every memo; returns how many were dropped. The memos never
    evict on their own, so a long-lived session that walks many sf_dirs
    calls this: dropping the last reference lets Spark's ContextCleaner
    reclaim a checkpointed frame's blocks."""
    return sum(m.clear(app_id) for m in _MEMOS)


def session_tmpdir(prefix: str) -> str:
    """mkdtemp removed at interpreter exit, so staged scan inputs do not
    leak a copy to /tmp per session."""
    out = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, out, ignore_errors=True)
    return out


def _check_private(path: str) -> None:
    st = os.lstat(path)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o022:
        raise PermissionError(
            f"refusing stage path {path}: uid {st.st_uid} mode {stat.filemode(st.st_mode)}, "
            f"need a directory of uid {os.getuid()} not writable by group or others"
        )


def _verified(stage: str) -> bool:
    """Every file the manifest lists is present at its listed size."""
    try:
        with open(os.path.join(stage, "_DONE")) as f:
            files = json.load(f)
        return all(os.path.getsize(os.path.join(stage, p)) == n for p, n in files.items())
    except (OSError, ValueError, AttributeError):
        return False


def stage_once(root: str, name: str, build: Callable[[str], object]) -> str:
    """Return ``root/name``, first running ``build(dir)`` to fill it when
    it is missing or a file its ``_DONE`` manifest lists is missing or
    short. A rebuild fills a fresh mkdtemp under ``root``, lists every
    file with its size in the manifest and is published by atomic rename,
    after moving a stale stage aside; when a concurrent process publishes
    first, its stage is used. Raises PermissionError naming the path when
    ``root`` or the stage is not a directory owned by this uid, or is
    writable by group or others."""
    os.makedirs(root, mode=0o700, exist_ok=True)
    _check_private(root)
    stage = os.path.join(root, name)
    if os.path.lexists(stage):
        _check_private(stage)
        if _verified(stage):
            return stage
    work = tempfile.mkdtemp(prefix=f".{name}.", dir=root)
    aside = tempfile.mkdtemp(prefix=f".{name}.stale.", dir=root)
    try:
        build(work)
        files = {p: n for p, n, _ in _fingerprint(work)}
        with open(os.path.join(work, "_DONE"), "w") as f:
            json.dump(files, f)
        try:
            if os.path.lexists(stage) and not _verified(stage):
                os.rename(stage, os.path.join(aside, name))
            os.rename(work, stage)
        except OSError:
            if not _verified(stage):  # not a concurrent publish
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(aside, ignore_errors=True)
    return stage
