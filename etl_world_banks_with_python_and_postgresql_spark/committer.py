"""Pluggable atomic commit seam for every JSON ledger / manifest in the
engine, and the one place that publishes a replaced parquet directory.

Every piece of metadata that makes state visible -- the IVM ledgers
(`operators/ivm.py`), the incremental-table manifest
(`sources/incremental.py`), the streaming epoch ledger, the at-rest
index sidecars (``_minhash_stats.json``, ``_winnow_stats.json``,
``_postings_stats.json``, ``_ivf_centroids.json``, ``_ivfpq_meta.json``;
all through `sources/bucketed_index.py`) -- commits through
this module instead of hand-rolled ``tmp + os.replace``. That buys two
things the scattered call sites could not give:

1. **One documented durability contract** (below) instead of five
   implicit ones.
2. **A stale-read guard**: ``load_json`` returns a :class:`Token`
   (content etag) alongside the object; passing it back as
   ``commit_json(..., expect=token)`` turns the write into a
   compare-and-swap that raises :class:`ConcurrentCommitError` if the
   file changed since the load -- the read-modify-write race between
   two writers can no longer silently drop a ledger entry.

Durability / concurrency contract (the POSIX default)
------------------------------------------------------
* A commit is ONE ``os.replace`` of a fully-written, ``fsync``-ed,
  uniquely-named temp file, followed by an fsync of the parent
  directory: readers see the old bytes or the new bytes, never a mix
  (atomic rename on one POSIX filesystem), and a power loss can roll a
  commit back (stale but consistent) but never publish a torn or empty
  ledger -- rename durability requires syncing BOTH the file data and
  the directory entry, in that order.
* Guarded commits (``expect=``) serialize the check-and-swap through an
  ``flock``-ed sidecar ``<path>.lock`` file, so they are safe between
  cooperating processes ON ONE HOST / ONE POSIX FILESYSTEM. Across
  hosts on NFS-without-flock the guard degrades to best-effort; the
  engine's baseline contract there is SINGLE WRITER per ledger path
  (one driver owns a view/table; concurrent readers are always safe).
* Unguarded commits (no ``expect``) are last-writer-wins. They are used
  only where the payload is derived deterministically from an
  overwrite-idempotent data write (per-batch-dir bucket manifests): two
  racing writers write identical bytes, so order cannot matter.

Object-store mapping (the 100 TB deployment)
--------------------------------------------
Plain S3-style rename is copy+delete and NOT atomic; deploying the
ledgers on an object store requires swapping this seam, not the call
sites. Implement :class:`JsonCommitter` with the store's conditional
write and install it via :func:`set_default_committer`:

* ``load``    -> GET, etag from the response.
* guarded commit -> conditional PUT: ``If-Match: <etag>`` for an
  existing file, ``If-None-Match: *`` when ``expect is ABSENT``
  (S3 and GCS both support these as of 2024; on stores without
  conditional PUT, route commits through a log-store / DynamoDB-style
  lock table, the Delta-on-S3 pattern).
* unguarded commit -> plain PUT (whole-object PUT is atomic on every
  major object store).

Parquet data under batch-/version-named directories needs no seam: it
is invisible until a metadata commit points at it. Data that REPLACES a
directory in place (snapshots, rollup/index compaction, IVF rebuilds)
is published by :func:`replace_dir`, under this contract:

* write ``<path>.staging``; rename ``path`` to ``<path>.old`` and
  ``.staging`` to ``path`` (the commit point; POSIX directory rename is
  atomic on one filesystem); fsync the parent; delete ``.old``.
* One writer per directory (compactions hold :func:`maintenance_lock`
  exclusively).
* Readers resolve the directory with :func:`live_dir`, which serves
  ``.old`` while a crash between the two renames has left only it.
* Writers that append into a swapped directory call :func:`restore_dir`
  first; :func:`replace_dir` does too, before its own swap.
* Object stores have no atomic directory rename: there use the
  ``IncrementalTable`` sink (`sources/incremental.py`), whose manifest
  commit is the pointer swap.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass


class ConcurrentCommitError(RuntimeError):
    """A guarded commit found the file changed since it was loaded:
    another writer committed in between. The caller's in-memory state
    is stale -- reload, re-derive, retry (or surface the single-writer
    contract violation)."""


@dataclass(frozen=True)
class Token:
    """Opaque version tag for compare-and-swap commits. ``etag=None``
    means the file did not exist at load time (commit then requires it
    still not to exist)."""

    etag: str | None


#: Token meaning "the file must not exist yet" (create-if-absent).
ABSENT = Token(etag=None)


def _etag(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


class JsonCommitter:
    """Interface + POSIX default. Subclass and
    :func:`set_default_committer` to deploy on an object store (module
    docstring has the GET/conditional-PUT mapping)."""

    def load(self, path: str) -> tuple[dict | list | None, Token]:
        """Read ``path`` -> ``(obj, token)``; ``(None, ABSENT)`` when
        the file does not exist. The token captures exactly the bytes
        the object was parsed from."""
        try:
            with open(path, "rb") as f:
                data = f.read()
        except FileNotFoundError:
            return None, ABSENT
        return json.loads(data), Token(_etag(data))

    def commit(self, path: str, obj, *, expect: Token | None = None) -> Token:
        """Atomically publish ``obj`` as the new contents of ``path``.

        ``expect=None``   -> unguarded, last-writer-wins.
        ``expect=token``  -> compare-and-swap: raises
        :class:`ConcurrentCommitError` unless the file's current etag
        still equals the token's (``ABSENT`` = must not exist).
        Returns the new file's token.
        """
        data = json.dumps(obj).encode()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        if expect is None:
            self._replace(path, data)
            return Token(_etag(data))
        # guarded: serialize check-and-swap through the sidecar lock
        lock_path = path + ".lock"
        with open(lock_path, "a+") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            try:
                _, current = self.load(path)
                if current.etag != expect.etag:
                    raise ConcurrentCommitError(
                        f"{path} changed since load (expected etag "
                        f"{expect.etag!r}, found {current.etag!r}): "
                        "another writer committed; reload and retry, or "
                        "enforce the single-writer contract"
                    )
                self._replace(path, data)
            finally:
                fcntl.flock(lock, fcntl.LOCK_UN)
        return Token(_etag(data))

    @staticmethod
    def _replace(path: str, data: bytes) -> None:
        # Unique temp name: an unguarded writer racing a guarded one on
        # the same path must not interleave writes into a shared
        # staging file (a fixed "<path>.tmp" would).
        directory = os.path.dirname(path) or "."
        fd, tmp = tempfile.mkstemp(
            prefix=os.path.basename(path) + ".", suffix=".tmp", dir=directory
        )
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(data)
                f.flush()
                # fsync BEFORE the rename: os.replace orders the name
                # change, not the data blocks -- without this a power
                # loss can persist the rename while the file is empty
                # or partial, publishing a torn ledger.
                os.fsync(f.fileno())
            os.replace(tmp, path)  # atomic on POSIX
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        # fsync the directory so the rename itself is durable; without
        # it a crash can roll back to the previous ledger (stale but
        # consistent -- acceptable), never to a torn one.
        _fsync_dir(directory)


def _fsync_dir(directory: str) -> None:
    dfd = os.open(directory, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


#: The POSIX default; swap with :func:`set_default_committer`.
_default: JsonCommitter = JsonCommitter()


def get_default_committer() -> JsonCommitter:
    return _default


def set_default_committer(committer: JsonCommitter) -> None:
    """Install an alternative committer (e.g. an object-store
    conditional-PUT implementation) engine-wide. All ledger/manifest
    commit points resolve the committer at call time, so this takes
    effect immediately."""
    global _default
    _default = committer


@contextmanager
def maintenance_lock(path: str, *, exclusive: bool):
    """Advisory reader/maintainer barrier for an ON-DISK index layout,
    via ``flock`` on a dedicated ``.<name>.maintenance.lock`` file BESIDE
    the directory ``path`` (NOT a ledger's ``.lock`` CAS sidecar, so
    holding this never deadlocks a guarded ``commit_json`` issued while
    it is held). The lock neither lives in nor creates ``path``: when a
    crash inside :func:`replace_dir` has left only ``<path>.old``, taking
    the lock must not conjure an empty ``path`` that :func:`restore_dir`
    would then mistake for a committed swap (and delete ``.old``).

    Appenders take it SHARED, destructive maintenance (compaction,
    rebuild) EXCLUSIVE; the protocol is in
    ``sources/bucketed_index.py``. Same scope/limits as the CAS sidecar
    above: one host / one POSIX filesystem. On an object store, swap
    this for the store's lease or lock-table primitive along with
    :class:`JsonCommitter`.
    """
    parent, name = os.path.split(os.path.abspath(path))
    os.makedirs(parent, exist_ok=True)
    with open(os.path.join(parent, f".{name}.maintenance.lock"), "a+") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH)
        try:
            yield
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def load_json(path: str, committer: JsonCommitter | None = None):
    """``(obj, token)`` -- see :meth:`JsonCommitter.load`."""
    return (committer or _default).load(path)


def commit_json(
    path: str,
    obj,
    *,
    expect: Token | None = None,
    committer: JsonCommitter | None = None,
) -> Token:
    """Atomic publish -- see :meth:`JsonCommitter.commit`."""
    return (committer or _default).commit(path, obj, expect=expect)


def fold_stats(
    stats_path: str,
    stats: dict,
    tok: Token,
    delta: dict,
    *,
    layout: tuple[str, ...],
    retries: int,
    what: str,
) -> Token:
    """Add ``delta`` to an index stats sidecar loaded as ``(stats,
    tok)`` and commit it compare-and-swap. Appenders' deltas commute, so
    a lost race reloads the rival's stats and re-adds OUR delta (at most
    ``retries`` times); a changed ``layout`` field means a concurrent
    rebuild and raises at once."""
    fixed = {f: stats.get(f) for f in layout}
    for attempt in range(retries + 1):
        for f, d in delta.items():
            stats[f] += d
        try:
            return commit_json(stats_path, stats, expect=tok)
        except ConcurrentCommitError:
            if attempt == retries:
                raise ConcurrentCommitError(
                    f"{what} stats CAS at {stats_path} lost {retries + 1} "
                    "straight races; this batch's rows are ALREADY "
                    "appended, so re-running the append would "
                    "double-append -- rebuild the index, or retry under "
                    "lower contention"
                )
            stats, tok = load_json(stats_path)
            if stats is None or any(stats.get(f) != v for f, v in fixed.items()):
                raise RuntimeError(
                    f"{what} at {os.path.dirname(stats_path)} was rebuilt "
                    "concurrently with an append (layout changed); the "
                    "appended batch is not part of the rebuilt index -- "
                    "re-append it or rebuild from the full corpus"
                )


def live_dir(path: str) -> str:
    """The directory holding ``path``'s committed contents: ``path``,
    or ``<path>.old`` when a crash between :func:`replace_dir`'s two
    renames left only the backup. Changes nothing on disk."""
    if not os.path.exists(path) and os.path.exists(path + ".old"):
        return path + ".old"
    return path


def restore_dir(path: str) -> None:
    """Finish a :func:`replace_dir` swap a crash interrupted: with
    ``path`` missing, ``<path>.old`` is renamed back; with both present
    the swap had committed, and ``.old`` is deleted. Idempotent, so
    appenders sharing a :func:`maintenance_lock` may race here."""
    backup = path + ".old"
    if not os.path.exists(backup):
        return
    if os.path.exists(path):
        shutil.rmtree(backup, ignore_errors=True)
        return
    try:
        os.rename(backup, path)
    except FileNotFoundError:
        return  # a racing restore_dir renamed it first
    _fsync_dir(os.path.dirname(os.path.abspath(path)))


def replace_dir(path: str, write):
    """Replace the directory ``path`` with what ``write(staging)``
    writes (contract in the module docstring); returns ``write``'s
    result. ``write`` runs before :func:`restore_dir`: its input may be
    a lazy read of ``.old`` through :func:`live_dir`, whose files the
    rollback would move out from under the plan."""
    staging, backup = path + ".staging", path + ".old"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    result = write(staging)
    restore_dir(path)
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(staging, path)  # the commit point
    _fsync_dir(os.path.dirname(os.path.abspath(path)))
    if os.path.exists(backup):
        shutil.rmtree(backup)
    return result
