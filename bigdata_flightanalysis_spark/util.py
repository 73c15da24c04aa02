"""Small shared filesystem helpers for store/index metadata sidecars.

The incremental stores and the BM25 index each carry a tiny JSON
sidecar recording the parameters the on-disk layout was built with
(LSH plane count, MinHash scheme, term-bucket modulus, sink contract).
Every reader treats an ABSENT sidecar as a defined state (pre-metadata
store → stamp on next append) — but a TRUNCATED one, left by a crash
mid-``json.dump``, fails every later load with a raw
``JSONDecodeError`` until someone hand-deletes it. Writing through a
temp file plus ``os.rename`` (atomic on POSIX within one filesystem)
keeps the sidecar in one of exactly two states: absent or complete.

``read_sidecar`` / ``stamp_sidecar`` / ``check_sidecar`` are the ONE
record/check implementation every stamped layout goes through (the
dedup/embedding stores in ``operators.incremental`` and the BM25 index
in ``queries.retrieval`` previously carried parallel copies whose
legacy-handling semantics could drift apart silently). The two policy
axes that genuinely differ per store are explicit parameters:

- ``lenient``: how an EXISTING stamp is compared. Strict (stores):
  any difference between recorded and expected raises — the layout is
  a pure function of every parameter. Lenient (index): only keys
  present in the recorded stamp are compared, so a pre-tag stamp that
  lacks a later-added key (round-8 indexes before the tokenizer tag)
  is accepted as legacy rather than rejected.
- ``legacy_check``: what to do with an UNSTAMPED existing layout.
  Default: accept and let the caller stamp it with the current
  parameters after its next write. A callback can VET the layout
  structurally first (e.g. bucket ids fit 2^n_planes) so a legacy
  store built under DIFFERENT parameters is rejected instead of being
  appended to (mixing granularities) and then permanently certified
  with the wrong stamp.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable


def qident(name: str) -> str:
    """Backtick-quote an identifier for Spark SQL by EXACT name — a
    name containing dots (or backticks) must not parse as
    struct-field access. The ONE definition of the quoting rule
    (layout/profile column refs and the sketch exprs all build on it;
    r16 review: four inline copies)."""
    return "`" + name.replace("`", "``") + "`"


# captured once at import (single-threaded): os.umask is get-and-set,
# and a per-call get/set window would briefly zero the umask for
# every other thread
_UMASK = os.umask(0)
os.umask(_UMASK)


def atomic_write_json(
    path: str,
    obj: dict,
    *,
    indent: int | None = None,
    default=None,
    trailing_newline: bool = False,
) -> None:
    """Write ``obj`` as JSON at ``path`` so a crash at ANY point leaves
    either the previous state or the complete new file — never a
    truncated one. The temp file lives next to the target (same dir ⇒
    same filesystem ⇒ ``os.rename`` is atomic and never falls back to
    copy+delete). ``indent``/``default``/``trailing_newline`` let
    format-sensitive artifacts (the committed bench detail) keep their
    byte layout."""
    import tempfile

    # a PRIVATE temp file (mkstemp), not a fixed sibling name: two
    # concurrent writers sharing one <path>.tmp inode would interleave
    # ('w' truncates in place) and could publish a corrupt sidecar —
    # the exact torn state this helper exists to rule out
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path) or ".",
        prefix=os.path.basename(path) + ".tmp.",
    )
    # mkstemp hard-codes 0600 (ignores umask by design): a sidecar
    # stamped by one account would be unreadable to a group reader
    # whose parquet data files ARE readable — restore the mode a plain
    # open(path, 'w') would have produced (r16 review)
    os.fchmod(fd, 0o666 & ~_UMASK)
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(obj, f, indent=indent, default=default)
            if trailing_newline:
                f.write("\n")
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def read_sidecar(sidecar: str) -> dict:
    """Parse a metadata sidecar; absent → ``{}`` (the defined
    pre-metadata state — callers apply their legacy policy to it)."""
    if os.path.exists(sidecar):
        with open(sidecar, encoding="utf-8") as f:
            return json.load(f)
    return {}


def stamp_sidecar(sidecar: str, meta: dict, *, overwrite: bool = False) -> None:
    """Record build parameters atomically (absent-or-complete, never
    truncated). ``overwrite=False`` — the store policy — keeps the
    FIRST stamp authoritative: appends re-stamp nothing.
    ``overwrite=True`` — the index-build policy — re-stamps because a
    rebuild clears the old relations first."""
    if overwrite or not os.path.exists(sidecar):
        atomic_write_json(sidecar, meta)


def check_sidecar(
    sidecar: str,
    expected: dict,
    *,
    what: str = "store",
    lenient: bool = False,
    legacy_check: Callable[[], str | None] | None = None,
    rebuild_hint: str = "rebuild (or rebucket) the store to change parameters",
) -> None:
    """Raise ``ValueError`` if the layout holding ``sidecar`` was built
    with different parameters than ``expected`` — a mismatched probe
    joins on keys derived from a different scheme and silently MISSES
    rows rather than erroring. See the module docstring for the
    ``lenient`` / ``legacy_check`` policy axes."""
    recorded = read_sidecar(sidecar)
    target = os.path.dirname(sidecar)
    if not recorded:
        if legacy_check is not None:
            err = legacy_check()
            if err:
                raise ValueError(
                    f"unstamped {what} at {target} fails the legacy "
                    f"structural check: {err} — it was likely built "
                    f"under different parameters; {rebuild_hint}"
                )
        return
    if lenient:
        bad = {k: v for k, v in expected.items() if k in recorded and recorded[k] != v}
        mismatch = bool(bad)
        shown = {k: recorded[k] for k in bad}
    else:
        # explicit flag, not truthiness of a diff dict: with an empty
        # ``expected`` a mismatching stamp must still raise
        mismatch = recorded != expected
        shown = recorded
    if mismatch:
        fmt = lambda d: ", ".join(f"{k}={v}" for k, v in d.items())  # noqa: E731
        raise ValueError(
            f"{what} at {target} was built with {fmt(shown)}; this "
            f"call uses {fmt(expected)} — probing across schemes is "
            f"silently wrong; {rebuild_hint}"
        )


def parquet_stat_bounds(path: str, col: str) -> tuple:
    """(min, max) of ``col`` over every parquet footer under ``path``
    — row-group statistics only, NO data scan and no SparkSession, so
    legacy-store structural checks stay O(files) however large the
    store is. ``(None, None)`` when no statistics exist."""
    import pyarrow.parquet as pq

    lo = hi = None
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    st = c.statistics
                    if c.path_in_schema != col or st is None or not st.has_min_max:
                        continue
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
    return lo, hi


# --- per-path maintenance locks ---------------------------------------
# One re-entrant lock per on-disk layout (store, index), keyed by
# absolute path so spellings of the same dir serialize together. A
# rewrite snapshot-reads the live dir, writes staging, then two-rename
# swaps: an append landing between the snapshot read and the swap
# would end up in the dir the rewrite rmtree's — every ingest AND
# rewrite of a maintained layout must hold its lock. Re-entrant because
# maintenance legs delegate to each other (compact_embed_store →
# rebucket_embed_store).
#
# Two layers: an in-process RLock (thread serialization, re-entrancy)
# plus an OS-level exclusive flock on a sibling ``<path>.lock`` file,
# taken at outermost entry — so maintenance from SEPARATE processes
# serializes too, turning the single-maintainer contract from
# documented into enforced. The lockfile is a sibling, never inside the
# layout: the swap renames the dir itself, and readers must not see
# foreign files in it. flock (not fcntl record locks) because a lock
# tied to the open file description survives unrelated open/close of
# the same file elsewhere in the process, and the kernel drops it on
# crash — no stale-lock recovery needed. Caveat the docstrings carry:
# flock is advisory and not reliable on NFS — multi-host maintenance
# still needs an external coordinator.
import threading as _threading

_HAS_FLOCK = True
try:  # POSIX only; on other platforms the in-process layer still holds
    import fcntl as _fcntl
except ImportError:  # pragma: no cover
    _HAS_FLOCK = False


class _PathLock:
    """Re-entrant per-path lock: in-process RLock + cross-process
    flock on ``<path>.lock``, held from outermost enter to outermost
    exit. ``_depth``/``_fd`` are only touched while the RLock is held,
    so they need no guard of their own."""

    def __init__(self, path: str) -> None:
        self._rlock = _threading.RLock()
        self._lockfile = path + ".lock"
        self._depth = 0
        self._fd: int | None = None

    def __enter__(self) -> "_PathLock":
        self._rlock.acquire()
        self._depth += 1
        if self._depth == 1 and _HAS_FLOCK:
            try:
                parent = os.path.dirname(self._lockfile)
                if parent:
                    os.makedirs(parent, exist_ok=True)
                self._fd = os.open(self._lockfile, os.O_CREAT | os.O_RDWR, 0o644)
                _fcntl.flock(self._fd, _fcntl.LOCK_EX)
            except BaseException:
                if self._fd is not None:
                    os.close(self._fd)
                    self._fd = None
                self._depth -= 1
                self._rlock.release()
                raise
        return self

    def __exit__(self, *exc) -> None:
        # exception-safe like __enter__'s rollback: if unlock/close
        # raises (EIO on a flaky mount), the RLock must still release
        # and the fd slot must still clear, or every later entry on
        # this path deadlocks against a thread that believes it exited
        try:
            self._depth -= 1
            if self._depth == 0 and self._fd is not None:
                fd, self._fd = self._fd, None
                try:
                    _fcntl.flock(fd, _fcntl.LOCK_UN)
                finally:
                    os.close(fd)
        finally:
            self._rlock.release()


_PATH_LOCKS: dict[str, _PathLock] = {}
_PATH_LOCKS_GUARD = _threading.Lock()


def path_lock(path: str) -> _PathLock:
    """The per-path maintenance lock for a store/index/state dir.

    Keyed by ``os.path.realpath`` — two spellings of the same store
    through a symlink must map to ONE RLock and ONE ``.lock`` inode,
    or a compaction and an ingest addressing different spellings
    would run unserialized (abspath does not resolve symlinks;
    realpath resolves the existing prefix even for not-yet-created
    store paths)."""
    key = os.path.realpath(path)
    with _PATH_LOCKS_GUARD:
        return _PATH_LOCKS.setdefault(key, _PathLock(key))


def remove_layout(path: str) -> None:
    """Remove a maintained layout AND its sibling ``<path>.lock``
    file — the cleanup for throwaway stores/indexes built in temp
    dirs. A bare rmtree leaks one lockfile per run into the temp
    root (tiny, but unbounded across repeated bench/driver runs).

    Owner-only on throwaway layouts by contract (unlinking a lockfile
    another process holds would let a third process create-and-lock a
    fresh inode — two "holders" at once). Two hardenings narrow — but
    do NOT close — the ways that contract can be violated; both are
    best-effort backstops, not a replacement for the contract:

    - the unlink happens only after a NON-BLOCKING flock on the
      lockfile succeeds, so a concurrently-held lockfile is left in
      place instead of being yanked out from under its holder. The
      open-but-not-yet-flocked window remains (see COVERAGE.md): a
      process that opened the lockfile before the unlink but flocks
      after it locks the unlinked inode, while a later opener locks a
      fresh one — two simultaneous holders. Only the owner-only
      contract prevents that.
    - the in-memory ``_PATH_LOCKS`` entry for the path is evicted, so
      long-lived processes churning through temp layouts (bench,
      driver, streaming tests) don't accumulate one dead RLock per
      path forever. Safe for the same owner-only reason: nobody else
      in this process may hold the lock at removal time, and a later
      ``path_lock(path)`` simply mints a fresh entry. If some thread
      in this process DOES still hold the lock (never valid — and in
      particular never call ``remove_layout`` while holding
      ``path_lock(path)`` yourself), the eviction is skipped: popping
      a held entry would hand a later ``path_lock(path)`` a fresh
      ``_PathLock`` whose ``flock(LOCK_EX)`` deadlocks against the
      holder's own still-open fd, and on non-POSIX hosts would drop
      in-process exclusion entirely.
    """
    # same keying as path_lock — the eviction below must address the
    # exact registry entry (and lockfile inode) path_lock created
    key = os.path.realpath(path)
    # shape-proof removal (_remove_any): bare rmtree(ignore_errors)
    # silently no-ops on a FILE-shaped slot, leaving the occupied path
    # behind while the lockfile and registry entry are cleaned — the
    # next build then dies on NotADirectoryError (r16 review; the
    # same trap _remove_any was written to fix for .old residue)
    _remove_any(key)
    # When ``path`` itself is a symlink, the rmtree above removed its
    # TARGET tree but left the now-dangling link behind — a later
    # recreate through the same spelling would then fail (mkdir/write
    # through a dangling symlink) instead of starting clean. Unlink
    # the spelling too so the layout is fully reset.
    if os.path.islink(path):
        try:
            os.unlink(path)
        except OSError:
            pass  # raced away concurrently — already gone
    lockfile = key + ".lock"
    try:
        if _HAS_FLOCK:
            fd = os.open(lockfile, os.O_RDWR)
            try:
                _fcntl.flock(fd, _fcntl.LOCK_EX | _fcntl.LOCK_NB)
                os.remove(lockfile)
            except OSError:
                pass  # concurrently held — leave the file for its holder
            finally:
                os.close(fd)
        else:  # pragma: no cover - non-POSIX
            os.remove(lockfile)
    except OSError:
        pass  # no lockfile was ever created for this layout
    with _PATH_LOCKS_GUARD:
        existing = _PATH_LOCKS.get(key)
        # Re-entrancy guard: evict only when no thread holds — or is
        # mid-``__enter__`` on — the entry, checked by taking the
        # entry's own RLock non-blocking. This also covers the window
        # between ``_rlock.acquire()`` and ``_depth += 1`` in
        # ``__enter__`` where a bare ``_depth`` read would see 0: a
        # thread in that gap holds the RLock, so the try-acquire fails
        # and the entry stays. Non-blocking, so holding
        # _PATH_LOCKS_GUARD here cannot deadlock (and the calling
        # thread holding the lock itself — contract-forbidden —
        # re-acquires and is caught by the depth check instead). A
        # held entry stays so the holder's re-entrant path_lock()
        # keeps resolving to the RLock it already owns.
        #
        # Deliberate trade: racing a holder's ``__exit__`` between its
        # ``_depth -= 1`` and ``_rlock.release()`` also fails the
        # try-acquire and skips eviction — a dead entry then stays in
        # _PATH_LOCKS forever (remove_layout is one-shot per layout).
        # That state is contract-forbidden anyway; a bounded leak
        # there beats the old bare-depth read, whose failure mode was
        # evicting an entry out from under a mid-__enter__ holder.
        if existing is None:
            pass
        elif existing._rlock.acquire(blocking=False):
            try:
                if existing._depth == 0:
                    _PATH_LOCKS.pop(key, None)
            finally:
                existing._rlock.release()


def _remove_any(path: str) -> None:
    """Best-effort removal of a residue PATH of any shape: a real dir
    via rmtree, a plain file or symlink via os.remove — rmtree with
    ignore_errors silently no-ops on a file, which made fsck report a
    file-shaped ``.old``/``.staging`` as healed forever."""
    import shutil

    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.remove(path)
        except OSError:
            pass


def swap_layout(staging: str, live: str) -> None:
    """Publish a fully-written ``staging`` dir at ``live``: rename
    ``live`` to ``live.old``, rename ``staging`` to ``live``, then
    remove ``.old``. Each rename is atomic on POSIX and HDFS; the pair
    is not, and a crash between them leaves only a complete ``.old``,
    which :func:`recover_layout` restores. The ONE publish step of
    every swapped layout: the incremental stores, the streaming state
    dirs and the BM25 index relations."""
    old = live + ".old"
    # _remove_any, not rmtree: a FILE-shaped .old would survive rmtree
    # and make the rename onto it fail (NotADirectoryError)
    _remove_any(old)
    if os.path.exists(live):
        os.rename(live, old)
    os.rename(staging, live)
    _remove_any(old)


def recover_layout(path: str) -> None:
    """Close the two-rename crash window of :func:`swap_layout`: no
    live dir but a complete ``.old`` → rename it back; a ``.old`` next
    to a healthy live dir and any orphaned ``.staging`` are removed
    (file-shaped residue included). Every reader and writer of a
    swapped layout calls it first, under the layout's
    :func:`path_lock` (so a ``.staging`` seen here is never in flight),
    and fsck heals through it too — one rule, never diverging."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        if os.path.isdir(old) and not os.path.islink(old):
            os.rename(old, path)
        else:
            # a FILE-shaped .old is garbage, never a restorable
            # layout (layouts are directories): restoring it would
            # plant a file at the dir slot — later reads fail and the
            # next staging swap's rename dies with NotADirectoryError
            _remove_any(old)
    elif os.path.exists(path):
        _remove_any(old)
    _remove_any(path + ".staging")
