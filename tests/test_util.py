"""atomic_write_json — the sidecar-write primitive every store/index
metadata file goes through. The invariant under test: the target path
is only ever absent or complete, never truncated (the crash state a
plain ``open(...).write`` can leave, which then fails every later
``json.load`` until hand-deleted)."""

import json
import os

import pytest

from bigdata_flightanalysis_spark.util import atomic_write_json


def test_writes_valid_json_and_no_temp_residue(tmp_path):
    p = str(tmp_path / "meta.json")
    atomic_write_json(p, {"n_planes": 12, "scheme": "signlsh"})
    with open(p, encoding="utf-8") as f:
        assert json.load(f) == {"n_planes": 12, "scheme": "signlsh"}
    assert not os.path.exists(p + ".tmp")


def test_replaces_existing_file(tmp_path):
    p = str(tmp_path / "meta.json")
    atomic_write_json(p, {"v": 1})
    atomic_write_json(p, {"v": 2})
    with open(p, encoding="utf-8") as f:
        assert json.load(f) == {"v": 2}


def test_stale_temp_from_crashed_write_does_not_break_next_write(tmp_path):
    """A crash mid-write leaves only temp residue (target untouched);
    the next write must succeed and publish a complete target. Since
    the r15 concurrency fix each write uses a PRIVATE mkstemp name —
    two writers sharing one fixed <path>.tmp inode could interleave
    and publish a corrupt sidecar — so stale residue is no longer
    reused or clobbered, just ignored."""
    p = str(tmp_path / "meta.json")
    with open(p + ".tmp", "w", encoding="utf-8") as f:
        f.write('{"trunc')  # the torn state an old-layout crash leaves
    atomic_write_json(p, {"ok": True})
    with open(p, encoding="utf-8") as f:
        assert json.load(f) == {"ok": True}


def test_concurrent_writers_never_publish_interleaved_json(tmp_path):
    """Two writers racing one sidecar must each publish a COMPLETE
    document (last replace wins): the old fixed sibling .tmp name let
    writer B truncate writer A's half-written temp in place, and A's
    remaining bytes then landed in the already-renamed live file — an
    unparseable blend (r15 review)."""
    import threading

    p = str(tmp_path / "meta.json")
    big_a = {"writer": "a", "pad": ["a" * 64] * 2000}
    big_b = {"writer": "b", "pad": ["b" * 64] * 2000}
    errs = []

    def spin(obj):
        try:
            for _ in range(30):
                atomic_write_json(p, obj)
        except Exception as exc:  # pragma: no cover - failure detail
            errs.append(exc)

    ts = [threading.Thread(target=spin, args=(o,)) for o in (big_a, big_b)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    with open(p, encoding="utf-8") as f:
        final = json.load(f)  # parses ⇒ complete, not interleaved
    assert final["writer"] in ("a", "b")


def test_check_sidecar_strict_vs_lenient(tmp_path):
    """The one record/check implementation behind the stores and the
    index: strict compares whole dicts (any drift raises); lenient
    compares only keys PRESENT in the recorded stamp, so a pre-tag
    stamp lacking a later-added key is accepted as legacy."""
    import pytest

    from bigdata_flightanalysis_spark.util import check_sidecar, stamp_sidecar

    p = str(tmp_path / "_meta.json")
    stamp_sidecar(p, {"n_buckets": 64})  # pre-tag stamp: no tokenizer key
    # lenient: missing key accepted; present-key mismatch raises
    check_sidecar(p, {"tokenizer": "v1"}, lenient=True)
    with pytest.raises(ValueError, match="n_buckets=64"):
        check_sidecar(p, {"n_buckets": 128}, lenient=True)
    # strict: the same missing key IS a mismatch
    with pytest.raises(ValueError, match="tokenizer=v1"):
        check_sidecar(p, {"n_buckets": 64, "tokenizer": "v1"})
    # absent sidecar: accepted (legacy) unless the structural vet objects
    missing = str(tmp_path / "nope" / "_meta.json")
    check_sidecar(missing, {"k": 1})
    with pytest.raises(ValueError, match="structural check"):
        check_sidecar(missing, {"k": 1}, legacy_check=lambda: "bad layout")


def test_stamp_sidecar_first_stamp_wins_unless_overwrite(tmp_path):
    from bigdata_flightanalysis_spark.util import read_sidecar, stamp_sidecar

    p = str(tmp_path / "_meta.json")
    stamp_sidecar(p, {"v": 1})
    stamp_sidecar(p, {"v": 2})  # store policy: append never re-stamps
    assert read_sidecar(p) == {"v": 1}
    stamp_sidecar(p, {"v": 3}, overwrite=True)  # rebuild policy
    assert read_sidecar(p) == {"v": 3}
    assert read_sidecar(str(tmp_path / "absent.json")) == {}


def test_check_sidecar_property_strict_iff_equal(tmp_path):
    """Property (hypothesis): strict check accepts exactly dict
    equality; lenient accepts iff every shared key matches — over
    arbitrary small string/int dicts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bigdata_flightanalysis_spark.util import check_sidecar, stamp_sidecar

    meta = st.dictionaries(
        st.sampled_from(["a", "b", "c", "d"]),
        st.one_of(st.integers(-5, 5), st.sampled_from(["x", "y"])),
        max_size=4,
    )
    counter = {"n": 0}

    @settings(max_examples=200, deadline=None)
    @given(recorded=meta, expected=meta)
    def prop(recorded, expected):
        counter["n"] += 1
        p = str(tmp_path / f"m{counter['n']}.json")
        stamp_sidecar(p, recorded)
        for lenient in (False, True):
            if lenient:
                ok = all(
                    recorded[k] == v for k, v in expected.items() if k in recorded
                )
            else:
                ok = recorded == expected
            # an empty recorded stamp is the legacy state: always accepted
            ok = ok or not recorded
            try:
                check_sidecar(p, expected, lenient=lenient)
                got = True
            except ValueError:
                got = False
            assert got == ok, (recorded, expected, lenient)

    prop()


def test_path_lock_excludes_other_processes(tmp_path):
    """The maintenance lock's flock layer: while THIS process holds
    path_lock(store), a separate process must fail to take the
    sibling lockfile (the single-maintainer contract is enforced, not
    just documented); after release it must succeed. Run via a real
    fork/exec child — threads share the in-process RLock, which is
    exactly what this layer is NOT about."""
    import subprocess
    import sys

    from bigdata_flightanalysis_spark.util import path_lock

    store = str(tmp_path / "store")
    child_src = (
        "import fcntl, os, sys\n"
        "fd = os.open(sys.argv[1] + '.lock', os.O_CREAT | os.O_RDWR)\n"
        "try:\n"
        "    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
        "except BlockingIOError:\n"
        "    sys.exit(42)\n"
        "sys.exit(0)\n"
    )

    def child_rc() -> int:
        return subprocess.run(
            [sys.executable, "-c", child_src, store], timeout=30
        ).returncode

    with path_lock(store):
        assert os.path.exists(store + ".lock")
        assert child_rc() == 42, "another process acquired a held lock"
        with path_lock(store):  # re-entrant: still held, still one fd
            assert child_rc() == 42
        assert child_rc() == 42, "inner exit released the outer hold"
    assert child_rc() == 0, "lock not released at outermost exit"


def test_path_lock_threads_still_serialize(tmp_path):
    """The in-process layer survives the flock addition: a second
    thread blocks until release, and the same thread re-enters
    freely (compact_embed_store -> rebucket_embed_store)."""
    import threading

    from bigdata_flightanalysis_spark.util import path_lock

    store = str(tmp_path / "store")
    acquired = threading.Event()

    def other():
        with path_lock(store):
            acquired.set()

    t = threading.Thread(target=other)
    with path_lock(store):
        with path_lock(store):
            t.start()
            assert not acquired.wait(1.0), "thread entered a held lock"
    t.join(30)
    assert acquired.is_set()


def test_remove_layout_evicts_lock_entry_and_lockfile(tmp_path):
    """remove_layout's full cleanup contract: the layout dir goes, the
    sibling lockfile goes, AND the in-memory _PATH_LOCKS entry goes —
    long-lived processes churning through temp layouts must not
    accumulate one dead RLock per path forever. A fresh
    path_lock(path) afterwards mints a new working entry."""
    from bigdata_flightanalysis_spark import util
    from bigdata_flightanalysis_spark.util import path_lock, remove_layout

    store = str(tmp_path / "store")
    os.makedirs(store)
    with path_lock(store):
        pass
    key = os.path.abspath(store)
    assert key in util._PATH_LOCKS
    assert os.path.exists(store + ".lock")

    remove_layout(store)
    assert key not in util._PATH_LOCKS, "dead RLock left behind"
    assert not os.path.exists(store)
    assert not os.path.exists(store + ".lock")

    with path_lock(store):  # fresh entry works end-to-end
        assert key in util._PATH_LOCKS
        assert os.path.exists(store + ".lock")
    remove_layout(store)


def test_remove_layout_leaves_held_lockfile_alone(tmp_path):
    """remove_layout must not unlink a lockfile another process holds:
    unlink + recreate puts two holders on different inodes (the classic
    flock unlink race). The dir still goes; the lockfile stays until
    its holder exits."""
    import subprocess
    import sys

    from bigdata_flightanalysis_spark.util import remove_layout

    store = str(tmp_path / "store")
    os.makedirs(store)
    child_src = (
        "import fcntl, os, sys, time\n"
        "fd = os.open(sys.argv[1] + '.lock', os.O_CREAT | os.O_RDWR)\n"
        "fcntl.flock(fd, fcntl.LOCK_EX)\n"
        "print('held', flush=True)\n"
        "time.sleep(60)\n"
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child_src, store],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert proc.stdout.readline().strip() == "held"
        remove_layout(store)
        assert not os.path.exists(store)
        assert os.path.exists(store + ".lock"), "unlinked a held lockfile"
    finally:
        proc.kill()
        proc.wait(30)
    remove_layout(store)  # holder gone: cleanup now completes
    assert not os.path.exists(store + ".lock")


def test_remove_layout_unlinks_symlink_spelling(tmp_path):
    """When the layout path is itself a symlink, remove_layout must
    remove BOTH the target tree and the link: rmtree(realpath) alone
    leaves a dangling symlink, so recreating the layout through the
    same spelling fails instead of starting clean (r13 driver
    ADVICE)."""
    import os

    from bigdata_flightanalysis_spark.util import remove_layout

    target = tmp_path / "real_store"
    target.mkdir()
    (target / "part-0.parquet").write_bytes(b"x")
    link = tmp_path / "store_link"
    link.symlink_to(target)

    remove_layout(str(link))

    assert not target.exists(), "target tree survived"
    assert not os.path.lexists(str(link)), "dangling symlink left behind"
    # the spelling is fully reset: a recreate through it starts clean
    link.mkdir()
    (link / "part-0.parquet").write_bytes(b"y")
    assert (link / "part-0.parquet").read_bytes() == b"y"


def test_remove_layout_while_lock_held_keeps_entry_and_reenters(tmp_path):
    """Calling remove_layout while holding path_lock(path) is forbidden
    by contract, but the eviction guard must keep it from deadlocking:
    the held _PATH_LOCKS entry stays, so the holder's re-entrant
    path_lock(path) resolves to the RLock it already owns instead of a
    fresh _PathLock whose flock would block forever against the
    holder's own fd. Once released, cleanup completes normally."""
    from bigdata_flightanalysis_spark import util
    from bigdata_flightanalysis_spark.util import path_lock, remove_layout

    store = str(tmp_path / "store")
    os.makedirs(store)
    key = os.path.abspath(store)
    with path_lock(store):
        remove_layout(store)
        assert not os.path.exists(store)  # the dir itself still goes
        assert key in util._PATH_LOCKS, "evicted a held lock entry"
        # re-entrant acquire must not deadlock and must be the same entry
        with path_lock(store):
            assert util._PATH_LOCKS[key]._depth == 2
    remove_layout(store)  # lock released: eviction now completes
    assert key not in util._PATH_LOCKS
    assert not os.path.exists(store + ".lock")


def test_remove_layout_keeps_entry_mid_enter(tmp_path):
    """The eviction guard must cover the window INSIDE _PathLock.__enter__
    between ``_rlock.acquire()`` and ``_depth += 1``: a thread sitting
    there holds the RLock but ``_depth`` still reads 0, so a bare depth
    check would evict the entry out from under it (r12 ADVICE #3). The
    guard now try-acquires the entry's RLock instead, so a
    mid-__enter__ holder keeps the entry. Simulated by acquiring the
    entry's RLock directly from another thread with depth untouched."""
    import threading

    from bigdata_flightanalysis_spark import util
    from bigdata_flightanalysis_spark.util import path_lock, remove_layout

    store = str(tmp_path / "store")
    os.makedirs(store)
    key = os.path.abspath(store)
    entry = path_lock(store)

    acquired = threading.Event()
    release = threading.Event()

    def hold_rlock_bare():
        # what __enter__ looks like between its first two statements:
        # RLock held, _depth still 0
        entry._rlock.acquire()
        acquired.set()
        release.wait(timeout=30)
        entry._rlock.release()

    t = threading.Thread(target=hold_rlock_bare, daemon=True)
    t.start()
    assert acquired.wait(timeout=30)
    try:
        remove_layout(store)
        assert key in util._PATH_LOCKS, "evicted a mid-__enter__ entry"
        assert util._PATH_LOCKS[key] is entry
    finally:
        release.set()
        t.join(timeout=30)
    remove_layout(store)  # holder gone: eviction now completes
    assert key not in util._PATH_LOCKS


def test_path_lock_resolves_symlinked_spellings_to_one_lock(tmp_path):
    """Two spellings of the same store through a symlink must map to
    ONE lock entry and ONE .lock inode — distinct locks would let a
    compaction and an ingest addressing different spellings run
    unserialized, the exact lost-append race the lock closes (r13
    review)."""
    import os

    from bigdata_flightanalysis_spark import util
    from bigdata_flightanalysis_spark.util import path_lock

    real_parent = tmp_path / "data"
    real_parent.mkdir()
    (tmp_path / "current").symlink_to(real_parent, target_is_directory=True)
    direct = str(real_parent / "fp_store")
    via_link = str(tmp_path / "current" / "fp_store")
    assert path_lock(direct) is path_lock(via_link)
    with path_lock(direct):
        pass
    # one lockfile, at the resolved path
    assert os.path.exists(direct + ".lock")
    assert len(util._PATH_LOCKS) >= 1


def test_path_lock_exit_releases_rlock_even_if_unlock_fails(tmp_path, monkeypatch):
    """If flock(LOCK_UN)/close raises at exit (EIO on a flaky mount),
    the in-process RLock must still release and the fd slot clear —
    the old exit left the RLock held by a thread that believed it had
    exited, deadlocking every later entry (r15 review)."""
    import fcntl

    import pytest

    from bigdata_flightanalysis_spark import util as U

    lock = U.path_lock(str(tmp_path / "store"))
    real_flock = fcntl.flock

    def boom(fd, op):
        if op == fcntl.LOCK_UN:
            raise OSError(5, "I/O error")
        return real_flock(fd, op)

    with pytest.raises(OSError):
        with monkeypatch.context() as m:
            m.setattr(U._fcntl, "flock", boom)
            with lock:
                pass
    assert lock._fd is None
    # the lock must be re-enterable (RLock released, fd slot clean)
    with lock:
        pass


def test_recover_layout_does_not_restore_file_shaped_old(tmp_path):
    """A FILE named <layout>.old with NO live dir is garbage, not a
    restorable layout: restoring it planted a file at the dir slot —
    later parquet reads failed and the next staging swap's rename died
    with NotADirectoryError (r15 review). It is removed instead."""
    from bigdata_flightanalysis_spark.util import recover_layout

    old = tmp_path / "store.old"
    old.write_bytes(b"stray")
    recover_layout(str(tmp_path / "store"))
    assert not os.path.lexists(old)
    assert not os.path.lexists(tmp_path / "store")
    # a real directory .old still restores
    d = tmp_path / "other.old"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    recover_layout(str(tmp_path / "other"))
    assert os.path.isdir(tmp_path / "other")
    assert not os.path.lexists(d)


def _layout_content(path):
    part = os.path.join(path, "part-0")
    if not os.path.lexists(path):
        return None
    with open(part, encoding="utf-8") as fh:
        return fh.read()


# (live exists before the swap, a FILE-shaped .old squats, crash step).
# Steps count swap_layout's calls as they happen: clear .old, live →
# .old (skipped on a first publish), staging → live, clear .old. The
# last step comes after the publish; None runs to completion.
_SWAP_CRASHES = (
    [(True, False, step) for step in (1, 2, 3, 4, None)]
    + [(False, False, step) for step in (1, 2, 3, None)]
    + [(True, True, step) for step in (1, 2, 3, 4, None)]
)


@pytest.mark.parametrize("live_before, file_old, crash_at", _SWAP_CRASHES)
def test_swap_layout_crash_then_recover_yields_old_or_new(
    tmp_path, monkeypatch, live_before, file_old, crash_at
):
    """A crash at any step of a real swap_layout call, followed by
    recover_layout, leaves the live dir holding exactly the previous
    content (absent on a first publish) or exactly the new content,
    with no .old or .staging residue. The new content is visible only
    once the staging rename has happened."""
    from bigdata_flightanalysis_spark import util as U

    live = str(tmp_path / "store")
    staging = live + ".staging"
    for path, content in ((live, "old"), (staging, "new")):
        if path == live and not live_before:
            continue
        os.makedirs(path)
        with open(os.path.join(path, "part-0"), "w", encoding="utf-8") as fh:
            fh.write(content)
    if file_old:
        (tmp_path / "store.old").write_bytes(b"stray")

    steps = {"n": 0}

    def step(real):
        def wrapped(*args):
            steps["n"] += 1
            if steps["n"] == crash_at:
                raise OSError("simulated crash")
            return real(*args)

        return wrapped

    monkeypatch.setattr(U, "_remove_any", step(U._remove_any))
    monkeypatch.setattr(U.os, "rename", step(os.rename))
    if crash_at is None:
        U.swap_layout(staging, live)
    else:
        with pytest.raises(OSError, match="simulated crash"):
            U.swap_layout(staging, live)
    monkeypatch.undo()

    U.recover_layout(live)
    published = crash_at is None or crash_at == (4 if live_before else 3)
    before = "old" if live_before else None
    assert _layout_content(live) == ("new" if published else before)
    assert not os.path.lexists(live + ".old")
    assert not os.path.lexists(staging)


def test_remove_layout_clears_file_shaped_slot(tmp_path):
    """A layout slot occupied by a stray FILE must be removed too —
    bare rmtree(ignore_errors=True) silently no-ops on a file while
    the lockfile and registry entry ARE cleaned, so the next build
    died on NotADirectoryError (r16 review; same class as the fsck
    file-shaped .old)."""
    import os

    from bigdata_flightanalysis_spark.util import path_lock, remove_layout

    slot = tmp_path / "store"
    slot.write_text("not a directory")
    with path_lock(str(slot)):
        pass
    remove_layout(str(slot))
    assert not slot.exists()
    assert not os.path.exists(str(slot) + ".lock")


def test_atomic_write_json_honors_umask_and_format(tmp_path):
    """Sidecars must carry the mode a plain open(path,'w') would give
    (mkstemp hard-codes 0600 — a group reader of the store's parquet
    could not read its meta sidecar, r16 review), and the
    indent/trailing-newline options must reproduce the committed
    bench-detail byte format."""
    import json
    import os

    from bigdata_flightanalysis_spark.util import atomic_write_json

    old = os.umask(0o022)
    try:
        p = tmp_path / "meta.json"
        atomic_write_json(str(p), {"a": 1})
        # util captures umask at import; assert at least group/other
        # read unless the import-time umask stripped it
        from bigdata_flightanalysis_spark.util import _UMASK

        expect = 0o666 & ~_UMASK
        assert (os.stat(p).st_mode & 0o777) == expect
    finally:
        os.umask(old)

    q = tmp_path / "detail.json"
    obj = {"queries": {"q1": 1.25}, "metric": "x"}
    atomic_write_json(str(q), obj, indent=1, default=str, trailing_newline=True)
    raw = q.read_text()
    assert raw == json.dumps(obj, indent=1, default=str) + "\n"
