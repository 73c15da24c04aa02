"""Offline consistency check-and-heal for every on-disk state this
engine maintains — the one entry point over the two recovery hooks:
``util.recover_layout`` (stores and streaming state dirs) and
``queries.retrieval._recover_corpus_stats`` (BM25 index roots).

    python -m bigdata_flightanalysis_spark.fsck <root> [--dry-run]

Walks ``<root>``, classifies each directory, and reports + heals the
crash residue the two-rename swap protocol can leave behind:

- ``X.old`` with no live ``X`` — a crash BETWEEN the two renames;
  healed by restoring ``.old`` to the live path (the same heal every
  reader hook performs).
- ``X.old`` next to a healthy ``X`` — swap completed, final cleanup
  didn't; healed by removing the full-size residue.
- ``X.staging`` — a crash during a rewrite's staging write; healed by
  removing it.
- A BM25 index root (``postings``/``doc_stats``/``corpus_stats``)
  gets the index-specific recovery: relation-level ``.old`` heals, the
  ordered ``corpus_stats.new`` promotion rule, staging reclamation.
- A TORN INDEX BUILD (``doc_stats`` present but ``postings/_SUCCESS``
  absent) is REPORTED but not healed — only re-running
  ``build_text_index`` can reconstruct the missing postings; refresh
  refuses this state for the same reason.

Under heal (the default), each layout is classified AND healed inside
its per-path maintenance lock — the same lock streaming sinks, store
ingests, and index maintenance hold — so reported findings are exactly
what was healed, and a live same-host writer is serialized, not raced.
``--dry-run`` is strictly report-only: it takes no lock (locking would
create sibling ``.lock`` files) and so reports a snapshot that can
race concurrent writers. Multi-host writers are not serialized either
way (advisory flock is same-host). Exit code 0 when the tree is clean
or every finding was healed; 1 when unhealable findings remain (or
anything was found under ``--dry-run``).

Heal mode necessarily leaves a sibling ``<layout>.lock`` file next to
every layout it touched — the same zero-byte lockfile every live
writer creates, and DELIBERATELY not removed afterwards: unlinking a
lockfile that a concurrent writer might hold (or be about to open)
lets a third process create-and-lock a fresh inode, yielding two
simultaneous "holders" — the classic flock unlink race. Only the
owner of a THROWAWAY layout may remove its lockfile (that is
``util.remove_layout``'s contract); fsck runs against live trees it
does not own, so the lockfiles stay. Use ``--dry-run`` when even that
residue is unacceptable.
"""

from __future__ import annotations

import argparse
import os
import sys

from bigdata_flightanalysis_spark.util import path_lock, recover_layout

INDEX_RELATIONS = ("postings", "doc_stats", "corpus_stats")


def _is_index_root(path: str) -> bool:
    try:
        entries = set(os.listdir(path))
    except OSError:
        return False
    if "_index_meta.json" in entries:
        return True
    return any(
        rel in entries or f"{rel}.old" in entries or f"{rel}.staging" in entries
        for rel in INDEX_RELATIONS
    ) or "corpus_stats.new" in entries


def _finding(path: str, issue: str, action: str, healed: bool) -> dict:
    return {"path": path, "issue": issue, "action": action, "healed": healed}


def _fsck_index(index_path: str, heal: bool) -> list[dict]:
    """Index-root findings, healed via the index's own ordered recovery
    (:func:`queries.retrieval._recover_corpus_stats`) so the
    ``corpus_stats.new`` promotion rule sees staging evidence before
    staging is reclaimed.

    Under heal, classification AND heal run inside the index's
    maintenance lock, so the reported findings are exactly what was
    healed — a concurrent same-host writer can't repair (or create)
    residue between the two. ``--dry-run`` deliberately takes no lock:
    report-only must not even create the sibling lockfile, at the
    price of reporting a snapshot that can race writers."""
    if heal:
        try:
            with path_lock(index_path):
                return _fsck_index_unlocked(index_path, heal)
        except OSError as exc:
            return [
                _finding(
                    index_path,
                    f"heal failed: {exc}",
                    "fix permissions and re-run",
                    False,
                )
            ]
    return _fsck_index_unlocked(index_path, heal)


def _fsck_index_unlocked(index_path: str, heal: bool) -> list[dict]:
    findings: list[dict] = []
    # per-relation .old/.staging classification is the SAME taxonomy
    # the generic stores use — one definition (_classify_layout), so
    # the index and generic reports can't drift apart
    for rel in INDEX_RELATIONS:
        findings.extend(
            _classify_layout(os.path.join(index_path, rel), heal)
        )
    new = os.path.join(index_path, "corpus_stats.new")
    if os.path.exists(new):
        complete = os.path.exists(os.path.join(new, "_SUCCESS"))
        vetoed = os.path.exists(os.path.join(index_path, "doc_stats.staging"))
        if complete and not vetoed:
            findings.append(
                _finding(new, "unpromoted recomputed totals", "promote", heal)
            )
        else:
            findings.append(
                _finding(new, "torn/vetoed totals rewrite", "remove", heal)
            )
    if heal and findings:
        from bigdata_flightanalysis_spark.queries.retrieval import (
            _recover_corpus_stats,
        )

        try:
            _recover_corpus_stats(index_path)
        except OSError as exc:
            for f in findings:
                f["healed"] = False
                f["issue"] += f" (heal failed: {exc})"
        else:
            # verify from post-heal disk state (see _fsck_generic)
            for f in findings:
                if f["action"] in ("remove",):
                    f["healed"] = not os.path.lexists(f["path"])
                elif f["action"] == "promote":
                    f["healed"] = not os.path.exists(f["path"])
                elif f["action"] == "restore to live path":
                    live = f["path"][: -len(".old")]
                    f["healed"] = os.path.exists(live) and not os.path.exists(
                        f["path"]
                    )
    # after (or instead of) healing: a torn build is detectable but not
    # mechanically healable — postings for the listed docs are gone
    doc_stats = os.path.join(index_path, "doc_stats")
    postings = os.path.join(index_path, "postings")
    # under --dry-run a dangling postings.old hasn't been restored yet:
    # a complete .old makes the build whole, so it is not torn
    postings_ok = os.path.exists(os.path.join(postings, "_SUCCESS")) or (
        not os.path.exists(postings)
        and os.path.exists(os.path.join(postings + ".old", "_SUCCESS"))
    )
    if (os.path.exists(doc_stats) or os.path.exists(doc_stats + ".old")) and (
        not postings_ok
    ):
        findings.append(
            _finding(
                index_path,
                "torn build: doc_stats present, postings incomplete",
                "UNHEALABLE — re-run build_text_index",
                False,
            )
        )
    return findings


def _classify_layout(store: str, healed: bool) -> list[dict]:
    """Findings for one store/state layout, from its CURRENT on-disk
    state (re-statted, not the caller's directory listing — under
    heal the caller holds the layout's lock, so what this reports is
    exactly what the heal will act on)."""
    findings: list[dict] = []
    old = store + ".old"
    if os.path.exists(old):
        if os.path.exists(store):
            findings.append(
                _finding(old, "stale residue next to healthy dir",
                         "remove", healed)
            )
        elif os.path.isdir(old) and not os.path.islink(old):
            findings.append(
                _finding(old, "interrupted swap (no live dir)",
                         "restore to live path", healed)
            )
        else:
            # classification must match the heal: recover_layout
            # REMOVES a file-shaped .old instead of restoring it
            # (restoring would plant a file at the dir slot), so the
            # verified action here is remove, not restore
            findings.append(
                _finding(old, "file-shaped residue (no live dir)",
                         "remove", healed)
            )
    if os.path.exists(store + ".staging"):
        findings.append(
            _finding(store + ".staging", "orphaned staging dir",
                     "remove", healed)
        )
    return findings


def _fsck_generic(parent: str, entries: list[str], heal: bool) -> list[dict]:
    """Store/state-dir findings in ``parent``, healed via
    :func:`util.recover_layout`. Under heal, each layout is classified
    and healed inside its maintenance lock (one atomic classify+repair
    per layout — a residue a concurrent same-host writer already
    repaired simply yields no finding). ``--dry-run`` takes no lock: report-only must
    not even create the sibling lockfile, at the price of a snapshot
    that can race writers."""
    bases: list[str] = []
    for e in entries:
        for suffix in (".old", ".staging"):
            if e.endswith(suffix):
                base = e[: -len(suffix)]
                if base not in bases:
                    bases.append(base)
    findings: list[dict] = []
    for base in sorted(bases):
        store = os.path.join(parent, base)
        if heal:
            # a live writer may have deleted this whole tree after the
            # walk listed it; taking the lock then would RESURRECT the
            # deleted parent (the lockfile's makedirs + O_CREAT) and
            # plant residue in a dir the writer just cleaned. Best-effort
            # narrowing (the isdir→lock window remains — concurrent
            # fsck-vs-remove already violates the owner-only maintenance
            # contract); under the lock _classify_layout re-stats, so a
            # residue healed meanwhile simply yields no finding.
            if not os.path.isdir(parent):
                break
            try:
                with path_lock(store):
                    layout = _classify_layout(store, healed=False)
                    recover_layout(store)
            except OSError as exc:
                # a read-only tree / foreign-uid layout must degrade to
                # an unhealed finding, not kill the whole walk — fsck's
                # job is the report
                findings.append(
                    _finding(
                        store,
                        f"heal failed: {exc}",
                        "fix permissions and re-run",
                        False,
                    )
                )
                continue
            # healed is VERIFIED from post-heal disk state, not assumed:
            # rmtree(ignore_errors) can silently fail (it no-ops on a
            # file-shaped residue pre-r14), and an 'always healed'
            # report would recur identically on every run
            for f in layout:
                if f["action"] == "remove":
                    f["healed"] = not os.path.lexists(f["path"])
                else:  # restore to live path
                    f["healed"] = os.path.exists(store) and not os.path.exists(
                        store + ".old"
                    )
            findings.extend(layout)
        else:
            findings.extend(_classify_layout(store, healed=False))
    return findings


def fsck_tree(root: str, heal: bool = True) -> list[dict]:
    """Walk ``root`` and report (and, with ``heal=True``, repair) every
    recognized crash-residue state. Returns the findings; a finding
    with ``healed=False`` either ran under ``heal=False`` or is
    unhealable (torn index build)."""
    root = os.path.abspath(root)
    findings: list[dict] = []
    if _is_index_root(root):
        return _fsck_index(root, heal)

    def _walk_error(exc: OSError) -> None:
        # an unreadable subtree must surface as an unhealed finding,
        # not be silently skipped by os.walk's default onerror=None —
        # residue behind a permission wall used to report "0 findings,
        # exit 0" (r16 review; same degrade-don't-die rule as the
        # per-layout heal)
        findings.append(
            _finding(
                getattr(exc, "filename", None) or root,
                f"walk failed: {exc}",
                "fix permissions and re-run",
                False,
            )
        )

    for parent, dirnames, files in os.walk(
        root, topdown=True, onerror=_walk_error
    ):
        # snapshot parent's full listing from the walk's own data BEFORE
        # pruning dirnames in place — this is the same name set a fresh
        # listdir would give (modulo live-writer races), without the
        # extra syscall or its FileNotFoundError window (the walk
        # already survived listing this dir; r13 review)
        entries = sorted(dirnames + files)
        index_roots = [
            d for d in dirnames if _is_index_root(os.path.join(parent, d))
        ]
        for d in index_roots:
            findings.extend(_fsck_index(os.path.join(parent, d), heal))
        # don't recurse into index internals (their residue is relation-
        # scoped and already handled), nor into residue dirs themselves,
        # nor into a live Spark writer's commit dir (`_temporary` is
        # owned by the FileOutputCommitter and vanishes at job commit —
        # walking it on a live tree raced exactly that deletion, r13)
        dirnames[:] = [
            d
            for d in dirnames
            if d not in index_roots
            and not d.endswith((".old", ".staging"))
            and d != "corpus_stats.new"
            and d != "_temporary"
        ]
        findings.extend(_fsck_generic(parent, entries, heal))
    return findings


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m bigdata_flightanalysis_spark.fsck",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("root", help="tree of stores/state dirs/indexes to check")
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="report findings without healing (exit 1 if any)",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(args.root):
        print(f"{args.root}: not a directory", file=sys.stderr)
        return 2
    findings = fsck_tree(args.root, heal=not args.dry_run)
    for f in findings:
        verb = "healed" if f["healed"] else "found"
        print(f"{verb}: {f['path']} — {f['issue']} ({f['action']})")
    unhealed = [f for f in findings if not f["healed"]]
    print(
        f"fsck: {len(findings)} finding(s), "
        f"{len(findings) - len(unhealed)} healed, {len(unhealed)} remaining"
    )
    return 1 if unhealed else 0


if __name__ == "__main__":
    sys.exit(main())
