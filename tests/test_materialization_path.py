"""One materialization path, one large-input gate, one directory swap.

Every checkpoint in the engine and its ``scripts/`` goes through
``operators.checkpointing``, so ``SPARK_GRAFT_CHECKPOINT_DIR`` (or an
explicit ``checkpoint_dir``) selects reliable checkpoints everywhere. A
bare ``localCheckpoint`` call elsewhere would silently keep
executor-local blocks on a cluster.

Every size-driven plan switch asks ``checkpointing.is_large_input``. A
``sizeInBytes`` read or a ``table_bytes`` estimator elsewhere would grow
a second knee beside ``LARGE_INPUT_BYTES``.

Every swapped layout (stores, streaming state dirs, BM25 index
relations) publishes through ``util.swap_layout`` and heals through
``util.recover_layout``. A ``.old`` path built anywhere else in the
package is a second copy of that protocol; only ``fsck`` may name it,
to classify residue.
"""

from __future__ import annotations

import ast
import os

import bigdata_flightanalysis_spark as pkg
from bigdata_flightanalysis_spark.queries.catalog import load_all

PKG_DIR = os.path.dirname(pkg.__file__)
REPO = os.path.dirname(PKG_DIR)
SCANNED = {PKG_DIR, os.path.join(REPO, "scripts")}
CHECKPOINTING = {os.path.join(PKG_DIR, "operators", "checkpointing.py")}
SWAP_PROTOCOL = {os.path.join(PKG_DIR, "util.py"), os.path.join(PKG_DIR, "fsck.py")}


def _is_bare_local_checkpoint(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    )


def _is_size_estimator(node: ast.AST) -> bool:
    if isinstance(node, ast.Attribute) and node.attr == "sizeInBytes":
        return True
    # a name, attribute, import or def called table_bytes
    for field in ("id", "attr", "name"):
        if getattr(node, field, None) == "table_bytes":
            return True
    return False


def _is_old_suffix(node: ast.AST) -> bool:
    # covers both ``path + ".old"`` and an f-string's ``.old`` tail
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.endswith(".old")
    )


def _hits(is_hit, allowed: set[str], scanned: set[str] = SCANNED) -> list[str]:
    found = []
    for top in sorted(scanned):
        for root, _dirs, files in os.walk(top):
            for name in files:
                path = os.path.join(root, name)
                if not name.endswith(".py") or path in allowed:
                    continue
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                found += [
                    f"{os.path.relpath(path, REPO)}:{node.lineno}"
                    for node in ast.walk(tree)
                    if is_hit(node)
                ]
    return found


def test_no_bare_local_checkpoint_outside_checkpointing_module():
    assert _hits(_is_bare_local_checkpoint, CHECKPOINTING) == []


def test_no_size_estimator_outside_checkpointing_module():
    assert _hits(_is_size_estimator, CHECKPOINTING) == []


def test_no_old_suffix_outside_swap_protocol_modules():
    assert _hits(_is_old_suffix, SWAP_PROTOCOL, scanned={PKG_DIR}) == []


def test_rerouted_query_checkpoints_into_env_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """``doc_near_dup_incremental`` pins its batch bands with an eager
    checkpoint: under the env contract the blocks land in the dir and
    the rows are unchanged."""
    fn = load_all()["doc_near_dup_incremental"].fn
    want = sorted(map(tuple, fn(spark, sf_dir).collect()))
    ckpt = tmp_path / "ckpt"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckpt))
    got = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert got == want
    assert [f for _r, _d, files in os.walk(ckpt) for f in files]
