"""One materialization path.

Every checkpoint in the engine and its ``scripts/`` goes through
``operators.checkpointing``, so ``SPARK_GRAFT_CHECKPOINT_DIR`` (or an
explicit ``checkpoint_dir``) selects reliable checkpoints everywhere. A
bare ``localCheckpoint`` call elsewhere would silently keep
executor-local blocks on a cluster.
"""

from __future__ import annotations

import ast
import os

import bigdata_flightanalysis_spark as pkg
from bigdata_flightanalysis_spark.queries.catalog import load_all

PKG_DIR = os.path.dirname(pkg.__file__)
REPO = os.path.dirname(PKG_DIR)
SCANNED = (PKG_DIR, os.path.join(REPO, "scripts"))
ALLOWED = os.path.join(PKG_DIR, "operators", "checkpointing.py")


def _bare_local_checkpoints() -> list[str]:
    found = []
    for top in SCANNED:
        for root, _dirs, files in os.walk(top):
            for name in files:
                path = os.path.join(root, name)
                if not name.endswith(".py") or path == ALLOWED:
                    continue
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                found += [
                    f"{os.path.relpath(path, REPO)}:{node.lineno}"
                    for node in ast.walk(tree)
                    if isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ]
    return found


def test_no_bare_local_checkpoint_outside_checkpointing_module():
    assert _bare_local_checkpoints() == []


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
