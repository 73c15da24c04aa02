"""Queries behind the large-input gate run on a Hadoop-filesystem URI.

The gate (``operators.checkpointing.is_large_input``) measures the scan
frame a query already reads, so a ``file://`` (or ``hdfs://``,
``s3a://``) ``sf_dir`` plans exactly like the bare local path.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from bigdata_flightanalysis_spark.queries.catalog import load_all

SF = "/root/testdata/sf0.001"

GATED = (
    "doc_near_dup_candidates",
    "doc_simhash_near_dup",
    "doc_dup_clusters",
    "doc_dedup_keep_best",
    "doc_dup_canonical_pagerank",
    "doc_near_dup_edit_distance",
    "doc_dup_graph_triangles",
    "doc_dup_graph_kcore",
    "doc_training_manifest",
    "doc_split_leakage_check",
    "embed_near_dup_pairs",
)


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", GATED)
def test_gated_query_runs_on_file_uri(spark, tmp_path, name):
    """Same rows under ``file://`` as under the bare path, and a
    missing ``sf_dir`` still fails loudly instead of planning small."""
    fn = load_all()[name].fn
    assert _rows(fn(spark, "file://" + SF)) == _rows(fn(spark, SF))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        fn(spark, str(tmp_path / "no_such_sf")).collect()
