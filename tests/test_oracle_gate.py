"""Spark-vs-DuckDB oracle gate under pytest: the per-query compare of
tools/compare_oracle.py (row count + order-insensitive value hash) over the
registry queries of the fingerprint, MinHash/cosine LSH, cosine-pair,
k-means/IVF, multimodal, boilerplate, match-dimension, duplicate and
pipeline-annotate operators. Each Spark query must reproduce its DuckDB SQL
exactly on the sf0.001 fixtures; the CLI runs the full registry."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from tools.compare_oracle import compare_query, oracle_connection

GATED = [
    "doc_fingerprint",
    "dedup_minhash_lsh",
    "sim_lsh_pairs",
    "sim_cosine_pairs",
    "sim_kmeans_centroids",
    "sim_ivf_kmeans_topk",
    "multimodal_frames",
    "multimodal_meta",
    "text_boilerplate",
    "match_dimension",
    "match_dimension_floatkey",
    "duplicate_count",
    "duplicate_rows",
    "qf_pipeline_annotate",
]


@pytest.fixture(scope="module")
def oracle(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", GATED)
def test_oracle_gate(spark, sf_dir, oracle, name):
    status, lines = compare_query(
        spark, oracle, sf_dir, name, E.queries()[name], E.oracle_sql().get(name)
    )
    assert status == "ok", "\n".join(lines)
