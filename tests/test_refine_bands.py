"""The docs chain's refine pass (the reference's refineGroupedGraph second
pass, ReliefFFeatureSelector.scala:181-187,544): `q_lsh_candidates_refined`
adds a rotated banding to the docs LSH query. The audio/transcript pipeline
has one banding; its recall budget is checked in tests/test_config.py."""

from __future__ import annotations


def test_doc_suite_refined_candidates_superset(spark):
    """q_lsh_candidates_refined (the refine pass's driver-oracle query) is a
    superset of the base candidates: rotated bands have a disjoint band_id
    keyspace, so primary buckets — and their cap decisions — are untouched,
    and extra OR-bands can only add pairs."""
    from relieff_lsh_spark.operators import dedup_docs as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = {(r["a"], r["b"]) for r in dd.q_lsh_candidates(docs).collect()}
    refined = {(r["a"], r["b"]) for r in dd.q_lsh_candidates_refined(docs).collect()}
    assert base <= refined
