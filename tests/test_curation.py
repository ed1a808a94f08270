"""Semantics of the curation queries (plans/queries_curation.py) beyond
the DuckDB oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.plans.queries_curation import (
    LS_TRAIN_PCT,
    LS_VAL_PCT,
    leakage_safe_split,
)


def test_leakage_split_no_cluster_straddles_splits(spark):
    """The contract the operator exists for: every near-dup cluster
    lands in exactly ONE split. Recomputed doc-level here, then
    grouped by cluster to count distinct splits."""
    from youtube_etl_automated_pipeline_spark.ext.dedup import (
        connected_components,
    )
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        dedup_minhash_lsh,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_wide

    pairs = dedup_minhash_lsh(spark, SF_SMOKE).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    docs = load_wide(spark, SF_SMOKE, "documents").select("doc_id")
    labeled = docs.join(
        F.broadcast(comp), docs.doc_id == comp.node, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
    )
    bucket = md5_long(F.col("cluster_id").cast("string")) % 100
    split = (
        F.when(bucket < LS_TRAIN_PCT, "train")
        .when(bucket < LS_VAL_PCT, "val")
        .otherwise("test")
    )
    straddlers = (
        labeled.select("cluster_id", split.alias("split"))
        .groupBy("cluster_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert straddlers == 0

    # and the census totals add up to the corpus
    census = leakage_safe_split(spark, SF_SMOKE).collect()
    assert sum(r["n_docs"] for r in census) == docs.count()
    # multi-doc clusters exist in the gate data (else the operator is
    # indistinguishable from a doc-keyed split)
    assert sum(r["n_multi_doc_clusters"] for r in census) > 0


def test_leakage_split_differs_from_doc_keyed_split(spark):
    """At least one doc of some multi-doc cluster would change split
    under doc-id keying — proving the cluster key is load-bearing."""
    from youtube_etl_automated_pipeline_spark.ext.dedup import (
        connected_components,
    )
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        dedup_minhash_lsh,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_wide

    pairs = dedup_minhash_lsh(spark, SF_SMOKE).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(pairs)
    docs = load_wide(spark, SF_SMOKE, "documents").select("doc_id")
    labeled = docs.join(
        F.broadcast(comp), docs.doc_id == comp.node, "inner"
    ).select("doc_id", F.col("component").alias("cluster_id"))
    b_doc = md5_long(F.col("doc_id").cast("string")) % 100
    b_cl = md5_long(F.col("cluster_id").cast("string")) % 100
    diverging = labeled.filter(
        (b_doc < LS_TRAIN_PCT) != (b_cl < LS_TRAIN_PCT)
    ).count()
    assert diverging > 0


def test_logreg_memo_follows_a_rewritten_documents_table(spark, tmp_path):
    """The trained-weights and feature memos carry the documents
    table's fingerprint: after the table is rewritten in place, the
    calibration bins equal the oracle over the new table."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.oracle_compare import compare, duckdb_conn
    from youtube_etl_automated_pipeline_spark.plans.queries_curation import (
        logreg_calibration_bins,
    )
    from youtube_etl_automated_pipeline_spark.plans.registry import oracle_sql

    d = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, d)
    sql = oracle_sql()["logreg_calibration_bins"]
    for rewrite in (False, True):
        if rewrite:
            docs = pq.read_table(os.path.join(d, "documents.parquet"))
            pq.write_table(
                docs.filter(pc.not_equal(pc.bit_wise_and(docs["doc_id"], 3), 0)),
                os.path.join(d, "documents.parquet"),
            )
        errors = compare(logreg_calibration_bins(spark, d), duckdb_conn(d), sql)
        assert not errors, "; ".join(errors[:6])
