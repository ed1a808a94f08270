"""Co-located joins via bucketing and salted skew-safe aggregation:
the two write/plan-level scale strategies, verified on real plans."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.operators.skew import salted_count_sum
from youtube_etl_automated_pipeline_spark.sinks import write_bucketed
from youtube_etl_automated_pipeline_spark.sources import load_table


def test_bucketed_join_has_no_join_shuffle(spark):
    write_bucketed(
        load_table(spark, SF_SMOKE, "orders"), "b_orders", "o_orderkey"
    )
    write_bucketed(
        load_table(spark, SF_SMOKE, "lineitem"), "b_lineitem", "l_orderkey"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
        # the ONLY shuffle is the downstream groupBy key — the join
        # itself reads co-located buckets with no Exchange on either side
        assert all("o_orderstatus" in e for e in exchanges), exchanges
        assert "SortMergeJoin" in plan
        # sanity: same result as the unbucketed join
        n = joined.agg(F.sum("n")).first()[0]
        assert n == load_table(spark, SF_SMOKE, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_agg_matches_direct(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    salted = {
        r["event_type"]: r
        for r in salted_count_sum(
            ev, ["event_type"], "value", F.col("event_id")
        ).collect()
    }
    direct = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert set(salted) == set(direct)
    for k in direct:
        assert salted[k]["n_rows"] == direct[k]["n_rows"]
        assert abs(salted[k]["sum_value"] - direct[k]["sum_value"]) < 1e-6


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling: a 90%-one-key join gets its skewed
    reducer partition split across mapper ranges (SortMergeJoin
    skew=true) instead of serializing on one task. Thresholds are
    lowered to make the tiny local data 'skewed'; splitting needs
    multiple mappers (widen_scan) — at real scale both are automatic.
    """
    from youtube_etl_automated_pipeline_spark.sources import widen_scan

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = widen_scan(load_table(spark, SF_SMOKE, "lineitem")).select(
            F.when(F.col("l_orderkey") % 10 != 0, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            F.md5(F.concat_ws("-", "l_orderkey", "l_partkey", "l_linenumber")).alias(
                "pay"
            ),
        )
        right = widen_scan(load_table(spark, SF_SMOKE, "orders")).select(
            F.col("o_orderkey").alias("k"), "o_totalprice"
        )
        j = li.join(right, "k")
        n = len(j.collect())
        assert n == load_table(spark, SF_SMOKE, "lineitem").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _per_partition_counts(df):
    """Empirical task-level row distribution: spark_partition_id() is
    stamped where the column is computed — i.e. in the measured
    relation's own output partitions, BEFORE the census groupBy
    reshuffles — so the counts are what each task actually held."""
    return sorted(
        r["n"]
        for r in df.select(F.spark_partition_id().alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def test_salted_join_spreads_hot_key_empirically(spark):
    """EMPIRICAL skew gate (round-5 advice #5): plan shapes prove the
    salting posture; this proves the effect on real tasks. A fact with
    one key carrying ~30% of all rows is joined to a dim with
    broadcast and AQE skew-handling OFF (isolating the salting), and
    the per-task row distribution of the salted join must stay
    balanced — no task above 4x the median task — while the UNSALTED
    join demonstrably concentrates the hot key's ~30% in one task.
    Results must be identical."""
    from youtube_etl_automated_pipeline_spark.operators.skew import salted_join

    n = 120_000
    fact = spark.range(n, numPartitions=32).select(
        F.when((F.col("id") % 10) < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64(F.col("id")), F.lit(99)) + 1)
        .alias("k"),
        F.col("id").alias("rid"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("dk"), (F.col("id") * 7).alias("dval")
    )
    # 32 reducers whatever the core count: 16 salts cannot spread the
    # hot key over fewer reducers than get_spark's default of one per core
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        salted = salted_join(fact, dim, "k", "dk", F.col("rid"), n_salts=16)
        unsalted = fact.join(dim, fact["k"] == dim["dk"])

        salted_parts = _per_partition_counts(salted)
        unsalted_parts = _per_partition_counts(unsalted)

        # the skew is real: unsalted concentrates >= 25% in one task
        assert unsalted_parts[-1] >= 0.25 * n, unsalted_parts[-5:]
        # the salted join absorbs it: worst task <= 4x the median task
        med = salted_parts[len(salted_parts) // 2]
        assert salted_parts[-1] <= 4 * med, (salted_parts[-1], med)
        # and far below the unsalted hot task
        assert salted_parts[-1] <= unsalted_parts[-1] / 3

        # identical results (the whole point of salting: same join,
        # different physical distribution)
        rollup = lambda d: sorted(  # noqa: E731
            (r.k, r.n, r.s)
            for r in d.groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dval").alias("s"))
            .collect()
        )
        assert rollup(salted) == rollup(unsalted)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_keep_last_hot_key_pretruncates_before_shuffle(spark):
    """Dedup-family skew gate: keep-last over a feed where ONE key
    receives ~30% of all updates. The row_number(...)=1 idiom must
    compile to a PARTIAL WindowGroupLimit below the exchange — each
    map task forwards at most one candidate row per key, so the hot
    key crosses the wire as O(mappers) rows, not its 30% of the feed
    — and the kept row must still be the true latest."""
    from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last

    n = 90_000
    updates = spark.range(n, numPartitions=16).select(
        F.when((F.col("id") % 10) < 3, F.lit(0))
        .otherwise(F.pmod(F.xxhash64(F.col("id")), F.lit(999)) + 1)
        .alias("key"),
        F.col("id").alias("seq"),
    )
    kept = keep_last(updates, ["key"], ["seq"])
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]
    # Partial mode must appear BELOW the exchange (map-side truncate)
    lines = plan.splitlines()
    partial_idx = [
        i for i, l in enumerate(lines) if "WindowGroupLimit" in l and "Partial" in l
    ]
    exch_idx = [i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l]
    assert partial_idx and exch_idx and min(exch_idx) < max(partial_idx), plan[:3000]

    rows = {r.key: r.seq for r in kept.collect()}
    # hot key kept its LAST update (largest seq with key 0)
    expect_hot = max(
        i for i in range(n - 100, n) if (i % 10) < 3
    )
    assert rows[0] == expect_hot
    assert len(rows) == updates.select("key").distinct().count()


def test_bucketed_join_tables_are_per_input(spark, tmp_path):
    """Two inputs with one directory name but different orders each
    get their own bucketed tables: each rollup matches its own
    oracle."""
    import os
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tests.oracle_compare import compare, duckdb_conn
    from youtube_etl_automated_pipeline_spark.plans.queries_olap import (
        bucketed_colocated_join_rollup,
    )
    from youtube_etl_automated_pipeline_spark.plans.registry import oracle_sql

    a, b = str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")
    shutil.copytree(SF_SMOKE, a)
    shutil.copytree(SF_SMOKE, b)
    orders = pq.read_table(os.path.join(SF_SMOKE, "orders.parquet"))
    pq.write_table(
        orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0)),
        os.path.join(b, "orders.parquet"),
    )
    before = {t.name for t in spark.catalog.listTables()}
    try:
        for d in (a, b):
            errors = compare(
                bucketed_colocated_join_rollup(spark, d),
                duckdb_conn(d),
                oracle_sql()["bucketed_colocated_join_rollup"],
            )
            assert not errors, "; ".join(errors[:6])
    finally:
        for t in spark.catalog.listTables():
            if t.name not in before:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
