"""Semantics of the join / aggregation queries (plans/queries_joins_aggs.py)
beyond the DuckDB oracle gate: brute-force referees."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.plans.queries_joins_aggs import (
    join_size_profile,
)
from youtube_etl_automated_pipeline_spark.sources import load_table


def test_join_size_profile_matches_executed_joins(spark):
    """The profiler computes |A ⋈ B| from per-key counts; the referee
    executes each join and counts."""
    prof = {r["pair"]: r for r in join_size_profile(spark, SF_SMOKE).collect()}
    orders = load_table(spark, SF_SMOKE, "orders")
    lineitem = load_table(spark, SF_SMOKE, "lineitem")
    customer = load_table(spark, SF_SMOKE, "customer")
    events = load_table(spark, SF_SMOKE, "events")

    actual = {
        "orders_x_lineitem": orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count(),
        "customer_x_orders": customer.join(
            orders, customer.c_custkey == orders.o_custkey
        ).count(),
        "events_self_user": events.alias("a")
        .join(events.alias("b"), F.col("a.user_id") == F.col("b.user_id"))
        .count(),
    }
    assert set(prof) == set(actual)
    for pair, n in actual.items():
        assert prof[pair]["join_rows"] == n, pair
        assert 0 < prof[pair]["max_key_share_ppm"] <= 1_000_000


def test_scd2_pit_join_equals_bruteforce(spark):
    """The as-of union-trick point-in-time join must agree with a
    brute-force per-probe interval scan in plain Python."""
    from collections import defaultdict

    from youtube_etl_automated_pipeline_spark.plans.queries_joins_aggs import (
        scd2_point_in_time_join,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    li = load_table(spark, SF_SMOKE, "lineitem").collect()

    # dimension: last priority per (cust, day), islands, intervals
    per_cust_day = {}
    for r in orders:
        if r["o_orderdate"] is None:
            continue
        k = (r["o_custkey"], r["o_orderdate"])
        if k not in per_cust_day or r["o_orderkey"] > per_cust_day[k][0]:
            per_cust_day[k] = (r["o_orderkey"], r["o_orderpriority"])
    series = defaultdict(list)
    for (c, d), (_ok, p) in per_cust_day.items():
        series[c].append((d, p))
    intervals = defaultdict(list)  # cust -> [(from, to|None, prio)]
    for c, rows in series.items():
        rows.sort()
        runs = []
        for d, p in rows:
            if not runs or runs[-1][2] != p:
                runs.append([d, None, p])
            # extend: valid_to set when next run opens
        for i in range(len(runs) - 1):
            import datetime

            runs[i][1] = runs[i + 1][0] - datetime.timedelta(days=1)
        intervals[c] = runs

    cust_of = {r["o_orderkey"]: r["o_custkey"] for r in orders}
    agg = defaultdict(lambda: [0, 0, False])  # (matched, prio) -> [n, cents, any_cents]
    for r in li:
        if r["l_shipdate"] is None:
            continue
        c = cust_of.get(r["l_orderkey"])
        day = r["l_shipdate"]
        hit = None
        for vf, vt, p in intervals.get(c, []):
            if day >= vf and (vt is None or day <= vt):
                hit = p
                break
        matched = any(day >= vf for vf, _vt, _p in intervals.get(c, []))
        key = (matched, hit if matched else None)
        cell = agg[key]
        cell[0] += 1
        if r["l_extendedprice"] is not None:
            import math

            cell[1] += math.floor(r["l_extendedprice"] * 100.0 + 0.5)
            cell[2] = True

    want = {
        k: (v[0], v[1] if v[2] else None) for k, v in agg.items()
    }
    got = {
        (r["matched"], r["priority_state"]): (r["n_items"], r["revenue_cents"])
        for r in scd2_point_in_time_join(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 1
