"""Pure-SQL-API queries (spark.sql over registered views) — the
engine's second query surface beyond the DataFrame API, plus sketch
aggregates the reference never had but any OLAP engine exposes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS
from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CHARS as _WS_CHARS
from youtube_etl_automated_pipeline_spark.ext import textstats as TS
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import (
    load_table,
    load_wide,
    register_views,
)

# sum_price accumulates EXACT integer cents (o_totalprice is 2-dp, so
# round(x*100) is its exact cent value) and divides once at the end:
# integer sums are order-independent, so Spark and DuckDB agree
# bit-for-bit where a raw sum(double) can straddle a rounding boundary.
# The outer CAST AS BIGINT collapses DuckDB's HUGEINT sum to Spark's long.
GROUPING_SETS_SQL = """
SELECT n.n_name AS nation_name,
       o.o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
         / CAST(100.0 AS DOUBLE) AS sum_price,
       CAST(grouping(n.n_name) AS INT) AS g_nation,
       CAST(grouping(o.o_orderpriority) AS INT) AS g_priority
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY GROUPING SETS ((n.n_name, o.o_orderpriority), (n.n_name), ())
"""


# DuckDB runs the very same ANSI SQL text (views carry the same
# names); only the grouping() cast spelling is shared already.
@query(oracle=GROUPING_SETS_SQL)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity rollup in one shuffle pass via GROUPING SETS
    (nation x priority, nation, grand total) with grouping()
    indicators disambiguating real NULLs from subtotal rows. Executed
    through the SQL surface end-to-end."""
    register_views(spark, sf_dir, tables=("orders", "customer", "nation"))
    return spark.sql(GROUPING_SETS_SQL)


@query(oracle=None)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-customer counts per order priority next
    to the exact count. Engine-specific sketch -> rows-only gate check
    (no cross-engine oracle can hash-match an HLL estimate); the unit
    test asserts the <=5%-error envelope instead."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_custs"),
            F.countDistinct("o_custkey").alias("exact_custs"),
        )
        .orderBy("o_orderpriority")
    )


# Top-N-per-group through a correlated LATERAL derived table — ANSI
# text both engines run verbatim. Catalyst decorrelates the
# LATERAL ORDER BY/LIMIT into a ranked window join (no per-row
# re-scan of customer); the (acctbal, custkey) tie-break makes the
# result a total order, hash-stable cross-engine.
LATERAL_TOPN_SQL = """
SELECT n_name AS nation_name, t.c_custkey, t.c_name, t.c_acctbal
FROM nation, LATERAL (
  SELECT c_custkey, c_name, c_acctbal FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
ORDER BY nation_name, c_acctbal DESC, c_custkey
"""


@query(oracle=LATERAL_TOPN_SQL)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by balance per nation via a LATERAL correlated
    subquery (the SQL-standard top-N-per-group idiom)."""
    register_views(spark, sf_dir, tables=("nation", "customer"))
    return spark.sql(LATERAL_TOPN_SQL)


# CUBE completes the multi-granularity trio (ROLLUP and GROUPING SETS
# are gated elsewhere): all four (status, priority) granularities in
# one Expand + single shuffle. Exact integer cents as above.
CUBE_SQL = """
SELECT o_orderstatus AS status,
       o_orderpriority AS priority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query(oracle=CUBE_SQL)
def sql_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): the 2^2 granularity lattice in a
    single pass — Catalyst expands each input row into 4 grouping-id
    variants map-side, so the plan is one Expand + one hash aggregate
    + one exchange, not four scans. grouping() flags disambiguate
    subtotal NULLs from data NULLs. Same ANSI text runs on DuckDB."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(CUBE_SQL)


@query(
    oracle="""
SELECT o_orderpriority AS priority, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
GROUP BY o_orderpriority
ORDER BY priority
"""
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (parameter markers bound at execution, the
    injection-safe templating surface): open orders above a price
    floor rolled up per priority. The oracle inlines the same
    literals; exact integer cents keep the hash bit-stable."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority AS priority, count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice > :floor
        GROUP BY o_orderpriority
        ORDER BY priority
        """,
        args={"status": "F", "floor": 50000.0},
    )


@query(
    oracle="""
SELECT o_orderpriority AS priority, count(*) AS n_above,
       CAST(min(o_orderkey) AS BIGINT) AS first_key
FROM orders
WHERE o_totalprice > (SELECT max(o_totalprice) / 2 FROM orders)
GROUP BY o_orderpriority
ORDER BY priority
"""
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN...END procedural blocks): a
    DECLAREd session variable is computed FROM the data (half the max
    order price — max is exact, *0.5 is one float op, so the threshold
    is bit-identical cross-engine) and drives the final statement.
    The oracle expresses the same dataflow with a scalar subquery —
    scripting is control-flow sugar over the identical plan."""
    register_views(spark, sf_dir, tables=("orders",))
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE threshold DOUBLE;
              SET threshold = (SELECT max(o_totalprice) / 2 FROM orders);
              SELECT o_orderpriority AS priority,
                     count(*) AS n_above,
                     CAST(min(o_orderkey) AS BIGINT) AS first_key
              FROM orders WHERE o_totalprice > threshold
              GROUP BY o_orderpriority
              ORDER BY priority;
            END
            """
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.scripting.enabled")
        else:
            spark.conf.set("spark.sql.scripting.enabled", prev)


# Identical recursive ANSI text for both engines. The decimal-key
# hierarchy (parent = floor(key/10)) turns the flat customer table
# into a 6-level tree rooted at keys < 10 — the org-chart/BOM
# recursion shape. floor(x/10.0) is exact for keys far below 2^53, so
# Spark's `/` (double) and DuckDB's agree bit-for-bit.
RECURSIVE_HIERARCHY_SQL = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS node, CAST(0 AS INT) AS depth
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey AS node, chain.depth + 1 AS depth
  FROM customer c
  JOIN chain ON CAST(floor(c.c_custkey / 10.0) AS BIGINT) = chain.node
  WHERE c.c_custkey >= 10
)
SELECT depth, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_keys
FROM chain GROUP BY depth ORDER BY depth
"""


@query(oracle=RECURSIVE_HIERARCHY_SQL)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) walking a 6-level
    hierarchy over customer keys, grouped by depth. Each recursion
    round is one join+filter over the previous frontier — the same
    iterative join+agg shape as the DataFrame connected-components
    loop (ext/dedup.py), here expressed declaratively and run from
    the very same SQL text DuckDB executes."""
    register_views(spark, sf_dir, tables=("customer",))
    return spark.sql(RECURSIVE_HIERARCHY_SQL)


GROUP_BY_ALL_SQL = """
SELECT n_name AS nation, o_orderstatus AS status,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ALL
ORDER BY ALL
"""


@query(oracle=GROUP_BY_ALL_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL: the modern analyst-SQL surface
    (grouping keys inferred from the non-aggregate select list) —
    IDENTICAL query text executes on both engines."""
    register_views(spark, sf_dir, tables=("orders", "customer", "nation"))
    return spark.sql(GROUP_BY_ALL_SQL)


# No trailing orderBy: the gate hash is order-insensitive, and a
# global range-sort of a row-per-order projection is exactly the
# Exchange+Sort a 100 TB sink write would never pay.
@query(
    oracle="""
SELECT o_orderkey,
  CASE WHEN (CASE WHEN o_orderpriority = '5-LOW' THEN 0
             ELSE o_custkey % 7 END) = 0 THEN NULL
       ELSE o_totalprice / (CASE WHEN o_orderpriority = '5-LOW' THEN 0
                            ELSE o_custkey % 7 END) END AS safe_ratio,
  CASE WHEN o_custkey % 2 = 0 THEN 9223372036854775807 END AS safe_add,
  CASE WHEN o_custkey % 4 + 1 <= 2
       THEN CAST(o_custkey % 4 + 1 AS INT) END AS safe_elem
FROM orders
ORDER BY o_orderkey
"""
)
def ansi_safe_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode safe arithmetic (Spark 4 runs ANSI ON by default —
    overflow/div-by-zero THROW): the try_* family returns NULL where
    strict ANSI would fail, the semantics the reference's
    int(x or 0)-style guards approximate. try_divide on a sometimes-
    zero denominator, try_add at bigint range edge, try_to_number on
    mixed-validity strings, try_element_at past array end — each
    mirrored by an explicit CASE guard in the oracle."""
    orders = load_table(spark, sf_dir, "orders")
    zero_when_low = F.when(
        F.col("o_orderpriority") == "5-LOW", F.lit(0)
    ).otherwise(F.col("o_custkey") % 7)
    return orders.select(
        "o_orderkey",
        F.try_divide(F.col("o_totalprice"), zero_when_low).alias("safe_ratio"),
        F.try_add(
            F.lit(9223372036854775807).cast("long"),
            (F.col("o_custkey") % 2).cast("long"),
        ).alias("safe_add"),
        F.try_element_at(
            F.array(F.lit(1), F.lit(2)), (F.col("o_custkey") % 4 + 1).cast("int")
        ).alias("safe_elem"),
    )


@query(
    oracle="""
WITH m AS (
  SELECT CASE WHEN o_orderkey % 3 = 0 THEN upper(o_orderpriority)
              WHEN o_orderkey % 3 = 1 THEN lower(o_orderpriority)
              ELSE o_orderpriority END AS mangled,
         CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders
)
SELECT lower(mangled) AS priority,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM m
GROUP BY lower(mangled)
ORDER BY priority
"""
)
def collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 COLLATION surface: grouping under UTF8_LCASE compares
    case-insensitively at the COLLATION level (no lower() rewrite of
    the data). A deterministically case-mangled priority column groups
    back to 5 rows; min() picks the collation-smallest variant. The
    oracle reproduces the semantics with explicit lower() keys and the
    same representative rule."""
    orders = load_table(spark, sf_dir, "orders")
    mangled = F.when(
        F.col("o_orderkey") % 3 == 0, F.upper("o_orderpriority")
    ).when(
        F.col("o_orderkey") % 3 == 1, F.lower("o_orderpriority")
    ).otherwise(F.col("o_orderpriority"))
    df = orders.select(
        F.collate(mangled, "UTF8_LCASE").alias("priority_ci"),
        F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias("cents"),
    )
    return (
        df.groupBy("priority_ci")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            # project a collation-free canonical key for the compare
            F.lower(F.col("priority_ci").cast("string")).alias("priority"),
            "n_orders",
            "sum_cents",
        )
        .orderBy("priority")
    )


# --- Spark 4 SQL UDFs + IDENTIFIER clause (round 5) -----------------
# Scalar and TABLE functions defined in pure SQL (CREATE TEMPORARY
# FUNCTION ... RETURN ...) — logic shared with analysts without
# leaving the optimizer (the body inlines into the plan, unlike a
# Python UDF), and IDENTIFIER(:param) — injection-safe templating for
# table/column NAMES, the dimension value parameter markers cannot
# reach. Oracles inline the expanded bodies: a SQL UDF is
# macro-expansion by design, so the twin is the same dataflow.

_BAND_CASE = (
    "CASE WHEN {c} < 5000000 THEN 'small'"
    " WHEN {c} < 20000000 THEN 'mid'"
    " ELSE 'large' END"
)


@query(
    oracle=f"""
WITH cents AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
  FROM orders WHERE o_totalprice IS NOT NULL
)
SELECT {_BAND_CASE.format(c="c")} AS band,
       count(*) AS n_orders,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM cents GROUP BY 1 ORDER BY band
"""
)
def sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar SQL UDF: a revenue-band classifier created with CREATE
    TEMPORARY FUNCTION ... RETURN <expr> and used in a rollup. The
    body is a plain CASE over exact cents, so Catalyst inlines it
    into whole-stage codegen — zero serialization boundary, unlike
    any Python UDF."""
    register_views(spark, sf_dir, tables=("orders",))
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION revenue_band(cents BIGINT)"
        " RETURNS STRING RETURN " + _BAND_CASE.format(c="cents")
    )
    return spark.sql(
        """
        SELECT revenue_band(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS band,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS sum_cents
        FROM orders WHERE o_totalprice IS NOT NULL
        GROUP BY 1 ORDER BY band
        """
    )


SQL_UDF_TOPK = 10


@query(
    oracle=f"""
SELECT o_custkey, cents FROM (
  SELECT o_custkey,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS cents,
         row_number() OVER (
           ORDER BY sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             DESC, o_custkey ASC
         ) AS rn
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
  GROUP BY o_custkey
) x WHERE rn <= {SQL_UDF_TOPK}
ORDER BY cents DESC, o_custkey
"""
)
def sql_udf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE-valued SQL UDF: top-k customers by exact order revenue
    as CREATE TEMPORARY FUNCTION ... RETURNS TABLE(...) — the
    parameterized-view surface. The cap is a row_number predicate,
    not LIMIT k (a function argument is not foldable, so LIMIT
    rejects it — the same reason the engine's top-k queries ride
    WindowGroupLimit)."""
    register_views(spark, sf_dir, tables=("orders",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION top_spenders(k BIGINT)
        RETURNS TABLE(o_custkey BIGINT, cents BIGINT) RETURN
        SELECT o_custkey, cents FROM (
          SELECT o_custkey,
                 CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents,
                 row_number() OVER (
                   ORDER BY sum(CAST(floor(o_totalprice * 100 + 0.5)
                     AS BIGINT)) DESC, o_custkey ASC
                 ) AS rn
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_custkey IS NOT NULL
          GROUP BY o_custkey
        ) WHERE rn <= k
        """
    )
    return spark.sql(f"SELECT * FROM top_spenders({SQL_UDF_TOPK})")


@query(
    oracle="""
SELECT o_orderpriority AS group_key, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
WHERE o_totalprice IS NOT NULL
GROUP BY o_orderpriority ORDER BY group_key
"""
)
def sql_identifier_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) templating: the table AND the grouping
    column arrive as parameters but bind as identifiers, not values —
    the injection-safe way to write one rollup over many tables that
    string interpolation can't match. The oracle is the resolved
    query."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT IDENTIFIER(:col) AS group_key, count(*) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS cents
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice IS NOT NULL
        GROUP BY IDENTIFIER(:col) ORDER BY group_key
        """,
        args={"tbl": "orders", "col": "o_orderpriority"},
    )


# Spark-4-native engine surfaces: VARIANT semi-structured type, SQL
# pipe syntax, Python UDTFs (lateral table functions), and mapInArrow
# kernels — the fourth-generation API breadth a user migrating from the
# reference's pandas scripts (reference: Python-pipeline/*.py row loops)
# gets for free on this engine.
#
# Each query has a DuckDB oracle in plain ANSI SQL: the *surface* is
# Spark-4-specific but the semantics are engine-neutral, which is
# exactly what makes them gateable.
#
# Scale notes per operator are in the docstrings; the common theme is
# that all four stay embarrassingly parallel (scan-shaped or
# partition-local), so they hold at 100 TB unchanged.

# Pipe-syntax text (Spark 4 SQL). The oracle below is the same query
# in classic ANSI form — DuckDB has no pipe operators, which is the
# point: the surface is Spark's, the semantics are portable.
PIPE_SYNTAX_SQL = """
FROM orders
|> WHERE o_orderstatus = 'O'
|> AGGREGATE count(*) AS n_orders,
     CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
   GROUP BY o_orderpriority
|> SELECT o_orderpriority AS priority, n_orders,
     CAST(cents AS DOUBLE) / 100.0 AS sum_price
|> ORDER BY priority
"""

PIPE_SYNTAX_ORACLE = """
SELECT o_orderpriority AS priority, count(*) AS n_orders,
       CAST(CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
            AS DOUBLE) / 100.0 AS sum_price
FROM orders
WHERE o_orderstatus = 'O'
GROUP BY o_orderpriority
ORDER BY priority
"""


@query(oracle=PIPE_SYNTAX_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order revenue by priority through Spark 4's SQL pipe
    syntax (linear dataflow text -> identical Catalyst plan as the
    ANSI form: same scan, same partial agg, same exchange). Exact
    integer-cents accumulation keeps the hash bit-stable cross-engine.
    """
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(PIPE_SYNTAX_SQL)


@query(
    oracle=f"""
WITH b AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_CLASS}+') AS toks
  FROM documents
  WHERE doc_id < 30 AND text IS NOT NULL AND trim(text) <> ''
)
SELECT doc_id, CAST(g.i - 1 AS INT) AS pos,
       toks[g.i] || ' ' || toks[g.i + 1] AS bigram
FROM b, unnest(generate_series(1, len(toks) - 1)) AS g(i)
ORDER BY doc_id, pos
"""
)
def udtf_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token bigrams via a Python UDTF joined LATERAL-ly — the
    row-to-many-rows generator surface (Spark 4 arrow-optimized UDTF;
    the applyInPandas/mapInPandas flavors live elsewhere, this is the
    table-function flavor).

    The UDTF runs once per input row with Arrow transport and no
    shuffle: at 100 TB it is a scan-shaped flat map whose output
    fan-out (n_tokens - 1 per doc) is bounded by document length.
    Tokenization is pinned to the repo-wide explicit ASCII whitespace
    class and space-only strip (ext/textstats.py WS_CLASS contract) so
    the DuckDB oracle reproduces rows bit-for-bit.

    Bounded to doc_id < 30 to keep gate output stable across scale
    factors (same bound rationale as doc_token_positions).
    """
    import re

    from pyspark.sql.functions import lit, udtf

    ws_re = re.compile(WS_CLASS + "+")

    @udtf(returnType="pos int, bigram string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):
            t = (text or "").strip(" ")
            if not t:
                return
            toks = ws_re.split(t)
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("doc_bigrams", Bigrams)
    register_views(spark, sf_dir, tables=("documents",))
    # Catalyst does NOT push predicates below a UDTF (it can't know the
    # generator preserves doc_id), so the filter must sit in the
    # subquery or the UDTF runs over the whole corpus and THEN filters
    # (plan-verified: 100x more Python work). No trailing ORDER BY —
    # the range partitioner's sampling pass would re-execute the UDTF,
    # and the driver compare is order-insensitive.
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 30) d,
             LATERAL doc_bigrams(d.text) b
        """
    )


@query(
    oracle=f"""
WITH toked AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN []
              ELSE list_transform(
                list_filter(
                  string_split_regex(trim(text), '[{_WS_CHARS}]+'),
                  x -> length(x) >= 4),
                x -> lower(x))
         END AS toks
  FROM documents WHERE text IS NOT NULL
),
perdoc AS (
  SELECT lang,
         len(toks) AS n_long,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
           AS char_mass,
         len(list_distinct(toks)) AS n_uniq,
         array_to_string(list_slice(list_sort(toks), 1, 3), '|') AS first3
  FROM toked
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_long) AS BIGINT) AS sum_long_tokens,
       CAST(sum(char_mass) AS BIGINT) AS sum_char_mass,
       CAST(sum(n_uniq) AS BIGINT) AS sum_uniq_tokens,
       min(first3) AS min_first3
FROM perdoc GROUP BY lang ORDER BY lang
"""
)
def array_hof_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function surface in one gate query: the per-row
    array pipeline filter -> transform -> aggregate -> distinct ->
    sort -> slice, entirely JVM-side (no Python boundary) — the
    API breadth a pandas user migrating row loops onto this engine
    reaches for first. Per doc: long tokens (len >= 4) lowercased,
    their exact character mass via an aggregate fold, the distinct
    census, and the 3 lexicographically-first tokens; rolled up per
    language.

    Scale shape: pure scan-projection (HOFs evaluate per row — they
    are interpreted expressions, fine OFF the per-pair hot path; see
    ext/similarity.py for when they are not) + one rollup shuffle.
    Integer sums only.

    Oracle twin: DuckDB's list_filter / list_transform / list_sum /
    list_distinct / list_sort / list_slice mirror each step; both
    sides sort with plain lexicographic ordering over lowercased
    ASCII-ish tokens.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import tokens

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.transform(
        F.filter(tokens(F.col("text")), lambda x: F.length(x) >= 4),
        F.lower,
    )
    d = docs.select("lang", toks.alias("toks")).select(
        "lang",
        F.size("toks").alias("n_long"),
        F.aggregate(
            "toks", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("char_mass"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.concat_ws(
            "|", F.slice(F.array_sort("toks"), 1, 3)
        ).alias("first3"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_long").alias("sum_long_tokens"),
            F.sum("char_mass").alias("sum_char_mass"),
            F.sum("n_uniq").alias("sum_uniq_tokens"),
            F.min("first3").alias("min_first3"),
        )
        .orderBy("lang")
    )


NGRAM_K = 3  # polymorphic UDTF: schema derives from this scalar argument

_NG_TOKS = f"string_split_regex(trim(text), '[{_WS_CHARS}]+')"


@query(
    oracle=f"""
WITH toked AS (
  SELECT doc_id, {_NG_TOKS} AS tk
  FROM documents
  WHERE doc_id < 30 AND text IS NOT NULL AND trim(text) != ''
)
SELECT doc_id, CAST(i - 1 AS INT) AS pos,
  {", ".join(f"tk[i + {j}] AS g{j + 1}" for j in range(NGRAM_K))}
FROM toked,
  unnest(generate_series(1, len(tk) - {NGRAM_K - 1})) AS t(i)
"""
)
def udtf_dynamic_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4 analyze-time schema): the
    output columns g1..gk derive from the scalar n-gram width argument
    at ANALYSIS time via the static ``analyze`` hook — the
    table-function flavor whose schema is computed, not declared
    (udtf_doc_bigrams gates the static-schema flavor). Tokenization
    pins the repo-wide WS_CLASS / space-only-strip contract.

    Scale: scan-shaped Arrow flat map, fan-out bounded by document
    length; the doc_id bound sits in the lateral subquery because
    Catalyst cannot push predicates below a UDTF.
    """
    import re

    from pyspark.sql.functions import udtf
    from pyspark.sql.types import IntegerType, StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    ws_re = re.compile(TS.WS_CLASS + "+")

    @udtf(useArrow=True)
    class DynNgrams:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            assert k.value is not None and k.isConstantExpression
            schema = StructType().add("pos", IntegerType())
            for i in range(int(k.value)):
                schema = schema.add(f"g{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, text: str, k: int):
            t = (text or "").strip(" ")
            if not t:
                return
            toks = ws_re.split(t)
            for i in range(len(toks) - k + 1):
                yield (i, *toks[i : i + k])

    spark.udtf.register("dyn_ngrams", DynNgrams)
    from youtube_etl_automated_pipeline_spark.sources import register_views

    register_views(spark, sf_dir, tables=("documents",))
    return spark.sql(
        f"""
        SELECT d.doc_id, g.pos, {", ".join(f"g.g{i + 1}" for i in range(NGRAM_K))}
        FROM (SELECT doc_id, text FROM documents WHERE doc_id < 30) d,
             LATERAL dyn_ngrams(d.text, {NGRAM_K}) g
        """
    )
