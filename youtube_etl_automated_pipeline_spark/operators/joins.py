"""Join operators (SURVEY.md section 2.4 J1-J7).

Every reference enrichment is a lookup of a fact against a tiny
config dim (dict ``.get`` / ``.map``), plus one anti-join waterfall.
Scale posture: a config dim is collected under a constant row bound
and folded into the fact's projection as a literal map, so enrichment
runs no exchange and no broadcast; the fact side is never collected or
broadcast; the upsert/merge is a window dedup (one shuffle on the key).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    StructField,
    StructType,
    _parse_datatype_json_string,
)

from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last


# A config dim rides in the plan as one literal map: Catalyst folds it,
# every task carries it and each fact row scans it linearly. At this
# bound (4 cores) the lookup matched the keep-last + broadcast join it
# replaces on a 51k-row fact, but a fact row that misses all 1000 keys
# costs ~1.3 us more than a hash probe: 2M all-miss rows took 3.4 s
# against the join's 1.2 s. Dims past this size belong in a join, so
# the lookup refuses them.
LOOKUP_MAX_ROWS = 1000

# Spark renders the dim rows as JSON and parses them back into the
# literal: microsecond timestamps, and a failed parse raises instead of
# turning an entry into nulls.
_JSON_OPTIONS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "mode": "FAILFAST",
}


def _join_key_type(fact_type: DataType, dim_type: DataType, spark) -> DataType:
    """The type an equi-join compares the two keys in, as the analyzer
    coerces ``fact_key = dim_key`` (e.g. string vs int compares as int,
    string vs decimal as double): read off the analyzed filter of an
    empty relation, so no Spark job runs."""
    if fact_type == dim_type:
        return fact_type
    probe = spark.createDataFrame(
        [], StructType([StructField("f", fact_type), StructField("d", dim_type)])
    )
    condition = probe.where(F.col("f") == F.col("d"))._jdf.queryExecution().analyzed().condition()
    return _parse_datatype_json_string(condition.left().dataType().json())


def _collect_bounded(dim: DataFrame) -> list:
    """Collect at most LOOKUP_MAX_ROWS rows in row order, in one job (a
    local relation in none); raise if the dim holds more."""
    bounded = dim.limit(LOOKUP_MAX_ROWS + 1)
    if bounded._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() != "LocalRelation":
        # one task reads the partitions in order; a bare limit would
        # run one job per partition scale-up step
        bounded = dim.coalesce(1).limit(LOOKUP_MAX_ROWS + 1)
    rows = bounded.collect()
    if len(rows) > LOOKUP_MAX_ROWS:
        raise ValueError(
            f"lookup dim has more than LOOKUP_MAX_ROWS={LOOKUP_MAX_ROWS} rows; "
            "join it instead of folding it into the plan"
        )
    return rows


def lookup_columns(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    defaults: Mapping[str, str] | None = None,
    preserve_matched_nulls: bool = True,
) -> dict[str, Column]:
    """J1-J4: the dim's value columns for each fact row, as
    ``fact LEFT JOIN dim USING (on)`` would give them, expressed as one
    constant-folded map lookup (no exchange, no broadcast).

    The dim is collected on the driver (bounded by LOOKUP_MAX_ROWS) and
    duplicate keys resolve last-wins in row order — the reference's
    dict comprehension (dataingestion3.py:37). Null keys on either
    side never match. ``defaults`` maps value column -> default for
    misses; ``preserve_matched_nulls=True`` keeps a matched key's null
    attribute null (dict ``.get`` semantics, dataingestion3.py:37-45),
    False also defaults it (``coalesce``). A null struct from the map
    is the miss marker, so the two cases never conflate.
    """
    values = [f for f in dim.schema.fields if f.name != on]
    fact_type = fact.schema[on].dataType
    key_type = _join_key_type(fact_type, dim.schema[on].dataType, dim.sparkSession)
    key = F.col(on).cast(key_type)
    entry = F.struct(key.alias("k"), F.struct(*[f.name for f in values]).alias("v"))
    rows = _collect_bounded(dim.select(key, F.to_json(entry, _JSON_OPTIONS)))
    last = {k: doc for k, doc in rows if k is not None}  # later rows overwrite
    entry_type = StructType([StructField(f.name, f.dataType) for f in values])
    if last and values:
        # one literal JSON array, parsed back by Spark into the types it
        # was rendered from; Catalyst folds the parse into a literal map
        entries = ArrayType(
            StructType([StructField("k", key_type), StructField("v", entry_type)])
        )
        folded = F.map_from_entries(
            F.from_json(F.lit(f"[{','.join(last.values())}]"), entries, _JSON_OPTIONS)
        )
        hit = folded[F.col(on) if fact_type == key_type else F.col(on).cast(key_type)]
    else:
        hit = F.lit(None).cast(entry_type)
    out = {}
    for f in values:
        col = hit[f.name]
        if defaults and f.name in defaults:
            default = F.lit(defaults[f.name])
            col = (
                F.when(hit.isNull(), default).otherwise(col)
                if preserve_matched_nulls
                else F.coalesce(col, default)
            )
        out[f.name] = col
    return out


def lookup_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    defaults: Mapping[str, str] | None = None,
    preserve_matched_nulls: bool = True,
) -> DataFrame:
    """``fact`` with the dim's value columns added (``lookup_columns``)."""
    return fact.withColumns(lookup_columns(fact, dim, on, defaults, preserve_matched_nulls))


def anti_join_waterfall(
    ids: DataFrame,
    fetched_by_owner: Sequence[DataFrame],
    on: str,
) -> DataFrame:
    """J5: waterfall set-difference (dataprocessing.py:106-114).

    The reference loops over content owners, removing fetched ids from
    the remaining set; each step is a LEFT ANTI join here. Driver-side
    control flow (the loop) is fine — each step is a distributed join,
    and the early-exit uses ``isEmpty()`` not ``count()``.
    Returns the ids never fetched by any owner.
    """
    remaining = ids
    for fetched in fetched_by_owner:
        if remaining.isEmpty():
            break
        remaining = remaining.join(fetched.select(on), on, "left_anti")
    return remaining


def merge_upsert(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """J7: union + keep-last dedup = upsert of new over old
    (dataingestion1.py:166-168). ``order_by`` must rank new rows above
    old ones (e.g. an ingest_seq). One shuffle on ``keys``.
    """
    return keep_last(old.unionByName(new), keys, order_by)


def update_merge(
    fact: DataFrame,
    updates: DataFrame,
    on: str,
    update_cols: Sequence[str],
) -> DataFrame:
    """K3/J6: keyed batch update — MERGE of ``updates`` columns into the
    fact (dataprocessing.py:120-161). Fact rows with no update keep
    their existing value; update rows with no fact row are dropped
    (reference drops analytics rows absent from the sheet,
    dataprocessing.py:136-146). Left join + per-column coalesce.
    """
    renamed = updates.select(
        on, *[F.col(c).alias(f"_upd_{c}") for c in update_cols]
    )
    merged = {
        c: F.coalesce(F.col(f"_upd_{c}"), F.col(c)) if c in fact.columns else F.col(f"_upd_{c}")
        for c in update_cols
    }
    out = fact.join(renamed, on, "left").withColumns(merged)
    return out.drop(*[f"_upd_{c}" for c in update_cols])
