"""S5: JSON dim scan -> dim lookup with last-wins dup resolution
(the reference's dict-comprehension overwrite: dataingestion3.py:37,
65 dup codes and null show names in Documents/showname.json)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.operators.joins import lookup_enrich
from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.sources import load_json_dim
from youtube_etl_automated_pipeline_spark.plans.queries_sources import (
    COMPACT_TARGET_ROWS,
    compaction_bin_packing,
    compaction_plan,
    file_census,
)


def test_json_dim_last_wins_and_nulls(spark, tmp_path):
    rows = [
        {"Code": "AB", "Show_Name": "First", "Broadcaster": "X", "Category": "News"},
        {"Code": "CD", "Show_Name": None, "Broadcaster": "Y", "Category": "Drama"},
        {"Code": "AB", "Show_Name": "Second", "Broadcaster": "Z", "Category": "Sports"},
    ]
    path = tmp_path / "showname.json"
    path.write_text(json.dumps(rows))

    dim = load_json_dim(spark, str(path))
    assert dim.count() == 3

    # last-wins in file order (dict overwrite order), resolved by the lookup
    facts = spark.createDataFrame([("AB",), ("CD",), ("EF",)], "Code string")
    out = {
        r["Code"]: r
        for r in lookup_enrich(facts, dim, "Code", defaults={"Show_Name": ""}).collect()
    }
    assert out["AB"]["Show_Name"] == "Second"  # later row overwrote
    assert out["AB"]["Broadcaster"] == "Z"
    assert out["CD"]["Show_Name"] is None  # present-but-null preserved
    assert out["EF"]["Show_Name"] == ""  # miss -> default


def test_jsonl_malformed_rows_land_permissive_nulls(spark, tmp_path):
    """Schema'd JSONL scan: bad lines become null rows (the
    reference's null-on-parse-failure posture), never a job failure."""
    from youtube_etl_automated_pipeline_spark.plans.queries_sources import (
        DOCUMENTS_SCHEMA,
    )
    from youtube_etl_automated_pipeline_spark.sources import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "also ok", "lang": "de", "source": "s", "n_chars": 7}\n'
    )
    rows = read_jsonl(spark, str(p), DOCUMENTS_SCHEMA).collect()
    assert len(rows) == 3
    good = [r for r in rows if r.doc_id is not None]
    assert {r.doc_id for r in good} == {1, 2}


def test_orc_filter_pushdown(spark, tmp_path):
    """ORC scans must keep the same pushdown properties as parquet."""
    from youtube_etl_automated_pipeline_spark.sources import read_orc

    out = str(tmp_path / "t.orc")
    spark.range(100).withColumn("v", F.col("id") * 2).write.orc(out)
    df = read_orc(spark, out).filter(F.col("id") > 50).select("v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,50)]" in plan
    assert df.count() == 49


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema-on-read evolution: files written before a column existed
    read back as nulls under mergeSchema — the additive-evolution
    contract a long-lived 100 TB table needs."""
    base = str(tmp_path / "evo")
    spark.range(5).selectExpr("id", "id * 2 AS a").write.parquet(base + "/d=1")
    spark.range(5).selectExpr(
        "id", "id * 2 AS a", "id * 3 AS b"
    ).write.parquet(base + "/d=2")
    df = spark.read.option("mergeSchema", "true").parquet(base + "/d=1", base + "/d=2")
    assert set(df.columns) == {"id", "a", "b"}
    assert df.filter(F.col("b").isNull()).count() == 5
    assert df.filter(F.col("b").isNotNull()).count() == 5


def test_partitioned_events_partition_pruning(spark):
    """The date-range filter must become directory-level partition
    pruning: the scan's PartitionFilters carry the between bounds and
    the partition count read equals the 3 selected days."""
    from youtube_etl_automated_pipeline_spark.sources import (
        materialize_partitioned_events,
    )

    path = materialize_partitioned_events(spark, SF_SMOKE)
    df = spark.read.parquet(path).filter(
        F.col("event_date").between("2024-01-10", "2024-01-12")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters", 1)[1][:300]
    days = df.select("event_date").distinct().count()
    assert days == 3


def test_paged_api_source_partitions_and_determinism(spark):
    """The custom Python Data Source plans one input partition per
    page (parallel 'requests', no driver cursor loop) and produces
    deterministic rows with the declared schema."""
    from youtube_etl_automated_pipeline_spark.sources.paged_api import register

    register(spark)
    df = (
        spark.read.format("paged_api_sim")
        .option("pages", 4)
        .option("page_size", 10)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert [f.name for f in df.schema.fields] == ["page", "item_id", "video_code", "score"]
    rows = df.orderBy("item_id").collect()
    assert len(rows) == 40
    assert rows[0].item_id == 0 and rows[-1].item_id == 39
    assert rows[1].video_code == "VID%09d" % (2654435761 % 100_000_007)
    assert rows[7].score == ((7 * 7919) % 1000) / 10.0


def test_compaction_packs_multifile_table(spark, tmp_path):
    """Real multi-file packing: 7 files of known sizes against a
    1000-row target must produce first-fit-by-prefix-sum bins, and
    every bin except the last per table stays under target + its
    first file's slack."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sizes = [900, 800, 400, 300, 200, 100, 50]
    d = tmp_path / "t"
    d.mkdir()
    for i, n in enumerate(sizes):
        pq.write_table(
            pa.table({"x": list(range(n))}), str(d / f"part-{i:02d}.parquet")
        )
    files = file_census(spark, {"t": str(d)})
    got = {
        r["file_name"]: (r["n_rows"], r["bin_id"])
        for r in compaction_plan(files, 1000).collect()
    }
    assert len(got) == len(sizes)
    # python referee: sort by (rows desc, name asc), next-fit rule
    names = sorted(got, key=lambda f: (-got[f][0], f))
    cum = 0
    for f in names:
        n, b = got[f]
        assert b == cum // 1000, (f, n, b, cum)
        cum += n


def test_compaction_gate_layout_single_file_per_table(spark):
    """On driver testdata every table is one file, so every file is
    bin 0 of its table and counts equal the table row counts."""
    rows = compaction_bin_packing(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["file_name"] == f"{r['table_name']}.parquet"
        assert r["bin_id"] == 0
        assert 0 < r["n_rows"] < COMPACT_TARGET_ROWS
