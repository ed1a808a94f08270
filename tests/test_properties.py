"""Property-based tests (hypothesis): the engine's column-expression
re-implementations must match a pure-Python mirror of the reference's
pandas semantics on arbitrary inputs, not just the fixtures."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# mirror of the reference chain (dataingestion2.py:33-64), pure python
PRINTABLE = st.text(
    st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)


def ref_extract_last_word(title: str | None) -> str:
    if not title:
        return ""
    words = title.replace("|", " ").split()
    return words[-1] if words else ""


def ref_clean(code: str) -> str:
    if len(code) not in (3, 4, 5):
        return ""
    if code.isdigit():
        return ""
    if sum(1 for c in code if c.islower() and c.isascii()) > 1:
        return ""
    return code


def ref_prefix(code: str) -> str:
    return code[:2] if len(code) == 4 else code[:3]


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(st.one_of(st.none(), PRINTABLE), min_size=1, max_size=25))
def test_code_chain_matches_reference_semantics(spark, titles):
    from youtube_etl_automated_pipeline_spark.functions import text as X

    df = spark.createDataFrame([(t,) for t in titles], "title string")
    raw = X.extract_last_word(F.col("title"))
    out = df.select(
        "title",
        raw.alias("raw"),
        X.clean_main_code(raw).alias("clean"),
        X.code_prefix(X.clean_main_code(raw), F.length(X.clean_main_code(raw))).alias(
            "prefix"
        ),
        X.last_char(X.clean_main_code(raw)).alias("last"),
    ).collect()
    for r in out:
        exp_raw = ref_extract_last_word(r["title"])
        assert (r["raw"] or "") == exp_raw, r
        exp_clean = ref_clean(exp_raw)
        assert (r["clean"] or "") == exp_clean, r
        assert (r["prefix"] or "") == ref_prefix(exp_clean), r
        assert (r["last"] or "") == (exp_clean[-1] if exp_clean else ""), r


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 1000)),
        min_size=1,
        max_size=40,
    )
)
def test_keep_last_matches_pandas_semantics(spark, rows):
    """keep_last == pandas drop_duplicates(keep='last') over a frame
    sorted by the order column (dataingestion1.py:166-168)."""
    import pandas as pd

    from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last

    data = [(k, seq, i) for i, (k, seq) in enumerate(rows)]
    df = spark.createDataFrame(data, "key int, seq int, uid int")
    got = {
        r["key"]: r["uid"]
        for r in keep_last(df, ["key"], ["seq", "uid"]).collect()
    }
    pdf = pd.DataFrame(data, columns=["key", "seq", "uid"]).sort_values(
        ["seq", "uid"], kind="stable"
    )
    exp = pdf.drop_duplicates(subset=["key"], keep="last").set_index("key")["uid"]
    assert got == exp.to_dict()


def test_logreg_trainer_beats_majority_class(spark):
    """The distributed gradient-descent trainer must actually LEARN:
    accuracy on the planted linear label has to clear the majority
    class by a real margin (the planted rule is separable, so a
    correct trainer lands well above it; a broken gradient lands at
    the majority rate)."""
    from tests.conftest import SF_SMOKE
    from youtube_etl_automated_pipeline_spark.ext import logreg
    from youtube_etl_automated_pipeline_spark.sources import load_table, widen_scan

    docs = widen_scan(load_table(spark, SF_SMOKE, "documents"))
    feat = logreg.features(docs).persist()
    try:
        w = logreg.train(feat)
        scored = logreg.score(feat, w)
        agg = scored.select(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("predicted") == (F.col("label") == 1)).cast("int")).alias(
                "hits"
            ),
            F.sum("label").alias("pos"),
        ).collect()[0]
        acc = agg["hits"] / agg["n"]
        majority = max(agg["pos"], agg["n"] - agg["pos"]) / agg["n"]
        assert acc >= majority + 0.05, (acc, majority, w)
        assert acc >= 0.85, (acc, w)
    finally:
        feat.unpersist()


def test_winnowing_recovers_planted_substring_copies(spark):
    """The winnowing guarantee: every planted substring-copy doc whose
    normalized copy meets the guarantee length (WIN_K + WIN_W - 1)
    must surface as a (source, copy) pair; and no fingerprint is
    emitted for docs below that length."""
    import re

    import duckdb

    from tests.conftest import SF_SMOKE
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        WIN_K,
        WIN_W,
        WS_CHARS,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        PLANT_EVERY_SUB,
        PLANT_OFFSET_SUB,
        dedup_repeated_substring,
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_repeated_substring(spark, SF_SMOKE).collect()
    }

    con = duckdb.connect()
    src = con.execute(
        f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet' "
        f"WHERE doc_id % {PLANT_EVERY_SUB} = 0"
    ).fetchall()
    guarantee = WIN_K + WIN_W - 1
    expected, too_short = [], []
    for did, text in src:
        sub = (text or "")[20:180]
        norm = re.sub("[" + WS_CHARS + "]+", " ", sub.strip(" ")).lower()
        (expected if len(norm) >= guarantee else too_short).append(did)
    assert expected, "fixture regression: no plantable docs"
    for did in expected:
        assert (did, did + PLANT_OFFSET_SUB) in got, f"planted pair {did} missed"
    for did in too_short:
        assert (did, did + PLANT_OFFSET_SUB) not in got


def test_prefix_filter_is_exact_at_threshold(spark):
    """Prefix filtering is EXACT (unlike LSH): the result must equal
    the brute-force all-pairs sweep at the same threshold."""
    import duckdb

    from tests.conftest import SF_SMOKE
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import _SH_HASHES
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        JAC_DEN,
        JAC_NUM,
        dedup_prefix_filter,
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_prefix_filter(spark, SF_SMOKE).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_SMOKE}/documents.parquet'"
    )
    brute = con.execute(f"""
        WITH base AS (
          SELECT doc_id, {_SH_HASHES} AS hs FROM documents
          WHERE len({_SH_HASHES}) >= 3
        )
        SELECT a.doc_id, b.doc_id
        FROM base a JOIN base b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.hs, b.hs)) * {JAC_DEN}
              >= {JAC_NUM} * (len(a.hs) + len(b.hs)
                              - len(list_intersect(a.hs, b.hs)))
    """).fetchall()
    assert got == set(brute)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_pareto_of_paretos_equals_global_skyline(points, n_parts):
    """Soundness of the two-phase skyline: the final prune over the
    union of per-partition prunes equals the brute-force undominated
    set, for ANY partitioning of the input (hypothesis-random points
    and splits) — the invariant pareto_frontier_orders relies on."""
    import pandas as pd

    from youtube_etl_automated_pipeline_spark.plans.queries_algo import (
        skyline_prune,
    )

    pts = sorted(set(points))
    brute = {
        p
        for p in pts
        if not any(
            q != p and q[0] >= p[0] and q[1] >= p[1] for q in pts
        )
    }
    parts = [pts[i::n_parts] for i in range(n_parts)]
    survivors = pd.concat(
        [
            skyline_prune(pd.DataFrame(part, columns=["x", "y"]), "x", "y")
            for part in parts
            if part
        ],
        ignore_index=True,
    )
    final = skyline_prune(survivors, "x", "y")
    assert set(zip(final["x"], final["y"])) == brute
