"""String/code-derivation column functions (SURVEY.md section 2.9 F1-F10,
section 2.3 P5-P7).

The reference implements these as row-wise pandas lambdas
(reference: Python-pipeline/dataingestion2.py:33-64); every one is a pure
column expression here — JVM-side, whole-stage-codegen'd, zero Python
UDFs, so the chain costs one projection at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS


def extract_last_word(title: Column) -> Column:
    """F2: last whitespace token of the title after '|' -> ' '.

    Reference: dataingestion2.py:33-40 — ``title.replace('|',' ').split()``
    then last token; null/empty/whitespace-only -> ''.
    WS_CLASS: pinned ASCII whitespace set shared with the DuckDB
    oracle (Java `\\s` and RE2 `\\s` differ on \\x0B).
    """
    cleaned = F.trim(F.regexp_replace(title, r"\|", " "))
    return F.when(
        cleaned.isNull() | (cleaned == ""), F.lit("")
    ).otherwise(F.element_at(F.split(cleaned, WS_CLASS + "+"), -1))


def clean_main_code(main_code: Column) -> Column:
    """P5-P7 cleaning chain (dataingestion2.py:45-51).

    Blank the code when: length not in {3,4,5} (P5), all digits (P6),
    or more than one lowercase letter (P7). Order matches the
    reference (each rule sees the original value; rules only blank).
    Lowercase is UNICODE category Ll — the reference counts via
    ``str.islower()`` (dataingestion2.py:51), which is Unicode-aware,
    so 'é' counts; Java and RE2 both accept ``\\p{Ll}``.
    """
    length_ok = F.length(main_code).isin(3, 4, 5)
    all_digits = main_code.rlike(r"^[0-9]+$")
    lowercase_census = F.length(F.regexp_replace(main_code, r"[^\p{Ll}]", ""))
    keep = length_ok & ~all_digits & (lowercase_census <= 1)
    return F.when(keep, main_code).otherwise(F.lit(""))


def code_prefix(main_code: Column, length: Column) -> Column:
    """F6: 2-char prefix when len==4 else 3-char (dataingestion2.py:58-61).

    len 3 -> whole code, len 5 -> first 3, len 0 ('') -> ''.
    """
    return F.when(length == 4, F.substring(main_code, 1, 2)).otherwise(
        F.substring(main_code, 1, 3)
    )


def last_char(code: Column) -> Column:
    """F7: final character, '' for empty (dataingestion2.py:64)."""
    return F.when(
        code.isNull() | (code == ""), F.lit("")
    ).otherwise(F.substring(code, -1, 1))


def sanitize_column_name(name: str) -> str:
    """F8: BigQuery-safe column names (ingestdatainbigquery.py:37-46).

    Metadata-level (driver-side) operation: non-word chars -> '_',
    collapse runs, strip edges.
    """
    import re

    out = re.sub(r"[^\w]", "_", name)
    out = re.sub(r"__+", "_", out)
    return out.strip("_")
