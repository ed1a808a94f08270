"""The session's scratch root: derived inputs keyed by input path and
table contents, dead owners' roots swept, and the worker protobuf zip
built inside the private root."""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import types
import zipfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_compare import compare, duckdb_conn
from youtube_etl_automated_pipeline_spark.plans.registry import oracle_sql
from youtube_etl_automated_pipeline_spark.plans.queries_sources import (
    jsonl_documents_rollup,
)
from youtube_etl_automated_pipeline_spark.sources import materialize_format


def _copy_input(dst, documents=None) -> str:
    """A copy of the smoke tables at ``dst``, its documents table
    optionally replaced."""
    shutil.copytree(SF_SMOKE, dst)
    if documents is not None:
        pq.write_table(documents, os.path.join(dst, "documents.parquet"))
    return str(dst)


def _half_documents():
    docs = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    return docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0))


def _assert_rollup_matches_oracle(spark, sf_dir):
    errors = compare(
        jsonl_documents_rollup(spark, sf_dir),
        duckdb_conn(sf_dir),
        oracle_sql()["jsonl_documents_rollup"],
    )
    assert not errors, "; ".join(errors[:6])


def test_same_named_inputs_get_their_own_fixtures(spark, tmp_path):
    a = _copy_input(tmp_path / "a" / "sf")
    b = _copy_input(tmp_path / "b" / "sf", _half_documents())
    fixtures = [materialize_format(spark, d, "documents", "jsonl") for d in (a, b)]
    assert fixtures[0] != fixtures[1]
    for d in (a, b):
        _assert_rollup_matches_oracle(spark, d)


def test_rewritten_table_rebuilds_its_fixture(spark, tmp_path):
    d = _copy_input(tmp_path / "sf")
    first = materialize_format(spark, d, "documents", "jsonl")
    pq.write_table(_half_documents(), os.path.join(d, "documents.parquet"))
    assert materialize_format(spark, d, "documents", "jsonl") != first
    _assert_rollup_matches_oracle(spark, d)


def test_sweep_removes_dead_owners_and_keeps_live_ones(tmp_path):
    from youtube_etl_automated_pipeline_spark.session import (
        _sweep_dead_owners,
        scratch_root,
    )

    proc = subprocess.Popen(["true"])
    proc.wait()  # reaped: its pid names no process now
    dead = tmp_path / f"pid-{proc.pid}-x"
    live = tmp_path / f"pid-{os.getpid()}-x"
    dead.mkdir()
    live.mkdir()
    _sweep_dead_owners(str(tmp_path))
    assert not dead.exists()
    assert live.is_dir()

    root = scratch_root()
    assert os.path.basename(root).startswith(f"pid-{os.getpid()}-")
    assert os.stat(root).st_mode & 0o777 == 0o700


@pytest.mark.skipif(
    importlib.util.find_spec("google") is not None
    and importlib.util.find_spec("google.protobuf") is not None
    and "vendor" not in (importlib.util.find_spec("google.protobuf").origin or ""),
    reason="a real protobuf distribution ships nothing to workers",
)
def test_worker_protobuf_zip_lives_in_the_private_scratch_root():
    from youtube_etl_automated_pipeline_spark.session import (
        ensure_protobuf_on_session,
        scratch_root,
    )

    added: list[str] = []
    sc = types.SimpleNamespace(environment={}, addPyFile=added.append)
    ensure_protobuf_on_session(types.SimpleNamespace(sparkContext=sc))
    (zip_path,) = added
    root = scratch_root()
    assert os.path.dirname(zip_path) == root
    assert os.stat(root).st_mode & 0o777 == 0o700
    assert "google/protobuf/__init__.py" in zipfile.ZipFile(zip_path).namelist()
