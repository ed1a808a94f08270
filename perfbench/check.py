"""Untimed output check: every query execution of a run against its
DuckDB oracle on the same generated tables, bit-exact, with the
repository's own compare (``tests/strict_compare.py``) and views
(``tests/oracle_compare.py``)."""

from __future__ import annotations

from collections import Counter

from workloads import FLUSH_BATCHES, FLUSH_QUERY, flush_paths


class Collected:
    """Rows a worker collected, shaped like the DataFrame that
    ``strict_compare`` expects."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def check_run(sf_dir, workload, passes, outputs, work_dir):
    """Returns (attempted, failed, problems). An execution fails when it
    raised, produced no output, or differs from the oracle."""
    import __spark_entry__
    from tests.oracle_compare import duckdb_conn
    from tests.strict_compare import norm_rows, strict_compare

    oracles = __spark_entry__.oracle_sql()
    con = duckdb_conn(sf_dir)
    verified: dict[str, object] = {}  # query -> fingerprint of rows that matched
    attempted = failed = 0
    problems: list[str] = []

    def fingerprint(cols, rows):
        """Equal for the same columns and the same multiset of rows, so
        an output equal to one that matched its oracle needs no second
        compare."""
        try:
            return tuple(cols), Counter(rows)
        except TypeError:  # unhashable cells (arrays)
            return norm_rows(cols, rows)

    def judge(name, cols, rows, sql):
        fp = fingerprint(cols, rows)
        if verified.get(name) == fp:
            return []
        errs = strict_compare(Collected(cols, rows), con, sql)
        if not errs:
            verified[name] = fp
        return errs

    for p in passes:
        for name, rec in p["queries"].items():
            attempted += 1
            if rec["error"]:
                errs = [rec["error"]]
            elif name == "flush":
                errs = _check_flush(con, work_dir, p["no"], judge, oracles[FLUSH_QUERY])
            elif name not in outputs.get(p["no"], {}):
                errs = ["no output"]
            else:
                cols, rows = outputs[p["no"]][name]
                errs = judge(name, cols, rows, oracles[name])
            if errs:
                failed += 1
                problems.append(f"pass {p['no']} {name}: {errs[0]}")
    con.close()
    return attempted, failed, problems


def _check_flush(con, work_dir, pass_no, judge, sql):
    """The flushed table holds one row per video_id, equal to the
    oracle's pipeline rows, and each row comes from the last batch that
    flushed its video_id (keep-last on ``flush_seq``)."""
    _, table = flush_paths(work_dir, pass_no)
    rows_sql = f"SELECT * FROM read_parquet('{table}/*.parquet')"
    # the batch whose rows must survive: the last one covering the bucket
    last = " ".join(
        f"WHEN bucket >= {lo} AND bucket < {hi} THEN {seq}"
        for seq, lo, hi in reversed(FLUSH_BATCHES)
    )
    wrong = con.sql(
        f"SELECT count(*) FROM (SELECT flush_seq, CAST(video_id AS BIGINT) % 10 AS bucket "
        f"FROM ({rows_sql})) WHERE flush_seq IS DISTINCT FROM (CASE {last} END)"
    ).fetchone()[0]
    if wrong:
        return [f"{wrong} flushed rows are not from the last batch of their video_id"]
    rel = con.sql(f"SELECT * EXCLUDE (flush_seq) FROM ({rows_sql})")
    cols, rows = list(rel.columns), rel.fetchall()
    ids = {r[cols.index("video_id")] for r in rows}
    if len(ids) != len(rows):
        return [f"flushed table has {len(rows)} rows for {len(ids)} video_ids"]
    return judge("flush", cols, rows, sql)
