"""The benchmark's own checks, at a small table scale (sf 0.001).

    python3 perfbench/selftest.py            # every workload
    python3 perfbench/selftest.py etl_cycle  # one workload

Checks, each printed as PASS or FAIL:

- the same seed gives byte-identical tables; other seeds give the same
  row counts;
- the benchmark exits non-zero, printing no result, when the program
  is not next to it;
- per workload, an untraced run prints setup_s, cold_s, warm_s,
  peak_rss_mb and failed_frac with units, and failed_frac is 0;
- per workload, a traced run prints every per-layer metric, its JSON
  line carries those BENCHMARK.json lists, it leaves the
  program's module attributes as it found them, covers at least 95% of
  each pass with top-level spans, and the zero predictions hold
  exactly: no ext.* work on etl_cycle, streaming.* only on
  stream_state, sinks.* only on etl_cycle.

Runs one Spark process at a time; about a minute per workload and mode.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

import datagen
import rollup
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SF = 0.001
# layer -> the workloads that do its work; on every other workload its
# metrics are exactly 0
OWNERS = {
    "ext": ("curation_kernels", "stream_state"),
    "streaming": ("stream_state",),
    "sinks": ("etl_cycle",),
}
E2E = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio"}

failures: list[str] = []


def report(ok: bool, what: str) -> None:
    print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def bench(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_inputs(work: str) -> None:
    a, b, c = (os.path.join(work, n) for n in ("a", "b", "c"))
    datagen.write_tables(a, SF, 7)
    datagen.write_tables(b, SF, 7)
    datagen.write_tables(c, SF, 8)
    same = all(
        filecmp.cmp(os.path.join(a, f"{t}.parquet"), os.path.join(b, f"{t}.parquet"), shallow=False)
        for t in datagen.TABLES
    )
    report(same, "same seed gives identical tables")
    import pyarrow.parquet as pq

    counts = [
        {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in datagen.TABLES}
        for d in (a, c)
    ]
    report(counts[0] == counts[1], "row counts do not depend on the seed")


def check_stripped(work: str) -> None:
    """The benchmark alone (BENCHMARK.json and perfbench/) must refuse to run."""
    alone = os.path.join(work, "alone")
    shutil.copytree(HERE, os.path.join(alone, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), alone)
    p = bench(["--workload", "etl_cycle", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=alone)
    report(p.returncode != 0 and not p.stdout.strip(), "exits non-zero without the program")


def last_json(p: subprocess.CompletedProcess) -> dict:
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_untraced(name: str) -> None:
    p = bench(["--workload", name, "--seed", "11", "--seconds", "1", "--trace", "0",
               "--sf", str(SF)])
    if p.returncode != 0:
        report(False, f"{name}: untraced run exits 0\n{p.stderr[-2000:]}")
        return
    out = last_json(p)
    lines = p.stdout.splitlines()
    printed = all(any(ln.split()[:1] == [m] and f" {u}" in ln for ln in lines) for m, u in E2E.items())
    report(printed, f"{name}: prints all five end-to-end metrics with units")
    report(set(out) == {"correct", "attempted", "failed", "metrics"}, f"{name}: result keys")
    report(set(out["metrics"]) == set(E2E) - {"failed_frac", "peak_rss_mb"},
           f"{name}: untraced metric set")
    report(out["failed"] == 0 and out["attempted"] > 0 and out["correct"],
           f"{name}: failed_frac == 0 ({out['failed']} of {out['attempted']})")


def check_traced(name: str) -> None:
    p = bench(["--workload", name, "--seed", "12", "--seconds", "1", "--trace", "1", "--sf", str(SF)])
    if p.returncode != 0:
        report(False, f"{name}: traced run exits 0\n{p.stderr[-2000:]}")
        return
    out = last_json(p)
    names = set(rollup.metric_names())
    m = {}
    for ln in p.stdout.splitlines():
        parts = ln.split()
        if len(parts) == 3 and parts[0] in names:
            m[parts[0]] = float(parts[1])
    report(set(m) == names, f"{name}: every per-layer metric printed")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = {d["name"] for d in json.load(f)["per_layer"]}
    report(set(out["metrics"]) == declared, f"{name}: JSON carries the declared per-layer metrics")
    report(out["failed"] == 0, f"{name}: traced run outputs correct")
    report("modules restored: True" in p.stdout, f"{name}: module attributes restored")
    cov = min(m["trace.span_coverage.cold"], m["trace.span_coverage.warm"])
    report(cov >= 0.95, f"{name}: top-level spans cover >= 95% of a pass ({cov:.3f})")
    for layer, owners in OWNERS.items():
        work = {k: v for k, v in m.items() if k.startswith(layer + ".")}
        if name in owners:
            report(any(v > 0 for v in work.values()), f"{name}: {layer}.* work seen")
        else:
            nonzero = {k: v for k, v in work.items() if v != 0}
            report(not nonzero, f"{name}: no {layer}.* work {nonzero or ''}")


def main() -> int:
    names = sys.argv[1:] or list(WORKLOADS)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_work")) as work:
        check_inputs(work)
        check_stripped(work)
    for name in names:
        check_untraced(name)
        check_traced(name)
    print(f"\n{len(failures)} failed" if failures else "\nall passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
