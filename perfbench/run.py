"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 1 --trace 0

Runs one workload the way a user runs the program: a fresh process on
``local[nproc]`` with default settings (the benchmark sets no
``SPARK_GRAFT_*`` knob except ``SPARK_GRAFT_CPUS``) over tables generated
from ``--seed``. Untraced runs (``--trace 0``) report the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics of ``rollup.py``.
Every query execution is checked against its DuckDB oracle after the
timed work. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

A run starts one worker process: set-up, one cold pass, then warm
passes for ``--seconds`` (at least one; ``warm_s`` is the fastest).
Generated tables are cached per seed under ``.perfbench_work/`` in the
checkout; everything else a run writes is removed when it ends.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "__spark_entry__.py",
    "youtube_etl_automated_pipeline_spark/session.py",
    "tests/strict_compare.py",
    "tests/oracle_compare.py",
)
RUN_BUDGET_S = 170  # a run that is not done by then is killed and fails
PAGE = os.sysconf("SC_PAGE_SIZE")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _session_pids(sid: int) -> list[int]:
    """Processes in session ``sid``: the worker and everything it
    started (the JVM, Python workers) unless they left the session."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            pids.append(int(d))
    return pids


def _tree_rss(sid: int) -> int:
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class Worker:
    """One worker process in a session of its own, with its peak
    resident set sampled from /proc every 50 ms."""

    def __init__(self, cfg: dict, env: dict, run_dir: str, deadline: float):
        self.cfg = cfg
        self.deadline = deadline
        os.makedirs(cfg["out_dir"], exist_ok=True)
        cfg_path = os.path.join(cfg["out_dir"], "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        self.log = open(os.path.join(cfg["out_dir"], "worker.log"), "w")
        self.spawn_wall = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=run_dir,
            env=env,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.peak_rss = 0
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while self.proc.poll() is None:
            self.peak_rss = max(self.peak_rss, _tree_rss(self.proc.pid))
            time.sleep(0.05)

    def wait(self) -> dict:
        """Wait for the worker, stop whatever it left behind, and
        return its result. Raises when it failed or ran out of time."""
        try:
            code = self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            self._stop_session()
            self._sampler.join()
            self.log.close()
        if code != 0:
            tail = open(self.log.name).read()[-3000:]
            raise RuntimeError(f"worker exit {code}; log tail:\n{tail}")
        with open(os.path.join(self.cfg["out_dir"], "result.json")) as f:
            return json.load(f)

    def _stop_session(self) -> None:
        sid = self.proc.pid
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not _session_pids(sid):
                break
            try:
                os.killpg(sid, sig)
            except ProcessLookupError:
                break
            end = time.time() + 10
            while _session_pids(sid) and time.time() < end:
                time.sleep(0.1)
        if self.proc.poll() is None:
            self.proc.wait()


def prepare_data(work: str, sf: float, seed: int) -> str:
    """Generate (once per seed and scale) and return the table dir."""
    import datagen

    d = os.path.join(work, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_READY")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_tables(d, sf, seed)
        open(os.path.join(d, "_READY"), "w").close()
    return d


def worker_env(run_dir: str, trace: bool) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env["SPARK_GRAFT_CPUS"] = str(cpus())
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            "--conf spark.eventLog.logBlockUpdates.enabled=true pyspark-shell"
        )
    return env


def remove_program_leftovers(tag: str, pids: list[int]) -> None:
    """The program keeps per-input fixtures and per-run state under
    /tmp and /dev/shm, keyed by the input directory's name (unique per
    run here) and by the worker's pid; remove this run's."""
    roots = ["/tmp/spark_graft_cdc", "/tmp/spark_graft_aggstate"]
    for state_root in ("/dev/shm/spark_graft_tmp/runstate", "/tmp/spark_graft_runstate"):
        roots += glob.glob(os.path.join(state_root, "*"))
    for r in roots:
        shutil.rmtree(os.path.join(r, tag), ignore_errors=True)
    for pid in pids:
        for d in glob.glob(f"/dev/shm/spark_graft_tmp/pid-{pid}-*"):
            shutil.rmtree(d, ignore_errors=True)


def run(workload: str, seed: int, seconds: float, trace: bool, sf: float) -> dict:
    """Run one benchmark invocation; returns the summary dict."""
    from workloads import WORKLOADS

    wl = WORKLOADS[workload]
    started = time.time()
    deadline = started + RUN_BUDGET_S
    work = os.path.join(ROOT, ".perfbench_work")
    data = prepare_data(work, sf, seed)
    token = uuid.uuid4().hex[:10]
    run_dir = os.path.join(work, "runs", token)
    # A fresh input-directory name per run: the program memoizes
    # per-input fixtures by that name, and a cold pass must build them.
    tag = f"pb{seed}-{token}"
    sf_dir = os.path.join(run_dir, tag)
    shutil.copytree(data, sf_dir)
    pids: list[int] = []  # the worker's, once started
    try:
        env = worker_env(run_dir, trace)
        base = {"root": ROOT, "workload": workload, "sf_dir": sf_dir,
                "seconds": seconds, "trace": trace,
                "work_dir": os.path.join(run_dir, "work")}
        main = Worker({**base, "out_dir": os.path.join(run_dir, "main")}, env, run_dir, deadline)
        pids.append(main.proc.pid)
        result = main.wait()

        import check

        check_start = time.time()
        with open(os.path.join(run_dir, "main", "outputs.pkl"), "rb") as f:
            outputs = pickle.load(f)  # written by this run's own worker
        attempted, failed, problems = check.check_run(
            sf_dir, wl, result["passes"], outputs, base["work_dir"]
        )
        warm = [p["seconds"] for p in result["passes"] if p["kind"] == "warm"]
        summary = {
            "workload": workload, "seed": seed, "cpus": cpus(),
            "attempted": attempted, "failed": failed, "problems": problems,
            "warm_samples": warm,
            "e2e": {
                "setup_s": result["setup"]["ready_wall"] - main.spawn_wall,
                "cold_s": result["passes"][0]["seconds"],
                # the shared host only ever slows a pass: take the fastest
                "warm_s": min(warm),
                "peak_rss_mb": main.peak_rss / 2**20,
            },
        }
        if trace:
            import rollup

            summary["per_layer"] = rollup.per_layer(result, os.path.join(run_dir, "eventlog"))
            summary["per_layer"]["session.peak_rss_mb"] = summary["e2e"]["peak_rss_mb"]
            summary["modules_restored"] = result["modules_restored"]
        summary["check_s"] = time.time() - check_start
        summary["wall_s"] = time.time() - started
        return summary
    finally:
        remove_program_leftovers(tag, pids)
        shutil.rmtree(run_dir, ignore_errors=True)


# the end-to-end metrics of BENCHMARK.json. peak_rss_mb is printed but
# not gated: the JVM's heap growth moved it by 30-46% between seeds.
UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


def declared_per_layer() -> set[str] | None:
    """Per-layer metric names BENCHMARK.json declares, None without it.
    The JSON line carries only these; the others (exactly 0 on every
    scored workload) are printed above it."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return {m["name"] for m in json.load(f)["per_layer"]}


def unit_of(name: str) -> str:
    base = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB")):
        if base.endswith(suffix):
            return unit
    if "bytes" in base:
        return "bytes"
    if base.endswith(("_ratio", "_coverage")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="table scale (0.1 = lineitem 600k rows); default: the workload's")
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the finally blocks that stop the workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found next to the benchmark (missing {missing})",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    sf = args.sf if args.sf is not None else WORKLOADS[args.workload].sf
    s = run(args.workload, args.seed, args.seconds, bool(args.trace), sf)
    e = s["e2e"]
    print(f"{s['workload']} seed={s['seed']} cpus={s['cpus']} sf={sf} "
          f"wall={s['wall_s']:.1f}s (output check {s['check_s']:.1f}s)")
    print(f"  setup_s     {e['setup_s']:.3f} s   (process spawn to ready)")
    print(f"  cold_s      {e['cold_s']:.3f} s   (first pass)")
    print(f"  warm_s      {e['warm_s']:.3f} s   (fastest of the warm passes: "
          f"{', '.join(f'{w:.3f}' for w in s['warm_samples'])})")
    print(f"  peak_rss_mb {e['peak_rss_mb']:.1f} MB")
    print(f"  failed_frac {s['failed'] / s['attempted']:.4f} ratio "
          f"({s['failed']} of {s['attempted']} executions)")
    for p in s["problems"][:10]:
        print(f"  FAILED {p}")
    if args.trace:
        pl = s["per_layer"]
        print(f"  trace.warm_s {pl['trace.warm_s']:.3f} s (tracing overhead: this minus "
              "the untraced runs' median warm_s)")
        print(f"  modules restored: {s['modules_restored']}")
        for k, v in pl.items():
            print(f"  {k} {v!r} {unit_of(k)}")
        declared = declared_per_layer()
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in pl.items()
                   if declared is None or k in declared}
    else:
        metrics = {k: {"value": e[k], "unit": UNITS[k]} for k in UNITS}
    print(json.dumps({"correct": s["failed"] == 0, "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
