"""One benchmark process: set up a Spark session as a user would, then
run a cold pass and warm passes of one workload.

Usage: python3 perfbench/worker.py <config.json>

The config names the checkout root, the workload, the data directory,
the warm-phase budget and whether to trace. Timings go to
``result.json`` and query outputs to ``outputs.pkl`` in the config's
``out_dir``; the parent checks them.
"""

from __future__ import annotations

import json
import os
import pickle
import statistics
import sys
import time
import uuid

TRIVIAL_JOBS = 5  # noop jobs timed for session.trivial_job_s (traced run)


def _noop_job(spark) -> float:
    t = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    setup = {}

    t = time.perf_counter()
    from youtube_etl_automated_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    setup["start_s"] = time.perf_counter() - t
    t = time.perf_counter()
    import __spark_entry__

    registry = __spark_entry__.queries()
    setup["import_s"] = time.perf_counter() - t
    _noop_job(spark)
    setup["ready_wall"] = time.time()

    import tracing
    from workloads import WORKLOADS, run_pass

    result = {"setup": setup, "passes": []}
    workload = WORKLOADS[cfg["workload"]]
    if cfg["trace"]:
        setup["trivial_job_s"] = statistics.median(
            _noop_job(spark) for _ in range(TRIVIAL_JOBS)
        )
        tracer = tracing.Tracer(spark, uuid.uuid4().hex[:12])
        snapshot = tracing.module_snapshot()
        tracer.install()
        tracer.add_listener()
    else:
        tracer = tracing.NullTracer()

    outputs: dict[int, dict] = {}

    def one_pass(pass_no: int, kind: str) -> None:
        t0 = time.time()
        secs, records, outs = run_pass(
            spark, registry, workload, cfg["sf_dir"], cfg["work_dir"], pass_no, tracer
        )
        result["passes"].append(
            {"no": pass_no, "kind": kind, "seconds": secs, "start": t0,
             "end": time.time(), "queries": records}
        )
        outputs[pass_no] = outs

    one_pass(0, "cold")
    warm_start = time.perf_counter()
    pass_no = 1
    while pass_no == 1 or time.perf_counter() - warm_start < cfg["seconds"]:
        one_pass(pass_no, "warm")
        pass_no += 1

    if cfg["trace"]:
        tracer.uninstall()
        tracer.drain_listener()
        result["spans"] = tracer.spans
        result["progress"] = tracer.progress
        result["modules_restored"] = tracing.restored(snapshot)
    _write(cfg["out_dir"], result, outputs)
    spark.stop()


def _write(out_dir: str, result: dict, outputs: dict) -> None:
    with open(os.path.join(out_dir, "outputs.pkl"), "wb") as f:
        pickle.dump(outputs, f)
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
