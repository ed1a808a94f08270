"""Worker-side tracing for the traced run.

Everything here sits outside the program: spans are recorded around
calls into the program's public functions by wrappers this module
installs on the program's module attributes (and removes again), job
groups tag each (pass, query, phase), and a ``StreamingQueryListener``
keeps every micro-batch's progress. Spans live in memory and are
written once, when the run ends.

An untraced run uses ``NullTracer``: no wrappers, tags or listener.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import sys
import threading
import time

PACKAGE = "youtube_etl_automated_pipeline_spark"

# span name -> (module, function). Every module attribute bound to the
# function object (re-exports and ``from x import f`` copies) is patched.
TARGETS = {
    "sources.load_table": (f"{PACKAGE}.sources.readers", "load_table"),
    "operators.memo_persist": (f"{PACKAGE}.operators.cache_registry", "memo_persist"),
    "pipeline.build_wide_fact": (f"{PACKAGE}.pipeline", "build_wide_fact"),
    "streaming.run_stream_to_memory": (
        f"{PACKAGE}.streaming.incremental",
        "run_stream_to_memory",
    ),
    "streaming.run_cdc_merge_stream": (f"{PACKAGE}.streaming.merge", "run_cdc_merge_stream"),
    "streaming.run_partials_stream": (f"{PACKAGE}.streaming.aggstate", "run_partials_stream"),
    "sinks.flush": (f"{PACKAGE}.sinks", "flush"),
    "sinks.append_table": (f"{PACKAGE}.sinks", "append_table"),
    "sinks.dedup_table_swap": (f"{PACKAGE}.sinks", "dedup_table_swap"),
    "sinks.truncate_staging": (f"{PACKAGE}.sinks", "truncate_staging"),
    "sinks.overwrite_table": (f"{PACKAGE}.sinks", "overwrite_table"),
}
# sinks functions that write files; each names its table ``path``
WRITERS = {
    "sinks.append_table",
    "sinks.dedup_table_swap",
    "sinks.truncate_staging",
    "sinks.overwrite_table",
}


def _module_attrs():
    """(module, attribute, value) over every loaded program module."""
    for name, mod in list(sys.modules.items()):
        if mod is not None and (name == PACKAGE or name.startswith(PACKAGE + ".")):
            for attr, value in list(vars(mod).items()):
                yield mod, attr, value


def module_snapshot() -> dict[tuple[str, str], int]:
    """id() of every attribute of every loaded program module."""
    return {(m.__name__, attr): id(value) for m, attr, value in _module_attrs()}


def restored(before: dict[tuple[str, str], int]) -> bool:
    """True when every attribute in ``before`` is bound to the same
    object again (modules loaded since may add attributes)."""
    after = module_snapshot()
    return all(after.get(k) == v for k, v in before.items())


def _parquet_files(path: str) -> dict[str, int]:
    """{file name: size} of the data files of a table directory."""
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return {}
    return {
        n: os.path.getsize(os.path.join(path, n))
        for n in names
        if n.endswith(".parquet")
    }


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
        for n in _parquet_files(path)
    )


class NullTracer:
    """Untraced run: every hook is a no-op."""

    @contextlib.contextmanager
    def pass_span(self, pass_no):
        yield

    @contextlib.contextmanager
    def phase(self, pass_no, query, phase):
        yield


class Tracer:
    """Spans, wrappers, job-group tags and the streaming listener of
    one traced run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._wrappers: dict[int, tuple] = {}  # id(wrapper) -> (wrapper, original)
        self._seen_scans: dict[tuple, object] = {}
        self.progress: list[dict] = []
        self._progress_lock = threading.Lock()
        self._listener = None

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def pass_span(self, pass_no):
        with self.span("pass", pass_no=pass_no):
            yield

    @contextlib.contextmanager
    def phase(self, pass_no, query, phase):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"pb|{pass_no}|{query}|{phase}", f"{query} {phase}")
        try:
            with self.span(f"plans.{phase}", query=query):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        import importlib

        for span_name, (mod_name, fn_name) in TARGETS.items():
            original = getattr(importlib.import_module(mod_name), fn_name)
            wrapper = self._wrap(span_name, original)
            self._wrappers[id(wrapper)] = (wrapper, original)
            for mod, attr, value in _module_attrs():
                if value is original:
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        """Put every original back, also where a module imported while
        the wrappers were installed copied a wrapper."""
        for mod, attr, value in _module_attrs():
            entry = self._wrappers.get(id(value))
            if entry is not None and entry[0] is value:
                setattr(mod, attr, entry[1])

    def _wrap(self, span_name, original):
        sig = inspect.signature(original)
        tracer = self

        def wrapper(*args, **kwargs):
            bound = sig.bind(*args, **kwargs)
            with tracer.span(span_name) as attrs:
                if span_name == "operators.memo_persist":
                    return tracer._memo_persist(original, bound, attrs)
                if span_name in WRITERS:
                    return tracer._writer(original, bound, attrs)
                out = original(*bound.args, **bound.kwargs)
                if span_name == "sources.load_table":
                    a = bound.arguments
                    key = (a["spark"].sparkContext.applicationId, a["sf_dir"], a["name"])
                    attrs["hit"] = tracer._seen_scans.get(key) is out
                    tracer._seen_scans[key] = out
                return out

        wrapper.__wrapped__ = original
        wrapper.__name__ = original.__name__
        return wrapper

    @staticmethod
    def _memo_persist(original, bound, attrs):
        """A hit is a call whose ``build`` callback never runs."""
        build = bound.arguments["build"]
        attrs["hit"] = True

        def counted_build():
            attrs["hit"] = False
            return build()

        bound.arguments["build"] = counted_build
        return original(*bound.args, **bound.kwargs)

    @staticmethod
    def _writer(original, bound, attrs):
        path = bound.arguments["path"]
        before = _parquet_files(path)
        attrs["rows_before"] = _parquet_rows(path) if before else 0
        out = original(*bound.args, **bound.kwargs)
        after = _parquet_files(path)
        new = [n for n in after if n not in before]
        attrs["files"] = len(new)
        attrs["bytes"] = sum(after[n] for n in new)
        attrs["rows_after"] = _parquet_rows(path)
        return out

    # -- streaming listener --------------------------------------------
    def add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with tracer._progress_lock:
                    tracer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = ProgressListener()
        self.spark.streams.addListener(self._listener)

    def drain_listener(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
        """Progress events arrive asynchronously: wait until none has
        arrived for ``quiet_s`` seconds, then detach the listener."""
        deadline = time.time() + limit_s
        seen = -1
        while time.time() < deadline:
            with self._progress_lock:
                n = len(self.progress)
            if n == seen:
                break
            seen = n
            time.sleep(quiet_s)
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
