"""Spans and Spark counters, taken from outside the engine.

Tracing is used only by ``--trace 1`` runs. ``install`` swaps public
engine functions, as module attributes, for wrappers that record a span
per call. Code that imports a function at call time (as
``orchestration.operational_rehearsal`` does for its stages) then calls
the wrapper. When a wrapped function returns a lazy DataFrame, the
action that later forces it (``count``/``collect``/…) is recorded under
the same span name, so the span holds the work and not just the plan.

Spark counters come from the application status store
(``sc._jsc.sc().statusStore()``) after the run. A job belongs to a span
when it was submitted inside the span's interval. Job groups are not
used: jobs started from plain driver threads do not inherit them.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time

# engine module → public functions wrapped in traced runs; a span is
# named "<last module name part>.<function>", e.g. "jobs.run_lex_ingest"
TARGETS = {
    "etl_python_airflow_bigquery_spark.operators.ann_index": (
        "build_ivf_index", "search_ivf_index", "make_serve_context",
        "busqueda_hibrida_indexada_multi"),
    "etl_python_airflow_bigquery_spark.operators.lex_index": (
        "build_lex_index", "search_bm25_lex_index"),
    "etl_python_airflow_bigquery_spark.operators.dedup_state": (
        "build_dedup_state", "ingest_dedup_state"),
    "etl_python_airflow_bigquery_spark.streaming.jobs": (
        "run_semdedup_ingest", "run_lex_ingest", "run_hybrid_serve"),
    "etl_python_airflow_bigquery_spark.queries.marts": (
        "eventos_usuario_mart", "refresh_eventos_usuario_mart"),
}

_FORCING = ("count", "collect", "first", "toPandas", "take")


class Tracer:
    """Spans kept in memory; ``spans`` is written out once, at exit."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._next = 0
        self._local = threading.local()  # per-thread stack of open span ids

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> dict:
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, "start": time.time(), "end": None, **attrs}
        stack.append(sid)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == rec["id"]:
            stack.pop()
        if self.enabled:
            with self._lock:
                self.spans.append(rec)

    def install(self) -> None:
        """Wrap every TARGETS function as a module attribute."""
        for mod_name, attrs in TARGETS.items():
            mod = importlib.import_module(mod_name)
            for attr in attrs:
                fn = getattr(mod, attr)
                if not getattr(fn, "_perfbench_wrapped", False):
                    span_name = f"{mod_name.rsplit('.', 1)[-1]}.{attr}"
                    setattr(mod, attr, self._wrap(fn, span_name))

    def _wrap(self, fn, span_name: str):
        from pyspark.sql import DataFrame

        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                for action in _FORCING:
                    setattr(out, action, tracer._wrap_action(getattr(out, action), span_name))
            return out

        wrapper._perfbench_wrapped = True
        return wrapper

    def _wrap_action(self, bound, span_name: str):
        tracer = self

        @functools.wraps(bound)
        def action(*args, **kwargs):
            with tracer.span(span_name, action=bound.__name__):
                return bound(*args, **kwargs)

        return action


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.rec: dict | None = None

    def __enter__(self) -> dict:
        self.rec = self.tracer._open(self.name, self.attrs)
        return self.rec

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.rec)


# -- Spark status store ------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def spark_ledger(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job the status store still holds, as {id, start, end,
    stages}, and the last attempt of each of their stages by id."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        start = _opt_ms(j.submissionTime())
        if start is None:
            continue
        end = _opt_ms(j.completionTime()) or time.time()
        jobs.append({"id": j.jobId(), "start": start, "end": end,
                     "stages": [int(x) for x in _seq(j.stageIds())]})
    stages: dict[int, dict] = {}
    for sid in {s for j in jobs for s in j["stages"]}:
        try:
            s = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage evicted from the store
            continue
        stages[sid] = {
            "tasks": s.numCompleteTasks() + s.numFailedTasks(),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "input_mb": s.inputBytes() / 1e6,
            "shuffle_read_mb": (s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead()) / 1e6,
            "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
        }
    return jobs, stages


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def window_counters(jobs: list[dict], stages: dict[int, dict], start: float, end: float) -> dict:
    """Spark counters for the jobs submitted inside [start, end]."""
    mine = [j for j in jobs if start <= j["start"] <= end]
    sids = {s for j in mine for s in j["stages"] if s in stages}
    st = [stages[s] for s in sids]
    job_wall = _union([(j["start"], min(j["end"], end)) for j in mine])
    return {
        "spark.jobs": len(mine),
        "spark.stages": len(st),
        "spark.tasks": sum(s["tasks"] for s in st),
        "spark.exec_run_s": sum(s["run_s"] for s in st),
        "spark.exec_cpu_s": sum(s["cpu_s"] for s in st),
        "spark.job_wall_s": job_wall,
        "driver.gap_s": max(0.0, (end - start) - job_wall),
        "shuffle.read_mb": sum(s["shuffle_read_mb"] for s in st),
        "shuffle.write_mb": sum(s["shuffle_write_mb"] for s in st),
        "scan.input_mb": sum(s["input_mb"] for s in st),
    }
