"""Benchmark entry point.

    python3 perfbench/run.py --workload audiencia --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, builds the engine's Spark session on ``local[4]``, runs the
workload (see ``workloads.py`` and ``README.md``) and prints one JSON
object as the last line of standard output: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Every file the run writes
lives under one temporary directory in the checkout, removed at exit;
a traced run also leaves its spans in ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import generate  # noqa: E402
from tracing import Tracer, spark_ledger, window_counters  # noqa: E402
from workloads import AUDIENCIA_ROWS, WORKLOADS  # noqa: E402

CHECKOUT = os.getcwd()
ENGINE = "etl_python_airflow_bigquery_spark"

# scale factor of the generated tables (README.md, "Run budget")
SF = 0.01

END_TO_END = {"setup_s": "s", "pass_s": "s", "req_p50_s": "s", "req_p90_s": "s"}

QUERY_MODULES = ("core", "joins", "reshape", "programas_q", "extras",
                 "enrich_q", "lifecycle")
LAYER_SPANS = (
    "ann_index.build_ivf_index", "lex_index.build_lex_index",
    "dedup_state.build_dedup_state", "dedup_state.ingest_dedup_state",
    "jobs.run_semdedup_ingest", "jobs.run_lex_ingest", "jobs.run_hybrid_serve",
    "marts.eventos_usuario_mart", "marts.refresh_eventos_usuario_mart",
)
TXLOG = {"txlog.commits": "count", "txlog.files_written": "count",
         "txlog.mb_written": "MB", "txlog.write_amp": "x"}
SPARK = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
         "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.job_wall_s": "s",
         "driver.gap_s": "s", "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
         "scan.input_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    units = {f"setup.{p}_s": "s" for p in ("session", "state", "warmup")}
    units.update({f"queries.{m}_s": "s" for m in QUERY_MODULES})
    units.update({f"op.{r}_s": "s" for r in AUDIENCIA_ROWS})
    units.update({f"{s}_s": "s" for s in LAYER_SPANS})
    units["orchestration.overhead_s"] = "s"
    units.update(TXLOG)
    units.update({f"serve.{k}_p50_s": "s" for k in ("hibrida", "bm25", "ivf")})
    units.update({"serve.jobs_per_req": "count", "serve.tasks_per_req": "count",
                  "serve.input_mb_per_req": "MB"})
    units.update(SPARK)
    units["machine.probe_s"] = "s"
    units["timed.samples"] = "count"
    units["trace.unit_s"] = "s"
    return units


class Bench:
    def __init__(self, args, root: str, sf_dir: str, tracer) -> None:
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.root, self.sf_dir, self.tracer = root, sf_dir, tracer
        self.tmp = os.path.join(root, "tmp")
        self.spark = None
        self.probes: list[float] = []

    def probe(self) -> None:
        self.probes.append(machine_probe(self.spark, self.sf_dir))

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def machine_probe(spark, sf_dir: str) -> float:
    """Fixed-work CPU job plus a filter + hash-aggregate scan of the
    generated lineitem table (the shapes of bench.py's noise and scan
    probes, smaller; the table's volume is the same for every seed)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(1 << 21, numPartitions=8).select(
        F.xxhash64("id").alias("h")).agg(F.expr("bit_xor(h)")).collect()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).where(
        F.col("l_quantity") < 25).agg(
        F.expr("bit_xor(xxhash64(l_orderkey, l_partkey))")).collect()
    return time.perf_counter() - t0


def start_spark(root: str):
    from etl_python_airflow_bigquery_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    return get_spark(
        "perfbench", master="local[4]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.local.dir": os.path.join(root, "spark-local"),
            # -XX:-UsePerfData: HotSpot would otherwise keep its perf-data
            # file under /tmp, outside the run root
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)


def end_to_end(b: Bench, out, setup: dict) -> dict:
    return {
        "setup_s": sum(setup.values()),
        "pass_s": statistics.median(out.passes),
        "req_p50_s": statistics.median(out.ops),
        # linear interpolation between order statistics: the nearest-rank
        # p90 of 9 samples is the maximum, the noisiest one
        "req_p90_s": statistics.quantiles(out.ops, n=10, method="inclusive")[8],
    }


def layers(b: Bench, out, setup: dict) -> dict:
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    m.update({f"setup.{k}": v for k, v in setup.items()})
    n_pass = max(1, len(out.passes))
    timed = [(s, e) for _, s, e in out.windows]
    in_setup = [(sp["start"], sp["end"]) for sp in b.tracer.spans
                if sp["name"].startswith("setup.")]

    def inside(sp, windows) -> bool:
        return any(s - 1e-3 <= sp["start"] and sp["end"] <= e + 1e-3 for s, e in windows)

    # a layer span counts per timed pass; a layer that runs only in
    # set-up (servicio's rehearsal) reports its set-up total; calls made
    # by the output checks count in neither
    timed_spans: dict[str, float] = {}
    setup_spans: dict[str, float] = {}
    for sp in b.tracer.spans:
        name = sp["name"]
        if name.startswith("op."):
            names = (name, sp["layer"])
        elif name in LAYER_SPANS:
            names = (name,)
        else:
            continue
        if inside(sp, timed):
            into = timed_spans
        elif inside(sp, in_setup):
            into = setup_spans
        else:
            continue
        for n in names:
            into[n] = into.get(n, 0.0) + sp["end"] - sp["start"]
    for n in set(timed_spans) | set(setup_spans):
        m[f"{n}_s"] = timed_spans[n] / n_pass if n in timed_spans else setup_spans[n]
    for rec in out.txlog:
        for k, v in rec.items():
            m[k] += v / len(out.txlog)
    jobs, stages = spark_ledger(b.spark)
    passes = [window_counters(jobs, stages, s, e) for k, s, e in out.windows if k == "pass"]
    reqs = [window_counters(jobs, stages, s, e) for k, s, e in out.windows if k.startswith("req.")]
    per_unit = passes or reqs
    for k in SPARK:
        m[k] = statistics.median(c[k] for c in per_unit)
    if reqs:
        m["serve.jobs_per_req"] = statistics.mean(c["spark.jobs"] for c in reqs)
        m["serve.tasks_per_req"] = statistics.mean(c["spark.tasks"] for c in reqs)
        m["serve.input_mb_per_req"] = statistics.mean(c["scan.input_mb"] for c in reqs)
        for kind in ("hibrida", "bm25", "ivf"):
            lat = [d for d, k in zip(out.ops, out.op_kind) if k == kind]
            if lat:
                m[f"serve.{kind}_p50_s"] = statistics.median(lat)
    m["machine.probe_s"] = statistics.mean(b.probes)
    m["timed.samples"] = len(out.ops)
    m["trace.unit_s"] = statistics.median(out.ops) if reqs else statistics.median(out.passes)
    return {k: {"value": float(v), "unit": units[k]} for k, v in m.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(CHECKOUT, ENGINE)):
        print(f"no {ENGINE}/ package in {CHECKOUT}: run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    runs = os.path.join(CHECKOUT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    os.makedirs(os.path.join(root, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(root, "tmp")
    run_id = os.path.basename(root)
    tracer = Tracer(run_id, enabled=bool(args.trace))
    spark = None
    t_session = t_stop = time.perf_counter()
    try:
        sf_dir = os.path.join(root, "data", "sfgen")
        generate(sf_dir, args.seed, SF)
        b = Bench(args, root, sf_dir, tracer)

        t_session = time.perf_counter()
        importlib.import_module(ENGINE + ".queries")  # the registry imports every layer
        spark = b.spark = start_spark(root)
        setup = {"session_s": time.perf_counter() - t_session}
        if args.trace:
            tracer.install()
        out = WORKLOADS[args.workload](b)
        setup.update(out.setup)
        if args.trace:
            metrics = layers(b, out, setup)
            traces = os.path.join(CHECKOUT, ".perfbench_traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{run_id}.json"), "w") as fh:
                json.dump({"run": run_id, "workload": args.workload, "seed": args.seed,
                           "spans": tracer.spans}, fh)
        else:
            metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                       for k, v in end_to_end(b, out, setup).items()}
        b.log(f"{args.workload} seed={args.seed}: {len(out.passes)} timed units, "
              f"{out.attempted} ops, {out.failed} failed, setup={setup}, "
              f"passes={out.passes}, probe_s={b.probes}, "
              f"ops={[(k, round(d, 3)) for k, d in zip(out.op_kind, out.ops)]}")
        result = {"correct": out.failed == 0, "attempted": out.attempted,
                  "failed": out.failed, "metrics": metrics}
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)
        end = time.perf_counter()
        Bench.log(f"process wall {end - T_START:.2f} s: {t_session - T_START:.2f} s before "
                  f"the session, {t_stop - t_session:.2f} s in it, {end - t_stop:.2f} s to stop")
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
