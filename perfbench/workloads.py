"""The workloads. Each one sets up (session already open), warms up,
then runs a fixed number of timed units of work, checking every output
outside the timed regions.

A workload returns an ``Outcome``: its set-up phases, the wall of each
timed pass, the latency of each timed op (a registry row, a rehearsal
stage or a request), the op counts, and the timed windows the traced
run attributes Spark jobs to.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from checks import brute_bm25, duckdb_con, value_hash

# one nightly audience-mart row per read-only query module (README.md
# says why not all thirteen of the reference estate's rows)
AUDIENCIA_ROWS = (
    "indicadores_total",        # queries.core
    "funnel_vip",               # queries.joins
    "bloques_pivot",            # queries.reshape
    "superposicion_programas",  # queries.programas_q
    "rollup_periodos",          # queries.extras
    "trafico_ga_pipeline",      # queries.enrich_q
    "sessionization",           # queries.lifecycle
)

# servicio: requests of each kind per round (README.md, "The request
# mix"), and the number of query terms of a BM25 request
PER_ROUND = {"hibrida": 1, "bm25": 1, "ivf": 3}
BM25_TERMS = 3
# audiencia warm-up passes before timing: in a fresh JVM the second pass
# still runs about 50 % slower than later ones (servicio warms up with
# its stored-state build and one sweep of its request set)
WARMUP_PASSES = 2
# --seconds becomes a fixed number of timed units, at least MIN_UNITS,
# from the unit's usual wall on the host of README.md ("Run budget"), so
# every run times the same work however fast the host is at the moment
MIN_UNITS = 2
UNIT_S = {"audiencia": 6.5, "servicio": 5.5, "ciclo": 22.0}
# change-feed batches per rehearsal pass
REHEARSAL_BATCHES = 1


@dataclass
class Outcome:
    setup: dict[str, float] = field(default_factory=dict)
    passes: list[float] = field(default_factory=list)
    ops: list[float] = field(default_factory=list)
    op_kind: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    # (kind, start, end) in epoch seconds: "pass" and "req" windows
    windows: list[tuple[str, float, float]] = field(default_factory=list)
    txlog: list[dict] = field(default_factory=list)


def _timed_loop(b, one_pass) -> None:
    """Run the workload's number of timed units, with a machine probe
    just before and just after."""
    b.probe()
    for _ in range(max(MIN_UNITS, round(b.seconds / UNIT_S[b.workload]))):
        one_pass()
    b.probe()


# -- audiencia ---------------------------------------------------------------

def audiencia(b) -> Outcome:
    """The nightly audience marts: registry rows, each run cold
    (session caches cleared first) and materialized in full."""
    from etl_python_airflow_bigquery_spark.queries import REGISTRY
    from etl_python_airflow_bigquery_spark.queries.dedup import clear_session_caches

    out = Outcome()
    con = duckdb_con(b.sf_dir, b.tmp)
    expected = {}
    for row in AUDIENCIA_ROWS:
        expected[row] = value_hash(con.execute(REGISTRY[row].oracle).fetchdf())
    con.close()

    def run_row(row: str):
        """(seconds, frame) of one cold row, or (seconds, None) on error."""
        q = REGISTRY[row]
        layer = "queries." + q.fn.__module__.rsplit(".", 1)[-1]
        clear_session_caches()
        t0 = time.perf_counter()
        with b.tracer.span("op." + row, layer=layer):
            try:
                pdf = q.fn(b.spark, b.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed op is counted
                b.log(f"audiencia: {row} failed: {exc!r}"[:400])
                pdf = None
        return time.perf_counter() - t0, pdf

    def check(row: str, pdf) -> bool:
        ok = pdf is not None and value_hash(pdf) == expected[row]
        if pdf is not None and not ok:
            b.log(f"audiencia: {row} differs from its oracle")
        return ok

    warm = 0.0
    with b.tracer.span("setup.warmup"):
        for _ in range(WARMUP_PASSES):
            for row in AUDIENCIA_ROWS:
                dt, pdf = run_row(row)
                warm += dt
                out.attempted += 1
                out.failed += not check(row, pdf)
    out.setup["warmup_s"] = warm

    def one_pass() -> None:
        start = time.time()
        results = []
        with b.tracer.span("pass"):
            for row in AUDIENCIA_ROWS:
                results.append((row,) + run_row(row))
        wall = time.time() - start
        out.windows.append(("pass", start, start + wall))
        out.passes.append(wall)
        for row, dt, pdf in results:
            out.ops.append(dt)
            out.op_kind.append(row)
            out.attempted += 1
            out.failed += not check(row, pdf)

    _timed_loop(b, one_pass)
    return out


# -- the rehearsal: servicio's set-up, and ciclo -----------------------------

def _txlog_counters(work: str, arriving_bytes: int) -> dict:
    """Commits, data files and bytes the pass left on disk under
    ``work`` (every txlog table: index, dedup state and sink)."""
    commits = files = nbytes = 0
    for dirpath, _dirs, names in os.walk(work):
        if os.path.basename(dirpath) == "_txlog":
            commits += sum(1 for n in names if n.startswith("v") and n.endswith(".json"))
            nbytes += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        elif os.path.exists(os.path.join(os.path.dirname(dirpath), "_txlog")) and \
                os.path.basename(dirpath) == "data":
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
    return {"txlog.commits": commits, "txlog.files_written": files,
            "txlog.mb_written": nbytes / 1e6,
            "txlog.write_amp": nbytes / max(1, arriving_bytes)}


def _rehearsal_expected(b) -> dict:
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(b.sf_dir, "documents.parquet")).to_pydict()
    postings = sum(len({w for w in t.split(" ") if w}) for t in docs["text"])
    n_emb = pq.ParquetFile(os.path.join(b.sf_dir, "embeddings.parquet")).metadata.num_rows
    n_ev = pq.ParquetFile(os.path.join(b.sf_dir, "events.parquet")).metadata.num_rows
    by_text: dict[str, list[int]] = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        by_text.setdefault(t, []).append(d)
    return {"docs": len(docs["doc_id"]), "postings": postings,
            "dup_groups": [g for g in by_text.values() if len(g) > 1],
            "emb": n_emb, "emb_base": sum(1 for v in range(n_emb) if v % 10), "events": n_ev,
            "arriving_bytes": sum(os.path.getsize(os.path.join(b.sf_dir, f"{t}.parquet"))
                                  for t in ("documents", "embeddings", "events"))}


def _rehearsal_check(b, work: str, manifest, expected: dict, ctx=None) -> list[str]:
    """Problems with one rehearsal pass (empty = correct)."""
    from etl_python_airflow_bigquery_spark.functions import local_df
    from etl_python_airflow_bigquery_spark.operators.ann_index import (
        busqueda_hibrida_indexada_multi,
        read_index_meta,
    )
    from etl_python_airflow_bigquery_spark.operators.dedup_state import _tables as dd_tables
    from etl_python_airflow_bigquery_spark.operators.lex_index import _tables as lex_tables
    from etl_python_airflow_bigquery_spark.operators.lex_index import lex_meta_current
    from etl_python_airflow_bigquery_spark.operators.txlog import TxTable
    from etl_python_airflow_bigquery_spark.queries.marts import eventos_usuario_mart

    spark = b.spark
    bad = []
    if not manifest.ok:
        bad.append(f"manifest not ok: {manifest.statuses} {manifest.errors}")
        return bad
    ann, lex = os.path.join(work, "ann"), os.path.join(work, "lex")
    got = {
        "lex.n": int(lex_meta_current(spark, lex)["n"]),
        "lex.postings": lex_tables(lex)[0].read(spark).count(),
        "dedup.hashes": dd_tables(os.path.join(work, "dedup"))[0].read(spark).count(),
        "dedup.sets": dd_tables(os.path.join(work, "dedup"))[2].read(spark).count(),
        "mart.rows": eventos_usuario_mart(spark, b.sf_dir).count(),
    }
    want = {"lex.n": expected["docs"], "lex.postings": expected["postings"],
            "dedup.hashes": expected["docs"], "dedup.sets": expected["docs"],
            "mart.rows": expected["events"]}
    bad += [f"{k}: got {got[k]} want {want[k]}" for k in want if got[k] != want[k]]
    labels = dict(dd_tables(os.path.join(work, "dedup"))[3].read(spark)
                  .select("doc_id", "cluster_id").collect())
    for group in expected["dup_groups"]:
        if len({labels.get(d) for d in group}) != 1 or group[0] not in labels:
            bad.append(f"exact duplicates {group} not in one dedup cluster")
    n_ann = int(read_index_meta(ann)["n"])
    if not expected["emb_base"] <= n_ann <= expected["emb"]:
        bad.append(f"ann.n {n_ann} outside [{expected['emb_base']}, {expected['emb']}]")
    served = TxTable(os.path.join(work, "servido")).read(spark)
    anchors = [r["query_id"] for r in served.select("query_id").distinct().collect()]
    if not anchors:
        bad.append("nothing served")
        return bad
    qids = local_df(spark, [(int(a),) for a in anchors], "query_id BIGINT")
    one_shot = busqueda_hibrida_indexada_multi(spark, b.sf_dir, ann, qids, lex_path=lex, ctx=ctx)
    cols = sorted(one_shot.columns)
    if value_hash(served.select(*cols).toPandas()) != value_hash(one_shot.select(*cols).toPandas()):
        bad.append("served table differs from the one-shot hybrid answer")
    return bad


def _rehearse(b, work: str, expected: dict):
    """One ``operational_rehearsal`` pass into ``work``: its wall, its
    manifest, and its txlog counters and task-graph overhead."""
    from etl_python_airflow_bigquery_spark.orchestration import operational_rehearsal

    t0 = time.perf_counter()
    manifest = operational_rehearsal(b.spark, b.sf_dir, work, n_batches=REHEARSAL_BATCHES)
    dt = time.perf_counter() - t0
    counters = {**_txlog_counters(work, expected["arriving_bytes"]),
                "orchestration.overhead_s": dt - sum(manifest.timings_s.values())}
    return dt, manifest, counters


def _count_rehearsal(b, out: Outcome, work: str, manifest, expected: dict, ctx=None) -> None:
    """Count a rehearsal's stages as ops; a wrong output fails the last
    stage if no stage failed on its own."""
    problems = _rehearsal_check(b, work, manifest, expected, ctx)
    for p in problems:
        b.log("rehearsal: " + p[:400])
    out.attempted += len(manifest.statuses)
    out.failed += sum(s != "ok" for s in manifest.statuses.values()) or bool(problems)


def ciclo(b) -> Outcome:
    """``operational_rehearsal``: change feed → ANN/lexical ingest →
    dedup folds → mart refresh → hybrid serve, each pass in a fresh
    work dir. Not listed in BENCHMARK.json (README.md, "Run budget");
    ``servicio`` runs the same rehearsal once, in its set-up."""
    out = Outcome()
    expected = _rehearsal_expected(b)
    n = 0

    def rehearse():
        nonlocal n
        work = os.path.join(b.root, "ciclo", f"pass{n:03d}")
        n += 1
        start = time.time()
        dt, manifest, counters = _rehearse(b, work, expected)
        _count_rehearsal(b, out, work, manifest, expected)
        shutil.rmtree(work, ignore_errors=True)
        return start, dt, manifest, counters

    with b.tracer.span("setup.warmup"):
        _, dt, _, _ = rehearse()
    out.setup["warmup_s"] = dt

    def one_pass() -> None:
        start, dt, manifest, counters = rehearse()
        out.windows.append(("pass", start, start + dt))
        out.passes.append(dt)
        out.txlog.append(counters)
        for stage, s in manifest.timings_s.items():
            out.ops.append(s)
            out.op_kind.append(stage)

    _timed_loop(b, one_pass)
    return out


# -- servicio ----------------------------------------------------------------

def servicio(b) -> Outcome:
    """One client in a closed loop: hybrid, BM25 and IVF requests for
    seed-chosen anchors against the stored state that one
    ``operational_rehearsal`` pass leaves at set-up."""
    import pyarrow.parquet as pq

    from etl_python_airflow_bigquery_spark.functions import in_literals, local_df
    from etl_python_airflow_bigquery_spark.operators import ann_index, lex_index
    from etl_python_airflow_bigquery_spark.queries.similarity import _int_vectors
    from etl_python_airflow_bigquery_spark.queries.text import _BM25_B, _BM25_K1, _BM25_TOP
    from etl_python_airflow_bigquery_spark.tables import load_table

    spark, out = b.spark, Outcome()
    rng = random.Random(b.seed)
    docs_tbl = pq.read_table(os.path.join(b.sf_dir, "documents.parquet")).to_pydict()
    texts = dict(zip(docs_tbl["doc_id"], docs_tbl["text"]))
    n_emb = pq.ParquetFile(os.path.join(b.sf_dir, "embeddings.parquet")).metadata.num_rows
    vocab = sorted({w for t in texts.values() for w in t.split(" ") if w})
    # hybrid anchors: documents with the median number of distinct terms
    # (a hybrid request's lexical work grows with it), so seeds move
    # which documents are asked for, not how much work a request is
    terms_of = {d: len(set(texts[d].split(" "))) for d in texts if d < n_emb}
    median_terms = sorted(terms_of.values())[len(terms_of) // 2]
    shared = sorted(d for d, n in terms_of.items() if abs(n - median_terms) <= 1)
    hybrid_anchors = rng.sample(shared, PER_ROUND["hibrida"])
    ivf_anchors = rng.sample(range(n_emb), PER_ROUND["ivf"])
    term_sets = [tuple(sorted(rng.sample(vocab, BM25_TERMS))) for _ in range(PER_ROUND["bm25"])]
    bm25_want = {t: brute_bm25(texts, list(t), _BM25_TOP, _BM25_K1, _BM25_B)
                 for t in term_sets}

    # the stored state is what one operational_rehearsal pass leaves:
    # indexes built on the established world and grown by the change
    # feed, dedup state folded, user-facts mart built and refreshed
    work = os.path.join(b.root, "servicio")
    ann, lex = os.path.join(work, "ann"), os.path.join(work, "lex")
    expected = _rehearsal_expected(b)
    t0 = time.perf_counter()
    with b.tracer.span("setup.state"):
        # the first read of the session, so the JVM's first-touch cost
        # lands here and not in the rehearsal's task-graph overhead
        emb = load_table(spark, b.sf_dir, "embeddings")
        _, manifest, counters = _rehearse(b, work, expected)
        ctx = ann_index.make_serve_context(spark, ann, lex_path=lex)
        # the client holds its query vectors: an IVF request sends one
        rows = _int_vectors(emb.where(in_literals("vec_id", ivf_anchors))).collect()
        query_vec = {int(r["vec_id"]): [int(x) for x in r["ev"]] for r in rows}
    out.setup["state_s"] = time.perf_counter() - t0
    out.txlog.append(counters)

    def hybrid(a: int):
        qids = local_df(spark, [(a,)], "query_id BIGINT")
        return ann_index.busqueda_hibrida_indexada_multi(
            spark, b.sf_dir, ann, qids, lex_path=lex, ctx=ctx).toPandas()

    def bm25(terms: tuple[str, ...]):
        return lex_index.search_bm25_lex_index(spark, list(terms), lex, topk=_BM25_TOP).toPandas()

    def ivf(a: int):
        local_rows = [(a, query_vec[a])]
        q = local_df(spark, local_rows, "query_id BIGINT, qv ARRAY<BIGINT>")
        return ann_index.search_ivf_index(
            spark, q, ann, ctx=ctx, local_rows=local_rows).toPandas()

    requests = ([("hibrida", hybrid, a) for a in hybrid_anchors]
                + [("bm25", bm25, t) for t in term_sets]
                + [("ivf", ivf, a) for a in ivf_anchors])

    def send(kind, fn, arg):
        t0 = time.perf_counter()
        with b.tracer.span("req." + kind):
            try:
                pdf = fn(arg)
            except Exception as exc:  # noqa: BLE001 — a failed request is counted
                b.log(f"servicio: {kind} {arg} failed: {exc!r}"[:400])
                pdf = None
        return time.perf_counter() - t0, pdf

    reference: dict = {}

    def correct(kind, arg, pdf) -> bool:
        if pdf is None:
            return False
        if kind == "bm25":
            got = [tuple(int(x) for x in r) for r in
                   pdf[["doc_id", "score_mili", "pos"]].itertuples(index=False, name=None)]
            ok = sorted(got, key=lambda r: r[2]) == bm25_want[arg]
        else:
            ok = value_hash(pdf) == reference.get((kind, arg))
        if not ok:
            b.log(f"servicio: {kind} {arg} answer differs from its reference")
        return ok

    warm = 0.0
    with b.tracer.span("setup.warmup"):
        for kind, fn, arg in requests:
            dt, pdf = send(kind, fn, arg)
            warm += dt
            if kind != "bm25" and pdf is not None:
                reference[(kind, arg)] = value_hash(pdf)
            out.attempted += 1
            out.failed += not correct(kind, arg, pdf)
    out.setup["warmup_s"] = warm
    _count_rehearsal(b, out, work, manifest, expected, ctx)

    # one round = every request once, in a seed-shuffled order, so every
    # round does the same work
    def one_round() -> None:
        batch = list(requests)
        rng.shuffle(batch)
        wall = 0.0
        for kind, fn, arg in batch:
            start = time.time()
            dt, pdf = send(kind, fn, arg)
            out.windows.append(("req." + kind, start, start + dt))
            out.ops.append(dt)
            out.op_kind.append(kind)
            out.attempted += 1
            out.failed += not correct(kind, arg, pdf)
            wall += dt
        out.passes.append(wall)

    _timed_loop(b, one_round)
    return out


WORKLOADS = {"audiencia": audiencia, "ciclo": ciclo, "servicio": servicio}
