"""Benchmark of the PySpark BM25 engine: set-up, serve and batch workloads.

Run from the repository root::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

One process, one closed-loop client: Spark ``local[nproc]`` with the
Python-UDF width capped at ``nproc``. Every run first sets up
``SETUP_REPS`` times (seeded corpus generation + a cold index build into
an empty warehouse) and reports the median as ``setup_s``; the last index
serves the workload. Workloads:

* ``serve``: a seeded stream of single queries in a fixed cycle of shapes,
  50% ``top_k``, 30% ``search(lang=..., count_mode="none")``, 10%
  ``search(count_mode="exact")`` and 10% ``search_after`` next pages.
* ``batch``: ``batch_top_k`` calls of seeded head-weighted queries.

Every result is checked against ``oracle.OracleIndex`` built from the same
rows, outside the timed regions. ``--trace 0`` prints the end-to-end
metrics. ``--trace 1`` makes the same run with spans around every layer
call and Spark job/stage counters, then runs the no-Spark kernel
microbenches and an ingest probe, and prints the per-layer metrics. The
last stdout line is the JSON result. See ``perfbench/NOTES.md``.

The engine and this directory's other modules are imported inside the
functions: the engine package goes on ``sys.path`` only after ``main``
has checked that the checkout holds it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "semantic_search_engine_spark"
#: per-run scratch space (warehouses, corpora, Spark local dirs), removed
#: at exit; and where traced runs leave their span files
WORK_ROOT = ROOT / ".perfbench_work"
TRACE_DIR = ROOT / ".perfbench_traces"

CORPUS_DOCS = 600
#: set-ups per run: the first runs in a cold JVM, the second in a warm
#: one; ``setup_s`` is their median (the mean of two)
SETUP_REPS = 2
K = 10
#: longer than any window can consume
SERVE_STREAM_LEN = 2000
#: at 200 queries a call's WAND kernel time is about half its executor
#: time (~30% at 100); the rest is the call's five jobs and their scans
BATCH_CALL_SIZE = 200
BATCH_MAX_CALLS = 50
BATCH_WARM_QUERIES = 20
#: fixed query count for the kernel microbench (one batch call's worth),
#: so its counters repeat
KERNEL_QUERIES = BATCH_CALL_SIZE
#: the traced run's ingest probe: recrawled and new pages in one batch,
#: the stages it re-runs, and the queries on the fresh snapshot
INGEST_CHANGED, INGEST_NEW = 80, 20
INGEST_STAGES = ("doc_meta", "corpus_stats", "postings", "term_stats")
FRESH_PROBES = ("ingestedq", "zipfhead0 zipfhead1", "gaming laptop",
                "wireless bluetooth headphones", "ingestedq zipfhead3")
WORKLOADS = ("serve", "batch")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# environment and Spark session


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and let the Spark
    Python workers import the engine from this checkout."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    # spark-submit's launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, str(ROOT))


def start_spark(work: Path, cores: int):
    from pyspark.sql import SparkSession

    # a fixed-size heap, so peak memory does not depend on when the GC
    # chose to grow it
    java_opts = (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                 "-Xms2g")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        # 600 docs of ~45 KB pages: 2 GB of heap leaves room for the
        # Python workers on a 4-core / 15 GB host
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "spark-warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pages are ~45 KB each: 512-row Arrow batches stay ~23 MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store must keep every job of the run for attribution
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the SparkContext and the JVM, then wait until every process
    the run started (JVM, Python daemons and workers) has exited."""
    from spans import process_tree, running

    started = set(process_tree(os.getpid())) - {os.getpid()}
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = {pid for pid in started if running(pid)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.1)


# --------------------------------------------------------------------------
# set-up


def index_files(warehouse: Path) -> list[Path]:
    """Parquet files of every index table; the lineage table holds run
    history (ids, timestamps), not index data."""
    return [f for f in warehouse.rglob("*.parquet")
            if f.relative_to(warehouse).parts[0] != "lineage"]


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def set_up(spark, cfg, seed: int, rep: int, work: Path, tracer) -> dict:
    """Seeded corpus → parquet → cold ``IndexBuilder.build()`` into an
    empty warehouse."""
    from semantic_search_engine_spark.corpus import write_corpus
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.sources.store import HadoopTableStore

    from spans import TimedStore

    wh = work / f"warehouse{rep}"
    t0 = time.perf_counter()
    path = write_corpus(str(work / f"corpus{rep}"), CORPUS_DOCS, seed)
    store = HadoopTableStore(spark, str(wh))
    if tracer.enabled:
        store = TimedStore(store, tracer)
    with tracer.request("build_index.build", rep=rep) as span:
        t1 = time.perf_counter()
        runner = IndexBuilder(spark, store, cfg).build(
            spark.read.parquet(path))
        build_s = time.perf_counter() - t1
    return {"setup_s": time.perf_counter() - t0, "build_s": build_s,
            "store": store, "warehouse": wh, "stages": runner.metrics,
            "span": span}


# --------------------------------------------------------------------------
# workloads


def timed(op: dict, tracer, fn, *args, **kwargs) -> None:
    """Call ``fn`` as one traced request; store its result, its wall
    seconds (also when it raises) and its span in ``op``."""
    with tracer.request(f"query.{op['shape']}") as op["span"]:
        t0 = time.perf_counter()
        try:
            op["result"] = fn(*args, **kwargs)
        finally:
            op["s"] = time.perf_counter() - t0


def run_serve(spark, store, cfg, seed: int, seconds: float, tracer) -> list:
    """Closed loop over the seeded serve stream until ``seconds`` pass.
    Returns one op record per call, the untimed warm-up calls included:
    every answer is checked, only timed ones (with an ``"s"``) are
    measured."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    from inputs import serve_stream

    qe = QueryEngine(spark, store, cfg)
    calls = {
        "topk": lambda q, lang, cur: qe.top_k(q, k=K),
        "filtered": lambda q, lang, cur: qe.search(
            q, k=K, lang=lang, count_mode="none"),
        "exact": lambda q, lang, cur: qe.search(q, k=K, count_mode="exact"),
        "after": lambda q, lang, cur: qe.search_after(q, k=K, cursor=cur),
    }
    ops = []

    def attempt(shape: str, query: str, lang, measure: bool) -> None:
        op = {"shape": shape, "query": query, "lang": lang, "cursor": None,
              "error": None}
        try:
            if shape == "after":
                # the cursor a client holds from page 1: fetched untimed
                op["page1"] = qe.search_after(query, k=K)
                op["cursor"] = op["page1"]["next_cursor"]
            if measure:
                timed(op, tracer, calls[shape], query, lang, op["cursor"])
            else:
                op["result"] = calls[shape](query, lang, op["cursor"])
        except Exception:  # a failed call is counted, the loop goes on
            op["error"] = traceback.format_exc()
        ops.append(op)

    # untimed warm-up: the first call of a shape after the build pays
    # plan compilation (~+30%); top_k's five samples per window absorb
    # it, the other shapes' one to three would not
    for shape in ("filtered", "exact", "after"):
        attempt(shape, "zipfhead0 zipfhead1", "en", measure=False)

    deadline = time.perf_counter() + seconds
    for shape, query, lang in serve_stream(seed, SERVE_STREAM_LEN):
        if time.perf_counter() >= deadline:
            break
        attempt(shape, query, lang, measure=True)
    return ops


def run_batch(spark, store, cfg, seed: int, seconds: float, tracer) -> list:
    """Closed loop of ``batch_top_k`` calls until ``seconds`` pass, after
    one short untimed warm-up call; every call's answers are checked."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    from inputs import batch_calls

    qe = QueryEngine(spark, store, cfg)
    calls = batch_calls(seed, BATCH_MAX_CALLS, BATCH_CALL_SIZE)
    ops = []

    def attempt(queries: list[str], measure: bool) -> None:
        op = {"shape": "batch", "queries": queries, "error": None}
        try:
            if measure:
                timed(op, tracer, qe.batch_top_k, queries, k=K)
            else:
                op["result"] = qe.batch_top_k(queries, k=K)
        except Exception:  # a failed call is counted, the loop goes on
            op["error"] = traceback.format_exc()
        ops.append(op)

    # the first call after a build pays plan and worker warm-up, ~1.5x a
    # steady call; that cost does not grow with the call's size
    attempt(calls[0][:BATCH_WARM_QUERIES], measure=False)
    deadline = time.perf_counter() + seconds
    for queries in calls[1:]:
        if time.perf_counter() >= deadline:
            break
        attempt(queries, measure=True)
    return ops


# --------------------------------------------------------------------------
# correctness


def check_ops(ops: list, oracle) -> tuple[int, int]:
    """(attempted, failed): every query answer against the oracle — doc ids
    rank-identical, scores within 1e-6; exceptions count as failures."""
    from kernels import same_ranking

    def hits(rows):
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    memo: dict[str, list] = {}

    def top_k(q):
        if q not in memo:
            memo[q] = oracle.top_k(q, K)
        return memo[q]

    attempted = failed = 0
    for op in ops:
        if op["shape"] == "batch":
            attempted += len(op["queries"])
            if op["error"] is not None:
                failed += len(op["queries"])
                continue
            for q in op["queries"]:
                if not same_ranking(op["result"][q], top_k(q)):
                    failed += 1
            continue
        attempted += 1
        ok = op["error"] is None
        if ok:
            shape, q, res = op["shape"], op["query"], op["result"]
            if shape in ("topk", "fresh"):
                ok = same_ranking(res, top_k(q))
            elif shape == "filtered":
                want = oracle.search(q, k=K, lang=op["lang"])
                ok = same_ranking(hits(res["results"]), hits(want["results"]))
            elif shape == "exact":
                want = oracle.search(q, k=K)
                ok = (same_ranking(hits(res["results"]),
                                   hits(want["results"]))
                      and res["total_count"] == want["total_count"])
            else:
                page1 = oracle.search(q, k=K)
                want = oracle.search(q, k=K, offset=K)
                ok = (op["cursor"] is not None
                      and same_ranking(hits(op["page1"]["results"]),
                                       hits(page1["results"]))
                      and same_ranking(hits(res["results"]),
                                       hits(want["results"])))
        if not ok:
            failed += 1
            log(f"FAILED {op['shape']} {op.get('query')!r}: "
                f"{op['error'] or 'result differs from the oracle'}")
    return attempted, failed


# --------------------------------------------------------------------------
# per-layer metrics (traced run)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def commit_spans(tracer, request: dict) -> list[dict]:
    """The store commits (write, merge, append) made by one request."""
    return [s for s in tracer.children(request, "store.")
            if s["name"] in ("store.write", "store.merge_by_key",
                             "store.append")]


def build_layer_metrics(setup: dict, jobs: list[dict], tracer) -> dict:
    """Build-stage walls from ``StageRunner.metrics``, Spark totals of the
    build's jobs, the same split per stage by stage time window, and the
    store and lineage counts of the build."""
    from spans import covered_ms

    span = setup["span"]
    build_jobs = [j for j in jobs if j["group"] == span["id"]]
    m = {"build_index.spark_jobs": len(build_jobs)}
    for key, name, scale in (("tasks", "spark_tasks", 1),
                             ("executor_run_ms", "executor_run_s", 1e-3),
                             ("shuffle_write_bytes", "shuffle_write_bytes", 1),
                             ("spill_bytes", "spill_bytes", 1)):
        m[f"build_index.{name}"] = sum(j[key] for j in build_jobs) * scale
    for st in setup["stages"]:
        end = st["ts"]
        start = end - st["wall_ms"] / 1000.0
        tracer.add(f"build_index.{st['stage']}", start, end, span,
                   skipped=st["skipped"], rows=st["output_rows"])
        in_stage = [j for j in build_jobs
                    if j["start"] is not None and start <= j["start"] <= end]
        m[f"build_index.{st['stage']}_s"] = st["wall_ms"] / 1000.0
        m[f"build_index.{st['stage']}.spark_jobs"] = len(in_stage)
        m[f"build_index.{st['stage']}.executor_run_s"] = sum(
            j["executor_run_ms"] for j in in_stage) / 1000.0
        m[f"build_index.{st['stage']}.spark_ms"] = covered_ms(
            in_stage, start, end)
    writes = commit_spans(tracer, span)
    m["store.commits_per_build"] = len(writes)
    m["store.commit_s_per_build"] = sum(s["end"] - s["start"]
                                        for s in writes)
    m["store.files_after_build"] = len(index_files(setup["warehouse"]))
    m["lineage.stages_run"] = sum(not s["skipped"] for s in setup["stages"])
    m["lineage.stages_skipped"] = sum(bool(s["skipped"])
                                      for s in setup["stages"])
    return m


def query_layer_metrics(ops: list, jobs: list[dict], tracer) -> dict:
    """Per serve shape (and for batch calls): median per call of Spark
    jobs, stages, tasks, input bytes, executor run time, the wall time
    covered by Spark jobs and the rest (Spark driver work), and store
    reads."""
    from spans import covered_ms

    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    per_shape: dict[str, list[dict]] = {}
    reads = []
    for op in ops:
        span = op.get("span")
        if span is None:
            continue
        mine = by_group.get(span["id"], [])
        wall_ms = (span["end"] - span["start"]) * 1000.0
        spark_ms = covered_ms(mine, span["start"], span["end"])
        per_shape.setdefault(op["shape"], []).append({
            "p50_ms": op["s"] * 1000.0,
            "jobs": len(mine),
            "stages": sum(j["stages"] for j in mine),
            "tasks": sum(j["tasks"] for j in mine),
            "input_bytes": sum(j["input_bytes"] for j in mine),
            "executor_run_s": sum(j["executor_run_ms"] for j in mine) / 1e3,
            "spark_ms": spark_ms,
            "driver_ms": max(wall_ms - spark_ms, 0.0),
        })
        if op["shape"] != "fresh":
            reads.append(sum(s["name"] == "store.read"
                             for s in tracer.children(span, "store.")))
    serve_keys = ("p50_ms", "jobs", "stages", "tasks", "input_bytes",
                  "spark_ms", "driver_ms")
    keys = {"batch": ("p50_ms", "jobs", "executor_run_s", "input_bytes",
                      "spark_ms", "driver_ms"),
            "fresh": ("p50_ms", "jobs", "driver_ms")}
    m = {}
    for shape in ("topk", "filtered", "exact", "after", "batch", "fresh"):
        recs = per_shape.get(shape, [])
        for key in keys.get(shape, serve_keys):
            m[f"query.{shape}.{key}"] = _median([r[key] for r in recs])
    m["store.reads_per_call"] = _median(reads)
    return m


def kernel_layer_metrics(store, cfg, oracle, queries: list[str]) -> tuple:
    """No-Spark microbenches over the postings read once from the index.
    Returns (metrics, self-check ok)."""
    from semantic_search_engine_spark.plans.query import QueryEngine

    from kernels import load_postings, varbyte_bench, wand_bench

    pdf = load_postings(store)
    stats = QueryEngine(store.spark, store, cfg).corpus_stats()
    vb = varbyte_bench(pdf, stats["avg_doc_len"], cfg)
    term_df = {t: int(d) for t, d in
               pdf.groupby("term")["n_postings"].sum().items()}
    wb = wand_bench(pdf, term_df, stats, cfg, queries, oracle, k=K)
    m = {"varbyte.encode_postings_per_s": vb["encode_postings_per_s"],
         "varbyte.decode_mb_per_s": vb["decode_mb_per_s"]}
    for key in ("kernel_ms_per_query", "evaluated_docs", "decoded_blocks",
                "total_blocks", "decoded_block_frac"):
        m[f"wand.{key}"] = wb[key]
    if not vb["roundtrip_ok"]:
        log("FAILED varbyte: re-encoded postings differ from the index")
    if wb["mismatches"]:
        log(f"FAILED wand: {wb['mismatches']} kernel top-k differ "
            "from the oracle")
    return m, vb["roundtrip_ok"] and not wb["mismatches"]


def ingest_probe(spark, serving: dict, cfg, seed: int, work: Path,
                 tracer) -> tuple[dict, list, int, int]:
    """Traced run only, after everything else has read the index: one
    seeded ``ingest_updates`` batch into the serving index, then the probe
    queries on a fresh ``QueryEngine``, checked against an oracle over the
    base rows plus the batch. Returns (metrics, probe ops, attempted,
    failed)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from semantic_search_engine_spark.corpus import generate_rows
    from semantic_search_engine_spark.oracle import OracleIndex
    from semantic_search_engine_spark.plans.build_index import IndexBuilder
    from semantic_search_engine_spark.plans.query import QueryEngine

    from inputs import update_rows

    base = list(generate_rows(CORPUS_DOCS, seed))
    rows = update_rows(seed, base, INGEST_CHANGED, INGEST_NEW)
    path = work / "updates.parquet"
    # the input-hint schema, `text: string` although every value is null
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)

    wh, store = serving["warehouse"], serving["store"]
    bytes_before = dir_bytes(wh)
    with tracer.request("build_index.ingest_updates") as span:
        t0 = time.perf_counter()
        runner = IndexBuilder(spark, store, cfg).ingest_updates(
            spark.read.parquet(str(path)))
        ingest_s = time.perf_counter() - t0
    n_docs = len(rows)
    writes = commit_spans(tracer, span)
    m = {"ingest.docs_per_s": n_docs / ingest_s,
         "store.commits_per_ingest": len(writes),
         "store.commit_s_per_ingest": sum(s["end"] - s["start"]
                                          for s in writes),
         "store.bytes_written_per_ingest_doc": (
             dir_bytes(wh) - bytes_before) / n_docs,
         "store.files_after_ingest": len(index_files(wh)),
         "lineage.stages_run_per_ingest": sum(
             not st["skipped"] for st in runner.metrics),
         "lineage.stages_skipped_per_ingest": sum(
             bool(st["skipped"]) for st in runner.metrics)}
    for stage in INGEST_STAGES:
        m[f"ingest.{stage}_s"] = sum(st["wall_ms"] for st in runner.metrics
                                     if st["stage"] == stage) / 1000.0

    qe = QueryEngine(spark, store, cfg)
    fresh = []
    for q in FRESH_PROBES:
        op = {"shape": "fresh", "query": q, "error": None}
        try:
            timed(op, tracer, qe.top_k, q, k=K)
        except Exception:  # a failed call is counted, the probe goes on
            op["error"] = traceback.format_exc()
        fresh.append(op)
    attempted, failed = check_ops(fresh, OracleIndex.build(base + rows, cfg))
    return m, fresh, attempted, failed


def kernel_queries(workload: str, seed: int) -> list[str]:
    """The fixed query set of the kernel microbench for this workload."""
    from inputs import batch_calls, serve_stream

    if workload == "serve":
        return [q for _shape, q, _lang in serve_stream(seed, KERNEL_QUERIES)]
    return batch_calls(seed, 1, KERNEL_QUERIES)[0]


def mix_weighted(ops: list) -> tuple[float, float]:
    """(call_ms, queries_per_s) at the nominal shape mix: per call shape
    the median call latency and the mean seconds per query, each weighted
    by the shape's share of the mix. Plain statistics over the ~12 serve
    calls of a window would move with the part-finished last cycle of the
    mix; a plain median would also sit on the boundary between the fast
    top_k and the slower shapes and jump with one call more of either."""
    from inputs import SERVE_SHAPE_WEIGHTS

    weights = dict(SERVE_SHAPE_WEIGHTS, batch=1.0)
    walls: dict[str, list[float]] = {}
    queries: dict[str, int] = {}
    for op in ops:
        if "s" in op:
            walls.setdefault(op["shape"], []).append(op["s"])
            queries[op["shape"]] = queries.get(op["shape"], 0) + len(
                op.get("queries", [None]))
    total = sum(weights[shape] for shape in walls)
    call_s = sum(weights[shape] * statistics.median(w)
                 for shape, w in walls.items()) / total
    query_s = sum(weights[shape] * sum(w) / queries[shape]
                  for shape, w in walls.items()) / total
    return call_s * 1000.0, 1.0 / query_s


# --------------------------------------------------------------------------


def traced_layers(spark, args, cfg, setups: list, ops: list, work: Path,
                  tracer) -> tuple[dict, int, int, bool]:
    """Traced run only, after the window: the no-Spark kernel
    microbenches, the ingest probe, then the Spark job/stage records, the
    build-stage split and the span file. Returns (per-layer metrics, the
    ingest probe's attempted and failed ops, kernel self-checks ok)."""
    from semantic_search_engine_spark.corpus import generate_rows
    from semantic_search_engine_spark.oracle import OracleIndex

    from spans import spark_jobs

    serving = setups[-1]
    # the traced run reports no memory, so its oracle may live in the
    # Spark session
    oracle = OracleIndex.build(generate_rows(CORPUS_DOCS, args.seed), cfg)
    layers, kernels_ok = kernel_layer_metrics(
        serving["store"], cfg, oracle, kernel_queries(args.workload,
                                                      args.seed))
    im, fresh, attempted, failed = ingest_probe(spark, serving, cfg,
                                                args.seed, work, tracer)
    layers.update(im)
    jobs = spark_jobs(spark.sparkContext)
    # the warm set-up, whose index serves the window
    layers.update(build_layer_metrics(serving, jobs, tracer))
    layers.update(query_layer_metrics(ops + fresh, jobs, tracer))
    trace_path = TRACE_DIR / f"{args.workload}-seed{args.seed}.jsonl"
    tracer.dump(str(trace_path), jobs)
    log(f"trace written to {trace_path}")
    return layers, attempted, failed, kernels_ok


def bench(args, work: Path, units: dict) -> dict:
    from semantic_search_engine_spark.config import EngineConfig
    from semantic_search_engine_spark.corpus import generate_rows
    from semantic_search_engine_spark.oracle import OracleIndex

    import kernels
    from spans import MemSampler, Tracer

    cores = len(os.sched_getaffinity(0))
    # 32-posting blocks: at this corpus size a doc bucket holds ~150
    # docs, so with the default 128 nearly every posting list would be one
    # block, leaving block-max WAND nothing to skip
    cfg = EngineConfig(shuffle_partitions=cores, n_doc_buckets=cores,
                       n_term_buckets=cores, block_size=32,
                       python_stage_parallelism=cores)
    probe_before = kernels.extract_probe()

    # the sampled window holds the engine only: the oracle, the result
    # checks and the textproc probe pages stay outside it
    with MemSampler() as mem:
        spark = start_spark(work, cores)
        log("Spark session started")
        try:
            tracer = Tracer(bool(args.trace), spark.sparkContext)
            setups = []
            for rep in range(SETUP_REPS):
                setups.append(set_up(spark, cfg, args.seed, rep, work,
                                     tracer))
                log(f"set-up {rep}: {setups[-1]['setup_s']:.2f} s "
                    f"(build {setups[-1]['build_s']:.2f} s)")
            serving = setups[-1]
            run = run_serve if args.workload == "serve" else run_batch
            ops = run(spark, serving["store"], cfg, args.seed, args.seconds,
                      tracer)
            log("window done")
            layers, fresh_attempted, fresh_failed, kernels_ok = {}, 0, 0, True
            if tracer.enabled:
                (layers, fresh_attempted, fresh_failed,
                 kernels_ok) = traced_layers(
                    spark, args, cfg, setups, ops, work, tracer)
        finally:
            stop_spark(spark)
    index_bytes = sum(f.stat().st_size
                      for f in index_files(serving["warehouse"]))

    oracle = OracleIndex.build(generate_rows(CORPUS_DOCS, args.seed), cfg)
    attempted, failed = check_ops(ops, oracle)
    attempted += fresh_attempted
    failed += fresh_failed
    log("results checked")
    probe_after = kernels.extract_probe()
    log(f"textproc probe: {probe_before:.1f} pages/s before, "
        f"{probe_after:.1f} after")

    measured = [op for op in ops if "s" in op]
    call_ms, queries_per_s = mix_weighted(measured)
    n_queries = sum(len(op.get("queries", [None])) for op in measured)
    if args.trace:
        layers["textproc.extract_docs_per_s"] = probe_before
        layers["textproc.extract_docs_per_s_after"] = probe_after
        layers["trace.call_ms"] = call_ms
        metrics = {name: {"value": float(layers[name]), "unit": unit}
                   for name, unit in units["per_layer"].items()}
    else:
        values = {
            "setup_s": _median([s["setup_s"] for s in setups]),
            "index_bytes_per_token": index_bytes / oracle.total_tokens,
            "call_ms": call_ms,
            "queries_per_s": queries_per_s,
            "peak_pss_mb": mem.peak / 2**20,
        }
        metrics = {name: {"value": float(values[name]), "unit": unit}
                   for name, unit in units["end_to_end"].items()}
    log(f"{len(measured)} timed calls, {n_queries} queries in "
        f"{sum(op['s'] for op in measured):.2f} s")
    for shape in sorted({op["shape"] for op in measured}):
        log(f"  {shape}: " + " ".join(f"{op['s'] * 1000:.0f}"
                                      for op in measured
                                      if op["shape"] == shape) + " ms")
    return {"correct": failed == 0 and kernels_ok, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def declared_units() -> dict[str, dict[str, str]]:
    """Metric name → unit for each section of BENCHMARK.json, so the
    result names exactly the declared metrics."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {section: {m["name"]: m["unit"] for m in spec[section]}
            for section in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        log(f"no {PACKAGE}/ package next to perfbench/ in {ROOT}: "
            "nothing to benchmark")
        return 2
    units = declared_units()
    work = WORK_ROOT / f"run-{os.getpid()}"
    prepare_env(work)
    try:
        result = bench(args, work, units)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
