"""Tracing for the benchmark's traced run, plus process-tree helpers.

Spans are taken from the benchmark's own files around each call into an
engine layer; nothing inside the engine is instrumented. Each span records
name, start, end, parent and request id, and is held in memory until
:meth:`Tracer.dump`. Spark's job and stage records come from the status
store (``sc._jsc.sc().statusStore()``), which Spark keeps with
``spark.ui.enabled=false`` and without a listener jar; each job is
parented under the request span whose id is its job group.

The process-tree helpers sample the run's peak memory and find the
processes it must wait for at exit.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and sets
    no Spark job groups, so the untraced run pays no tracing cost."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def request(self, name: str, **attrs):
        """Top-level span for one engine call; its id is the Spark job
        group of every job the call launches."""
        if not self.enabled:
            yield None
            return
        with self.span(name, **attrs) as sp:
            sp["request_id"] = sp["id"]
            self.sc.setJobGroup(sp["id"], name)
            try:
                yield sp
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"s{next(self._ids)}", "name": name,
              "parent": parent["id"] if parent else None,
              "request_id": parent["request_id"] if parent else None,
              "start": time.time(), "end": None, **attrs}
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: dict,
            **attrs) -> None:
        """Record a span reconstructed after the fact (build stages from
        ``StageRunner.metrics`` windows)."""
        sp = {"id": f"s{next(self._ids)}", "name": name,
              "parent": parent["id"], "request_id": parent["request_id"],
              "start": start, "end": end, **attrs}
        self.spans.append(sp)

    def children(self, sp: dict, prefix: str) -> list[dict]:
        return [s for s in self.spans
                if s["request_id"] == sp["request_id"]
                and s["name"].startswith(prefix) and s is not sp]

    def dump(self, path: str, spark_jobs: list[dict]) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(rec, default=str) + "\n")
            for job in spark_jobs:
                # a job is parented under the request span of its job group
                rec = dict(job, kind="spark_job", parent=job["group"],
                           request_id=job["group"])
                f.write(json.dumps(rec, default=str) + "\n")


class TimedStore:
    """Proxy around a ``TableStore`` that spans each public method call.
    Handed to ``IndexBuilder``/``QueryEngine`` in the traced run only."""

    _TIMED = ("read", "write", "merge_by_key", "append", "delete_by_key",
              "compact", "exists", "table_meta")

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, attr):
        val = getattr(self._inner, attr)
        if attr not in self._TIMED:
            return val

        def timed(table, *args, **kwargs):
            with self._tracer.span(f"store.{attr}", table=table):
                return val(table, *args, **kwargs)
        return timed


# --------------------------------------------------------------------------
# Spark status store


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def spark_jobs(sc) -> list[dict]:
    """Every job the status store retains, with its stages' task metrics
    summed: jobs, stages, tasks, executor run time, input/shuffle/spill
    bytes. Skipped stages (reused shuffle output) are not counted."""
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stages = {}
    for sd in _seq(store.stageList(None, False, False,
                                   gw.new_array(gw.jvm.double, 0),
                                   gw.jvm.java.util.ArrayList())):
        if sd.status().toString() == "SKIPPED":
            continue
        stages[(sd.stageId(), sd.attemptId())] = {
            "tasks": sd.numCompleteTasks(),
            "executor_run_ms": sd.executorRunTime(),
            "input_bytes": sd.inputBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }
    by_stage: dict[int, list[dict]] = {}
    for (sid, _att), rec in stages.items():
        by_stage.setdefault(sid, []).append(rec)
    jobs = []
    for jd in _seq(store.jobsList(None)):
        group = jd.jobGroup()
        recs = [r for sid in _seq(jd.stageIds())
                for r in by_stage.get(sid, [])]
        job = {"job_id": jd.jobId(),
               "group": group.get() if group.isDefined() else None,
               "start": _opt_s(jd.submissionTime()),
               "end": _opt_s(jd.completionTime()),
               "stages": len(recs)}
        for key in ("tasks", "executor_run_ms", "input_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            job[key] = sum(r[key] for r in recs)
        jobs.append(job)
    return sorted(jobs, key=lambda j: j["job_id"])


def covered_ms(jobs: list[dict], start: float, end: float) -> float:
    """Milliseconds of [start, end] during which at least one job ran."""
    iv = sorted((max(j["start"], start), min(j["end"] or end, end))
                for j in jobs if j["start"] is not None)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


# --------------------------------------------------------------------------
# peak memory of the process tree (Spark driver, JVM, Python workers)


def process_tree(root_pid: int) -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of ``root_pid`` and every process
    below it."""
    procs: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ...": comm may hold spaces and ')'
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        procs[int(name)] = (int(stat[stat.rindex(")") + 1:].split()[1]), comm)
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, (pp, _comm) in procs.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return {pid: procs[pid] for pid in tree if pid in procs}


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 1:].split()[0] != "Z"


def _tree_pss_bytes(root_pid: int) -> int:
    """Summed proportional set size of the Python processes under
    ``root_pid`` (itself, Spark's Python daemons and workers) and of the
    JVM it started. PSS splits pages shared after a fork across the
    sharers, so forked workers are not counted once per worker as summed
    RSS would. Other processes are left out on purpose: while the JVM
    spawns a worker, its short-lived helper child shares the JVM's whole
    address space and would count the heap twice."""
    total = 0
    for pid, (ppid, comm) in process_tree(root_pid).items():
        if not (comm.startswith("python")
                or (comm == "java" and ppid == root_pid)):
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Background thread sampling the summed PSS of this process tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
