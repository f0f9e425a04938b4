"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code: the package's public
functions are wrapped at run time (no package file changes), and each
span labels the Spark jobs submitted under it with
``setJobDescription``. Spark's own event log, enabled through launch
conf, gives the job, stage, task and SQL-operator counts; the label
ties each job back to its span.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

LABEL_PREFIX = "perfbench-span-"
PKG = "immoeliza_pipeline_spark"

# (module, function, layer, op): the public functions each layer's
# spans are recorded around.
TARGETS = [
    ("sources.readers", "load_table", "sources", "read"),
    ("plans.pipeline", "write_versioned", "sources", "write"),
    ("ml.pipelines", "save_model", "sources", "write"),
    ("ml.pipelines", "fit_linear_pipeline", "ml", "fit"),
    ("ml.pipelines", "fit_random_forest_pipeline", "ml", "fit"),
    ("ml.pipelines", "fit_gbt_pipeline", "ml", "fit"),
    ("ml.pipelines", "evaluate", "ml", "eval"),
    ("ml.pipelines", "grid_search_linear", "ml", "search"),
    ("ml.pipelines", "randomized_search", "ml", "search"),
    ("ml.regression", "fit_ols", "ml", "fit"),
    ("ml.regression", "evaluate_ols", "ml", "eval"),
    ("operators.dedup", "connected_components", "operators.dedup", "cc"),
    ("operators.dedup", "jaccard_pairs", "operators.dedup", "jaccard"),
    ("operators.similarity", "kmeans_iterations", "operators.similarity",
     "kmeans"),
    ("streaming.events", "process_all", "streaming", "run"),
]
SELF_LAYERS = ("plans", "sources", "pipeline", "ml", "streaming",
               "operators.dedup", "operators.similarity")


@dataclass
class Span:
    sid: int
    layer: str
    op: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, every span is a no-op."""

    def __init__(self) -> None:
        self.enabled = False
        self.overhead = 0.0     # seconds spent in span bookkeeping
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._tls.__dict__.setdefault("stack", [])
        sp = Span(len(self.spans), layer, op, stack[-1] if stack else None,
                  threading.get_ident(), time.time())
        self.spans.append(sp)
        prev = self._label(LABEL_PREFIX + str(sp.sid))
        stack.append(sp.sid)
        self.overhead += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t0 = time.perf_counter()
            stack.pop()
            sp.end = time.time()
            self._label(prev)
            self.overhead += time.perf_counter() - t0

    def _label(self, label: str | None) -> str | None:
        if self._sc is None:
            return None
        prev = self._sc.getLocalProperty("spark.job.description")
        self._sc.setLocalProperty("spark.job.description", label)
        return prev

    def wrap(self, fn, layer: str, op: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(layer, op):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        """Wrap every target function, in its own module and in every
        package module that imported it by name."""
        for mod, fn_name, layer, op in TARGETS:
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), fn_name)
            traced = self.wrap(orig, layer, op)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, traced)


# ---- Spark event log --------------------------------------------------

@dataclass
class Job:
    start: float
    end: float
    label: str | None
    exec_id: int | None
    stages: list[int]


@dataclass
class Stage:
    run_ms: int = 0
    gc_ms: int = 0
    spill_mem: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    task_ms: list[int] = field(default_factory=list)


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = defaultdict(Stage)
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.acc: dict[int, int] = defaultdict(int)

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        log = cls()
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    log._event(json.loads(line))
        return log

    def _event(self, ev: dict) -> None:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                ev["Submission Time"] / 1e3, 0.0,
                props.get("spark.job.description"),
                int(eid) if eid is not None else None, ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job:
                job.end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = self.stages[ev["Stage ID"]]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            st.run_ms += tm.get("Executor Run Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.spill_mem += tm.get("Memory Bytes Spilled", 0)
            rd = tm.get("Shuffle Read Metrics") or {}
            st.shuffle_read += (rd.get("Remote Bytes Read", 0)
                                + rd.get("Local Bytes Read", 0))
            wr = tm.get("Shuffle Write Metrics") or {}
            st.shuffle_write += wr.get("Shuffle Bytes Written", 0)
            for a in info.get("Accumulables") or []:
                upd = a.get("Update")
                if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
                    self.acc[a["ID"]] += int(upd)
        elif kind in ("SparkListenerSQLExecutionStart",
                      "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[ev["executionId"]].append(ev["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for aid, val in ev["accumUpdates"]:
                self.acc[aid] += val


def _walk(node: dict):
    yield node
    for child in node.get("children") or []:
        yield from _walk(child)


def _rows_metric(node: dict) -> int | None:
    for m in node.get("metrics") or []:
        if m["name"] == "number of output rows":
            return m["accumulatorId"]
    return None


def _is_candidate_join(node: dict) -> bool:
    """The jaccard shingle self-join: equal shingles, ``id < id``."""
    s = node.get("simpleString", "")
    return ("Join" in node.get("nodeName", "") and s.count("[shingle#") == 2
            and " < id#" in s)


def _is_kept_join(node: dict) -> bool:
    """The join that applies the jaccard threshold as its condition."""
    s = node.get("simpleString", "")
    return ("Join" in node.get("nodeName", "") and "10000.0" in s
            and ">= " in s)


def pair_counts(log: EventLog, exec_ids: set[int]) -> tuple[int, int]:
    """(candidate-join output rows, kept pairs) over the given SQL
    executions, from the operators' own row counters."""
    cand_ids, kept_ids = set(), set()
    for eid in exec_ids:
        for plan in log.plans.get(eid, []):
            for node in _walk(plan):
                aid = _rows_metric(node)
                if aid is None:
                    continue
                if _is_candidate_join(node):
                    cand_ids.add(aid)
                elif _is_kept_join(node):
                    kept_ids.add(aid)
    return (sum(log.acc.get(a, 0) for a in cand_ids),
            sum(log.acc.get(a, 0) for a in kept_ids))


def _is_kmeans_assign(node: dict) -> bool:
    """The Lloyd assignment: a per-row argmin over the broadcast
    centroid array that ``kmeans_assign`` builds."""
    return "array_min(transform(__cs#" in node.get("simpleString", "")


def exec_ids(log: EventLog, pred) -> set[int]:
    """SQL executions whose plan has a node matching ``pred``."""
    return {eid for eid, plans in log.plans.items()
            if any(pred(n) for p in plans for n in _walk(p))}


# ---- per-layer metrics ------------------------------------------------

def _union(intervals) -> float:
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


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def layer_metrics(spans: list[Span], roots: list[int], log: EventLog,
                  n_passes: int, cores: int) -> dict[str, float]:
    """Per-layer metrics over the query spans ``roots`` of ``n_passes``
    warm passes, as means per pass."""
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)

    def subtree(sid: int):
        yield spans[sid]
        for c in children[sid]:
            yield from subtree(c.sid)

    inside = [sp for r in roots for sp in subtree(r)]
    in_ids = {sp.sid for sp in inside}
    by = defaultdict(list)
    for sp in inside:
        by[(sp.layer, sp.op)].append(sp)

    def total(layer, op):
        return _union((s.start, s.end) for s in by[(layer, op)])

    def calls(layer, op):
        return len(by[(layer, op)])

    # jobs: attributed to the innermost span that labelled them, or,
    # for jobs that carry another label (a stream's micro-batches set
    # their own), to the innermost span open when they were submitted
    def ancestors(sid):
        while sid is not None:
            yield spans[sid]
            sid = spans[sid].parent

    def open_at(t: float) -> int | None:
        live = [sp for sp in inside if sp.start <= t <= sp.end]
        return max(live, key=lambda sp: sp.start).sid if live else None

    jobs = []
    for job in log.jobs.values():
        if job.label and job.label.startswith(LABEL_PREFIX):
            sid = int(job.label[len(LABEL_PREFIX):])
        else:
            sid = open_at(job.start)
        if sid in in_ids:
            jobs.append((job, {(s.layer, s.op) for s in ancestors(sid)}))

    def jobs_under(layer, op):
        return sum(1 for _, lo in jobs if (layer, op) in lo)

    job_iv = [(j.start, j.end) for j, _ in jobs]
    stage_ids = {s for j, _ in jobs for s in j.stages}
    ran = [log.stages[s] for s in stage_ids if s in log.stages]

    # self time: each instant goes to the innermost span on its thread
    self_t = defaultdict(float)
    for sp in inside:
        kids = [c for c in children[sp.sid] if c.thread == sp.thread]
        self_t[sp.layer] += sp.dur - sum(c.dur for c in kids)

    wall = sum(spans[r].dur for r in roots)
    covered = sum(sum(c.dur for c in children[r]) for r in roots)
    outside = sum(spans[r].dur - _union(_clip(job_iv, spans[r].start,
                                                spans[r].end))
                  for r in roots)

    # an operator's time: its own spans, plus the jobs of SQL
    # executions whose plan holds its operator (the plan is lazy, so
    # those jobs may run under a later action)
    def operator(layer, op, pred) -> tuple[float, int, set[int]]:
        execs = exec_ids(log, pred) & {j.exec_id for j, _ in jobs}
        iv = [(s.start, s.end) for s in by[(layer, op)]]
        its = [j for j, lo in jobs if j.exec_id in execs or (layer, op) in lo]
        return _union(iv + [(j.start, j.end) for j in its]), len(its), execs

    jaccard_s, _, cand_execs = operator("operators.dedup", "jaccard",
                                        _is_candidate_join)
    cand_rows, kept_rows = pair_counts(log, cand_execs)
    kmeans_s, kmeans_jobs, _ = operator("operators.similarity", "kmeans",
                                        _is_kmeans_assign)

    run_s = sum(st.run_ms for st in ran) / 1e3
    skews = [max(st.task_ms) / statistics.median(st.task_ms)
             for st in ran
             if len(st.task_ms) >= 4 and statistics.median(st.task_ms) > 0]
    per = 1.0 / max(n_passes, 1)
    m = {
        "sources.read_calls": calls("sources", "read") * per,
        "sources.read_s": total("sources", "read") * per,
        "sources.write_s": total("sources", "write") * per,
        "plans.build_s": total("plans", "build") * per,
        "plans.build_jobs": jobs_under("plans", "build") * per,
        "plans.action_s": total("plans", "action") * per,
        "pipeline.ingest_s": total("pipeline", "ingest") * per,
        "pipeline.preprocess_s": total("pipeline", "preprocess") * per,
        "pipeline.model_s": total("pipeline", "model") * per,
        "pipeline.model_ml_s": total("pipeline", "model_ml") * per,
        "pipeline.publish_s": total("pipeline", "publish") * per,
        "ml.fit_calls": calls("ml", "fit") * per,
        "ml.fit_s": total("ml", "fit") * per,
        "ml.eval_s": total("ml", "eval") * per,
        "operators.dedup.cc_calls": calls("operators.dedup", "cc") * per,
        "operators.dedup.cc_jobs": jobs_under("operators.dedup", "cc") * per,
        "operators.dedup.cc_s": total("operators.dedup", "cc") * per,
        "operators.dedup.jaccard_s": jaccard_s * per,
        "operators.dedup.pair_yield": kept_rows / cand_rows if cand_rows else 0.0,
        "operators.similarity.kmeans_s": kmeans_s * per,
        "operators.similarity.kmeans_jobs": kmeans_jobs * per,
        "streaming.run_s": total("streaming", "run") * per,
        "exec.jobs": len(jobs) * per,
        "exec.stages": len(ran) * per,
        "exec.tasks": sum(len(st.task_ms) for st in ran) * per,
        "exec.executor_run_s": run_s * per,
        "exec.core_util": run_s / (wall * cores) if wall else 0.0,
        "exec.shuffle_read_bytes": sum(st.shuffle_read for st in ran) * per,
        "exec.shuffle_write_bytes": sum(st.shuffle_write for st in ran) * per,
        "exec.spill_bytes": sum(st.spill_mem for st in ran) * per,
        "exec.gc_s": sum(st.gc_ms for st in ran) / 1e3 * per,
        "exec.task_skew": max(skews, default=1.0),
        "exec.driver_outside_jobs_s": outside * per,
        "trace.attributed_share": covered / wall if wall else 0.0,
    }
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = self_t[layer] * per
    return m
