"""Benchmark of the ImmoEliza Spark port: one workload per run.

    python3 perfbench/run.py --workload weekly_dag --seed 1 --seconds 20 --trace 0

One client runs one query at a time in a closed loop on ``local[4]``.
A run sets up (seeded inputs, the Spark session), makes one cold pass
over the workload's steps, then repeats warm passes for ``--seconds``.
Every output is checked against ``perfbench/expected.json``, outside
every timer. The last line of standard output is one JSON object.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics of the warm passes instead: Spark's event log is on
from launch and the package's layer functions are wrapped in spans
(see ``spans.py``). Its ``trace.pass_s`` against the untraced
``pass_s`` is the tracing overhead; ``trace.overhead_s`` is the part
spent in span bookkeeping.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import workloads as W
from spans import EventLog, Tracer, layer_metrics

T0 = time.time()
CORES = 4
DRIVER_MEM = "3g"
# the traced run must attribute at least this share of step wall time
# to named child spans, or it is marked incorrect
MIN_ATTRIBUTED = 0.9


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal() -> tuple[int, int]:
    """Host CPU ticks stolen from this VM, and all ticks, so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its live
    children: the Python driver and its Spark JVM. The JVM's Python
    workers come and go and share pages with their parent, so they are
    left out."""
    me = os.getpid()
    pids = [me]
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        pids.append(int(d))
            except OSError:
                continue
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                kb += next((int(line.split()[1]) for line in f
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024


@dataclass
class Pass:
    latencies: dict[str, float] = field(default_factory=dict)
    roots: list[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    published: int = 0
    dag_input: int = 0

    @property
    def total(self) -> float:
        return sum(self.latencies.values())


class Runner:
    """Runs the passes of one workload and checks every output."""

    def __init__(self, spark, wl: W.Workload, dirs: dict[bool, str],
                 work: str, tracer: Tracer,
                 expected: dict | None = None) -> None:
        from immoeliza_pipeline_spark.harness import all_queries
        self.spark, self.wl, self.dirs, self.work = spark, wl, dirs, work
        self.tracer = tracer
        self.queries = all_queries()
        self.expected = expected
        self.n = 0

    def run_pass(self) -> Pass:
        """One pass over the steps; each output is checked against its
        expected digest after the step's timer stops."""
        p = Pass()
        for step in self.wl.steps:
            p.attempted += 1
            try:
                got = self.digest(step, p)
                problems = W.diff_digest(got, self.expected[step.name])
            except Exception:
                traceback.print_exc()
                problems = ["raised"]
            if problems:
                p.failed += 1
                print(f"# FAIL {self.wl.name}/{step.name}: {problems}",
                      file=sys.stderr)
        self.n += 1
        return p

    def digest(self, step: W.Step, p: Pass) -> dict:
        """Run one step, timed, then digest its output."""
        if step.name == W.DAG:
            return self.dag(step, p)
        return W.frame_digest(self.query(step, p))

    def query(self, step: W.Step, p: Pass):
        """Build and count one registry query, timed; returns the
        frame."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("query", step.name) as root:
            with tr.span("plans", "build"):
                df = self.queries[step.name](self.spark,
                                             self.dirs[step.scaled])
            with tr.span("plans", "action"):
                df.count()
        p.latencies[step.name] = time.perf_counter() - t0
        if root is not None:
            p.roots.append(root.sid)
        return df

    def dag(self, step: W.Step, p: Pass) -> dict:
        """Run the weekly DAG into a fresh directory, timed; returns the
        digest of what it published."""
        from immoeliza_pipeline_spark.plans.pipeline import immoeliza_pipeline
        tr = self.tracer
        sf_dir = self.dirs[step.scaled]
        out = os.path.join(self.work, "publish", f"pass{self.n}")
        t0 = time.perf_counter()
        with tr.span("query", W.DAG) as root:
            pipe = immoeliza_pipeline(sf_dir, out)
            for st in pipe.stages:
                st.fn = tr.wrap(st.fn, "pipeline", st.name)
            results = pipe.run(self.spark)
        p.latencies[W.DAG] = time.perf_counter() - t0
        if root is not None:
            p.roots.append(root.sid)
        row = results["model_ml"].collect()[0]
        digest = W.dag_digest(out, {k: row[k] for k in W.MODEL_FIELDS})
        p.published = W.published_bytes(out)
        p.dag_input = sum(os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
                          for t in step.tables)
        shutil.rmtree(out)
        return digest


def measure(runner: Runner, seconds: float) -> list[Pass]:
    """Warm passes until ``seconds`` are spent; at least one."""
    passes, walls, t0 = [], [], time.perf_counter()
    while True:
        t = time.perf_counter()
        passes.append(runner.run_pass())
        walls.append(time.perf_counter() - t)
        if time.perf_counter() - t0 + statistics.median(walls) > seconds:
            return passes


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and its children) to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def configure(work: str, event_log: str | None = None) -> None:
    """Keep every file Spark and the package write inside ``work``;
    with ``event_log``, Spark writes its event log there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the launcher's too; without -XX:-UsePerfData each one
    # writes /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    args = ["--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={work}/warehouse"]
    if event_log:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args) + " pyspark-shell"


def main() -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, W.ROOT)
    # fail fast, before any result, when the program is not beside us
    import immoeliza_pipeline_spark.harness  # noqa: F401
    import tools.check_oracle  # noqa: F401
    wl = W.WORKLOADS[args.workload]
    work = os.path.join(W.ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure(work)
    try:
        return run(args, wl, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, wl: W.Workload, work: str, t_proc: float) -> int:
    steal0 = cpu_steal()
    tracer = Tracer()
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        configure(work, event_log=log_dir)
        from immoeliza_pipeline_spark.harness import all_queries
        all_queries()  # import every query module before wrapping
        tracer.install()
    dirs = W.make_inputs(wl, args.seed, os.path.join(work, "in"))
    from immoeliza_pipeline_spark.session import get_spark
    t = time.time()
    spark = get_spark(app_name="perfbench", cpus=CORES)
    session_s = time.time() - t
    setup_s = time.time() - t_proc
    spark.sparkContext.setLogLevel("ERROR")
    log_phase("session up")
    input_rows = W.input_rows(wl, dirs)

    if args.trace:
        tracer.bind(spark)
        tracer.enabled = True
    runner = Runner(spark, wl, dirs, work, tracer,
                    W.load_expected()[wl.name])
    cold = runner.run_pass()
    log_phase("cold pass checked")
    overhead0 = tracer.overhead
    warm = measure(runner, args.seconds)
    overhead = (tracer.overhead - overhead0) / len(warm)
    log_phase("warm passes done")
    rss = peak_rss_mb()
    stop_spark(spark)
    log_phase("spark stopped")

    passes = [cold] + warm
    pass_s = statistics.median(p.total for p in warm)
    if args.trace:
        roots = [r for p in warm for r in p.roots]
        per = layer_metrics(tracer.spans, roots, EventLog.read(log_dir),
                            len(warm), CORES)
        per.update({
            "session.start_s": session_s,
            "sources.bytes_written": statistics.median(
                p.published for p in warm),
            "sources.write_amp": write_amp(warm),
            "exec.peak_rss_mb": rss,
            "trace.pass_s": pass_s,
            "trace.overhead_s": overhead,
        })
        metrics = {k: (v, unit_of(k)) for k, v in per.items()}
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "input_rows_per_s": (input_rows / pass_s, "rows/s"),
        }

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    correct = failed == 0
    if args.trace and per["trace.attributed_share"] < MIN_ATTRIBUTED:
        print(f"# FAIL trace.attributed_share below {MIN_ATTRIBUTED}",
              file=sys.stderr)
        correct = False
    report(args, wl, cold, warm, attempted, failed, input_rows, rss, metrics)
    stolen, ticks = (a - b for a, b in zip(cpu_steal(), steal0))
    print(f"# host cpu steal {100 * stolen / max(1, ticks):.2f}% of the "
          f"run's cpu ticks")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def log_phase(what: str) -> None:
    print(f"# {time.time() - T0:7.2f} s {what}", file=sys.stderr)


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name == "sources.bytes_written":
        return "bytes"
    if name.endswith(("_calls", "_jobs", ".jobs", ".stages", ".tasks")):
        return "count"
    return "ratio"


def write_amp(passes: list[Pass]) -> float:
    """Bytes the DAG published per input byte it read (0 without a DAG)."""
    return statistics.median(p.published / p.dag_input if p.dag_input else 0.0
                             for p in passes)


def report(args, wl, cold, warm, attempted, failed, input_rows, rss,
           metrics) -> None:
    """Human-readable lines before the result line."""
    pass_s = [p.total for p in warm]
    q = statistics.quantiles(pass_s, n=4) if len(pass_s) > 1 else pass_s * 3
    print(f"# workload {wl.name} seed {args.seed} trace {args.trace}: "
          f"{len(warm)} warm passes of {len(wl.steps)} steps, "
          f"{input_rows} input rows")
    print(f"# pass_s quartiles {q[0]:.3f} / {q[1]:.3f} / {q[2]:.3f} s")
    for st in wl.steps:
        warm_s = statistics.median(p.latencies.get(st.name, 0.0) for p in warm)
        print(f"# step {st.name}: cold {cold.latencies.get(st.name, 0.0):.3f} s,"
              f" warm median {warm_s:.3f} s")
    print(f"# first_pass_s {cold.total:.3f} s (the cold pass)")
    print(f"# fail_ratio {failed / attempted:.4f} ratio "
          f"({failed} of {attempted} steps)")
    print(f"# peak_rss_mb {rss:.1f} MB")
    if any(s.name == W.DAG for s in wl.steps):
        print(f"# write_amp {write_amp(warm):.4f} ratio "
              f"(bytes published per input byte read)")
    for k, (v, u) in metrics.items():
        print(f"# {k} {v:.6g} {u}")


if __name__ == "__main__":
    sys.exit(main())
