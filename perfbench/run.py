"""Benchmark of the engine as its users wait for it.

    python3 perfbench/run.py --workload movielens_csv --seed 1 --seconds 12 --trace 0

Workloads (see README.md): ``movielens_csv`` and ``query_mix``;
``--workload all`` runs each in turn in child processes.
One process, one client, closed loop, on ``local[nproc]``.  Each run
works in a fresh directory under ``perfbench/.work/`` that is removed when
the run ends: seeded inputs are generated there, and all engine temp
files (Spark local dirs, the stored inverted index under
``tempfile.gettempdir()``) live there too, so every run starts from the
same cache state.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes a traced
run (Spark event log on, one job group per span) and prints the per-layer
metrics, then runs the workload again untraced in the same process to
report the trace's overhead.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreducemovieanalysis_cloud_spark"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measured operation time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(work: str) -> dict[str, str]:
    """Point every temp directory the engine uses into ``work`` and return
    the Spark conf that does the same for the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so set the variable
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        # The maximum heap stays the engine's (spark.driver.memory).  A 2 GB
        # initial heap keeps G1 from sizing the heap by GC timing: without
        # it the driver JVM's peak resident set ranged 2.5-4.0 GB between
        # runs of one workload, with it 2.8 GB.  An engine that needs more
        # than 2 GB of heap still shows in peak_rss_mb.
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Phase:
    """One session's worth of a workload: set-up, warm-up, measured loop.

    ``setup_s`` counts importing the engine, ``get_session``,
    ``registry.queries()`` and the warm-up operations; it excludes input
    generation and every output check."""

    def __init__(self, workload, tracer, seconds: float):
        self.wl, self.tracer, self.seconds = workload, tracer, seconds
        self.latencies: list[float] = []
        self.cpu: list[float] = []
        self.op_names: list[str] = []
        self.checked = 0
        self.failures: list[tuple[int, str]] = []
        self.setup_s = 0.0

    def _call(self, op, op_id: int) -> float:
        """Run one op inside its span, check its output untimed, and
        return its latency."""
        with self.tracer.span(op.name, op_id=op_id):
            ticks = cpu_ticks()
            start = time.perf_counter()
            try:
                out, err = op.fn(), None
            except Exception:  # a failed op is counted, never fatal
                out, err = None, traceback.format_exc(limit=3)
            elapsed = time.perf_counter() - start
            self.last_cpu_s = busy_cpu_s(ticks, cpu_ticks())
        if err is None:
            try:
                err = op.check(out)
            except Exception:
                err = traceback.format_exc(limit=3)
        self.checked += 1
        if err:
            self.failures.append((op_id, err))
        return elapsed

    def start(self, conf: dict[str, str]):
        """Start the engine and run the warm-up ops."""
        t = self.tracer
        t0 = time.perf_counter()
        with t.span("setup"):
            with t.span("engine.import"):
                from mapreducemovieanalysis_cloud_spark import cli  # noqa: F401
                from mapreducemovieanalysis_cloud_spark import registry
                from mapreducemovieanalysis_cloud_spark.session import (
                    get_session,
                )
            with t.span("session.get_session"):
                n = nproc()
                spark = get_session(
                    app_name=f"perfbench-{self.wl.name}",
                    master=f"local[{n}]",
                    shuffle_partitions=n,
                    extra_conf=conf,
                )
                spark.sparkContext.setLogLevel("ERROR")
            t.spark = spark
            with t.span("registry.queries"):
                qs = registry.queries()
            self.wl.bind(spark, qs, t)
            ready = time.perf_counter() - t0
            with t.span("warmup"):
                for k, op in enumerate(self.wl.warmup_ops()):
                    ready += self._call(op, -1 - k)
        self.setup_s = ready
        return spark

    def measure(self) -> None:
        for i, (op, may_stop) in enumerate(self.wl.ops()):
            self.latencies.append(self._call(op, i))
            self.cpu.append(self.last_cpu_s)
            self.op_names.append(op.name)
            if may_stop and sum(self.latencies) >= self.seconds:
                break

    def finish(self) -> None:
        """Deferred output checks, once the session has stopped."""
        self.failures += sorted(self.wl.finish().items())


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


_TCK = os.sysconf("SC_CLK_TCK")


def busy_cpu_s(before: list[int], after: list[int]) -> float:
    """CPU seconds the machine spent running work (user, nice, system, irq,
    softirq) between two readings; time stolen by the hypervisor and idle
    time are not counted."""
    d = [b - a for a, b in zip(before, after)]
    return (d[0] + d[1] + d[2] + d[5] + d[6]) / _TCK


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def _end_to_end(phase: Phase, rss_mb: float) -> tuple[dict, dict]:
    from spans import tail_latency
    from statistics import median

    lat = phase.latencies
    tail, pct = tail_latency(lat)
    busy = sum(lat)
    metrics = {
        "setup_s": {"value": phase.setup_s, "unit": "s"},
        "op_p50_s": {"value": median(lat), "unit": "s"},
        "ops_per_s": {"value": len(lat) / busy, "unit": "1/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }
    by_kind: dict[str, list[float]] = {}
    for name, t in zip(phase.op_names, lat):
        by_kind.setdefault(name, []).append(t)
    # Reported, not gated.  With the operations one run affords, the tail
    # rule lands on the maximum (ten or fewer) or on a low percentile; the
    # CPU median spread more than the wall-clock one over ten seeds
    # (IQR/median 0.15 against 0.11 on query_mix, 0.12 against 0.10 on
    # movielens_csv).
    info = {
        "op_tail_s": round(tail, 4),
        "op_tail_percentile": round(pct, 2),
        "op_cpu_p50_s": round(median(phase.cpu), 4),
        "ops": len(lat),
        "failed_ratio": len(phase.failures) / phase.checked,
        "op_p50_s_by_kind": {k: round(median(v), 4)
                             for k, v in sorted(by_kind.items())},
        **phase.wl.throughput(list(zip(phase.op_names, lat))),
    }
    return metrics, info


def _call_metrics() -> list[tuple[str, str, str, str]]:
    """Per-layer metrics of calls that only some workload makes, as
    ``(metric, span name, field, unit)``: the median over the measured
    operations' spans of that name of their duration (field ``s``) or of
    a total of their Spark jobs, nested spans included; 0 on a workload
    that never makes the call."""
    from workloads import CURATION, RELATIONAL

    out = [("cli.run.rank_s", "cli.run.rank", "s", "s"),
           ("cli.run.rating_s", "cli.run.rating", "s", "s")]
    for n in RELATIONAL + CURATION:
        q = f"queries.{n}"
        out += [(f"{q}.build_s", f"{q}.build", "s", "s"),
                (f"{q}.exec_s", f"{q}.exec", "s", "s"),
                (f"{q}.build_jobs", f"{q}.build", "jobs", "count")]
    w = "sources.writers"
    out += [(f"{w}.write_epoch_s", f"{w}.write_epoch", "s", "s"),
            (f"{w}.read_epochs_s", f"{w}.read_epochs", "s", "s"),
            (f"{w}.compact_epochs_s", f"{w}.compact_epochs", "s", "s"),
            (f"{w}.compact_bytes_rewritten", f"{w}.compact_epochs",
             "output_bytes", "bytes")]
    return out


def _inclusive_stats(spans, group_stats: dict):
    """A function from span id to the Spark job totals of that span and
    every span nested in it."""
    from spans import merge_stats

    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.span_id)

    def inclusive(span_id: int) -> dict:
        own = group_stats.get(f"span-{span_id}")
        return merge_stats([*([own] if own else []),
                            *(inclusive(k) for k in kids.get(span_id, []))])

    return inclusive


def _per_layer(phase: Phase, log_path: str, untraced_p50: float) -> dict:
    import spans as tr

    jobs, tasks = tr.parse_event_log(log_path)
    gstats = tr.group_stats(jobs, tasks)
    spans = phase.tracer.spans
    op_ids = set(range(len(phase.latencies)))
    per_op = {i: [] for i in op_ids}
    op_span = {}
    for s in spans:
        if s.op_id in per_op:
            g = gstats.get(f"span-{s.span_id}")
            if g:
                per_op[s.op_id].append(g)
            if s.parent is None:
                op_span[s.op_id] = s
    ops = {i: tr.merge_stats(v) for i, v in per_op.items()}

    def med(key):
        return statistics.median(ops[i][key] for i in op_ids)

    def clipped_jobs_s(i):
        s = op_span[i]
        return tr.covered([(max(a, s.start), min(b, s.end))
                           for a, b in ops[i]["job_intervals"] if b > a])

    inclusive = _inclusive_stats(spans, gstats)
    by_name: dict[str, list] = {}
    for s in spans:
        if s.op_id in op_ids:
            by_name.setdefault(s.name, []).append(s)

    def call(name, field):
        ss = by_name.get(name)
        if not ss:
            return 0.0
        return statistics.median(s.duration if field == "s"
                                 else inclusive(s.span_id)[field] for s in ss)

    writes = [inclusive(s.span_id)["output_bytes"]
              for n in phase.wl.writer_spans for s in by_name.get(n, [])]
    busy = sum(phase.latencies)
    traced_p50 = statistics.median(phase.latencies)
    first = {s.name: s.duration for s in reversed(spans) if s.op_id < 0}
    m = {
        "session.get_session_s": (first["session.get_session"], "s"),
        "registry.queries_s": (first["registry.queries"], "s"),
        "queries.warmup_s": (first["warmup"], "s"),
        "op.driver_s": (statistics.median(
            op_span[i].duration - clipped_jobs_s(i) for i in op_ids), "s"),
        "op.jobs_s": (statistics.median(clipped_jobs_s(i) for i in op_ids),
                      "s"),
        "scheduler.jobs": (med("jobs"), "count"),
        "scheduler.stages": (med("stages"), "count"),
        "scheduler.tasks": (med("tasks"), "count"),
        "scheduler.task_skew": (med("task_skew"), "ratio"),
        "scheduler.busy_ratio": (
            sum(ops[i]["task_s"] for i in op_ids) / (nproc() * busy),
            "ratio"),
        "jvm.gc_s": (phase.gc_s / len(op_ids), "s"),
        "sources.readers.input_bytes": (med("input_bytes"), "bytes"),
        "sources.readers.input_records": (med("input_records"), "count"),
        "sources.readers.scan_task_s": (med("scan_task_s"), "s"),
        "operators.shuffle_write_bytes": (med("shuffle_write_bytes"), "bytes"),
        "operators.shuffle_read_bytes": (med("shuffle_read_bytes"), "bytes"),
        "operators.shuffle_task_s": (med("shuffle_task_s"), "s"),
        "operators.spill_bytes": (med("spill_bytes"), "bytes"),
        "sources.writers.output_bytes": (statistics.median(writes), "bytes"),
        **{k: (call(name, field), u) for k, name, field, u in _call_metrics()},
        "trace.op_p50_s": (traced_p50, "s"),
        "trace.overhead_ratio": (traced_p50 / untraced_p50, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _engine_info(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _descendants(pid: int) -> set[int]:
    """Every process below ``pid``, read from ``/proc``."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = set(), [pid]
    while todo:
        pid = todo.pop()
        kids = [c for c, pp in parent.items() if pp == pid]
        out.update(kids)
        todo += kids
    return out


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs; a zombie child of ours is reaped."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _end(pids: set[int], grace: float = 10.0) -> None:
    """Terminate ``pids``, kill what outlives ``grace`` seconds, and wait
    until none runs."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while pids and time.monotonic() < deadline:
            pids = {p for p in pids if _running(p)}
            time.sleep(0.05)
        if not pids:
            return


def stop_engine() -> None:
    """Stop the Spark session, then the JVM PySpark started for it and
    every process below that, and wait until each has ended.

    ``SparkSession.stop`` leaves the JVM running; it exits on its own only
    after it sees its stdin close, which happens after this process has
    gone."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    below = _descendants(os.getpid())
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # the JVM may be gone already
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM's signal to exit
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _end({p for p in below | _descendants(os.getpid()) if _running(p)})


def run_workload(args, work: str) -> dict:
    import spans as tr
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    wl.prepare()
    # peak memory covers the engine, not input generation and references
    tr.reset_peak_rss()
    ticks = cpu_ticks()
    conf = _isolate(work)
    log_dir = os.path.join(work, "eventlog")
    phase = Phase(wl, tr.Tracer(jobs=bool(args.trace)), args.seconds)
    spark = phase.start({**conf, **(_event_log_conf(log_dir)
                                     if args.trace else {})})
    info = _engine_info(spark)
    app_id = spark.sparkContext.applicationId
    gc0 = jvm_gc_s(spark)
    phase.measure()
    phase.gc_s = jvm_gc_s(spark) - gc0
    rss = tr.peak_rss_mb()
    info["python_peak_rss_mb"] = round(tr.peak_rss_mb(children=False), 1)
    info["jvm_gc_s"] = round(phase.gc_s, 3)
    untraced_p50 = None
    if args.trace:
        # measure again without the event log: a new session in the same
        # JVM, on the same inputs, warmed up like the first (a new session
        # empties the engine's per-application table memo)
        spark.stop()
        again = Phase(wl.rerun(), tr.Tracer(jobs=False), args.seconds)
        # builder options outlive a session, so switch the log off again
        spark = again.start({**conf, "spark.eventLog.enabled": "false"})
        again.measure()
        untraced_p50 = statistics.median(again.latencies)
    spark.stop()
    phase.finish()
    checked, failures = phase.checked, list(phase.failures)
    if args.trace:
        again.finish()
        checked += again.checked
        failures += again.failures
    metrics, extra = _end_to_end(phase, rss)
    info["cpu_steal_pct"] = round(steal_pct(ticks, cpu_ticks()), 2)
    result = {"info": {**info, "workload": wl.name, "seed": args.seed,
                       "inputs": wl.sizes, **extra},
              "failures": failures, "attempted": checked}
    if args.trace:
        log = os.path.join(log_dir, app_id)
        result["metrics"] = _per_layer(phase, log, untraced_p50)
    else:
        result["metrics"] = metrics
    trace_dir = os.path.join(HERE, ".work", "traces")
    os.makedirs(trace_dir, exist_ok=True)
    phase.tracer.dump(
        os.path.join(trace_dir, f"{wl.name}-s{args.seed}-t{args.trace}.json"),
        {k: result[k] for k in ("info", "metrics")})
    return result


def _report(result: dict) -> None:
    info = result["info"]
    print(json.dumps({"info": info}, sort_keys=True))
    for name, m in result["metrics"].items():
        print(f"{info['workload']}  {name} = {m['value']:.6g} {m['unit']}")
    for op, reason in result["failures"]:
        print(f"FAILED op {op}: {reason.strip().splitlines()[-1]}")
    print(json.dumps({
        "correct": not result["failures"],
        "attempted": result["attempted"],
        "failed": len(result["failures"]),
        "metrics": result["metrics"],
    }))


def _run_all(args) -> int:
    """Each workload in its own child process, one after another."""
    from workloads import WORKLOADS

    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        with subprocess.Popen(cmd) as child:
            try:
                code = child.wait() or code
            finally:
                if child.poll() is None:
                    child.terminate()  # it stops its own engine on SIGTERM
                    child.wait()
    return code


def main(argv=None) -> int:
    # a terminated run unwinds, so its engine processes are stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found in {ROOT}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return _run_all(args)
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-"
                        f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_workload(args, work)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
    _report(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
