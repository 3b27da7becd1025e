#!/usr/bin/env python3
"""Statement-to-report benchmark for the credit-card engine.

    python3 perfbench/run.py --workload {backfill_bulk,monthly_close,rfm_reports,all}
                             --seed N --seconds S --trace {0,1}

Run from the repository root.  One run starts a Spark session on
``local[N]`` (N = cores available to the process), builds the workload's
inputs from ``--seed`` and runs the workload's operation once in the
fresh session: the end-to-end metrics describe that operation, a batch
job as a scheduler launches it.  Until ``--seconds`` have passed since
it started, further operations follow in a closed loop (one client);
they are checked, and their times are printed, not reported.  Every
operation's output is checked against the generator's ground truth or
the DuckDB oracle.  The run prints each metric by name and unit, a JSON
line stamping the environment, and last one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports the per-layer metrics: the first operation runs
untraced with the Spark event log on (the ``driver.*`` numbers), the
second traced (layer spans).  Spans are written to
``.perfbench/traces/``.  ``--workload all`` runs the three workloads one
after another in child processes.

Everything the run writes stays under ``.perfbench/`` in the checkout.

The measuring runs in a child process.  The parent is a child subreaper
(Linux ``prctl``): when the child exits, every process it left behind —
the Spark JVM, Python workers — has become the parent's child, and the
parent ends and reaps each of them before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

from workloads import Outcome

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("backfill_bulk", "monthly_close", "rfm_reports")

#: Input generation is repeated this many times per run; ``setup_s``
#: counts the median.
SETUP_REPEATS = 3
#: Driver JVM heap: the inputs are small, and the host is shared.
DRIVER_MEM = "1g"

#: Set in the environment of the measuring child process.
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
#: Seconds a left-over process has to end on SIGTERM before SIGKILL.
STOP_GRACE_S = 10.0

UNITS = {"setup_s": "s", "op_s": "s", "jvm_live_heap_mb": "MB"}


@dataclass
class OpRecord:
    index: int
    seconds: float  # wall time
    steal: float  # the hypervisor's steal share over the operation
    cpu_seconds: float  # of the process tree: driver, JVM, Python workers
    start: float  # wall clock, comparable with event-log times
    end: float
    out: Outcome  # a failed operation has no rows
    ok: bool
    traced: bool
    files_written: int = 0


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def files_written(path: str, since: float) -> int:
    n = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet") and os.path.getmtime(
                    os.path.join(dirpath, name)) >= since:
                n += 1
    return n


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def jvm_live_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the session
    keeps (plans, broadcasts, cached blocks).  The peak resident size
    moved by up to a quarter from run to run with the collector's timing."""
    gc.collect()  # Python proxies of JVM objects release them when freed
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    # the context cleaner then drops unreferenced broadcast and shuffle
    # blocks on its own thread; the second collection frees them
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal), summed over its CPUs."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the CPU time this (virtual) machine asked for that the
    hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / (busy + d[7]) if busy + d[7] else 0.0


def cpu_pressure() -> str | None:
    """The kernel's CPU pressure line (share of time tasks waited for a
    CPU), where the kernel reports it."""
    try:
        with open("/proc/pressure/cpu") as fh:
            return fh.readline().strip()
    except OSError:
        return None


def end_to_end(first: OpRecord, setup: dict[str, float], heap_mb: float
               ) -> dict[str, float]:
    """Times are wall time less the share the hypervisor stole over the
    same interval: the time the run took on the CPU it was given."""
    return {"setup_s": setup["setup_s"] * (1.0 - setup["steal"]),
            "op_s": first.seconds * (1.0 - first.steal), "jvm_live_heap_mb": heap_mb}


#: span name -> layer, for spans that are not ``rfm.*`` reports
SPAN_LAYER = {
    "ingest.decode": "ingest", "ingest.parse": "ingest", "ingest.header": "ingest",
    "extract_cards": "extract_cards", "bank_parse": "cleanse", "cleanse": "cleanse",
    "refine": "refine", "warehouse.load": "warehouse", "warehouse.write": "warehouse",
    "warehouse.read": "warehouse", "merchants.resolve": "merchants",
}
#: per-report latency metric -> registered query
REPORT_METRIC = {
    "rfm.merchant_full_s": "rfm_merchant_full",
    "rfm.unknown_top10_s": "merchant_unknown_top10",
    "rfm.payment_distribution_s": "payment_method_distribution",
}


def per_layer(plain: OpRecord, traced: OpRecord, spans, jobs,
              setup: dict[str, float]) -> dict[str, float]:
    """Layer metrics of the traced operation; ``driver.*`` of the untraced
    one before it, the operation the end-to-end metrics time."""
    from spans import idle_frac, self_time

    def layer_of(name: str) -> str:
        return "rfm" if name.startswith("rfm.") else SPAN_LAYER.get(name, "op")

    def dur(*names: str) -> float:
        return sum(s.end - s.start for s in spans if s.name in names)

    def rows(*names: str) -> int:
        return sum(s.rows or 0 for s in spans if s.name in names)

    def stat(layer: str, key: str) -> float:
        return sum(s.stats.get(key, 0) for s in spans if layer_of(s.name) == layer)

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    out = traced.out
    m = {
        "session.start_s": setup["start_s"],
        "ingest.decode_s": dur("ingest.decode"),
        "ingest.header_s": dur("ingest.header"),
        "ingest.bytes_in": out.bytes_in,
        "ingest.lines": rows("ingest.decode"),
        "ingest.files": out.files,
        "ingest.parsed_frac": ratio(rows("ingest.parse"), out.data_lines),
        "extract_cards.s": dur("extract_cards"),
        "extract_cards.rows_out": rows("extract_cards"),
        "cleanse.s": dur("bank_parse", "cleanse"),
        "cleanse.kept_frac": ratio(rows("cleanse"), rows("extract_cards")),
        "refine.s": dur("refine"),
        "refine.rows": rows("refine"),
        "warehouse.write_s": dur("warehouse.write"),
        "warehouse.countback_s": sum(self_time(s, spans) for s in spans
                                     if s.name == "warehouse.load"),
        "warehouse.files_written": traced.files_written,
        "warehouse.read_s": dur("warehouse.read"),
        "merchants.resolve_s": dur("merchants.resolve"),
    }
    for layer, keys in {
        "ingest": ("cpu_s", "gc_s", "jobs", "tasks"),
        "extract_cards": ("shuffle_bytes", "tasks"),
        "cleanse": ("cpu_s",),
        "refine": ("cpu_s",),
        "warehouse": ("shuffle_bytes", "jobs"),
        "rfm": ("shuffle_bytes", "spill_bytes", "jobs", "tasks", "cpu_s", "gc_s"),
    }.items():
        for key in keys:
            m[f"{layer}.{key}"] = stat(layer, key)
    m["warehouse.bytes_written"] = stat("warehouse", "output_bytes")
    m["warehouse.write_amp"] = ratio(m["warehouse.bytes_written"], m["ingest.bytes_in"])
    for metric, report in REPORT_METRIC.items():
        m[metric] = dur("rfm." + report)
    plain_jobs = jobs.get(f"u{plain.index}", [])
    m["driver.jobs_per_op"] = len(plain_jobs)
    m["driver.idle_frac"] = idle_frac(plain.start, plain.end, plain_jobs)
    # what forcing each layer's output inside its span adds to the operation
    forced = sum(s.force_s for s in spans)
    m["trace.overhead_frac"] = ratio(forced, traced.seconds - forced)
    return m


def run_one(args: argparse.Namespace) -> int:
    name, trace = args.workload, bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{name}-{args.seed}-{os.getpid()}")
    tmp, log_dir = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, log_dir):
        os.makedirs(d)
    prior = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # decode workers of mapInPandas import the engine by module path
        "PYTHONPATH": f"{ROOT}:{prior}" if prior else ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
    })
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    loadavg, ticks0 = os.getloadavg(), cpu_ticks()

    try:
        import pyspark

        from credit_card_etl_pipeline_spark.session import get_spark
        from spans import Tracer, attribute, dump, event_log_conf, instrumented
        from workloads import WORKLOADS

        t0, setup_ticks = time.perf_counter(), cpu_ticks()
        # -Xms = heap max: G1 does not resize the heap during the run
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
                "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse")}
        if trace:
            conf.update(event_log_conf(log_dir))
        spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
        try:
            start_s = time.perf_counter() - t0
            tracer = Tracer(spark, enabled=False)
            w = WORKLOADS[name](spark, work, args.seed, tracer)
            gen = []
            for _ in range(SETUP_REPEATS):
                t = time.perf_counter()
                w.generate()
                gen.append(time.perf_counter() - t)
            t = time.perf_counter()
            w.prepare()
            prepare_s = time.perf_counter() - t
            setup = {"start_s": start_s, "generate_s": statistics.median(gen),
                     "prepare_s": prepare_s,
                     "setup_s": start_s + statistics.median(gen) + prepare_s,
                     "steal": steal_frac(setup_ticks, cpu_ticks())}

            loop0 = time.perf_counter()
            results = [run_op(w, tracer, 0)]
            heap_mb = jvm_live_heap_mb(spark)
            if trace:
                tracer.enabled = True
                with instrumented(tracer):
                    results.append(run_op(w, tracer, 1))
            else:
                while time.perf_counter() - loop0 < args.seconds:
                    results.append(run_op(w, tracer, len(results)))

            rss = jvm_peak_rss_mb(spark)
        finally:
            stop_spark(spark)

        failed = sum(not r.ok for r in results)
        if trace:
            stats = attribute(tracer.spans, log_dir)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            dump(tracer.spans, os.path.join(base, "traces", f"{name}-s{args.seed}.json"))
            metrics = per_layer(results[0], results[1], tracer.spans, stats.jobs, setup)
            units = None
        else:
            metrics = end_to_end(results[0], setup, heap_mb)
            units = UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in metrics.items():
        print(f"metric {k} = {v:.6g} {units[k] if units else layer_unit(k)}")
    print(f"metric failed_frac = {failed / len(results):.6g} ratio")
    print(json.dumps({
        "workload": name, "seed": args.seed, "trace": int(trace),
        "pyspark": pyspark.__version__, "cpus": cpus, "master": f"local[{cpus}]",
        "driver_memory": DRIVER_MEM, "loadavg_start": [round(x, 2) for x in loadavg],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "cpu_pressure": cpu_pressure(), "jvm_peak_rss_mb": round(rss, 1),
        "steal_frac": round(steal_frac(ticks0, cpu_ticks()), 3),
        "op_seconds": [round(r.seconds, 3) for r in results],
        "op_steal": [round(r.steal, 3) for r in results],
        "op_cpu_seconds": [round(r.cpu_seconds, 2) for r in results],
        "setup": {k: round(v, 4) for k, v in setup.items()},
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(results), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k] if units else layer_unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it: the JVM exits when its
    stdin closes, and ``SparkSession.stop`` leaves it running."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def run_op(w, tracer, i: int) -> OpRecord:
    traced = tracer.enabled
    cpu0, ticks0 = tree_cpu_s(), cpu_ticks()
    with tracer.op(f"{'t' if traced else 'u'}{i}"):
        t0, start = time.perf_counter(), time.time()
        try:
            out = w.op(i)
        except Exception as e:  # a failed operation is counted, the loop goes on
            print(f"operation {i} failed: {type(e).__name__}: {e}", file=sys.stderr)
            out = None
        seconds, end = time.perf_counter() - t0, time.time()
    cpu_seconds, steal = tree_cpu_s() - cpu0, steal_frac(ticks0, cpu_ticks())
    ok = False
    if out is None:
        out = Outcome(0, lambda: False)
    else:
        try:
            ok = bool(out.check())
        except Exception as e:
            print(f"check of operation {i} failed: {type(e).__name__}: {e}",
                  file=sys.stderr)
    wh = getattr(w, "wh", None)
    return OpRecord(i, seconds, steal, cpu_seconds, start, end, out, ok, traced,
                    files_written(wh, start) if traced and wh else 0)


def layer_unit(metric: str) -> str:
    if metric.endswith(("_s", ".s")):
        return "s"
    if "bytes" in metric:
        return "B"
    if metric.endswith("_frac") or metric.endswith("_amp"):
        return "ratio"
    return "count"


def run_all(args: argparse.Namespace) -> int:
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"{name}: {line}")
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return 0


def processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks of the process and of the
    children it has waited for), for every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended meanwhile
            continue
        # the command name in parentheses may hold spaces; after it come
        # state, ppid, ..., utime, stime, cutime, cstime (fields 14-17)
        f = stat.rsplit(")", 1)[1].split()
        table[int(entry)] = (int(f[1]), sum(map(int, f[11:15])))
    return table


def child_pids() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _) in processes().items() if ppid == me]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: the
    JVM and the Python workers it starts."""
    table = processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += table.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def reap_all() -> None:
    """SIGTERM every child, SIGKILL those alive after the grace period,
    and wait until none is left."""
    deadline, signalled = time.monotonic() + STOP_GRACE_S, {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:  # no children at all
            return
        now = time.monotonic()
        for pid in child_pids():
            sig = signal.SIGKILL if now >= deadline else signal.SIGTERM
            if signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def exit_on_signal(signum, _frame):
    """Turn SIGTERM / SIGINT into SystemExit, so cleanup code runs."""
    raise SystemExit(128 + signum)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process; then end and reap every
    process it started, on every path out."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")

    signal.signal(signal.SIGTERM, exit_on_signal)
    signal.signal(signal.SIGINT, exit_on_signal)
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env={**os.environ, CHILD_ENV: "1"})
    try:
        return child.wait()
    finally:
        reap_all()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "credit_card_etl_pipeline_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: engine sources not found; run from a repository "
              "checkout root", file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return supervise(argv)
    # the parent ends a run with SIGTERM: stop Spark, remove the work dir
    signal.signal(signal.SIGTERM, exit_on_signal)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
