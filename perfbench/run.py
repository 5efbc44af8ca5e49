"""Fresh-query benchmark for the spark-graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload citation --seed 1 --seconds 8 --trace 0

One client drives the engine in a closed loop on ``local[nproc]``, in a
fresh process and session per run:

1. generate the workload's inputs from ``--seed`` (untimed);
2. set up: import the engine, ``get_spark``, register the inputs
   (``setup_s``);
3. one untimed warm-up pass that also checks every operation's output
   (registry operations against their DuckDB oracle, the citation
   operations against a serial pure-Python count);
4. the workload's untimed settle passes, then timed passes until
   ``--seconds`` have passed and the workload's fewest timed passes are
   done: each pass runs every operation once, in a seeded shuffled
   order, with ``spark.catalog.clearCache()`` before each; every result
   is drained to a row count plus an order-independent digest, which
   must equal the digest of the output the warm-up checked. Each pass
   and operation is timed in wall seconds and in CPU seconds of this
   process and every process below it (the driver JVM, its Python
   workers).

With ``--trace 1`` the timed phase alternates untraced and traced
passes, starting and ending untraced; traced passes read per-layer
counters (layers.py) and record spans, written to ``perfbench/_out/``.
The last stdout line is the JSON result; a failed check makes the exit
code 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers as layer_trace  # noqa: E402
import workloads  # noqa: E402


def cpu_probe_ms() -> float:
    """Milliseconds for a fixed pure-Python loop: CPU capacity context."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1e3


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    CPU time the host gave to other guests while the run measured."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process below it, including exited children they have reaped. Time
    the host stole from the VM is not in it."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process has exited since listdir
                continue
            # ppid; utime, stime, cutime, cstime
            procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def _isolate_environment(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work``, make the package
    importable by Python workers, and leave the engine's own
    ``SPARK_GRAFT_*`` knobs at their defaults. Returns removed knobs."""
    removed = {k: os.environ.pop(k) for k in list(os.environ) if k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the engine, and the oracle comparison of tools/check_correctness.py
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    return removed


def digest(df) -> tuple[int, int, int]:
    """(rows, low-half sum, high-half sum) of a 64-bit hash of every row:
    independent of row order and partitioning, and it reads every
    column, so nothing is pruned from the plan."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))), F.lit(0)),
        F.coalesce(F.sum(F.shiftrightunsigned(F.col("h"), 32)), F.lit(0)),
    ).first()
    return int(row[0]), int(row[1]), int(row[2])


def drain(out) -> tuple:
    if isinstance(out, str):
        return (len(out), out)
    return digest(out)


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after ``clearCache`` and a full GC: the
    baseline plus whatever persisted or checkpointed blocks the
    operations left behind."""
    spark.catalog.clearCache()
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_engine() -> None:
    """Stop the session, then the driver JVM, and wait until it has
    exited (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    #: per operation: wall seconds (build + drain) and CPU seconds
    op_s: dict[str, float] = field(default_factory=dict)
    op_cpu_s: dict[str, float] = field(default_factory=dict)
    #: (operation, layer counters) of a traced pass
    layers: list = field(default_factory=list)


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.wl = workloads.WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.reference: dict[str, tuple] = {}
        self.warm_op_s: dict[str, float] = {}

    # -- phases --------------------------------------------------------

    def setup(self) -> None:
        data = os.path.join(self.work, "data")
        os.makedirs(data)
        self.inputs = workloads.make_inputs(self.wl, self.args.seed, data)
        expected = None
        if self.wl.edges:
            from gen import count_edges_serial

            expected = count_edges_serial(os.path.join(data, "edges.txt"))
            self.inputs["edges.txt"]["valid_edges"] = expected[1]

        t0 = time.perf_counter()
        from mapreduce_citation_spark.session import get_spark

        spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.ctx = workloads.Context(
            spark=spark, work_dir=os.path.join(self.work, "out"),
            sf_dir=data if self.wl.tables else None,
            edge_path=os.path.join(data, "edges.txt") if self.wl.edges else None,
            expected=expected,
            table_rows={t: self.inputs[f"{t}.parquet"]["rows"] for t in self.wl.tables})
        os.makedirs(self.ctx.work_dir)
        workloads.register_inputs(self.ctx, self.wl)
        self.setup_s = time.perf_counter() - t0

        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.ops = workloads.operations(self.wl)

    def warm_up(self) -> None:
        """The untimed warm-up pass. Each output is checked here, once:
        against its DuckDB oracle or the serial count. The digest of the
        same checked output is the reference every later pass must equal."""
        self.ctx.duck = workloads.open_oracle(self.wl, self.ctx.sf_dir) if self.wl.tables else None
        for op in self._order():
            self.ctx.spark.catalog.clearCache()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = op.build(self.ctx)
                problem = op.check(self.ctx, out)
                self.reference[op.name] = drain(out)
            except Exception as e:  # an operation that raises is a counted failure
                problem = _raised(e)
            self.warm_op_s[op.name] = time.perf_counter() - t0
            if problem:
                self.failures.append(f"{op.name} (check): {problem}")
        if self.ctx.duck:
            self.ctx.duck.close()

    def _order(self) -> list:
        ops = list(self.ops)
        self.rng.shuffle(ops)
        return ops

    def _run_op(self, op, probe=None, spans=None, parent=None, pass_id=0):
        """Clear the cache, build, drain, check the digest. Returns
        (latency_s, cpu_s, layer counters or None); (None, None, None)
        if the operation raised."""
        spark = self.ctx.spark
        spark.catalog.clearCache()
        before = probe.snapshot() if probe else None
        self.ctx.sink_s = 0.0
        self.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = op.build(self.ctx)
            t1 = time.perf_counter()
            build_jobs = probe.count_jobs(before) if probe else 0
            t1b = time.perf_counter()
            result = drain(out)
            t2 = time.perf_counter()
            cpu = tree_cpu_s(os.getpid()) - cpu0
        except Exception as e:  # an operation that raises is a counted failure
            self.failures.append(f"{op.name}: {_raised(e)}")
            return None, None, None
        ref = self.reference.setdefault(op.name, result)
        if result != ref:
            self.failures.append(f"{op.name}: output differs from the checked warm-up output")
        latency = (t1 - t0) + (t2 - t1b)
        if not probe:
            return latency, cpu, None
        c = probe.counters(before)
        spark.catalog.clearCache()
        c["cache.persisted_after"] = probe.leftover(before)
        c["operators.build_s"] = t1 - t0
        c["operators.build_jobs"] = build_jobs
        c["exec.drain_s"] = t2 - t1b
        c["sinks.write_s"] = self.ctx.sink_s
        c["sources.scan_s"] = latency if op.scan else 0.0
        if spans is not None:
            op_span = spans.add(op.name, parent, pass_id, t0, t2)
            build_span = spans.add("build", op_span, pass_id, t0, t1)
            if self.ctx.sink_s:
                # the sink call ends where build does (it is the build's last step)
                spans.add("sink", build_span, pass_id, t1 - self.ctx.sink_s, t1)
            spans.add("drain", op_span, pass_id, t1b, t2)
        return latency, cpu, c

    def run_pass(self, pass_id: int, probe=None, spans=None) -> Pass:
        span = spans.open("pass", None, pass_id) if spans is not None else None
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        p = Pass(0.0, 0.0)
        for op in self._order():
            latency, cpu, c = self._run_op(op, probe, spans, span, pass_id)
            if latency is not None:
                p.op_s[op.name] = latency
                p.op_cpu_s[op.name] = cpu
            if c is not None:
                p.layers.append((op.name, c))
        p.wall_s = time.perf_counter() - t0
        p.cpu_s = tree_cpu_s(os.getpid()) - cpu0
        if spans is not None:
            spans.close(span)
        return p

    def settle(self) -> None:
        """Untimed passes while the JVM is still compiling the workload's
        code paths; their outputs are checked like the timed ones."""
        for _ in range(self.wl.settle_passes):
            self.run_pass(-1)

    def timed(self):
        """Timed passes until ``--seconds`` have passed and the
        workload's fewest untraced passes are done. With ``--trace 1``
        untraced and traced passes alternate, starting and ending
        untraced, so each traced pass is compared with the untraced
        passes on either side of it (``trace.overhead_s``)."""
        deadline = time.perf_counter() + self.args.seconds
        passes: list[tuple[bool, Pass]] = []
        probe = spans = None
        if self.args.trace:
            probe = layer_trace.LayerProbe(self.ctx.spark)
            spans = layer_trace.Spans()
        while True:
            use_trace = bool(self.args.trace) and len(passes) % 2 == 1
            if use_trace:
                probe.attach()
            res = self.run_pass(len(passes), probe if use_trace else None,
                                spans if use_trace else None)
            if use_trace:
                probe.detach()
            passes.append((use_trace, res))
            untraced = sum(1 for t, _ in passes if not t)
            if (time.perf_counter() >= deadline and not use_trace
                    and untraced >= self.wl.timed_passes
                    and (len(passes) > 1 or not self.args.trace)):
                break
        plain = [r for t, r in passes if not t]
        traced = [r for t, r in passes if t]
        overheads = [passes[i][1].wall_s
                     - (passes[i - 1][1].wall_s + passes[i + 1][1].wall_s) / 2
                     for i in range(1, len(passes), 2) if passes[i][0]]
        return plain, traced, spans, overheads


def _pass_layers(layers: list) -> dict:
    """Sum one traced pass's per-operation counters; task skew is the
    one of the pass's longest stage."""
    total = dict.fromkeys(layer_trace.LAYER_KEYS, 0.0)
    for _, c in layers:
        for k in layer_trace.LAYER_KEYS:
            total[k] += c[k]
    longest = max((c for _, c in layers), key=lambda c: c["spark.longest_stage_s"],
                  default={"spark.task_skew": 1.0})
    total["spark.task_skew"] = longest["spark.task_skew"]
    return total


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mapreduce_citation_spark")):
        print("perfbench: the engine package is not next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(work)
    removed_knobs = _isolate_environment(work)
    runner = Runner(args, work)
    phase_s = {}
    try:
        cpu_before = cpu_probe_ms()
        t = time.perf_counter()
        runner.setup()
        phase_s["inputs_and_setup"] = time.perf_counter() - t
        t = time.perf_counter()
        runner.warm_up()
        phase_s["warm_up"] = time.perf_counter() - t
        t = time.perf_counter()
        runner.settle()
        phase_s["settle"] = time.perf_counter() - t
        t, ticks = time.perf_counter(), cpu_ticks()
        plain, traced, spans, overheads = runner.timed()
        phase_s["timed"] = time.perf_counter() - t
        steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
        rss = peak_rss_mb(runner.jvm_pid)
        heap = retained_heap_mb(runner.ctx.spark)
        cpu_after = cpu_probe_ms()
        versions = _versions(runner.ctx.spark)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)

    op_medians = {op.name: statistics.median(p.op_s[op.name] for p in plain if op.name in p.op_s)
                  for op in runner.ops if any(op.name in p.op_s for p in plain)}
    wall = {"client.pass_wall_s": (statistics.median(p.wall_s for p in plain), "s"),
            "client.op_wall_geomean_s": (
                math.exp(statistics.fmean(math.log(v) for v in op_medians.values())), "s")}
    failed = len(runner.failures)
    error_rate = failed / runner.attempted

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": os.cpu_count(), **versions, "inputs": runner.inputs,
        "cpu_probe_ms": {"before": cpu_before, "after": cpu_after},
        "timed_steal_share": steal / max(total, 1), "phase_s": phase_s,
        "engine_knobs": "defaults", "removed_knobs": sorted(removed_knobs),
        "passes": len(plain), "traced_passes": len(traced),
        "pass_walls_s": [p.wall_s for p in plain], "pass_cpu_s": [p.cpu_s for p in plain],
        "peak_rss_mb": rss, "retained_heap_mb": heap,
        "warm_up_op_s": runner.warm_op_s, "op_median_s": op_medians,
        "op_median_cpu_s": {n: statistics.median(p.op_cpu_s[n] for p in plain if n in p.op_cpu_s)
                            for n in op_medians},
        "error_rate": error_rate,
        "failures": runner.failures,
    }
    e2e = {
        "setup_s": (runner.setup_s, "s"),
        "pass_cpu_s": (statistics.median(p.cpu_s for p in plain), "s"),
    }
    if args.trace:
        per_pass = [_pass_layers(p.layers) for p in traced]
        metrics = {k: (statistics.median(p[k] for p in per_pass), _unit(k))
                   for k in (*layer_trace.LAYER_KEYS, "spark.task_skew")}
        metrics["session.start_s"] = (runner.session_s, "s")
        metrics["jvm.peak_rss_mb"] = (rss, "MB")
        metrics["jvm.retained_heap_mb"] = (heap, "MB")
        metrics["trace.overhead_s"] = (statistics.median(overheads), "s")
        metrics.update(wall)
        out_dir = os.path.join(HERE, "_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
        spans.write(path, {"context": context,
                           "per_op": [{"pass": i, "op": n, **c} for i, p
                                      in enumerate(traced) for n, c in p.layers]})
        context["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = e2e

    print(json.dumps({"context": context}))
    for name, (value, unit) in sorted({**e2e, **wall, **metrics}.items()):
        print(f"{args.workload:>16}  {name:<26} {value:>14.4f} {unit}")
    print(f"{args.workload:>16}  {'peak_rss_mb':<26} {rss:>14.4f} MB")
    print(f"{args.workload:>16}  {'error_rate':<26} {error_rate:>14.4f} ratio")
    for f in runner.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def _raised(e: Exception) -> str:
    first = (str(e).splitlines() or [""])[0]
    return f"raised {type(e).__name__}: {first[:200]}"


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    if key.endswith("_bytes"):
        return "bytes"
    if key == "spark.task_skew":
        return "ratio"
    return "count"


def _versions(spark) -> dict:
    import pyspark

    return {"pyspark": pyspark.__version__,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0]}


if __name__ == "__main__":
    sys.exit(main())
