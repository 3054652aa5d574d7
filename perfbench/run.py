"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The load is closed-loop with one client:
one process, one ``local[N]`` Spark session (N = $SPARK_GRAFT_CPUS,
default min(4, nproc)), and each operation starts only after the
previous one has completed and been checked. Set-up (session start,
input generation, index builds, warm-up) happens before timing. Timing
runs whole operations for up to ``--seconds``: an operation that would
end later is not started, except the first. The timing metrics are
medians over every timed operation.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process
start to the first timed operation), ``op_s_p50`` (median wall time of
one operation), ``items_per_s`` (median over operations of the items
one completed per second of its wall time) and ``cpu_s_per_op`` (median user plus system CPU of one
operation across the process tree: this process, the Spark JVM and its
Python workers). ``--trace 1`` prints per-layer counters read from
Spark's status store (see trace.py), retrieval's recall figures, the
traced run's ``op_s_p50`` and the tracer's own cost per operation.
When BENCHMARK.json names the workload, the metrics printed are the
ones it declares; a declared metric of a layer the workload does not
cross reads 0, and a missing one of its own layers makes the run
incorrect.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it holds the details: sample counts and tail percentiles, the
failed share and failure messages, ``peak_rss_mb`` (highest summed
resident memory of the process tree, sampled every 0.5 s), each
operation's wall time and the share of host CPU time the hypervisor
stole during it, recall on workloads that serve retrieval, the
session's master and parallelism, and (traced) the layers whose job or
task counts differ between the run's operations. Every file the run
writes lives under ``.perfbench-work/`` at the repository root, and
the run's own directory there is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data")
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
HZ = os.sysconf("SC_CLK_TCK")

TRACING_METRICS = ("tracing.op_s_p50", "tracing.overhead_s")

# units by metric name, or by the counter suffix of a layer metric
UNITS = {
    "setup_s": "s",
    "op_s_p50": "s",
    "items_per_s": "1/s",
    "cpu_s_per_op": "s",
    "recall_at_20": "ratio",
    "recall_floor_share": "ratio",
    "tracing.op_s_p50": "s",
    "tracing.overhead_s": "s",
    "wall_s": "s",
    "driver_s": "s",
    "task_cpu_s": "s",
    "jobs": "count",
    "tasks": "count",
    "count": "count",
    "shuffle_mb": "MB",
    "write_mb": "MB",
}


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / HZ


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ticks() -> int:
    """Host-wide CPU time the hypervisor gave to other guests; on a
    shared host it is what makes wall times wander between runs."""
    return _cpu_line()[7]


def total_ticks() -> int:
    return sum(_cpu_line()[:8])


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU of the tree, including reaped children."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / HZ


def tree_rss_mb(root: int) -> float:
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmRSS:")), 0)
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Highest summed resident memory of the process tree, sampled every
    PERIOD_S on a daemon thread (Python workers come and go, so no
    single process's high-water mark covers the tree)."""

    PERIOD_S = 0.5

    def __init__(self, root: int) -> None:
        self.root, self.peak_mb = root, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


def session_cpus() -> int:
    """N for local[N]: $SPARK_GRAFT_CPUS if set, else min(4, nproc)."""
    nproc = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return min(4, nproc)
    try:
        n = int(raw)
    except ValueError:
        sys.exit(f"SPARK_GRAFT_CPUS={raw!r} is not a whole number")
    if not 1 <= n <= nproc:
        sys.exit(f"SPARK_GRAFT_CPUS={n} must be between 1 and nproc ({nproc})")
    return n


def isolate(work_dir: str) -> dict:
    """Point every scratch location of Python, Spark and the package at
    ``work_dir``; returns the Spark conf that completes it."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # every JVM started from here (spark-submit's launcher and the
    # driver): no /tmp/hsperfdata_<user> monitoring file, temp files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for var in ("SPARK_GRAFT_INDEX_DIR", "SPARK_GRAFT_LEX_INDEX_DIR", "SPARK_GRAFT_INDEX_DIR_BLOOM", "SPARK_GRAFT_LATE_INDEX_DIR"):
        os.environ[var] = os.path.join(work_dir, "index", var.lower())
    # Python workers import the package by module path; they inherit
    # the JVM's environment, not this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
    }


def redirect_stream_workdirs(work_dir: str) -> None:
    """The streamed-store ops keep their stage/store trees under a fixed
    /tmp root; move that root into ``work_dir`` (same layout below it)."""
    from game_data_etl_pipeline_spark.streaming import queries

    original = queries._session_workdir

    def workdir(spark, tag, sf_dir):
        return os.path.join(work_dir, "stream", os.path.relpath(original(spark, tag, sf_dir), "/tmp"))

    queries._session_workdir = workdir


def stop_session(spark) -> None:
    """Stop Spark, close the JVM gateway, and wait until every process
    this one started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while len(process_tree(os.getpid())) > 1:
        if time.time() > deadline:
            raise RuntimeError(f"child processes still running: {process_tree(os.getpid())[1:]}")
        time.sleep(0.1)


def timing(samples: list[float]) -> dict:
    """Median, sample count, and the highest of p90/p95/p99/p99.9 that
    has at least ten samples beyond it."""
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None}
    qs = statistics.quantiles(samples, n=1000, method="inclusive") if len(samples) > 1 else []
    for p in (99.9, 99, 95, 90):
        if round(len(samples) * (100 - p) / 100, 6) >= 10:
            out[f"p{p:g}"] = qs[round(p * 10) - 1]
            break
    return out


def declared_metrics(workload: str) -> tuple[list[dict], list[dict]] | None:
    """BENCHMARK.json's (end_to_end, per_layer) lists when it names
    ``workload``, else None."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        bench = json.load(f)
    if workload not in {w["name"] for w in bench["workloads"]}:
        return None
    return bench["end_to_end"], bench["per_layer"]


def varying_counts(per_op: list[dict]) -> list[str]:
    """Layers whose jobs or tasks are not the same in every operation."""
    keys = {k for r in per_op for k in r if k.endswith((".jobs", ".tasks"))}
    return sorted(k for k in keys if len({r.get(k) for r in per_op}) > 1)


def main(argv: list[str] | None = None) -> int:
    start_epoch = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cpus = session_cpus()
    work_dir = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    conf = isolate(work_dir)
    try:
        return measure(args, cpus, work_dir, conf, start_epoch, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def measure(args, cpus: int, work_dir: str, conf: dict, start_epoch: float, workload_cls) -> int:
    from game_data_etl_pipeline_spark.session import get_spark
    from perfbench.workloads import layer_metric_names

    rss = RssSampler(os.getpid())

    spark = get_spark(
        "perfbench",
        extra_conf={**conf, "spark.master": f"local[{cpus}]", "spark.sql.shuffle.partitions": str(cpus)},
    )
    try:
        sc = spark.sparkContext
        if sc.master != f"local[{cpus}]" or sc.defaultParallelism != cpus:
            raise RuntimeError(
                f"session runs master={sc.master} parallelism={sc.defaultParallelism}, pinned local[{cpus}]"
            )
        redirect_stream_workdirs(work_dir)
        from perfbench.trace import Tracer, op_totals

        tracer = Tracer(spark) if args.trace else None
        workload = workload_cls(spark, args.seed, work_dir, DATA_DIR)
        workload.setup(tracer)
        setup_spans = len(tracer.spans) if tracer else 0
        setup_bookkeeping_s = tracer.bookkeeping_s if tracer else 0.0

        me = os.getpid()
        setup_s = time.time() - start_epoch
        ops, problems, per_op_layers = [], [], []
        attempted = failed = 0
        steal0, total0 = steal_ticks(), total_ticks()
        t_run = time.perf_counter()
        last_s = 0.0
        # whole operations only; one that would end past --seconds is
        # not started, unless it is the first
        while attempted == 0 or time.perf_counter() - t_run + last_s <= args.seconds:
            op = workload.op(attempted)
            attempted += 1
            first_span = len(tracer.spans) if tracer else 0
            c0, s0, n0 = tree_cpu_s(me), steal_ticks(), total_ticks()
            t0 = time.perf_counter()
            try:
                result = workload.run(op, tracer)
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, the run goes on
                failed += 1
                problems.append(f"operation {attempted - 1}: {type(e).__name__}: {e}")
                continue
            last_s = time.perf_counter() - t0
            ops.append(
                {
                    "s": last_s,
                    "steal": (steal_ticks() - s0) / max(1, total_ticks() - n0),
                    "cpu_s": tree_cpu_s(me) - c0,
                    "items": workload.items(result),
                }
            )
            if tracer:
                per_op_layers.append(op_totals(tracer.spans[first_span:]))
            bad = workload.check(op, result)
            if bad:
                failed += 1
                problems += bad
        if not ops:
            raise RuntimeError(f"every operation failed: {problems[:3]}")
        quality = workload.quality() if workload.QUALITY else {}
        peak_rss = rss.stop()
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "op_s": timing([o["s"] for o in ops]),
            "ops": [[round(o["s"], 4), round(o["steal"], 4)] for o in ops],
            "failed_ratio": failed / attempted,
            "peak_rss_mb": peak_rss,
            "steal_share": (steal_ticks() - steal0) / (total_ticks() - total0),
            "problems": problems[:20],
            **quality,
        }
        if tracer:
            layer_metrics = {
                k: statistics.median(r.get(k, 0.0) for r in per_op_layers) for k in set().union(*per_op_layers)
            }
            for s in tracer.spans[:setup_spans]:
                layer_metrics[f"{s.layer}.wall_s"] = s.wall_s
            for q in workload_cls.QUALITY:
                layer_metrics[f"llmdata.retrieval.{q}"] = quality[q]
            detail["counts_vary"] = varying_counts(per_op_layers)
            layer_metrics["tracing.op_s_p50"] = statistics.median(o["s"] for o in ops)
            layer_metrics["tracing.overhead_s"] = (tracer.bookkeeping_s - setup_bookkeeping_s) / attempted
            tracer.close()
        else:
            e2e = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(o["s"] for o in ops),
                "items_per_s": statistics.median(o["items"] / o["s"] for o in ops),
                "cpu_s_per_op": statistics.median(o["cpu_s"] for o in ops),
                **({"recall_at_20": quality["recall_at_20"]} if quality else {}),
            }
    finally:
        stop_session(spark)

    produced = layer_metrics if tracer else e2e
    own = [*layer_metric_names(workload_cls), *TRACING_METRICS] if tracer else list(e2e)
    missing = [n for n in own if n not in produced]
    if missing:
        detail["problems"].append(f"metrics of this workload's own layers were not produced: {missing}")
    declared = declared_metrics(args.workload)
    if declared:
        # a declared layer this workload does not cross did no work: 0
        metrics = {
            m["name"]: {"value": produced.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared[args.trace]
        }
    else:
        metrics = {n: {"value": produced.get(n, 0.0), "unit": unit_of(n)} for n in own}
    print(json.dumps(detail))
    correct = failed == 0 and not missing
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    last = name.rsplit(".", 1)[1]
    return "ms" if last.endswith("_ms") else UNITS[last]


if __name__ == "__main__":
    sys.exit(main())
