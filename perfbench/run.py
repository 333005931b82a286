"""eoreader_spark benchmark: one command, two closed-loop workloads.

Run from the root of a repository checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads: ``ingest`` and ``scene_queries`` (see
perfbench/workloads.py and perfbench/design.json).  Each run:

1. set-up: starts one ``local[nproc]`` session through ``get_spark``, warms
   it, and writes the seeded inputs ``SETUP_REPEATS`` times (the median write
   counts toward ``setup_s``);
2. runs the workload's cold first operation(s) (``first_s``);
3. runs warm rounds back to back for ``--seconds`` and at least
   ``MIN_WARM_ROUNDS`` rounds;
4. checks every operation's output (outside every metric);
5. prints each metric as ``name = value unit`` and, last, one JSON line with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
   ``--trace 1``.

``--trace 1`` labels Spark jobs per span, writes Spark's event log to a
scratch directory and the spans to ``.perfbench_work/trace/``.  The exit
code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path.cwd()
NEEDED = ["BENCHMARK.json", "bench.py", "__spark_entry__.py", "tools/check_oracle.py",
          "eoreader_spark/__init__.py", "perfbench/__init__.py"]
SETUP_REPEATS = 2
# the window runs at least this many warm rounds, so every run's medians come
# from the same sample count however fast the host is
MIN_WARM_ROUNDS = 2


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "scene_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="input sizes; 'tiny' is for the benchmark's own tests")
    p.add_argument("--inject-fault", action="store_true",
                   help="corrupt one warm result before the checks (tests the checks)")
    return p.parse_args(argv)


def preflight() -> None:
    missing = [p for p in NEEDED if not (ROOT / p).is_file()]
    if missing:
        sys.exit(f"perfbench: run from the root of a repository checkout; missing {missing}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_scratch(work: Path) -> dict[str, str]:
    """Point every temporary directory (Python, JVM, Spark, Hadoop) into the
    checkout's work directory; returns the Spark conf doing it."""
    import tempfile

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = str(tmp)
    return {
        "spark.local.dir": str(tmp),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
        "spark.hadoop.hadoop.tmp.dir": str(tmp / "hadoop"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def warm_up(spark, work: Path, cpus: int) -> None:
    """bench.py's warm-up: JVM, Python workers, parquet reader."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(cpus * 8, numPartitions=cpus * 4).mapInPandas(
        lambda it: (p for p in it), schema="id long").count()
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", "b", "a"]}), str(work / "warm.parquet"))
    spark.read.parquet(str(work / "warm.parquet")).groupBy("v").count().collect()


def wait_children(timeout: float = 30.0) -> None:
    """Wait until every process this one started has exited."""
    from perfbench.trace import proc_children

    deadline = time.monotonic() + timeout
    while proc_children().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: a busy neighbour VM shows here."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_children()


class Run:
    """One benchmark run: the session, the tracer and the issued operations."""

    def __init__(self, args, work: Path) -> None:
        from perfbench.trace import Tracer

        self.seed = args.seed
        self.root = ROOT
        self.work = work
        self.scratch = work / "data"
        self.tracer = Tracer(work.name, bool(args.trace))
        self.spark = None
        self.cur = None
        self.ops = []
        self.jobs_by_span: dict[int, list] = {}
        self.tasks_by_span: dict[int, list] = {}
        self.plans_by_span: dict[int, list] = {}  # final SQL plans of each span's executions
        self.sql_acc: dict[int, int] = {}

    def action(self, name: str, build):
        """Build a DataFrame with a library call and collect it, inside one
        span; cold operations also record its planning phases."""
        from perfbench.trace import plan_phases

        with self.tracer.span(name, action=True):
            df = build()
            rows = df.collect()
        if self.tracer.enabled and self.cur is not None and self.cur.kind == "cold":
            for k, v in plan_phases(df).items():
                self.cur.phases[k] = self.cur.phases.get(k, 0.0) + v
        return rows, df

    # ---------------------------------------------- per-layer aggregation
    def spans_under(self, op, name: str):
        op_span = next(s for s in self.tracer.spans if s.id == op.span_id)
        return [s for s in self.tracer.descendants(op_span) if s.name == name]

    def layer_median(self, ops, name: str) -> float:
        """Median over ``ops`` of the time spent in spans called ``name``."""
        vals = [sum(s.seconds for s in self.spans_under(o, name)) for o in ops]
        return statistics.median(vals) if vals else 0.0

    def span_ids(self, op, name: str) -> list[int]:
        """Ids of the spans called ``name`` under ``op`` and of their descendants."""
        return [i for s in self.spans_under(op, name)
                for i in [s.id] + [d.id for d in self.tracer.descendants(s)]]

    def per_span(self, ops, name: str, field: str) -> float:
        """Mean over ``ops`` of a job count or task metric summed over the
        spans called ``name`` (and their descendants)."""
        total = 0.0
        for i in (i for o in ops for i in self.span_ids(o, name)):
            if field == "jobs":
                total += len(self.jobs_by_span.get(i, []))
            else:
                total += sum(getattr(t, field) for t in self.tasks_by_span.get(i, []))
        return total / len(ops) if ops else 0.0

    def sql_rows(self, ops, name: str, pick) -> float:
        """Mean over ``ops`` of the ``number of output rows`` SQL metric of
        the plan nodes ``pick(plan)`` selects in the SQL executions of the
        spans called ``name`` (and their descendants)."""
        from perfbench.trace import output_rows

        total = 0
        for i in (i for o in ops for i in self.span_ids(o, name)):
            for plan in self.plans_by_span.get(i, []):
                total += sum(output_rows(n, self.sql_acc) or 0 for n in pick(plan))
        return total / len(ops) if ops else 0.0


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def scales():
    """Input sizes per scale: ingest landing-table sizes, and the testdata
    directory scene_queries reads."""
    from perfbench.inputs import IngestSizes

    return {
        "full": {"ingest": IngestSizes(images=256, aois=40, dem_scenes=32),
                 "scene_queries": "sf0.01"},
        "tiny": {"ingest": IngestSizes(images=40, aois=16, dem_scenes=5),
                 "scene_queries": "sf0.001"},
    }


def run_op(run, wl, name: str, kind: str):
    from perfbench.workloads import Op

    op = Op(name, kind)
    run.cur = op
    t0 = time.perf_counter()
    try:
        with run.tracer.span(f"op:{name}") as sp:
            op.span_id = sp.id
            wl.execute(op)
    except Exception as e:  # noqa: BLE001 - a failed operation is a counted result
        op.error = f"{type(e).__name__}: {e}"
        traceback.print_exc()
    op.seconds = time.perf_counter() - t0
    run.cur = None
    run.ops.append(op)
    return op


def main(argv=None) -> int:
    args = parse_args(argv)
    preflight()
    sys.path.insert(0, str(ROOT))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    conf = confine_scratch(work)

    import __spark_entry__  # noqa: F401  (exports the repo on PYTHONPATH for workers)
    from eoreader_spark.session import get_spark
    from perfbench import trace
    from perfbench.inputs import dir_stats
    from perfbench.workloads import WORKLOADS, median

    spec = load_spec()
    cpus = nproc()
    run = Run(args, work)
    tr = run.tracer
    if args.trace:
        conf.update(trace.eventlog_conf(work / "eventlog"))
    wl = WORKLOADS[args.workload](run, scales()[args.scale][args.workload])
    import_s = time.perf_counter() - T_START
    rss = trace.RssSampler().start() if args.trace else None

    # ------------------------------------------------------------ set-up
    with tr.span("setup"):
        with tr.span("session.start") as sp_start:
            run.spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
        tr.spark = run.spark
        with tr.span("session.warmup") as sp_warm:
            warm_up(run.spark, work, cpus)
        write_s = []
        for k in range(SETUP_REPEATS):
            root = run.scratch / f"inputs-{k}"
            with tr.span("datagen.write") as sp:
                wl.write_inputs(root)
            write_s.append(sp.seconds)
        for k in range(SETUP_REPEATS - 1):
            shutil.rmtree(run.scratch / f"inputs-{k}", ignore_errors=True)
    setup_s = import_s + sp_start.seconds + sp_warm.seconds + median(write_s)
    in_bytes, in_files = dir_stats(str(root))
    sizes = {**wl.input_sizes(), "bytes": in_bytes, "files": in_files}
    print(f"# {args.workload} seed={args.seed} local[{cpus}] trace={args.trace} "
          f"inputs {json.dumps(sizes)}", flush=True)

    # ------------------------------------------------- cold op + timed window
    codegen = trace.Codegen(run.spark) if args.trace else None
    cg0 = codegen.read() if codegen else None
    for name in wl.cold_ops():
        run_op(run, wl, name, "cold")
    cg1 = codegen.read() if codegen else None
    round_len = len(wl.cold_ops())
    window_start = time.time()
    deadline = time.perf_counter() + args.seconds
    names = wl.warm_ops()
    steal = []  # CPU share stolen by the hypervisor, per warm round
    while not any(o.error for o in run.ops) and (
            time.perf_counter() < deadline or len(steal) < MIN_WARM_ROUNDS):
        s0 = cpu_steal()
        for _ in range(round_len):
            run_op(run, wl, next(names), "warm")
        s1 = cpu_steal()
        steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
    window_end = time.time()
    print("# host: CPU share stolen by the hypervisor per warm round: "
          + " ".join(f"{x:.3f}" for x in steal), flush=True)
    peak_mb = rss.stop() if rss else 0.0
    if args.trace:
        for name in wl.probe_ops():
            run_op(run, wl, name, "probe")

    # ---------------------------------------------------- checks (untimed)
    ops = run.ops
    if args.inject_fault:
        wl.corrupt(next(o for o in ops if o.kind == "warm" and o.result is not None))
    with tr.span("checks"):
        try:
            wl.check(ops)
        except Exception as e:  # noqa: BLE001
            ops[-1].problems.append(f"check raised {type(e).__name__}: {e}")
    failed = [o for o in ops if o.error or o.problems]
    for o in failed:
        print(f"# FAILED {o.name} ({o.kind}): "
              f"{o.error or '; '.join(o.problems)}", flush=True)
    attempted = len(ops)
    warm = [o for o in ops if o.kind == "warm" and not o.error]
    busy = [o for o in warm if o.items]
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": (sum(o.items for o in busy) / sum(o.seconds for o in busy)
                             if busy else 0.0),
        "p50_s": wl.p50_s(warm),
        "first_s": sum(o.seconds for o in ops if o.kind == "cold"),
    }

    # ------------------------------------------------------ traced extras
    layers = {}
    if args.trace:
        from multiprocessing import resource_tracker

        import bench
        from perfbench import micro

        with tr.span("micro"):
            layers.update(micro.kernel_rates(args.seed))
        with tr.span("host.control") as sp:
            bench.native_control(n_tasks=2 * cpus, nproc=cpus)
        layers["host.control_s"] = sp.seconds
        # the spawn pool leaves multiprocessing's resource tracker running
        resource_tracker._resource_tracker._stop()
        layers["session.persistent_rdds_end"] = trace.persistent_rdds(run.spark)
        layers["session.peak_rss_mb"] = peak_mb
    stop_spark(run.spark)
    tr.spark = None
    if args.trace:
        layers.update(traced_layers(run, wl, ops, warm, cg0, cg1, window_start,
                                    window_end, write_s, sp_start, sp_warm, sizes))
        layers["error_rate"] = len(failed) / attempted
        for name, self_s in self_times(tr, warm).items():
            print(f"# self time per warm op: {name} = {self_s!r} s")
        # layers the workload bypasses report 0
        layers = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        tr.write(ROOT / ".perfbench_work" / "trace" / f"spans-{run_id}.jsonl")
    wl.cleanup()
    shutil.rmtree(work, ignore_errors=True)

    correct = not failed
    print(f"# error_rate = {len(failed) / attempted!r} fraction "
          f"({len(failed)} of {attempted} operations)")
    print(f"# warm operations: {len(warm)}; seconds per operation: "
          + " ".join(f"{o.name}:{o.kind}:{o.seconds:.3f}" for o in ops))
    for alias in metric_aliases(args.workload, e2e, ops):
        print(f"# {alias}")
    section = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    if args.trace:
        for m in spec["end_to_end"]:
            print(f"# traced {m['name']} = {e2e[m['name']]!r} {m['unit']}")
    metrics = {}
    for m in spec[section]:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{m['name']} = {values[m['name']]!r} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


def metric_aliases(workload: str, e2e: dict, ops) -> list[str]:
    """The workload-specific names of the generic end-to-end metrics."""
    if workload == "ingest":
        return [f"ingest_images_per_s = {e2e['throughput_per_s']!r} images/s"]
    if workload == "scene_queries":
        n = sum(1 for o in ops if o.kind == "warm")
        return [f"query_geomean_p50_s = {e2e['p50_s']!r} s ({n} warm executions)",
                f"first_round_s = {e2e['first_s']!r} s"]
    return []


def self_times(tr, warm) -> dict[str, float]:
    """Self time (span minus its children) per span name, per warm op."""
    out: dict[str, float] = {}
    for o in warm:
        op_span = next(s for s in tr.spans if s.id == o.span_id)
        for s in [op_span] + tr.descendants(op_span):
            out[s.name] = out.get(s.name, 0.0) + tr.self_seconds(s) / len(warm)
    return out


def traced_layers(run, wl, ops, warm, cg0, cg1, window_start, window_end, write_s,
                  sp_start, sp_warm, sizes) -> dict[str, float]:
    from perfbench import trace
    from perfbench.workloads import median

    tr = run.tracer
    log = trace.read_eventlog(run.work / "eventlog")
    run.sql_acc = log.acc
    tasks = log.tasks
    for j in log.jobs:
        if j.group and j.group.startswith("perfbench:"):
            run.jobs_by_span.setdefault(int(j.group.split(":")[1]), []).append(j)
    for t in tasks:
        if t.job_group and t.job_group.startswith("perfbench:"):
            run.tasks_by_span.setdefault(int(t.job_group.split(":")[1]), []).append(t)
    for x, plan in sorted(log.plans.items()):
        group = log.exec_group.get(x)
        if group and group.startswith("perfbench:"):
            run.plans_by_span.setdefault(int(group.split(":")[1]), []).append(plan)

    out = {}
    out["session.start_s"] = sp_start.seconds
    out["session.warmup_s"] = sp_warm.seconds
    out["datagen.write_s"] = median(write_s)
    out["datagen.bytes_written"] = sizes["bytes"]
    out["datagen.files_written"] = sizes["files"]

    cold = [o for o in ops if o.kind == "cold"]
    for phase in ("analysis", "optimization", "planning"):
        out[f"plan.{phase}_s"] = sum(o.phases.get(phase, 0.0) for o in cold)
    compiles, compile_s = trace.Codegen.delta(cg0, cg1)
    out["codegen.compiles"] = compiles
    out["codegen.compile_s"] = compile_s

    n = max(1, len(warm))
    wtasks, wjobs, actions = [], 0, []
    for o in warm:
        op_span = next(s for s in tr.spans if s.id == o.span_id)
        for s in [op_span] + tr.descendants(op_span):
            wtasks += run.tasks_by_span.get(s.id, [])
            sjobs = run.jobs_by_span.get(s.id, [])
            wjobs += len(sjobs)
            if s.action and sjobs:
                actions.append(s.end - max(j.end_ms for j in sjobs) / 1000.0)
    out["exec.jobs"] = wjobs / n
    out["exec.tasks"] = len(wtasks) / n
    out["exec.task_busy_s"] = sum(t.busy_ms for t in wtasks) / 1000.0 / n
    out["exec.scheduler_delay_s"] = sum(t.sched_delay_ms for t in wtasks) / 1000.0 / n
    out["exec.shuffle_write_bytes"] = sum(t.shuffle_write_bytes for t in wtasks) / n
    out["exec.spill_bytes"] = sum(t.spill_bytes for t in wtasks) / n
    out["exec.gc_s"] = sum(t.gc_ms for t in wtasks) / 1000.0 / n
    out["exec.failed_tasks"] = sum(1 for t in tasks if t.failed)
    out["arrow.bytes_to_python"] = sum(t.py_sent for t in wtasks) / n
    out["arrow.bytes_from_python"] = sum(t.py_recv for t in wtasks) / n
    out["collect.s"] = sum(max(0.0, a) for a in actions) / n

    layer_spans = [(s.start, s.end) for o in warm
                   for s in tr.spans if s.parent == o.span_id]
    out["trace.span_coverage"] = trace.union_seconds(
        layer_spans, window_start, window_end) / max(1e-9, window_end - window_start)
    out.update(wl.layers(ops))
    return out


if __name__ == "__main__":
    sys.exit(main())
