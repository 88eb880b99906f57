"""Run one benchmark workload in a fresh local-mode Spark process.

    python3 perfbench/run.py --workload docs-suite --seed 42 --seconds 1 --trace 0

Run from the root of a checkout.  The run:

1. pins itself to CPUS of the host's CPUs and starts its own
   local[CPUS] session (explicit heap, repo on the workers' PYTHONPATH,
   Spark temp dirs under a per-run directory in ``.perfbench/``);
2. builds the workload's inputs from ``--seed`` once before the timed
   passes and again after them, SETUP_REPS times in all and for at
   least SETUP_MIN_S seconds, and reports the median as ``setup_s``;
3. times passes back to back until ``--seconds`` have elapsed, at least
   one.  The first pass runs on a cold JVM, as a fresh job does; after
   each of its calls, outside the call's timing, the output is checked
   against a reference recomputation (and, at seed 42, the golden SLM
   Q).  Later passes must reproduce the first pass's signatures;
4. prints a host record line, then as the last line one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
   end-to-end metrics with ``--trace 0``, the per-layer metrics of a
   traced run with ``--trace 1`` (spans are also written to
   ``.perfbench/traces/``).

Exits with code 2, printing no result, when the engine is not importable.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

T_PROCESS = time.time()

from spans import StagesEvicted, Tracer, check_metric_name, summarize  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
# The run is pinned to two of the host's vCPUs.  With all four busy, the
# hypervisor took several times more CPU time from the run (steal) and
# docs-suite's wall_s spread 0.29 of its median over ten seeds; pinned
# to two it spread 0.06.
CPUS = 2
RSS_PERIOD_S = 0.5
# set-up repeats at least SETUP_REPS times and until SETUP_MIN_S seconds
# are spent, so a workload whose inputs build in milliseconds still
# reports the median of many builds
SETUP_REPS = 3
SETUP_MIN_S = 1.0

END_TO_END = {"wall_s": "s", "slm_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
OP_LAYERS = (
    "sources.docs", "graph.edges", "graph.pagerank", "graph.components",
    "graph.labelprop", "graph.triangles", "graph.slm",
)
# (module, attribute it looks the callee up by, span name): the operators
# resolve these names at call time, so patching them reaches every call
INNER_SPANS = (
    ("slmpy_spark.graph.slm", "materialize", "util.materialize"),
    ("slmpy_spark.graph.pagerank", "materialize", "util.materialize"),
    ("slmpy_spark.graph.components", "materialize", "util.materialize"),
    ("slmpy_spark.graph.labelprop", "materialize", "util.materialize"),
    ("slmpy_spark.graph.slm", "aggregate_graph", "graph.aggregate.aggregate_graph"),
    ("slmpy_spark.graph.slm", "modularity", "graph.modularity.modularity"),
    ("slmpy_spark.graph.kernels", "slm_recursive", "graph.kernels"),
    ("slmpy_spark.graph.kernels", "louvain_recursive", "graph.kernels"),
    ("slmpy_spark.checkpoint", "Checkpointer.save_state", "checkpoint.save_state"),
)
COUNTED_SPANS = (
    "util.materialize", "graph.aggregate.aggregate_graph",
    "graph.modularity.modularity", "checkpoint.save_state",
)
PER_LAYER_UNITS = {
    "s": "s", "spark_jobs": "count", "spark_stages": "count", "spark_tasks": "count",
    "task_time_s": "s", "straggler_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "peak_exec_mem_mb": "MB",
    "driver_gap_s": "s",
}
EXTRA_PER_LAYER = {
    "graph.slm.sweeps": "count", "graph.slm.levels": "count",
    "graph.slm.edge_entries_swept": "count", "graph.slm.s_per_sweep": "s",
    "graph.slm.edge_entries_per_s": "1/s",
    "util.materialize.calls": "count", "util.materialize.s": "s",
    "graph.aggregate.aggregate_graph.calls": "count",
    "graph.aggregate.aggregate_graph.s": "s",
    "graph.modularity.modularity.calls": "count", "graph.modularity.modularity.s": "s",
    "graph.kernels.driver_s": "s",
    "checkpoint.save_state.calls": "count", "checkpoint.save_state.s": "s",
    "checkpoint.bytes_written_mb": "MB",
    "spark.persisted_rdds_after": "count", "trace.overhead_s": "s",
}


def per_layer_units() -> dict:
    units = {f"{layer}.{k}": u for layer in OP_LAYERS for k, u in PER_LAYER_UNITS.items()}
    units.update(EXTRA_PER_LAYER)
    return units


# ------------------------------------------------------------- host


def steal_s() -> float:
    """CPU time stolen from this machine by its hypervisor, summed over
    all CPUs, since boot (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def tree_rss_mb(root_pid: int) -> float:
    """Summed RSS of `root_pid` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:  # the process ended while we read it
            continue
        pid = int(name)
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler(threading.Thread):
    """Samples the process tree's RSS every RSS_PERIOD_S seconds;
    `peak_mb` is the largest sum seen."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop_evt.wait(RSS_PERIOD_S)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


# ---------------------------------------------------------- session


def local_session(workdir: str, cores: int, traced: bool):
    """The benchmark's own local session: every temp file under
    `workdir`, the checkout on the Python workers' path."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # spark-submit's launcher JVM would otherwise write perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", HEAP)
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{HEAP} -XX:+AlwaysPreTouch")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    if traced:
        b = b.config("spark.ui.retainedJobs", "1000000").config(
            "spark.ui.retainedStages", "1000000")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def sentinel_s(spark) -> float:
    """Code-frozen host sentinel: one range scan, one shuffle, one
    aggregation, no engine code.  Median of three warm runs."""
    from pyspark.sql import functions as F

    q = (
        spark.range(1_000_000)
        .select(F.xxhash64("id").alias("h"))
        .groupBy(F.pmod("h", F.lit(256)).alias("b"))
        .agg(F.count("*").alias("c"))
    )
    q.count()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        q.count()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdds(sc, ids) -> None:
    rdds = sc._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = rdds.get(rid)
        if rdd is not None:
            rdd.unpersist(True)


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


# ------------------------------------------------------------- run


def timed_setup(workload, first: bool = False) -> float:
    """Build the workload's inputs afresh; returns the seconds it took."""
    if not first:
        workload.teardown()
    t0 = time.perf_counter()
    workload.setup()
    return time.perf_counter() - t0


class Runner:
    def __init__(self, workload, tracer, sc):
        self.w = workload
        self.tracer = tracer
        self.sc = sc
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.signatures: dict[str, object] = {}
        self.baseline_rdds: set[int] = set()
        self.check_s = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def run_pass(self, first: bool) -> dict:
        """One pass over the workload's operators.  Returns per-op wall
        times, per-layer trace figures and the persisted-RDD counts.
        The first pass checks each output after timing the call."""
        from slmpy_spark.graph import slm as slm_mod

        rec = {"ops": {}, "layers": {}, "persisted_rdds_after": {}}
        first_span = len(self.tracer.spans)
        for op in self.w.ops():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.operator(op.layer) as sp:
                    out, sig = op.run()
            except StagesEvicted:
                raise
            except Exception:
                self.fail(f"{op.layer} raised: {traceback.format_exc(limit=3)}")
                continue
            dt = time.perf_counter() - t0
            rec["ops"][op.layer] = dt
            if sp is not None:
                layer = dict(sp.attrs)
                layer.pop("group", None)
                layer["s"] = sp.end - sp.start
                if op.layer == "graph.slm":
                    stats = slm_mod.LAST_RUN_STATS
                    layer.update(sweeps=stats["sweeps"], levels=stats["levels"],
                                 edge_entries_swept=stats["edge_entries_swept"])
                ckpt = getattr(self.w, "ckpt_root", None)
                if ckpt and os.path.isdir(ckpt):
                    layer["ckpt_mb"] = dir_mb(ckpt)
                rec["layers"][op.layer] = layer
            rec["persisted_rdds_after"][op.layer] = len(
                persistent_rdd_ids(self.sc) - self.baseline_rdds)
            if first:
                self.signatures[op.layer] = sig
                t_check = time.perf_counter()
                errs = op.check(out) if op.check else []
                self.check_s += time.perf_counter() - t_check
                for e in errs:
                    self.fail(f"{op.layer}: {e}")
            elif sig != self.signatures.get(op.layer):
                self.fail(f"{op.layer}: signature {sig!r} != first pass "
                          f"{self.signatures.get(op.layer)!r}")
        rec["inner"] = self.inner_totals(first_span)
        self.w.end_pass()
        unpersist_rdds(self.sc, persistent_rdd_ids(self.sc) - self.baseline_rdds)
        return rec

    def inner_totals(self, first_span: int) -> dict:
        """Calls and seconds per wrapped inner layer since `first_span`."""
        out: dict[str, list] = {}
        for sp in self.tracer.spans[first_span:]:
            if sp.parent is not None:
                calls_s = out.setdefault(sp.name, [0, 0.0])
                calls_s[0] += 1
                calls_s[1] += sp.end - sp.start
        return out


def op_summaries(passes) -> dict:
    """Median, quartiles and sample count of each operator's call time."""
    return {
        layer: summarize(p["ops"][layer] for p in passes if layer in p["ops"])
        for layer in passes[0]["ops"]
    }


def end_to_end(passes, setups, peak_rss) -> dict:
    """`wall_s` sums each operator's median time over the passes, so one
    slow pass of one operator does not move it; `slm_s` is the median
    SLM call."""
    op_median = {layer: s["median"] for layer, s in op_summaries(passes).items()}
    values = {
        "wall_s": sum(op_median.values()), "slm_s": op_median["graph.slm"],
        "setup_s": statistics.median(setups), "peak_rss_mb": peak_rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(passes, overheads) -> dict:
    """Per-layer metrics: each the median over passes of its per-pass
    value; layers a workload does not call read 0."""
    units = per_layer_units()

    def med(fn):
        return statistics.median(fn(p) for p in passes)

    values: dict[str, float] = {}
    for layer in OP_LAYERS:
        for k in PER_LAYER_UNITS:
            values[f"{layer}.{k}"] = med(lambda p: p["layers"].get(layer, {}).get(k, 0))
    slm = lambda p: p["layers"].get("graph.slm", {})  # noqa: E731
    values["graph.slm.sweeps"] = med(lambda p: slm(p).get("sweeps", 0))
    values["graph.slm.levels"] = med(lambda p: slm(p).get("levels", 0))
    values["graph.slm.edge_entries_swept"] = med(
        lambda p: slm(p).get("edge_entries_swept", 0))
    values["graph.slm.s_per_sweep"] = med(
        lambda p: slm(p)["s"] / slm(p)["sweeps"] if slm(p).get("sweeps") else 0)
    values["graph.slm.edge_entries_per_s"] = med(
        lambda p: slm(p)["edge_entries_swept"] / slm(p)["s"] if slm(p) else 0)
    for name in COUNTED_SPANS:
        values[f"{name}.calls"] = med(lambda p: p["inner"].get(name, (0, 0))[0])
        values[f"{name}.s"] = med(lambda p: p["inner"].get(name, (0, 0.0))[1])
    values["graph.kernels.driver_s"] = med(
        lambda p: p["inner"].get("graph.kernels", (0, 0.0))[1])
    values["checkpoint.bytes_written_mb"] = med(
        lambda p: sum(v.get("ckpt_mb", 0.0) for v in p["layers"].values()))
    values["spark.persisted_rdds_after"] = med(
        lambda p: max(p["persisted_rdds_after"].values(), default=0))
    values["trace.overhead_s"] = statistics.median(overheads)
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import slmpy_spark.engine  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    workdir = os.path.join(base, f"run-{run_id}")
    os.makedirs(workdir)
    host = {"nproc": os.cpu_count(), "loadavg_1m_start": loadavg_1m()}
    steal0 = steal_s()
    cpus = sorted(os.sched_getaffinity(0))[:CPUS]
    os.sched_setaffinity(0, cpus)  # inherited by the JVM and its workers
    cores = len(cpus)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        host["import_s"] = time.time() - T_PROCESS
        spark = local_session(workdir, cores, traced=bool(args.trace))
        host["session_s"] = time.time() - T_PROCESS - host["import_s"]
        sc = spark.sparkContext
        host.update(cores=cores, heap=HEAP)
        # the sentinel also starts Spark's first jobs, so their one-off
        # cost does not land on the first operator
        host["sentinel_s"] = sentinel_s(spark)
        workload = WORKLOADS[args.workload](spark, workdir, args.seed)
        setups = [timed_setup(workload, first=True)]
        tracer = Tracer(sc, run_id, enabled=bool(args.trace))
        runner = Runner(workload, tracer, sc)
        runner.baseline_rdds = persistent_rdd_ids(sc)
        for mod, path, name in INNER_SPANS if args.trace else ():
            owner = importlib.import_module(mod)
            *owner_attrs, attr = path.split(".")
            for a in owner_attrs:
                owner = getattr(owner, a)
            tracer.wrap(owner, attr, name)
        host["startup_s"] = time.time() - T_PROCESS
        passes, overheads = [], []
        t_start = time.perf_counter()
        while True:
            ov0 = tracer.overhead_s
            passes.append(runner.run_pass(first=not passes))
            overheads.append(tracer.overhead_s - ov0)
            if time.perf_counter() - t_start >= args.seconds:
                break
        tracer.close()
        host["measured_s"] = time.perf_counter() - t_start
        host["check_s"] = runner.check_s
        while len(setups) < SETUP_REPS or sum(setups) < SETUP_MIN_S:
            setups.append(timed_setup(workload))
        workload.teardown()
        host.update(passes=len(passes),
                    loadavg_1m_end=loadavg_1m(), steal_s=steal_s() - steal0,
                    errors=runner.errors, signatures=runner.signatures)
        if args.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{run_id}.jsonl"))
    finally:
        if spark is not None:
            stop_session(spark)
        peak = sampler.stop()
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        metrics = per_layer(passes, overheads)
    else:
        metrics = end_to_end(passes, setups, peak)
    for name in metrics:
        check_metric_name(name)
    print(json.dumps({"record": {
        "workload": args.workload, "seed": args.seed, **host, "setup_reps_s": setups,
        "op_s": op_summaries(passes), "passes_detail": passes,
    }}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
