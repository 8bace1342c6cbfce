#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 8 --trace 0

Runs from the root of a checkout. Inputs are generated from ``--seed``
(cached under ``perfbench/.work/cache``), one SparkSession is started,
the workload is set up (including one untimed warm-up operation), and
operations run back to back for ``--seconds``. Outputs are then checked
outside the timed window. The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics for
``--trace 1`` (a traced run alternates untraced and traced operations; the
spans are written to ``perfbench/.work/results``). The line before it is the
run context (nproc, versions, hypervisor steal around each operation).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

from tracing import Tracer, layer_table, median_or_zero, per_op, self_times
from workloads import SIZES, WORKLOADS, doc_latency, layer_targets, tree_hash

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM = ("spark_submit_job.py", "obiemachinelearningframework_spark/__init__.py",
           "tools/machine_control.py")
DRIVER_MEM = "3g"  # local[nproc] driver heap; the package default (16g) assumes a bigger host
MIN_OPS = 3  # timed operations per run, however long they take: the time
             # figures are medians, so one slow operation cannot move them


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def descendants(pid: int) -> list[int]:
    children: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def heap_mb() -> int:
    """The JVM's fixed, pre-touched heap size, from OBIE_DRIVER_MEM."""
    v = os.environ["OBIE_DRIVER_MEM"].lower()
    return int(v[:-1]) * {"g": 1024, "m": 1}[v[-1]]


def tree_rss_mb(pid: int) -> float:
    """Resident memory of a process tree outside the JVM heap. The forked
    Python workers share pages, so they count by proportional set size; the
    JVM counts by RSS minus its heap, which is pre-touched and so always
    fully resident (reading the JVM's page-table-heavy smaps_rollup several
    times a second slowed operations measurably). The heap's use is
    measured inside the JVM instead (``live_heap_mb``)."""
    total_kb = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/comm") as f:
                java = f.read().strip() == "java"
            if java:
                with open(f"/proc/{p}/statm") as f:
                    total_kb += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
                total_kb -= heap_mb() * 1024
            else:
                with open(f"/proc/{p}/smaps_rollup") as f:
                    total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration, ValueError):
            continue
    return total_kb / 1024


def live_heap_mb(jvm) -> float:
    """The JVM heap's live data: its use right after a full collection."""
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


class RssSampler:
    """Peak of ``tree_rss_mb`` over this process and all its descendants
    (the JVM and the Python workers), sampled while operations run."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb(os.getpid()))


class Bench:
    def __init__(self, args):
        self.args = args
        self.run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
        self.cache_dir = os.path.join(WORK, "cache")
        os.makedirs(self.cache_dir, exist_ok=True)
        self.corpus_hash = tree_hash(ROOT, ["obiemachinelearningframework_spark/fixtures/*.py"])
        self.code_hash = tree_hash(ROOT, ["spark_submit_job.py",
                                          "obiemachinelearningframework_spark/**/*.py"])
        self.spark = None
        self._n = 0
        self.workload = WORKLOADS[args.workload](self, args.seed, args.size)

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.run_dir, f"{tag}{self._n}")

    def start_spark(self):
        from obiemachinelearningframework_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               master=f"local[{self.args.nproc}]")

    def stop_spark(self):
        """Stop the session, then the JVM it launched, and wait for every
        process this run started to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    def spark_counts(self, group: str) -> dict:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                sinfo = st.getStageInfo(s)
                stages += 1
                tasks += sinfo.numTasks if sinfo else 0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def run_op(bench, tracer, i: int, traced: bool) -> dict:
    """One timed operation; never raises (a failure is recorded)."""
    from tools.machine_control import read_cpu_times, steal_pct

    wl, sc = bench.workload, bench.spark.sparkContext
    group = f"op{i}"
    sc.setJobGroup(group, group)
    rec = {"op": i, "traced": traced}
    cpu0 = read_cpu_times()
    t0 = time.perf_counter()
    try:
        if traced:
            tracer.op = i
            with tracer.patched(layer_targets(tracer)), tracer.span(f"op.{wl.name}"):
                rec.update(wl.op())
        else:
            rec.update(wl.op())
        rec["ok"] = True
    except Exception as e:  # the op boundary: record, keep measuring
        log(f"op {i} failed:\n{traceback.format_exc()}")
        rec.update(ok=False, error=repr(e)[:500])
    rec["seconds"] = time.perf_counter() - t0
    rec["steal_pct"] = steal_pct(cpu0, read_cpu_times())
    rec.update(bench.spark_counts(group))
    rec["heap_mb"] = live_heap_mb(sc._jvm)
    bench.spark.catalog.clearCache()
    return rec


def end_to_end(wl, ops, setup_s, memory) -> dict:
    good = [o for o in ops if o["ok"]]
    op_s = median_or_zero(o["seconds"] for o in good)
    return {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (wl.docs_per_op / op_s if op_s else 0.0, "docs/s"),
        "triples_per_s": (median_or_zero(o["triples"] for o in good) / op_s if op_s else 0.0,
                          "triples/s"),
        "triple_precision": (wl.quality[0], "ratio"),
        "triple_recall": (wl.quality[1], "ratio"),
        "memory_mb": (memory, "MB"),
        "ok_ops_share": (len(good) / len(ops) if ops else 0.0, "ratio"),
    }


def per_layer(wl, ops, spans, counts, latency) -> dict:
    traced = [o for o in ops if o["traced"] and o["ok"]]
    plain = [o for o in ops if not o["traced"] and o["ok"]]
    T = layer_table(spans)
    timed = self_times(spans)

    def t(*names):
        return sum(T.get(n, 0.0) for n in names)

    def c(name):
        return median_or_zero(v for (op, n), v in counts.items() if n == name)

    def o(key):
        return median_or_zero(x.get(key, 0) for x in traced)

    cli_self = median_or_zero(per_op(timed, lambda s: s["self"] if s["name"] == "cli"
                             else None))
    uncovered = median_or_zero(per_op(timed, lambda s: s["self"] if s["parent"] is None else None))
    docs = wl.docs_per_op
    return {
        **{k: (v, "ms") for k, v in latency.items()},
        "fused.kernel_s": (t("fused.kernel"), "s"),
        "fused.vocab_scan_s": (t("fused.vocab_scan"), "s"),
        "fused.link_map_s": (t("fused.link_map"), "s"),
        "fused.vocab_size": (c("fused.vocab_size"), "count"),
        "fused.links": (c("fused.links"), "count"),
        "triples.write_s": (t("triples.write"), "s"),
        "triples.files": (o("files"), "count"),
        "triples.bytes": (o("bytes"), "bytes"),
        "triples.max_partition_share": (o("max_partition_share"), "ratio"),
        "catalog.commit_s": (t("catalog.commit"), "s"),
        "cli.self_s": (cli_self, "s"),
        "op.uncovered_s": (uncovered, "s"),
        "crawl.reextracted_ratio": (o("reextracted") / docs, "ratio"),
        "mentions.detect_s": (t("mentions.detect"), "s"),
        "linking.link_map_s": (t("linking.link_map"), "s"),
        "candidates.s": (t("candidates"), "s"),
        "features.pairs_s": (t("features.pairs"), "s"),
        "features.compute_s": (t("features.compute"), "s"),
        "features.pairs": (c("features.pairs"), "count"),
        "trainer.fit_s": (t("trainer.fit"), "s"),
        "filler.score_fill_s": (t("filler.score_fill"), "s"),
        "evaluator.triple_prf_s": (t("evaluator.triple_prf"), "s"),
        "evaluator.tree_prf_s": (t("evaluator.tree_prf"), "s"),
        "evaluator.tree_f1": (wl.tree_f1, "ratio"),
        "spark.jobs": (median_or_zero(x["jobs"] for x in plain), "count"),
        "spark.stages": (median_or_zero(x["stages"] for x in plain), "count"),
        "spark.tasks": (median_or_zero(x["tasks"] for x in plain), "count"),
        "cycle.train_s": (median_or_zero(x.get("train_s", 0.0) for x in plain), "s"),
        "cycle.eval_s": (median_or_zero(x.get("eval_s", 0.0) for x in plain), "s"),
        "trace.untraced_op_s": (median_or_zero(x["seconds"] for x in plain), "s"),
        "trace.traced_op_s": (median_or_zero(x["seconds"] for x in traced), "s"),
        "trace.overhead_s": (median_or_zero(x["seconds"] for x in traced)
                             - median_or_zero(x["seconds"] for x in plain), "s"),
        "machine.steal_pct": (median_or_zero(x["steal_pct"] for x in ops), "%"),
    }


def context(bench, ops) -> dict:
    import pyspark

    jvm = bench.spark.sparkContext._jvm
    return {
        "workload": bench.args.workload, "seed": bench.args.seed,
        "seconds": bench.args.seconds, "trace": bench.args.trace, "size": bench.args.size,
        "nproc": bench.args.nproc, "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "java": str(jvm.System.getProperty("java.version")),
        "driver_mem": os.environ.get("OBIE_DRIVER_MEM"),
        "steal_pct": [round(o["steal_pct"], 2) for o in ops],
        "ops": [{k: v for k, v in o.items() if k not in ("signature",)} for o in ops],
    }


def bench_main(args) -> dict:
    bench = Bench(args)
    wl = bench.workload
    log(f"[{wl.name}] inputs")
    wl.make_inputs()

    tracer = Tracer()
    phases: dict = {}
    failures: list = []
    try:
        t0 = time.perf_counter()
        bench.start_spark()
        phases["session"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        from obiemachinelearningframework_spark.functions.patterns import compile_pattern_table

        compile_pattern_table(wl.ontology())
        phases["patterns"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        if wl.uses_model:
            wl.weights = wl.model()
        phases["model"] = time.perf_counter() - t0  # cached artifact: not set-up
        t0 = time.perf_counter()
        wl.setup()
        try:
            wl.warm_up()
        except Exception:  # still measure: every timed operation will show it
            log(f"[{wl.name}] warm-up failed:\n{traceback.format_exc()}")
            failures.append("warm-up failed")
        wl.outputs.clear()
        bench.spark.catalog.clearCache()
        phases["setup_and_warm_up"] = time.perf_counter() - t0
        setup_s = phases["session"] + phases["patterns"] + phases["setup_and_warm_up"]
        log(f"[{wl.name}] set-up {setup_s:.2f}s {phases}")

        ops: list = []
        with RssSampler() as rss:
            deadline = time.perf_counter() + args.seconds
            while True:
                traced = bool(args.trace) and len(ops) % 2 == 1
                ops.append(run_op(bench, tracer, len(ops), traced))
                log(f"[{wl.name}] op {ops[-1]['op']} traced={traced} "
                    f"{ops[-1]['seconds']:.2f}s ok={ops[-1]['ok']}")
                if time.perf_counter() >= deadline and len(ops) >= MIN_OPS:
                    break
        heap = median_or_zero(o["heap_mb"] for o in ops)
        memory = rss.peak + heap
        phases["memory_mb"] = {"outside_heap_peak": rss.peak, "live_heap": heap}
        t0 = time.perf_counter()
        checks = wl.check_after()
        phases["checks"] = time.perf_counter() - t0
        for f in checks:
            log(f"[{wl.name}] check failed: {f}")
        if checks:  # an after-window check covers every operation
            for o in ops:
                o["ok"] = False
        failures += checks
        latency = {}
        if args.trace:
            latency, drift = doc_latency(wl)
            for f in drift:
                log(f"[{wl.name}] check failed: {f}")
            failures += drift
        ctx = context(bench, ops)
        ctx["phases"] = phases
    finally:
        bench.stop_spark()

    if args.trace:
        metrics = per_layer(wl, ops, tracer.spans, tracer.counts, latency)
        ctx["layer_self_s"] = {k: round(v, 4) for k, v in layer_table(tracer.spans).items()}
    else:
        metrics = end_to_end(wl, ops, setup_s, memory)
    failed = sum(not o["ok"] for o in ops)
    result = {
        "correct": failed == 0 and not failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    stem = f"{out}/{wl.name}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.dump(stem + "-spans.json")
    with open(stem + ".json", "w") as f:
        json.dump({"context": ctx, "result": result}, f, indent=1, default=str)
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    print("context: " + json.dumps({k: v for k, v in ctx.items() if k != "ops"}, default=str))
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is the self-check size")
    args = ap.parse_args(argv)
    args.nproc = len(os.sched_getaffinity(0))
    # a terminated run still stops its JVM (bench_main's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"perfbench: program sources not found next to the benchmark: {missing}")
        return 2

    os.environ.setdefault("OBIE_DRIVER_MEM", DRIVER_MEM)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,

        # a fixed, pre-touched heap is always fully resident, so the
        # JVM's RSS minus the heap is its memory outside the heap
        "OBIE_DRIVER_JAVA_OPTS": (f"-Xms{os.environ['OBIE_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                                  f"-Djava.io.tmpdir={tmp}"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(args.nproc),
        # the Python workers import the package from the checkout too
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    os.chdir(tmp)  # spark-warehouse / derby.log land in the work dir
    sys.path.insert(0, ROOT)
    result = bench_main(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
