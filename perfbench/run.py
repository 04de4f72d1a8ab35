"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The run generates its
seeded inputs under ``.perfbench_work/`` in the checkout, starts a Spark
session on ``local[nproc]`` from the checkout's own package, runs the
workload as a closed loop with one client for ``--seconds``, checks the
outputs, and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (no spans, no event log).
``--trace 1`` reports the per-layer metrics instead: spans from this
benchmark's own calls into each layer, and Spark's event log (jobs, stages,
task metrics and the Python-boundary SQL metrics) attributed to the spans
through job groups. A traced run times operations in the order traced,
untraced, traced (repeated), so a steady drift from one operation to the
next cancels out of the tracing overhead.

Diagnostics (wall latencies with their median and tail, rows per second,
load average, settle wait, failures) go to standard error and to
``.perfbench_work/last_<workload>.json``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "metadata_ingestion_framework_spark"

# Input size per workload (the generator's scale factor), and that of the
# catalog a traced cdc_ingest run probes (100 documents).
SIZES = {"cdc_ingest": 0.01, "store_ingest": 0.004}
PROBE_SIZE = 0.002
SETTLE_MAX_S = 2.0
SETTLE_PRESSURE = 5.0
SPARK_MEM = "2g"
# C1 only: a run's JVM lives about a minute, too short for tiered C2
# compilation to settle. With C2 on, a CDC batch used ~15 CPU-s for ~5 s of
# wall time (compiler threads) and run-to-run spread was ~17%; C1 alone
# used ~10 CPU-s and spread ~12% (4-core box, five seeds each).
# C1 only also shrinks the default code cache from 240 MB to 48 MB, which a
# run fills (Spark compiles new generated classes for every query): the
# code-cache sweeper then flushed and recompiled methods inside the timed
# loop, and without flushing the compiler shut down. The tiered default
# size is kept.
JIT_OPTS = " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _pressure(resource: str) -> float:
    """10-second ``some`` stall share (percent) from Linux PSI, 0 if absent."""
    try:
        with open(f"/proc/pressure/{resource}") as f:
            return float(f.readline().split()[1].split("=")[1])
    except (OSError, IndexError, ValueError):
        return 0.0


def settle() -> tuple[float, float]:
    """Flush dirty pages (a previous run's writes and deletes), then wait,
    up to SETTLE_MAX_S, until CPU and IO stall shares are low; return
    (1-minute load average at start, seconds spent)."""
    load0 = os.getloadavg()[0]
    t0 = time.perf_counter()
    os.sync()
    while (max(_pressure("cpu"), _pressure("io")) > SETTLE_PRESSURE
           and time.perf_counter() - t0 < SETTLE_MAX_S):
        time.sleep(1.0)
    return load0, time.perf_counter() - t0


def proc_tree(root: int) -> list[int]:
    """``root`` and all its live descendants (the JVM, and the JVM's Python
    daemon and workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed peak RSS (VmHWM) of the process tree."""
    kb = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            pass
    return kb / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the process tree, reaped children included."""
    ticks = 0
    for pid in proc_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def tail(values: list[float]) -> dict:
    """Highest percentile with at least 10 samples beyond it."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            return {"percentile": p, "value_s": quantile(values, p / 100), "samples": n}
    return {"percentile": None, "samples": n}


def start_spark(work: str, trace: bool):
    from metadata_ingestion_framework_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData" + JIT_OPTS,
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def prepare_inputs(workload: str, seed: int, inputs: str, trace: bool) -> None:
    from gen import generate

    part = {"cdc_ingest": "cdc", "store_ingest": "store"}[workload]
    generate(inputs, seed, SIZES[workload], parts=(part,))
    if trace and workload == "cdc_ingest":
        generate(os.path.join(inputs, "probe"), seed, PROBE_SIZE, parts=("catalog",))


# Per-layer metrics of a traced run (name -> unit), reported per traced
# operation. Every workload prints all of them; a layer a workload does not
# exercise reads 0.
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "pipeline.run_s": "s",
    "pipeline.self_s": "s",
    "processor.plan_s": "s",
    "merge.plan_s": "s",
    "merge.jobs": "count",
    "observability.write_status_s": "s",
    "observability.write_fact_s": "s",
    "observability.calls": "count",
    "observability.jobs": "count",
    "observability.files_written": "count",
    "tablestore.write_s": "s",
    "tablestore.write_partition_delta_s": "s",
    "tablestore.read_s": "s",
    "tablestore.files_written": "count",
    "tablestore.bytes_written": "B",
    "tablestore.bytes_linked": "B",
    "tablestore.live_bytes": "B",
    "tablestore.write_amp": "ratio",
    "tablestore.space_amp": "ratio",
    "incremental.minhash_ingest_s": "s",
    "incremental.embedding_ingest_s": "s",
    "incremental.retire_s": "s",
    "incremental.jobs_per_ingest": "count",
    "incremental.kept_frac": "frac",
    "incremental.dup_recall": "frac",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "frac",
    "spark.driver_gap_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "python.data_sent_bytes": "B",
    "python.data_received_bytes": "B",
    "python.worker_s": "s",
    "python.boot_s": "s",
    "python.init_s": "s",
    "catalog.pretrain_corpus_e2e.pre_action_s": "s",
    "catalog.pretrain_corpus_e2e.action_s": "s",
    "catalog.pretrain_corpus_e2e.jobs_pre_action": "count",
    "catalog.pretrain_corpus_e2e.jobs_action": "count",
    "barrier.files": "count",
    "barrier.bytes_written": "B",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}
# End-to-end metrics of an untraced run. Per operation, the CPU seconds of
# the whole process tree (this process, the JVM, the Python workers) and
# not the wall time, which other tenants of a shared host move more: two
# busy processes beside a cdc_ingest run added 26% to its wall latency and
# 2% to its CPU time, and over ten seeds in a busy hour on a 4-core VM the
# IQR/median of store_ingest was 0.44 for wall latency and 0.20 for CPU
# time. Wall latency and throughput stay in the run's diagnostics.
E2E_METRICS = {"setup_s": "s", "op_cpu_s": "s", "write_amp": "ratio"}


def aba_overhead(lat: list[float]) -> float:
    """Tracing overhead per operation from latencies timed in the order
    traced, untraced, traced (repeated): the mean over complete groups of
    three of (t0 + t2) / 2 - t1. A linear drift across operations cancels
    within each group. Three operations, not four as in ABBA, keep a traced
    store_ingest run (about 15-20 s per ingest) within its time limit."""
    groups = [lat[i:i + 3] for i in range(0, len(lat) - 2, 3)]
    if not groups:
        return 0.0
    return sum((g[0] + g[2]) / 2 - g[1] for g in groups) / len(groups)


def is_traced_op(i: int) -> bool:
    """Whether the ``i``-th timed operation of a traced run is traced."""
    return i % 3 != 1


def layer_report(wl, tracer, lat, work, cpus, t_spark) -> dict:
    """Per-layer values of a traced run (see ``LAYER_METRICS``)."""
    import glob as _glob

    import eventlog
    from spans import descendants, totals_by_name

    n = max(1, sum(map(is_traced_op, range(len(lat)))))
    in_op = descendants(tracer.spans, {"op"})["op"]
    op_tree = [s for s in tracer.spans if s.group in in_op]
    totals = totals_by_name(op_tree)
    groups = descendants(op_tree, {s.name for s in op_tree})
    logs = _glob.glob(os.path.join(work, "eventlog", "*"))
    ev = eventlog.parse(logs[0]) if logs else eventlog.EventLog()

    def per_op(*names, key="total_s"):
        return sum(totals.get(nm, {}).get(key, 0.0) for nm in names) / n

    def jobs(*names):
        return sum(eventlog.summarize(ev, groups.get(nm, set()))["jobs"] for nm in names) / n

    op_spans = [s for s in tracer.spans if s.name == "op"]
    sp = eventlog.summarize(ev, groups.get("op", set()))
    op_wall_ms = sum((s.end - s.start) * 1000 for s in op_spans)
    busy = sum(eventlog.busy_ms(ev, s.start * 1000, s.end * 1000) for s in op_spans)
    obs = ("observability.write_status", "observability.write_fact")
    ingest = ("incremental.minhash_ingest", "incremental.embedding_ingest")
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    m.update({
        "session.get_spark_s": t_spark,
        "pipeline.run_s": per_op("pipeline.run"),
        "pipeline.self_s": per_op("pipeline.run", key="self_s"),
        "processor.plan_s": per_op("processor.plan"),
        "merge.plan_s": per_op("merge.plan"),
        "merge.jobs": jobs("merge.plan"),
        "observability.write_status_s": per_op(obs[0]),
        "observability.write_fact_s": per_op(obs[1]),
        "observability.calls": per_op(*obs, key="calls"),
        "observability.jobs": jobs(*obs),
        "tablestore.write_s": per_op("tablestore.write"),
        "tablestore.write_partition_delta_s": per_op("tablestore.write_partition_delta"),
        "tablestore.read_s": per_op("tablestore.read"),
        "incremental.minhash_ingest_s": per_op(ingest[0]),
        "incremental.embedding_ingest_s": per_op(ingest[1]),
        "incremental.jobs_per_ingest": jobs(*ingest),
        "spark.jobs": sp["jobs"] / n,
        "spark.stages": sp["stages"] / n,
        "spark.tasks": sp["tasks"] / n,
        "spark.tasks_failed": sp["tasks_failed"] / n,
        "spark.executor_run_s": sp["run_ms"] / 1000 / n,
        "spark.executor_cpu_s": sp["cpu_ns"] / 1e9 / n,
        "spark.cpu_util": (sp["cpu_ns"] / 1e6) / max(1.0, op_wall_ms * cpus),
        "spark.driver_gap_s": (op_wall_ms - busy) / 1000 / n,
        "spark.shuffle_write_bytes": sp["shuffle_write_bytes"] / n,
        "spark.spill_bytes": sp["spill_bytes"] / n,
        "spark.gc_s": sp["gc_ms"] / 1000 / n,
        "python.data_sent_bytes": sp["data_sent_bytes"] / n,
        "python.data_received_bytes": sp["data_received_bytes"] / n,
        "python.worker_s": sp["worker_ms"] / 1000 / n,
        "python.boot_s": sp["boot_ms"] / 1000 / n,
        "python.init_s": sp["init_ms"] / 1000 / n,
        "trace.overhead_s": aba_overhead(lat),
        "trace.spans": float(len(op_tree)) / n,
    })
    def span_jobs(name):
        """Jobs launched under any span called ``name``, in or out of an op."""
        return eventlog.summarize(ev, descendants(tracer.spans, {name})[name])["jobs"]

    # workload-specific values: store IO and dedup outcomes per traced op,
    # and the catalog probe of cdc_ingest
    m.update(wl.layer_metrics(n, span_jobs))
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE}/ package in {ROOT}: run from the root of a checkout")
        return 2
    trace = bool(args.trace)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(work)
    # the package reads these at import time; worker processes inherit them
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", SPARK_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    spark = None
    try:
        load0, waited = settle()
        t0 = time.perf_counter()
        prepare_inputs(args.workload, args.seed, inputs, trace)
        gen_s = time.perf_counter() - t0

        from spans import Tracer

        tracer = Tracer(False, f"{args.workload}-{args.seed}")
        t0 = time.perf_counter()
        spark = start_spark(work, trace)
        t_spark = time.perf_counter() - t0
        if trace:
            tracer.sc = spark.sparkContext
        wl = workloads.WORKLOADS[args.workload](spark, inputs, work, tracer, trace)
        t0 = time.perf_counter()
        wl.prepare()
        prep_s = time.perf_counter() - t0
        wl.warm()
        setup_s = time.perf_counter() - T_PROCESS - gen_s - waited

        lat, cpu, rows, written, failures = [], [], 0, 0, []
        in0 = wl.input_bytes
        deadline = time.perf_counter() + args.seconds
        t_loop = time.perf_counter()

        def more() -> bool:
            if not wl.remaining():
                return False
            if trace:  # whole traced/untraced groups of three
                return time.perf_counter() < deadline or len(lat) % 3 or not lat
            return time.perf_counter() < deadline or len(lat) < wl.min_ops

        while more():
            tracer.enabled = trace and is_traced_op(len(lat))
            os.sync()  # the previous operation's writeback stays out of this one
            files0 = workloads.snapshot(wl.roots)
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    rows += wl.op()
            except Exception as exc:
                failures.append(f"op {len(lat)}: {type(exc).__name__}: {exc}"[:500])
                log(failures[-1])
            dt = time.perf_counter() - t0
            cpu.append(tree_cpu_s(os.getpid()) - c0)
            lat.append(dt)
            written += workloads.written_bytes(files0, workloads.snapshot(wl.roots))
        in_bytes = wl.input_bytes - in0
        loop_s = time.perf_counter() - t_loop
        tracer.enabled = False
        rss = tree_rss_mb(os.getpid())

        t0 = time.perf_counter()
        try:
            checks = wl.check()
        except Exception as exc:
            checks = {"check": f"{type(exc).__name__}: {exc}"[:500]}
        mismatches = [f"{k}: {v}" for k, v in checks.items() if v is not None]
        for mm in mismatches:
            log(f"MISMATCH {mm}")
        check_s = time.perf_counter() - t0

        layer = None
        if trace:
            stop_spark(spark)
            spark = None
            layer = layer_report(wl, tracer, lat, work, cpus, t_spark)
            tracer.dump(os.path.join(base, f"spans_{args.workload}.jsonl"))

        # operations and correctness checks both count as attempts
        attempted = len(lat) + len(checks)
        failed = len(failures) + len(mismatches)
        diag = {
            "workload": args.workload, "seed": args.seed, "size": SIZES[args.workload],
            "load_avg_at_start": load0, "settle_wait_s": waited, "gen_s": gen_s,
            "prepare_s": prep_s, "check_s": check_s, "loop_s": loop_s, "ops": len(lat),
            "op_latencies_s": lat, "op_p50_s": statistics.median(lat),
            "rows_per_s": rows / sum(lat), "tail": tail(lat), "op_cpu_s": cpu,
            "input_bytes": in_bytes, "written_bytes": written, "peak_rss_mb": rss,
            "ops_failed_frac": failed / attempted,
            "failures": failures + mismatches,
        }
        with open(os.path.join(base, f"last_{args.workload}.json"), "w") as f:
            json.dump(diag, f)
        log(json.dumps({k: v for k, v in diag.items() if k != "op_latencies_s"}))

        if trace:
            values, units = layer, LAYER_METRICS
        else:
            values, units = {
                "setup_s": setup_s,
                "op_cpu_s": statistics.median(cpu),
                "write_amp": written / max(1, in_bytes),
            }, E2E_METRICS
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        print(json.dumps({
            "correct": not mismatches and not failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
