"""Repository benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload initial_increment --seed 1 --seconds 1 --trace 0

Each run is a closed loop with one client in one SparkSession on
local[nproc]: set-up (several times; the first launches the JVM, the
median of the others is reported), one cold operation, then warm
operations back to back until `--seconds` have passed (at least one).
Every operation's output is checked against the planted truth.
`--trace 0` reports the end-to-end metrics; `--trace 1` enables the Spark
event log and the span shims of layers.py and reports per-layer metrics
(medians over the warm operations).  Inputs are generated from the seed
and cached under .perfbench/inputs; everything else a run writes lives
under .perfbench/run and is removed by the next run.

The last line of stdout is
    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}
the line before it is the run record (host, conf, per-operation times).
"""

from __future__ import annotations

import argparse
import atexit
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# Set-ups per run.  The first launches the JVM (recorded, not reported);
# `setup_s` is the median of the others, each a fresh SparkContext in that
# JVM plus input registration.  The restarts of one run agree closely; the
# spread of `setup_s` comes from the host's speed between runs, and seven
# restarts spread no less than four.  Each restart costs about 1.1 s
# (stop included) of a run budget that is nearly all spent, so three
# restarts: the median still ignores one slow restart.
SETUP_REPS = 4
# Driver heap: fixed size and touched at start, so the JVM's resident set
# does not depend on when the collector chose to grow the heap.  With only
# the 2 GB limit, the JVM's peak RSS over five seeds fell in two modes
# (1.37-1.47 and 1.83-1.90 GB), a quartile spread of 0.30 and 0.46, far
# above peak_rss_mb's bound.  Peak RSS then moves with off-heap buffers
# (Arrow collects) and Python memory, not with on-heap use below the
# limit; the heap pools' peak use is recorded next to it instead
# (`jvm_heap_peak_mb` in the run record).  In local mode the executors
# share this heap.  2 GB holds either workload's inputs and collects with
# room to spare on a 15 GB host.
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_digest() -> str:
    """sha256 over the engine's sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, "customer_er_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git work tree."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if len(lines) == 2 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
        return lines[1]
    return None


def session_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "local"),
        # no /tmp/hsperfdata_* files; temp files stay in the checkout
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            # Spark 4's default log is zstd-compressed and rolling; the
            # stdlib reads neither
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def jvm_peak_rss_kb(pid: int | None) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, TypeError):
        pass
    return 0


def heap_pools(spark) -> list:
    """The driver JVM's heap memory pools (eden, survivor, old gen)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"]


def stop_jvm(proc) -> None:
    """End the gateway JVM and wait for it.  It exits when its stdin
    closes; Spark's Python worker daemon stops with the session."""
    if proc is None or proc.stdin.closed:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args) -> tuple[dict, dict]:
    import inputs
    import layers
    from workloads import WORKLOADS

    from customer_er_spark.session import get_spark

    nproc = os.cpu_count() or 1
    load_before = os.getloadavg()[0]
    t = time.time()
    in_dir = inputs.ensure(args.workload, args.seed, os.path.join(WORK, "inputs"))
    gen_s = time.time() - t

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp", "events", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData") if p)
    conf = session_conf(run_dir, bool(args.trace))
    wl = WORKLOADS[args.workload](in_dir, os.path.join(run_dir, "work"), nproc)

    # set-up: session start + input registration, SETUP_REPS times
    setup, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t = time.time()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{nproc}]",
                          shuffle_partitions=nproc, extra_conf=conf)
        wl.register(spark)
        setup.append(time.time() - t)
    jvm = getattr(spark.sparkContext._gateway, "proc", None)
    atexit.register(stop_jvm, jvm)  # also when the run fails

    pools = heap_pools(spark)
    for p in pools:  # peaks from here on cover the operations only
        p.resetPeakUsage()

    tracer = layers.Tracer(spark) if args.trace else layers.NullTracer()
    if args.trace:
        tracer.install()
    ops: list[dict] = []

    def one_op(i: int) -> None:
        tracer.op = i
        t0 = time.time()
        try:
            with tracer.span("op"):
                result = wl.op(spark, i, tracer)
            wall = time.time() - t0
            tracer.op = None
            res = wl.check(spark, result)
            # read from the output, untimed, in both modes: a path flip
            # (e.g. connected components leaving the driver path) shows
            # in every result
            counts = wl.layer_counts(spark, result)
            wl.discard(result)
        except Exception:  # a failed operation is counted, not fatal
            tracer.op = None
            traceback.print_exc()
            ops.append({"i": i, "wall_s": time.time() - t0, "ok": False})
            return
        ops.append({"i": i, "wall_s": wall, **res, "counts": counts})
        print(f"# op {i}: {wall:.3f}s ok={res['ok']} recall={res['recall']:.4f}"
              f" precision={res['precision']:.4f}", file=sys.stderr)

    one_op(0)  # cold
    t_warm = time.time()
    while len(ops) < 2 or time.time() - t_warm < args.seconds:
        one_op(len(ops))
    if args.trace:
        tracer.uninstall()
    app_id = spark.sparkContext.applicationId
    heap_peak_mb = {p.getName(): p.getPeakUsage().getUsed() / 2**20
                    for p in pools}
    spark.stop()
    rss_kb = {"jvm": jvm_peak_rss_kb(getattr(jvm, "pid", None)),
              "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss}
    stop_jvm(jvm)
    peak_rss_mb = sum(rss_kb.values()) / 1024

    warm = ops[1:]
    good = [o for o in ops if o.get("ok")]
    warm_wall = [o["wall_s"] for o in warm]
    wall = statistics.median(warm_wall)
    metrics = {
        "wall_s": wall,
        "records_per_s": wl.n_records / wall,
        "first_run_s": ops[0]["wall_s"],
        "setup_s": statistics.median(setup[1:]),
        "peak_rss_mb": peak_rss_mb,
        "output_bytes_per_input_byte": (
            statistics.median(o["output_bytes"] for o in good) / wl.input_bytes
            if good else 0.0),
        "recall": min(o.get("recall", 0.0) for o in ops),
        "precision": min(o.get("precision", 0.0) for o in ops),
        "ok_frac": len(good) / len(ops),
    }
    layer_metrics = {}
    if args.trace:
        jobs, tasks = layers.read_event_log(
            os.path.join(run_dir, "events"), app_id)
        rows = []
        for o in warm:
            row = layers.layer_table(tracer.spans, jobs, tasks, o["i"])
            row.update(tracer.counters.get(o["i"], {}))
            row.update(o.get("counts", {}))
            row["trace.op_wall_s"] = o["wall_s"]
            rows.append(row)
        layer_metrics = layers.median_table(rows)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": nproc,
        "load_1m_before": load_before, "load_1m_after": os.getloadavg()[0],
        "git_commit": git_commit(), "source_digest": source_digest(),
        "driver_memory": DRIVER_MEMORY, "spark_conf": conf,
        "cc_driver_max_edges": wl.cfg.cc_driver_max_edges,
        "input_records": wl.n_records, "input_bytes": wl.input_bytes,
        "input_gen_s": gen_s, "setup_runs_s": setup, "peak_rss_kb": rss_kb,
        "jvm_heap_peak_mb": heap_peak_mb,
        "ops": ops, "layers": layer_metrics,
    }
    return record, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "customer_er_spark")):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    record, metrics = run(args)
    # the metrics BENCHMARK.json declares, with its units; layers.py
    # computes more, which stay in the run record
    values = record["layers"] if args.trace else metrics
    shown = {m["name"]: {"value": values.get(m["name"], 0.0) if args.trace
                         else values[m["name"]], "unit": m["unit"]}
             for m in declared}
    ops = record["ops"]
    failed = sum(not o.get("ok") for o in ops)
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({**record, "metrics": shown}, f, indent=1)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
