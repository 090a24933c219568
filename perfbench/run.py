"""spark-tiles benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tile_pages --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout. The run makes its inputs from the seed
inside `.perfbench_work/` of the checkout, starts a local[4] Spark session
on the engine in the checkout, sets up, warms up, then runs the workload's
operations back to back until --seconds of operation time have passed,
checking every operation's output against an independent oracle outside
the timed window.

--trace 0 prints the end-to-end metrics. --trace 1 runs half of --seconds
in a session with the event log on and a job group set around every timed
engine call, prints the per-layer metrics joined from the event log, and
measures the tracing overhead against an untraced run of the other half
in a child process.

The last stdout line is the result JSON; the line before it holds the
details (seed, samples, host probe, workload-specific figures). Exit code
2 means the engine is not in the checkout.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import mmap  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("ops_per_s", "1/s"),
              ("ckpt_bytes_per_point", "B"), ("peak_rss_mb", "MB")]


def memset_gbps(threads: int = 8, mb_per_thread: int = 16) -> float:
    """Host probe: fresh-page memset throughput. A host whose kernel
    serializes page faults drops from several GB/s to well under 1 GB/s,
    and every allocation-heavy Spark stage slows with it; the probe tells
    such an episode apart from a slower program."""
    n = mb_per_thread << 20
    bufs = [mmap.mmap(-1, n) for _ in range(threads)]

    def fill(buf):
        ctypes.memset(ctypes.addressof(ctypes.c_char.from_buffer(buf)), 1, n)

    ts = [threading.Thread(target=fill, args=(b,)) for b in bufs]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wall = time.perf_counter() - t0
    for b in bufs:
        b.close()
    return threads * n / 1e9 / wall


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Session:
    """A local[4] session whose scratch files stay in the work dir."""

    def __init__(self, work: str, event_log: str | None = None):
        from py3dtiles_spark.session import get_spark
        if event_log:
            os.environ["SPARK_GRAFT_EVENT_LOG_DIR"] = event_log
        else:
            os.environ.pop("SPARK_GRAFT_EVENT_LOG_DIR", None)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=4, shuffle_partitions=8)
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.app_id = self.spark.sparkContext.applicationId

    def jvm_pid(self):
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self):
        self.spark.stop()


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the pre-touched heap keeps first-touch page faults out of the timed
    # window; 1 GB holds every workload's working set
    os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-Dspark.ui.showConsoleProgress=false")
    os.environ["SPARK_GRAFT_CPUS"] = "4"


def shutdown_jvm(spark_context_cls) -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it."""
    gw = spark_context_cls._gateway
    if gw is None:
        return
    from py4j.protocol import Py4JError
    proc = gw.proc
    try:
        gw.shutdown()
    except Py4JError as e:  # the JVM may already be gone
        print(f"gateway shutdown: {e!r}", file=sys.stderr)
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    spark_context_cls._gateway = None
    spark_context_cls._jvm = None


def run_ops(wl, spark, tracer, seconds: float, first_op: int):
    """Operations back to back, in whole passes, until `seconds` of timed
    operation wall time and at least wl.min_passes passes. Returns
    (records, failures)."""
    from workloads import dir_bytes
    recs, failed, spent, k = [], 0, 0.0, 0
    while spent < seconds or k < wl.min_passes:
        for unit in wl.units(k):
            tracer.op = first_op + len(recs)
            rec = wl.op(spark, unit)
            tracer.op = -1
            rec["op"] = first_op + len(recs)
            spent += rec["wall"]
            for s in tracer.timed("tiling.build", rec["op"]):
                res = s.info["result"]
                s.info["ckpt_bpp"] = (dir_bytes(res.checkpoint_dir)
                                      / max(res.counters["points_total"], 1))
            try:
                errs = wl.check(spark, rec)
            except Exception as e:  # a crashed check is a failed operation
                errs = [f"check raised {e!r}"]
            for e in errs:
                print(f"FAILED {wl.name} op {rec['op']}: {e}",
                      file=sys.stderr)
            failed += bool(errs)
            wl.after_op(spark, rec)
            # keep the scalars; drop result frames and rows
            recs.append({k2: rec[k2] for k2 in ("op", "wall", "query")
                         if k2 in rec})
        k += 1
    return recs, failed


def baseline_run(args, seconds: float) -> dict:
    """The same workload and seed untraced, in a fresh process and JVM
    (same start-up and warm-up as the traced half): the overhead baseline.
    Returns its result line."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds", str(seconds),
         "--trace", "0"], capture_output=True, text=True, timeout=170)
    if p.returncode != 0:
        raise RuntimeError(f"baseline run failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "py3dtiles_spark",
                                       "session.py")):
        print(f"no engine under {ROOT}: run from a checkout of the repo",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import PER_LAYER, WORKLOADS, median
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        return measure(args, work, WORKLOADS[args.workload], median,
                       PER_LAYER)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def measure(args, work, wl_cls, median, per_layer) -> int:
    from pyspark import SparkContext
    from spans import PROBE_OP, Tracer, cost_by_group, read_event_log

    tracer = Tracer()
    wl = wl_cls(args.seed, work, tracer)
    wl.install()
    host_probe = memset_gbps()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    budget = args.seconds / 2 if args.trace else args.seconds
    probe_attempted = 0
    try:
        sess = Session(work, event_log=log_dir)
        session_start_s = sess.start_s
        tracer.spark = sess.spark if args.trace else None
        wl.prepare(sess.spark)
        wl.warm(sess.spark)
        setup_s = time.perf_counter() - PROCESS_T0
        recs, failed = run_ops(wl, sess.spark, tracer, budget, 0)
        rss = vm_hwm_mb("self") + vm_hwm_mb(sess.jvm_pid())
        details = wl.details(recs)
        if args.trace:
            tracer.op = PROBE_OP
            probe_attempted, probe_failed = wl.probe(sess.spark)
            failed += probe_failed
            tracer.op = -1
            tracer.spark = None
        sess.stop()
    finally:
        tracer.unwrap_all()
        shutdown_jvm(SparkContext)

    if args.trace:
        costs = cost_by_group(read_event_log(log_dir, sess.app_id))
        base = baseline_run(args, budget)
        probe_attempted += base["attempted"]
        failed += base["failed"]

    walls = [r["wall"] for r in recs]
    attempted = len(recs) + probe_attempted
    if args.trace:
        metrics = wl.layers(recs, costs)
        metrics["session.start_s"] = session_start_s
        metrics["host.memset_gbps"] = host_probe
        metrics["trace_overhead_frac"] = (
            median(walls) / base["metrics"]["op_p50_s"]["value"] - 1)
        # a layer the workload never calls did no work on it: 0
        names = per_layer
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(walls),
            "ops_per_s": len(walls) / sum(walls),
            "ckpt_bytes_per_point": median(
                s.info["ckpt_bpp"] for s in tracer.timed("tiling.build")),
            "peak_rss_mb": rss,
        }
        names = END_TO_END
    details.update(workload=args.workload, seed=args.seed, trace=args.trace,
                   ops=len(walls), op_walls=[round(w, 4) for w in walls],
                   failed_frac=failed / attempted,
                   session_start_s=session_start_s,
                   host_memset_gbps=host_probe)
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
                    for k, u in names}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
