"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Generates the workload's inputs from the seed
under ``.perfbench_work/`` (removed afterwards), starts Spark the way the
program does (``session.get_spark``, ``local[N]`` with N =
``SPARK_GRAFT_CPUS``, default ``nproc``), runs one cold operation and then
warm operations back to back for S seconds, checks every operation's
outputs, and prints one JSON object as the last line of stdout.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs every warm
operation twice, untraced and traced (alternating which goes first), and
reports per-layer metrics from the spans (see ``spans.py``) plus the
tracing overhead.  ``--self-test``
corrupts the first warm operation's output and exits 0 only if the checks
counted it as a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
DRIVER_MEM = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# process tree and memory (read from /proc; psutil is not available)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of per-process peak resident set size (VmHWM) over this process,
    the JVM and the Python workers."""
    total_kb, parts = 0, []
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        total_kb += kb
        parts.append(f"{fields['Name'].strip()}:{kb // 1024}")
    log(f"peak RSS by process (MB): {' '.join(parts)}")
    return total_kb / 1024.0


def jvm_stats(spark) -> tuple[int, int, int, float, float]:
    """The JVM's GC count, GC time (ms) and JIT compile time (ms) so far,
    the CPU seconds of this process tree and the CPU seconds stolen from
    this machine by its host (from /proc)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = list(mf.getGarbageCollectorMXBeans())
    tick = os.sysconf("SC_CLK_TCK")
    cpu = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                cpu += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
        except OSError:
            pass
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return (sum(g.getCollectionCount() for g in gcs),
            sum(g.getCollectionTime() for g in gcs),
            mf.getCompilationMXBean().getTotalCompilationTime(),
            cpu / tick, steal / tick)


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for every process
    this run started."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    return p.parse_args(argv)


def run(args, work: str) -> dict:
    import workloads

    cls = workloads.WORKLOADS[args.workload]
    t = time.perf_counter()
    wl = cls(work, args.seed)
    log(f"inputs generated in {time.perf_counter() - t:.1f}s")

    from rust_cdc_validator_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's temp files and perf data inside the work dir; a
        # fixed, pre-touched heap (-Xms = -Xmx, see main) so that neither
        # the JVM's resident size nor its GC count follows G1's heap sizing
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    # set-up: the session once (the JVM launches once per process), then the
    # workload's own set-up SETUP_REPS times; setup_s = session + median rep
    t = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=extra)
    session_s = time.perf_counter() - t
    try:
        return measure(args, wl, spark, session_s)
    finally:
        stop_spark(spark)


def measure(args, wl, spark, session_s: float) -> dict:
    reps = []
    for r in range(SETUP_REPS):
        t = time.perf_counter()
        wl.setup(spark, r)
        reps.append(time.perf_counter() - t)
    setup_s = session_s + statistics.median(reps)
    log(f"session {session_s:.2f}s, set-up reps {[round(x, 2) for x in reps]}")

    attempted = failed = 0

    def attempt(i, call, corrupt=False) -> float:
        """Time one operation, then check its outputs outside the timing;
        an operation that raised or produced a wrong output is failed."""
        nonlocal attempted, failed
        t = time.perf_counter()
        try:
            result, err = call(i), None
        except Exception as e:  # counted as failed; the run goes on
            log(traceback.format_exc())
            result, err = None, f"raised {e!r}"
        dt = time.perf_counter() - t
        if err is None:
            restore = wl.corrupt(i, result) if corrupt else None
            err = wl.check(i, result)
            if restore:
                restore()
        attempted += 1
        if err:
            failed += 1
            log(f"op {i} FAILED: {err}")
        return dt

    j0 = jvm_stats(spark)
    cold_s = attempt(0, wl.op)
    j1 = jvm_stats(spark)
    log(f"cold op {cold_s:.2f}s; JVM during it: "
        f"{j1[0] - j0[0]} GCs, {j1[1] - j0[1]} ms GC, {j1[2] - j0[2]} ms JIT, "
        f"{j1[3] - j0[3]:.1f} CPU s, {j1[4] - j0[4]:.1f} s stolen")

    tracer = layer_runs = None
    if args.trace:
        from spans import Tracer

        tracer, layer_runs = Tracer(spark), []
    warm, traced, rows = [], [], 0
    # a traced run makes at least two untraced/traced pairs, one in each order
    min_ops = max(wl.min_ops, 3) if tracer else wl.min_ops
    i = 1
    start = time.perf_counter()
    while (time.perf_counter() - start < args.seconds or i < min_ops) and i < wl.max_ops:
        # with tracing, every operation runs twice, untraced and traced, in
        # alternating order so neither side always finds the caches warm
        steps = ([False, True] if i % 2 else [True, False]) if tracer else [False]
        for traced_step in steps:
            if traced_step:
                layer: dict = {}
                tracer.op = i
                dt = attempt(i, lambda i: wl.traced_op(i, tracer, layer))
                tracer.collect_counters()
                traced.append(dt)
                layer_runs.append((i, layer))
            else:
                dt = attempt(i, wl.op, corrupt=args.self_test and i == 1)
                warm.append(dt)
                rows += wl.unit_rows(i)
            log(f"op {i}{' traced' if traced_step else ''} {dt:.2f}s")
        i += 1

    out = {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            "setup_s": (setup_s, "s"),
            "cold_op_s": (cold_s, "s"),
            "op_p50_s": (statistics.median(warm), "s"),
            "rows_per_s": (rows / sum(warm), "rows/s"),
            "peak_rss_mb": (peak_rss_mb(), "MB"),
        },
    }
    if tracer is not None:
        import layers

        out["per_layer"] = layers.per_layer(
            wl, tracer, layer_runs, session_s, warm, traced)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import rust_cdc_validator_spark.__main__  # noqa: F401
        import workloads
    except ImportError as e:
        log(f"the program is not importable from {root}: {e}")
        return 2
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)}")
        return 2

    # everything the run writes stays under the checkout, and the JVM (which
    # inherits stdout) writes to stderr so the result stays the last line
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # a fixed heap (-Xmx here, -Xms in run): with a heap that grows, the
    # JVM's resident size followed G1's heap sizing and peak_rss_mb spread
    # 20-30% between runs
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    result_fd = os.dup(1)
    os.dup2(2, 1)
    os.chdir(work)
    try:
        out = run(args, work)
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    sys.stdout.flush()
    if args.self_test:
        ok = out["failed"] == 1 and out["attempted"] >= 2
        log(f"self-test: attempted={out['attempted']} failed={out['failed']} "
            f"-> {'the corrupted output was caught' if ok else 'NOT caught'}")
        return 0 if ok else 1
    metrics = out["per_layer"] if args.trace else out["end_to_end"]
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with os.fdopen(result_fd, "w") as f:
        f.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
