#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the ago_sisdb_spark engine.

    python3 sisbench/run.py --workload tsdb --seed 1 --seconds 20 --trace 0

Run from the repository root.  One process, one client thread, Spark on
``local[nproc]``.  Inputs are generated from ``--seed``; set-up lands them
under a private temp root inside the checkout; the loop then sends one
request at a time, waiting for each reply, for the whole rounds of request
kinds that fill about ``--seconds`` (``window_rounds``).  After
the loop every answer is checked against a DuckDB or numpy twin over the
same inputs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` is a separate
run that wraps the package's public functions in spans and prints the
per-layer metrics.  The last line of standard output is one JSON object
(correct, attempted, failed, metrics).  Exit code 0 only when every answer
checked out; 2 when the package is missing; 3 when another Spark JVM is up.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tsdb", "corpus")
GROUP = "sisbench-op-"


def _clock_ticks() -> int:
    return os.sysconf("SC_CLK_TCK")


def since_process_start() -> float:
    """Seconds since this process was created (from /proc, so interpreter
    start-up and imports count toward set-up time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _clock_ticks()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_settings(tmp: str) -> dict[str, str]:
    """The pinned session shape.  Recorded in every run's output."""
    n = nproc()
    return {
        "master": f"local[{n}]",
        "spark.sql.shuffle.partitions": str(n),
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # heap committed but not touched, young generation fixed: G1's
        # adaptive young sizing swung peak RSS by a quarter between seeds
        "spark.driver.extraJavaOptions":
            "-Xms2g -Xmn512m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


# -- processes -----------------------------------------------------------
def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    return out


def descendants(pid: int) -> set[int]:
    parents = _ppid_map()
    found, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parents.items() if p in frontier} - found
        found |= frontier
    return found


def spark_jvms(exclude: set[int]) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in exclude:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            pids.append(int(d))
    return pids


def preflight(wait_s: float = 30.0) -> dict:
    """Record the host's state and refuse to time beside another Spark JVM
    (a contended run is not a measurement).  A JVM still exiting from a
    previous run gets ``wait_s`` to go."""
    deadline = time.monotonic() + wait_s
    others = spark_jvms({os.getpid()})
    while others and time.monotonic() < deadline:
        time.sleep(0.5)
        others = spark_jvms({os.getpid()})
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"nproc": nproc(), "loadavg": load, "other_spark_jvms": others}


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if os.path.exists(f"/proc/{p}")
                 and not _zombie(p)}
        if alive:
            time.sleep(0.1)
    return alive


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_spark(spark) -> None:
    """Stop the context, close the gateway JVM and wait for it and every
    process it started (Python workers) to end."""
    proc = spark.sparkContext._gateway.proc
    children = descendants(os.getpid())
    spark.stop()
    try:
        spark.sparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001 — the gateway may already be down
        pass
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
        proc.kill()
        proc.wait(timeout=10)
    for pid in wait_gone(children, 15):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    wait_gone(children, 5)


# -- statistics ----------------------------------------------------------
def tail_percentile(lat_ms: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples beyond it
    (the median when fewer than twenty samples exist)."""
    xs = sorted(lat_ms)
    n = len(xs)
    best = max((p for p in range(51, 100) if n - -(-p * n // 100) >= 10),
               default=None)
    if best is None:
        return statistics.median(xs), 50
    return xs[-(-best * n // 100) - 1], best


# -- the loop ----------------------------------------------------------------
def window_rounds(seconds: float, round_s: float | None) -> int:
    """Whole rounds to time: the count whose warm-up duration comes closest
    to ``seconds``, at least two; one for a workload timed cold (no warm-up
    round to go by).  Fixing the count before timing keeps the stopping
    rule from selecting on the timed ops themselves: a rule that stops
    once ``seconds`` have passed keeps a slow first round alone and adds a
    faster second round to a fast one, which split one workload's medians
    over ten seeds into two clusters, 1.05-1.18 s and 1.50-1.97 s."""
    if round_s is None:
        return 1
    return max(2, round(seconds / round_s))


def timed_loop(spark, ops, n_ops: int, tracer=None) -> dict:
    """Closed loop: one client, next request only after the reply, for
    ``n_ops`` requests."""
    sc = spark.sparkContext
    records = []
    t_start = time.perf_counter()
    for i, (kind, fn, params) in enumerate(itertools.islice(ops, n_ops)):
        sc.setJobGroup(f"{GROUP}{i}", kind)
        if tracer is not None:
            tracer.op = i
            root = tracer.open("op")
        a = time.perf_counter()
        err = None
        try:
            resp = fn()
        except Exception:  # noqa: BLE001 — a failed request is counted
            resp, err = None, traceback.format_exc(limit=4)
        b = time.perf_counter()
        if tracer is not None:
            tracer.close(root)
            tracer.op = -1
        records.append({"i": i, "kind": kind, "ms": (b - a) * 1e3,
                        "t0": a, "t1": b, "resp": resp, "error": err,
                        "params": params})
    sc.setJobGroup("sisbench-after", "after")
    return {"records": records, "wall_s": time.perf_counter() - t_start}


def run(args) -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    if not os.path.isdir(os.path.join(ROOT, "ago_sisdb_spark")):
        print(f"error: no ago_sisdb_spark package beside {HERE}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".sisbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    for d in ("py-tmp", "jvm-tmp", "spark-local"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    sys.path.insert(0, ROOT)

    host = preflight()
    if host["other_spark_jvms"]:
        print(f"error: refusing to time beside Spark JVM(s) "
              f"{host['other_spark_jvms']}", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        return 3

    from ago_sisdb_spark.session import get_spark

    import spans
    import workloads

    conf = session_settings(tmp)
    spark = get_spark(
        app_name=f"sisbench-{args.workload}",
        master=conf["master"],
        shuffle_partitions=int(conf["spark.sql.shuffle.partitions"]),
        extra_conf={k: v for k, v in conf.items()
                    if k not in ("master", "spark.sql.shuffle.partitions",
                                 "spark.driver.memory")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._gateway.proc.pid
    session_s = since_process_start()
    try:
        w = workloads.make(args.workload, spark, tmp, args.seed, args.scale)
        w.setup()
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            tracer.install()
            w.tracer = tracer
            gc_start = spans.jvm_gc_ms(spark.sparkContext)
        wrapped = spans.count_wrapped()
        setup_s = since_process_start()
        rounds = window_rounds(args.seconds, w.round_s)
        loop = timed_loop(spark, w.ops(), rounds * w.cycle, tracer)
        if tracer is not None:
            tracer.uninstall()
            gc_ms = spans.jvm_gc_ms(spark.sparkContext) - gc_start
        rss_parts = (vm_hwm_mb(os.getpid()), vm_hwm_mb(jvm_pid))
        rss = sum(rss_parts)
        failures = w.check(loop["records"])
        layer = None
        if tracer is not None:
            import layers

            layer = layers.per_layer(spark, tracer, loop, w, gc_ms)
        stored = w.stored_ratio()
        rows = w.rows_consumed(loop["records"])
    finally:
        stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    recs = loop["records"]
    errors = [r for r in recs if r["error"]]
    failed = len({r["i"] for r in errors} | {i for i, _ in failures})
    lat = [r["ms"] for r in recs]
    tail, pct = tail_percentile(lat)
    wall = loop["wall_s"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(recs) / wall, "ops/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "stored_bytes_per_input_byte": (stored, "ratio"),
        "peak_rss_mb": (rss, "MB"),
    }
    # Printed, not gated: a window of a few dozen ops at most has no tail
    # beyond the median, and rows_per_s is ops_per_s times a fixed batch or
    # corpus size.
    printed = dict(e2e, latency_tail_ms=(tail, "ms"),
                   rows_per_s=(rows / wall, "rows/s"))
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} scale {args.scale}")
    print(f"host nproc={host['nproc']} loadavg={' '.join(host['loadavg'])} "
          f"other_spark_jvms={host['other_spark_jvms'] or 'none'}")
    print("session " + json.dumps({k: v.replace(tmp, "<run temp>")
                                   for k, v in conf.items()}))
    print(f"setup_phases session {session_s:.2f} s, landing and indexes "
          f"{setup_s - session_s - w.warmup_s:.2f} s, warm-up {w.warmup_s:.2f} s")
    print(f"peak_rss_parts python {rss_parts[0]:.0f} MB, jvm {rss_parts[1]:.0f} MB")
    print(f"window {rounds} round(s) of {w.cycle} ops, {wall:.2f} s")
    print(f"wrappers_during_run {wrapped}")
    print("op_latencies_ms " + " ".join(f"{r['kind']}:{r['ms']:.0f}" for r in recs))
    for name, (v, unit) in printed.items():
        extra = f"  (p{pct} of {len(lat)} ops)" if name == "latency_tail_ms" else ""
        print(f"  {name:<30} {v:>14.4f} {unit}{extra}")
    print(f"  {'failed_ratio':<30} {failed / max(1, len(recs)):>14.4f} fraction"
          f"  ({failed} of {len(recs)} ops)")
    for kind, rec in getattr(w, "recall", {}).items():
        print(f"  {kind + ' recall@10':<30} {rec:>14.4f} fraction")
    for r in errors[:3]:
        print(f"error op {r['i']} {r['kind']}:\n{r['error']}", file=sys.stderr)
    for i, why in failures[:10]:
        print(f"wrong answer op {i}: {why}", file=sys.stderr)
    if layer is not None:
        for name, (v, unit) in layer.items():
            print(f"  {name:<30} {v:>14.4f} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": len(recs),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "small"), default="full",
                   help="small: self-test sizes (sf0.001-like tables)")
    return p.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse()))
