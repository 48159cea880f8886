"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--tiny]

Run from the repository root. Generates the workload's inputs from the
seed, starts the program's Spark session on ``local[nproc]``, sets up
several times (``setup_s`` is the median), measures for ``--seconds``,
checks every output, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` runs
with spans and the Spark event log and reports the per-layer metrics.

Everything the run writes stays under ``perfbench/_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: set-up repetitions per run; the first also boots the JVM
SETUP_CYCLES = 3

#: driver heap, fixed whatever the caller's environment says (the
#: program defaults to 8g, more than a small machine should reserve for
#: one benchmark process); -Xms pins it so peak memory does not hinge on
#: when the JVM decides to grow the heap
DRIVER_HEAP = "2g"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isfile(
        os.path.join(ROOT, "mini_data_platform_spark", "__init__.py")
    )


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and Python workers), sampled every 100 ms. Each process counts
    its proportional share of pages it shares (PSS), so forked Python
    workers do not count their parent's pages again."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def tree() -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += [c for c, pp in parent.items() if pp == p]
        return out

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii", errors="replace") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.peak_kb = max(self.peak_kb, sum(self.rss_kb(p) for p in self.tree()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


def pin_environment(work: str, cores: int) -> dict:
    """Every temp, spill and log directory under the run's work dir, the
    core count pinned to this machine's, a fixed driver heap."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (the launcher too): no perf-data file in the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
        ),
    }


def stamp(seed: int, cores: int) -> dict:
    import duckdb
    import pyspark

    java = [
        ln for ln in subprocess.run(
            ["java", "-version"], capture_output=True, text=True, check=False
        ).stderr.splitlines()
        if " version " in ln
    ]
    return {
        "seed": seed,
        "nproc": cores,
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "duckdb": duckdb.__version__,
    }


def start_session(old, conf: dict):
    from mini_data_platform_spark.session import get_spark

    if old is not None:
        old.stop()
    return get_spark("perfbench", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process has
    exited."""
    from pyspark import SparkContext

    kids = [p for p in RssSampler.tree() if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.time() > deadline - 10:
            for p in alive:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (the benchmark's tests)")
    args = ap.parse_args(argv)
    if not program_present():
        print("perfbench: the program (mini_data_platform_spark, __spark_entry__.py) "
              f"is not in {ROOT}", file=sys.stderr)
        return 2

    from perfbench import metrics
    from perfbench.trace import read_event_log
    from perfbench.workloads import WORKLOADS, Ctx, sizes

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, "perfbench", "_work", wl.name)
    shutil.rmtree(work, ignore_errors=True)  # also drops stale mdp_* caches
    cores = len(os.sched_getaffinity(0))
    conf = pin_environment(work, cores)
    evdir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = stamp(args.seed, cores)

    ctx = Ctx(root=ROOT, work=work, seed=args.seed, sizes=sizes(args.tiny))
    t0 = time.perf_counter()
    wl.generate(ctx)
    env["generate_s"] = time.perf_counter() - t0

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        cycle_times, start_times = [], []
        for _ in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            spark = ctx.spark = start_session(spark, conf)
            start_times.append(time.perf_counter() - t0)
            wl.setup(ctx)
            cycle_times.append(time.perf_counter() - t0)
        # until every request kind has returned its first result
        t0 = time.perf_counter()
        warm = wl.measure(ctx, 0, False)
        first_pass = time.perf_counter() - t0
        # a fixed number of cycles, not seconds, so the measured window
        # starts at the same point of the JIT warm-up however fast the
        # machine runs
        for _ in range(wl.warm_cycles):
            warm += wl.measure(ctx, 0, False)
        tracer = ctx.tracer
        if trace:
            tracer.sc = spark.sparkContext
            wl.trace_install(ctx)
        w0 = time.time()
        try:
            reqs = wl.measure(ctx, args.seconds, trace)
        finally:
            tracer.unwrap_all()
        w1 = time.time()
        wl.finish(ctx, warm + reqs)
        final = wl.final_state(ctx) if trace else {}
    finally:
        peak_mb = rss.stop()
        shutdown(spark)

    attempted = len(warm) + len(reqs)
    failed = sum(not r.ok for r in warm + reqs)
    setup_s = statistics.median(cycle_times) + first_pass
    if trace:
        tracer.dump(os.path.join(work, "spans.jsonl"))
        ev = read_event_log(evdir)
        values = metrics.per_layer(
            reqs, tracer.spans, ev, (w0, w1), cores, start_times, final,
            failed / attempted,
        )
        units = {k: v[0] for k, v in metrics.PER_LAYER.items()}
    else:
        values = metrics.end_to_end(reqs, setup_s, peak_mb, wl.clients > 1)
        units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    env.update({
        "workload": wl.name, "trace": args.trace, "seconds": args.seconds,
        "requests": len(reqs), "setup_cycles": cycle_times, "first_pass_s": first_pass,
        "warm_latencies": [round(r.lat, 4) for r in warm],
        "measure_wall_s": w1 - w0, "request_s": sum(r.lat for r in reqs),
        "latencies": [[r.kind, round(r.lat, 4)] for r in sorted(reqs, key=lambda r: r.start)],
        "loadavg_end": os.getloadavg(), "problems": ctx.problems[:20],
    })
    print(json.dumps({"perfbench_run": env}))
    for sub in ("inputs", "lake", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not ctx.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
