"""kgforge benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload build --seed 1 --seconds 12 --trace 0

Run from the root of a kgforge checkout.  Workloads: build, serve
(see perfbench/README.md).  With --trace 0 the last stdout line carries the
end-to-end metrics; with --trace 1 it carries the per-layer metrics of a
traced run.  The lines before it report the input properties, the host and
the per-operation details.  Everything the run writes stays under
.perfbench_work/ in the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.getcwd()
sys.path.insert(0, ROOT)  # kgforge, from the checkout being measured
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SETUPS = 3  # set-ups per run; setup_s is their median
MIN_CYCLES = 2  # warm cycles per measured loop at least; ops_per_s is their median
# the workloads BENCHMARK.json names; the log workload's layers are measured
# by the layer sweep of every traced run (traced.py)
BENCH_WORKLOADS = ("build", "serve")

END_TO_END = {
    "setup_s": "s",
    "cold_run_s": "s",
    "rows_per_s": "rows/s",
    "read_s_p50": "s",
    "read_s_p90": "s",
    "merge_s_p50": "s",
    "ops_per_s": "ops/s",
    "out_bytes_per_in_byte": "ratio",
    "peak_rss_mb": "MB",
}


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def host_env(work: str) -> dict:
    """Host guard: local[nproc] and a Spark driver heap well below physical RAM
    (get_spark defaults to 20g); every scratch directory inside the
    checkout."""
    nproc = os.cpu_count() or 1
    mem_gb = _meminfo_kb("MemTotal") / (1 << 20)
    heap_gb = max(1, min(2, int(mem_gb / 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["KGFORGE_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the spark-submit launcher JVM: no hsperfdata file under /tmp either
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"nproc": nproc, "mem_gb": round(mem_gb, 1), "driver_mem": f"{heap_gb}g"}


def cpu_ticks() -> list:
    """The aggregate cpu line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def git_sha() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"  # an exported checkout
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def _children(pid: int) -> list:
    """Child processes of every thread of ``pid`` (the JVM starts the
    Python worker daemon from a thread other than its main one)."""
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass  # the thread exited
    return out


def peak_rss_by_proc() -> dict:
    """VmHWM in MB of this process and each of its descendants (Spark
    driver, JVM, Python workers), keyed by "name:pid"."""
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(_children(pid))
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
        except (OSError, KeyError):
            pass  # exited, or a kernel thread without VmHWM
    return out


class Sessions:
    """Builds and stops kgforge Spark sessions for one run."""

    def __init__(self, work: str, nproc: int):
        self.work, self.nproc, self.spark = work, nproc, None

    def start(self, eventlog: bool = False):
        from kgforge.conf import get_spark

        tmp = os.path.join(self.work, "tmp")
        extra = {
            # no hsperfdata file under /tmp: a run writes only in its checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{os.environ['KGFORGE_DRIVER_MEM']} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.eventLog.enabled": "true" if eventlog else "false",
        }
        if eventlog:
            self.eventlog_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.eventlog_dir, exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark("perfbench", master=f"local[{self.nproc}]", extra=extra)
        self.spark.range(1).count()  # first action
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=120)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1])."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    x = q * (len(v) - 1)
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def measure_setup(sess: Sessions, wl) -> list:
    """N_SETUPS program set-ups: get_spark up to the first action, plus the
    workload's own set-up step; the last session stays open."""
    walls = []
    for i in range(N_SETUPS):
        if i:
            sess.stop()
        t0 = time.perf_counter()
        spark = sess.start()
        t1 = time.perf_counter()
        wl.setup_step(spark)
        walls.append((time.perf_counter() - t0, t1 - t0))
    return walls


def loop(
    spark, wl, seconds: float, tracer=None, first: int = 0, min_cycles: int = MIN_CYCLES
) -> list:
    """Closed loop, one client: whole cycles back to back, numbered from
    ``first``, stopping at the cycle boundary nearest to ``seconds`` of
    operation time, after at least ``min_cycles``.  Whole cycles keep the
    mix of operation kinds fixed, so ops_per_s does not depend on where the
    loop stopped.  With a tracer, each operation runs in an "op" span.
    Returns the operation records and the (operations, seconds) of each
    cycle."""
    from perfbench.workloads import maybe_span

    ops, cycles, spent, i, last = [], [], 0.0, first, 0.0
    while len(cycles) < min_cycles or spent + last / 2 < seconds:
        before, n = spent, len(ops)
        for thunk in wl.cycle(spark, i):
            t = time.perf_counter()
            try:
                with maybe_span(tracer, "op"):
                    rec = thunk()
            except Exception:  # a raising operation counts as failed
                traceback.print_exc()
                rec = {"kind": "error", "wall": time.perf_counter() - t, "ok": False, "rows": 0}
            ops.append(rec)
            spent += rec["wall"]
        last = spent - before
        cycles.append((len(ops) - n, last))
        i += 1
    return ops, cycles


def end_to_end(setups, cold, warm, cycles, wl, rss) -> dict:
    def walls(kind):
        return [r["wall"] for r in warm if r["kind"] == kind]

    feed = [r for r in warm if r["rows"] and r["kind"] == ("merge" if wl.name == "serve" else "run")]
    reads, merges = walls("read"), walls("merge")
    return {
        "setup_s": statistics.median(w for w, _ in setups),
        "cold_run_s": sum(r["wall"] for r in cold if r["kind"] != "init"),
        "rows_per_s": statistics.median(r["rows"] / r["wall"] for r in feed),
        "read_s_p50": pct(reads, 0.5),
        "read_s_p90": pct(reads, 0.9),
        "merge_s_p50": pct(merges, 0.5),
        "ops_per_s": statistics.median(n / wall for n, wall in cycles),
        "out_bytes_per_in_byte": wl.out_bytes_per_in_byte(),
        "peak_rss_mb": rss,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(BENCH_WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ticks0 = cpu_ticks()
    try:
        import kgforge  # noqa: F401  (the checkout under test)
    except ImportError as exc:
        print(f"perfbench: kgforge is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    phases, extra, sess = {}, {}, None
    try:
        host = host_env(work)
        wl = WORKLOADS[args.workload](args.seed, work, args.scale)
        sess = Sessions(work, host["nproc"])
        wl.prepare()
        if args.trace:
            from perfbench.traced import traced_run

            metrics, units, ops, extra = traced_run(sess, wl, args)
        else:
            t = [time.perf_counter()]
            setups = measure_setup(sess, wl)
            t.append(time.perf_counter())
            spark = sess.spark
            cold = wl.cold(spark)
            warmup = wl.warmup(spark)
            t.append(time.perf_counter())
            warm, cycles = loop(spark, wl, args.seconds, first=wl.WARMUP_CYCLES)
            t.append(time.perf_counter())
            checks = wl.final(spark)
            t.append(time.perf_counter())
            phases = dict(zip(["setup", "cold", "loop", "final"], [b - a for a, b in zip(t, t[1:])]))
            rss_by = peak_rss_by_proc()
            rss = sum(rss_by.values())
            metrics = end_to_end(setups, cold, warm, cycles, wl, rss)
            units = END_TO_END
            ops = cold + warmup + warm + checks
            extra = {
                "rss_mb_by_proc": {k: round(v, 1) for k, v in rss_by.items()},
                "warm_walls": {
                    k: [round(r["wall"], 4) for r in warm if r["kind"] == k]
                    for k in ("run", "read", "merge")
                },
            }
    finally:
        if sess is not None:
            sess.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    import pyspark

    dt = [b - a for a, b in zip(ticks0, cpu_ticks())]
    failed = sum(not r["ok"] for r in ops)
    info = {
        "phases_s": phases, "since_start_s": time.perf_counter() - T_START,
        # CPU time the hypervisor gave to other guests while this run
        # waited: a high share means timings are inflated by host load
        "host_steal_frac": dt[7] / max(1, sum(dt)),
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_sha": git_sha(), "spark": pyspark.__version__,
        "python": platform.python_version(), **host,
        "inputs": wl.props, "failed_frac": failed / len(ops),
        "ops": {k: sum(r["kind"] == k for r in ops) for k in ("run", "read", "merge", "check", "error")},
        "failed_ops": [r for r in ops if not r["ok"]][:5],
        **extra,
    }
    print("perfbench " + json.dumps(info, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
