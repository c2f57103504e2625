"""Closed-loop benchmark of the CDC engine.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  One more JSON line on stderr, prefixed ``perfbench-side``,
carries the host stamp, the raw samples and the layer metrics that only
one workload can measure.  Everything the run writes lives under
``perfbench/.work/`` and is removed before it exits, after Spark's driver JVM
and every other process under the run have ended.  See DESIGN.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "3g"
# fixed heap and young-generation sizes (G1 resizes neither by pause
# times), so the peak RSS of a fixed amount of work repeats from run to run
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn768m"


def host_sample() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {"loadavg": os.getloadavg(), "iowait_ticks": cpu[4], "steal_ticks": cpu[7], "total_ticks": sum(cpu)}


def session_factory(work: str, trace: bool):
    from horizon_etl_spark.session import build_session

    def build(master: str = MASTER):
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"{JVM_OPTIONS} -Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(trace and master == MASTER).lower(),
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        }
        spark = build_session("perfbench", master=master, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        return spark

    return build


def peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process started under it, so
    processes whose parent ended (Python workers forked by the JVM) are
    re-parented here and can be waited for, not to init."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Pids of every live process under this one, read from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # the command name may hold spaces; the fields after it do not
            state, ppid = stat.rsplit(")", 1)[1].split()[:2]
            if state != "Z":
                parent[int(d)] = int(ppid)
    me, out = os.getpid(), []
    for pid in parent:
        p = pid
        while p in parent and p != me:
            p = parent[p]
        if p == me and pid != me:
            out.append(pid)
    return out


def reap() -> None:
    """Wait for every ended child, without blocking."""
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                return
        except ChildProcessError:
            return


def stop_processes(timeout_s: float = 60.0) -> None:
    """Stop Spark's driver JVM and wait until it has ended (closing its stdin
    makes PySpark's gateway server exit), then kill and wait for anything
    else still running under this process."""
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        if sc_cls._active_spark_context is not None:
            try:
                sc_cls._active_spark_context.stop()
            except Exception:  # the JVM is stopped below either way
                pass
        proc = getattr(sc_cls._gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout_s)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while True:
        reap()
        left = descendants()
        if not left:
            return
        for pid in left:
            try:
                os.kill(pid, signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["bulk_replay", "trickle_attr"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import horizon_etl_spark  # noqa: F401  (the engine under test, from this checkout)
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    adopt_orphans()
    signal.signal(signal.SIGTERM, on_sigterm)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    for d in ("jvm-tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "jvm-tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -XX:-UsePerfData".strip()
    try:
        result, side = run_workload(args, work)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("perfbench-side " + json.dumps(side, default=str), file=sys.stderr)
    print(json.dumps(result))
    return 0


def run_workload(args, work: str):
    import workloads

    host0 = host_sample()
    build = session_factory(work, bool(args.trace))
    t0 = time.perf_counter()
    spark = build()
    session_s = time.perf_counter() - t0
    run = workloads.Run(spark, session_s, build, work, args.seed, args.seconds, bool(args.trace))
    try:
        out = workloads.WORKLOADS[args.workload](run)
    finally:
        if run.tracer is not None:
            run.tracer.close()
    spark = run.spark
    jvm = spark.sparkContext._jvm
    side = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "jvm_args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "config": out["config"],
        "samples": {
            "session_s": run.session_s,
            "build_s": run.build_s,
            "batch_s": run.batch_s,
            "batch_events": run.batch_events,
            "read_keys_s": run.lookup_s,
            "scan_s": run.scan_s,
        },
        "phase_s": run.info["phase_s"],
        "failures": run.failures,
    }
    e2e = workloads.end_to_end(run, out, peak_rss_mb(spark))
    side["end_to_end"] = {k: v for k, (v, _) in e2e.items()}
    metrics = e2e
    if args.trace:
        import layers

        layers.probes(run, args.workload)
        side_only = {}
        if args.workload == "bulk_replay":
            side_only["spark.speedup_vs_1core"] = workloads.speedup_vs_1core(run)
        else:
            spark.stop()
        metrics, more = layers.metrics(run, args.workload, out, work)
        side["per_layer_side_only"] = {**side_only, **more}
    else:
        spark.stop()
    host1 = host_sample()
    ticks = max(1, host1["total_ticks"] - host0["total_ticks"])
    side["host"] = {
        "loadavg_before": host0["loadavg"],
        "loadavg_after": host1["loadavg"],
        "steal_share": (host1["steal_ticks"] - host0["steal_ticks"]) / ticks,
        "iowait_share": (host1["iowait_ticks"] - host0["iowait_ticks"]) / ticks,
    }
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, side


if __name__ == "__main__":
    sys.exit(main())
