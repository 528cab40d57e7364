#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload {backfill,tail} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. Inputs are made from ``--seed``; the
timed loop runs for at least ``--seconds``; the outputs are checked
against independent oracles outside the timed region. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it holds the run context. Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at the end.

See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

STARTED = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver heap, pinned below physical RAM (the engine's default is 16g)
HEAP = "3g"
#: a run that has not finished by then is stopped (the limit is 180 s)
DEADLINE_S = 170


def nproc() -> int:
    return len(os.sched_getaffinity(0))


#: one streaming-copy probe: ten copies of a 64 MB array, bytes/s out
_COPY_PROBE = """
import time, numpy as np
a = np.ones(8_000_000, dtype=np.int64); b = np.empty_like(a)
t0 = time.perf_counter()
for _ in range(10):
    np.copyto(b, a)
print(10 * a.nbytes / (time.perf_counter() - t0))
"""


def memcpy_gbps(procs: int) -> float:
    """Aggregate streaming-copy bandwidth of ``procs`` processes, 64 MB
    arrays each: the machine-health gate bench.py records, taken at the
    benchmark's own parallelism. Every probe process is waited for."""
    ps = [subprocess.Popen([sys.executable, "-c", _COPY_PROBE],
                           stdout=subprocess.PIPE, text=True)
          for _ in range(procs)]
    rates = []
    try:
        for p in ps:
            out, _ = p.communicate(timeout=60)
            rates.append(float(out))
    finally:
        for p in ps:
            if p.poll() is None:
                p.kill()
            p.wait()
    return round(sum(rates) / 1e9, 2)


def commit_id() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_pids(root_pid: int) -> list[int]:
    """The JVM and every process below the gateway launcher."""
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return [p for p in out if _comm(p) == "java"]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def setup_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside ``work``, pin the
    driver heap and the core count, and enable the event log for traced
    runs only."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # initial heap = max heap, touched at start: a growing heap
        # would make the JVM's resident size follow GC timing
        "spark.driver.extraJavaOptions":
            f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work,
                                                             "eventlog")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so the
    Python workers the JVM forks come back to it when the JVM exits."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the fields after "(comm)": state, ppid, ...
        if stat.rsplit(")", 1)[1].split()[1] == me:
            out.append(int(d))
    return out


def stop_children(grace_s: float = 10.0) -> None:
    """Terminate every process still below this one and wait for each to
    end: SIGTERM first, SIGKILL after ``grace_s``."""
    import signal

    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def stop_jvm(proc) -> None:
    """End the gateway JVM and wait for it: it exits when its stdin
    closes."""
    if proc is None:
        return
    if proc.stdin is not None and not proc.stdin.closed:
        proc.stdin.close()
    try:
        proc.wait(30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(30)


def _watchdog(gateway_proc) -> None:
    """Stop the run (JVM and every other child first) if it overruns its
    time limit."""
    left = DEADLINE_S - (time.monotonic() - STARTED)
    time.sleep(max(0.0, left))
    print(f"benchmark exceeded {DEADLINE_S}s; stopping", file=sys.stderr,
          flush=True)
    if gateway_proc is not None:
        gateway_proc.kill()
    stop_children(grace_s=2.0)
    os._exit(3)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, one operation: for the self-test")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    # fail before any work when the engine is not there
    import tap_github_search_spark.streaming.job  # noqa: F401

    import metrics
    import workloads

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    become_subreaper()
    spark = proc = None
    try:
        gate_before = memcpy_gbps(nproc())
        setup_env(work, bool(args.trace))
        from pyspark import SparkContext

        from tap_github_search_spark.session import get_spark

        t = time.monotonic()
        spark = get_spark(cores=nproc())
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t
        proc = getattr(SparkContext._gateway, "proc", None)
        threading.Thread(target=_watchdog, args=(proc,), daemon=True).start()

        tracer = None
        if args.trace:
            from spans import Tracer, install_engine_spans

            tracer = Tracer()
        run = workloads.Run(
            spark=spark, root=ROOT, work=work, seed=args.seed,
            seconds=args.seconds,
            sizes=workloads.SMOKE if args.smoke else workloads.Sizes(),
            tracer=tracer, setup_s=session_s)
        if tracer is not None:
            install_engine_spans(tracer)
        workloads.WORKLOADS[args.workload](run)

        jvm = jvm_pids(proc.pid) if proc is not None else []
        rss = sum(vm_hwm_mb(p) for p in jvm) + vm_hwm_mb(os.getpid())
        spark.stop()
        spark = None
        stop_jvm(proc)
        gate_after = memcpy_gbps(nproc())

        if args.trace:
            values = metrics.per_layer(run, os.path.join(work, "eventlog"))
        else:
            values = metrics.end_to_end(run, rss)
        context = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "smoke": args.smoke, "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "driver_heap": HEAP, "commit": commit_id(),
            f"memcpy_gbps_{nproc()}p_before": gate_before,
            f"memcpy_gbps_{nproc()}p_after": gate_after,
            "checks": run.checks, "samples": {
                k: [round(x, 4) for x in v] if len(v) <= 8 else len(v)
                for k, v in run.samples.items()},
            "landing_keys": run.extra.get("landing_keys"),
            "landing_keys_won": run.extra.get("landing_keys_won"),
            "phases_s": run.extra.get("phases_s"),
            "session_s": round(session_s, 2),
            "wall_s": round(time.monotonic() - STARTED, 2),
        }
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": run.failed == 0 and all(run.checks.values()),
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics.render(
                values, "per_layer" if args.trace else "end_to_end"),
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm(proc)
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
