#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload store_lifecycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts one Spark session on ``local[$SPARK_GRAFT_CPUS]`` (default:
every CPU the process may use), sets the workload up, then repeats the
workload's pass until ``--seconds`` have passed, and checks the outputs.
All of its files live in a fresh directory under ``.perfbench_runs/``
that is deleted when the run ends; directories left by killed runs are
deleted by the next run. Before it exits, on every path out of it, the
run stops the Spark JVM and every other process it started, and waits
until each has ended.

stdout carries one line per metric, a ``record:`` line with the run's
context, and as its last line the JSON result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_ms": "ms",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def sweep_orphans() -> None:
    """Delete run directories whose process is gone (a killed run)."""
    if not os.path.isdir(RUNS):
        return
    for name in os.listdir(RUNS):
        pid = name.split("-", 1)[0]
        try:
            os.kill(int(pid), 0)
            continue  # that run is still going
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(RUNS, name), ignore_errors=True)


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` in the process tree, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found: set[int] = set()
    todo = [pid]
    while todo:
        for child in children.get(todo.pop(), ()):
            if child not in found:
                found.add(child)
                todo.append(child)
    return found


def adopt_orphans() -> None:
    """Become the parent of every descendant whose own parent exits before
    it, so that ``stop_children`` can wait for it (Linux only)."""
    try:
        import ctypes

        PR_SET_CHILD_SUBREAPER = 36
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs. A child of this process has ended once
    it is reaped here; any other process once each of its threads has
    exited (a JVM whose main thread is a zombie still runs the others)."""
    try:
        return os.waitpid(pid, os.WNOHANG)[0] == 0
    except ChildProcessError:
        pass  # not a child of this process
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return False
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X"):
                    return True
        except (OSError, IndexError):
            pass
    return False


def stop_children(grace: float = 20.0) -> None:
    """Stop every process this run started and wait until each has ended.

    The Spark JVM exits by itself once its stdin closes; whatever is still
    running after ``grace`` seconds gets SIGTERM, and after ten more
    seconds SIGKILL. Processes left without a parent are still waited for,
    and after ``adopt_orphans`` they are reaped here.
    """
    context = sys.modules.get("pyspark.core.context")
    gateway = getattr(getattr(context, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    pids = descendants(os.getpid())
    for sig, wait_s in ((None, grace), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.perf_counter() + wait_s
        while True:
            pids = {p for p in pids | descendants(os.getpid()) if _alive(p)}
            if not pids or time.perf_counter() > deadline:
                break
            time.sleep(0.05)
        if not pids:
            break
    # reap the zombies of orphans that became children of this process
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                break
        except ChildProcessError:
            break


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def git_commit() -> str:
    """HEAD of the checkout, or ``unknown`` outside a git work tree."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "aqi_featurestore_spark")):
        print(f"no aqi_featurestore_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sweep_orphans()
    run_dir = os.path.join(RUNS, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    # a SIGTERM (a timeout) unwinds like an error, so the cleanup below runs
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    adopt_orphans()
    try:
        return run(args, WORKLOADS[args.workload](args.seed), run_dir)
    finally:
        stop_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, wl, run_dir: str) -> int:
    import tempfile

    from perfbench import datagen, layers
    from perfbench.trace import Tracer, event_log_files, read_event_log
    from perfbench.workloads import Client

    dirs = {k: os.path.join(run_dir, k) for k in ("data", "store", "tmp", "local", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    # Python workers import the package; session temp stores land in tmp.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["TZ"] = "UTC"
    time.tzset()
    tempfile.tempdir = None
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    rows = datagen.write_inputs(dirs["data"], args.seed, wl.sizes)
    phases = {"inputs": time.perf_counter() - T_PROCESS}

    # setup_s: from here to the first timed op, checks excluded.
    t0 = time.perf_counter()
    from aqi_featurestore_spark.session import get_spark

    import_s = time.perf_counter() - t0
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
    }
    if args.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{dirs['events']}",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    session = {"start_s": import_s + time.perf_counter() - t0}
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        client = Client(spark, tracer, dirs["data"], dirs["store"])
        t0 = time.perf_counter()
        setup = wl.setup(client, args.seconds)
        checks_s = time.perf_counter() - t0 - setup["cold_pass_s"]
        # JVM warm-up: one untraced pass after the cold pass, so the
        # measured passes start with the JIT settled. Its latencies are
        # dropped; its checks still count.
        session["warm_s"] = 0.0
        if wl.warm_pass:
            tracer.enabled = False
            cold_kinds = set(client.lat)
            session["warm_s"], _cpu = wl.run_pass(client)
            for kind in set(client.lat) - cold_kinds:
                del client.lat[kind], client.cpu[kind]
        setup_s = session["start_s"] + setup["cold_pass_s"] + session["warm_s"]
        print(
            f"setup: session start {session['start_s']:.3f} s, cold pass "
            f"{setup['cold_pass_s']:.3f} s, JVM warm-up pass {session['warm_s']:.3f} s, "
            f"setup checks {checks_s:.3f} s",
            flush=True,
        )

        phases["setup"] = time.perf_counter() - T_PROCESS - phases["inputs"]
        t_measure = time.perf_counter()
        #: (traced, wall seconds, CPU seconds) per measured pass
        passes: list[tuple[bool, float, float]] = []
        pass_spans = []
        # a traced run times its passes in the order traced, untraced,
        # untraced, traced, so warm-up drift cancels out of
        # trace.overhead_pct
        min_passes = 4 if args.trace else 1
        deadline = time.perf_counter() + args.seconds
        # a pass that would end past the deadline, by the median pass so
        # far, is not started: the measured time stays within --seconds
        while len(passes) < min_passes or wl.more(
            [w for _t, w, _c in passes], deadline - time.perf_counter()
        ):
            tracer.enabled = bool(args.trace) and len(passes) % 4 in (0, 3)
            with tracer.span("pass", "pass") as s:
                wall, cpu = wl.run_pass(client)
            passes.append((tracer.enabled, wall, cpu))
            if s is not None:
                pass_spans.append(s)
        tracer.enabled = bool(args.trace)
        phases["measure"] = time.perf_counter() - t_measure
        # ambient ratio of this machine: one call of the body of bench.py's
        # frozen calibration probe (bench.py takes the best of three)
        from bench import CALIBRATION_REF_SEC, _calibration_once

        probe = _calibration_once(spark)
        t0 = time.perf_counter()
        shape = wl.verify(client)
        phases["verify"] = time.perf_counter() - t0
        rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    finally:
        t0 = time.perf_counter()
        spark.stop()
        phases["stop"] = time.perf_counter() - t0

    walls = [w for _t, w, _c in passes]
    cpus = [c for _t, _w, c in passes]
    result = layers.end_to_end(client, wl, setup_s, walls, cpus, rss)
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": "generated",
        "input_rows": rows,
        "SPARK_GRAFT_CPUS": cores,
        "nproc": os.cpu_count(),
        "git_commit": git_commit(),
        "ambient_ratio": round(probe / CALIBRATION_REF_SEC, 3),
        "calibration_once_s": probe,
        "passes": len(passes),
        "pass_walls_s": [round(w, 3) for w in walls],
        "pass_cpu_s": [round(c, 2) for c in cpus],
        "ops": {k: len(v) for k, v in client.lat.items()},
        "checks_run": client.checks_run,
        "failures": client.failures[:10],
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "setup": {**{f"session.{k}": v for k, v in session.items()}, **setup},
    }
    if args.trace:
        tracer.attach(read_event_log(event_log_files(dirs["events"])))
        metrics = layers.per_layer(
            tracer, wl, session, setup, shape, passes, pass_spans, int(cores), result
        )
        units = layers.PER_LAYER
    else:
        metrics = {k: result[k] for k in END_TO_END}
        units = END_TO_END
        for k, u in layers.WALL.items():
            print(f"{k} = {result[k]:.6g} {u}")
    for k, v in layers.extra_lines(client, shape).items():
        print(f"{k} = {v}")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print("record: " + json.dumps(record, default=str))
    # every op and every output check is one attempt
    failed = len(client.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": client.attempted + client.checks_run,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
