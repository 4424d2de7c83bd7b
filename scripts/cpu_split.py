#!/usr/bin/env python
"""Split the CPU time of a query by process and by JVM thread.

    python scripts/cpu_split.py lang_id --sf path/to/sf0.001 --reps 5
    python scripts/cpu_split.py frame64 --reps 5 \\
        --conf spark.python.daemon.module=pyspark.daemon

Starts one session (``get_spark``, plus any
``--conf key=value``), then runs the target ``--reps`` times: it builds
the DataFrame and collects it. The target is a registry query name (it
reads ``--sf``) or ``frame64``, a 64-row ``createDataFrame(list)`` of
request keys. For each repetition it prints the wall time and the CPU
seconds spent by:

- ``driver``: this Python process;
- ``workers``: the Python worker daemon and its workers, including workers
  that exited during the repetition;
- ``task``: the JVM's ``Executor task`` threads;
- ``jit``: the JVM's C1/C2 compiler threads;
- ``gc``: the JVM's GC threads (``GC Thread#*``, ``G1 *``);
- ``jvm_other``: every other JVM thread, ended threads included.

The figures are differences of ``utime + stime`` read from
``/proc/<pid>/stat`` and ``/proc/<jvm>/task/*/stat`` (thread names are
cut to 15 characters there). The script only reads; it sets no counter
in the engine.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aqi_featurestore_spark.session import get_spark  # noqa: E402

TICK = os.sysconf("SC_CLK_TCK")
COLUMNS = ("driver", "workers", "task", "jit", "gc", "jvm_other")


def _stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of one ``stat`` file."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1 : s.rindex(")")], s[s.rindex(")") + 2 :].split()


def _cpu(fields: list[str], children: bool = False) -> float:
    # fields[11:15] are utime, stime, cutime, cstime (stat(5) fields 14-17)
    n = 4 if children else 2
    return sum(int(x) for x in fields[11 : 11 + n]) / TICK


def _processes() -> dict[int, tuple[int, str, list[str]]]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                name, fields = _stat(f"/proc/{entry}/stat")
            except (OSError, ValueError):
                continue
            out[int(entry)] = (int(fields[1]), name, fields)
    return out


def _thread_kind(name: str) -> str:
    if name.startswith("Executor task"):
        return "task"
    if name.startswith(("C1 Compiler", "C2 Compiler")):
        return "jit"
    if name.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "jvm_other"


def snapshot() -> dict:
    """Cumulative CPU seconds of this process tree: the driver, the
    Python workers, each JVM's total, and each JVM thread by id."""
    me = os.getpid()
    procs = _processes()
    jvms = [p for p, (ppid, name, _) in procs.items() if ppid == me and name == "java"]
    below = set(jvms)
    grew = True
    while grew:
        found = {p for p, (ppid, _, _) in procs.items() if ppid in below} - below
        below |= found
        grew = bool(found)
    threads = {}
    for jvm in jvms:
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                name, fields = _stat(f"/proc/{jvm}/task/{tid}/stat")
            except (OSError, ValueError):
                continue
            threads[tid] = (_thread_kind(name), _cpu(fields))
    return {
        "driver": _cpu(procs[me][2]),
        # a worker that exited was reaped by the daemon: its CPU is in the
        # daemon's cutime/cstime
        "workers": sum(_cpu(procs[p][2], children=True) for p in below - set(jvms)),
        "jvm": sum(_cpu(procs[p][2]) for p in jvms),
        "threads": threads,
    }


def split(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per column between two snapshots. A thread that ended
    in between counts under ``jvm_other``."""
    d = dict.fromkeys(COLUMNS, 0.0)
    d["driver"] = after["driver"] - before["driver"]
    d["workers"] = after["workers"] - before["workers"]
    for tid, (kind, cpu) in after["threads"].items():
        if kind != "jvm_other":
            d[kind] += cpu - before["threads"].get(tid, (kind, 0.0))[1]
    d["jvm_other"] = after["jvm"] - before["jvm"] - d["task"] - d["jit"] - d["gc"]
    return d


def _target(name: str, sf_dir: str | None):
    if name == "frame64":
        return lambda spark: spark.createDataFrame(
            [(f"key-{k}",) for k in range(64)], "entity_id string"
        )
    from aqi_featurestore_spark.plans import QUERIES

    if name not in QUERIES:
        raise SystemExit(f"unknown query {name!r}")
    if sf_dir is None:
        raise SystemExit(f"{name} is a registry query: pass --sf")
    return lambda spark: QUERIES[name](spark, sf_dir)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("target", help="registry query name, or frame64")
    p.add_argument("--sf", help="scale-factor directory for registry queries")
    p.add_argument("--reps", type=int, default=5)
    p.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE")
    args = p.parse_args(argv)
    build = _target(args.target, args.sf)
    conf = dict(kv.split("=", 1) for kv in args.conf)
    spark = get_spark("cpu-split", extra_conf=conf)
    try:
        print("rep  wall_s " + " ".join(f"{c:>9}" for c in COLUMNS) + "    total")
        for rep in range(1, args.reps + 1):
            before, t0 = snapshot(), time.perf_counter()
            build(spark).collect()
            wall, after = time.perf_counter() - t0, snapshot()
            d = split(before, after)
            cells = " ".join(f"{d[c]:9.2f}" for c in COLUMNS)
            print(f"{rep:3d} {wall:7.2f} {cells} {sum(d.values()):8.2f}", flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
