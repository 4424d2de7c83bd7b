#!/usr/bin/env python3
"""A/B the repository benchmark: a base revision against this checkout.

    python scripts/ab_perfbench.py --base HEAD~1 --workload ann_serving --pairs 10

Exports the committed files of ``--base`` (``git archive``, so nothing
is registered in this repository's ``.git``) and a copy of this
checkout's working tree (tracked and untracked files, not ignored ones)
into one temporary directory, and deletes it on every way out, a
SIGTERM included. Both sides so run from fresh directories at the same
depth, as a benchmark of record runs them. For pair ``i`` both sides
run ``perfbench/run.py --workload W --seed (first_seed + i) --seconds T
--trace 0`` from their own root, one after the other; the side that goes
first alternates from pair to pair. ``T`` is ``run_seconds`` of
``BENCHMARK.json``.

For every end-to-end metric of ``BENCHMARK.json`` it prints each side's
median and quartiles (``statistics.quantiles(n=4)``), how many pairs
the change won (ties count for neither side) and whether the gain rule
holds: the change wins at least nine tenths of the pairs and the medians
differ by more than the base's quartile spread. Failed operations are
printed per side. Each run's result line goes to stdout as it lands.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--base", required=True, help="git revision to compare against")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, required=True)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.pairs < 2:
        p.error("--pairs must be at least 2 (quartiles need two runs a side)")
    return args


def export_rev(rev: str, dest: str) -> str:
    """Write the committed files of ``rev`` under ``dest``; return its sha."""
    sha = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    archive = dest + ".tar"
    subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", "-o", archive, sha], check=True
    )
    with tarfile.open(archive) as tar:
        tar.extractall(dest, filter="data")
    os.remove(archive)
    return sha


def copy_worktree(dest: str) -> None:
    """Copy this checkout's tracked and untracked, not ignored, files."""
    names = subprocess.run(
        ["git", "-C", ROOT, "ls-files", "-z", "--cached", "--others",
         "--exclude-standard"],
        check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for name in filter(None, names):
        src = os.path.join(ROOT, name)
        if os.path.isfile(src):  # a file deleted but not yet staged is listed too
            os.makedirs(os.path.dirname(os.path.join(dest, name)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, name))


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run; its last stdout line is the result."""
    proc = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        out, err = proc.communicate()
    except BaseException:
        # SIGTERM, not SIGKILL: run.py then stops its own Spark JVM
        proc.terminate()
        proc.wait()
        raise
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-2000:])
        raise RuntimeError(f"perfbench run failed in {root} (exit {proc.returncode})")
    return json.loads(lines[-1])


def summarize(metrics: list[dict], runs: dict[str, list[dict]]) -> None:
    n = len(runs["base"])
    for m in metrics:
        name, better = m["name"], m["better"]
        vals = {side: [r["metrics"][name]["value"] for r in runs[side]] for side in runs}
        wins = sum(
            (c < b) if better == "lower" else (c > b)
            for b, c in zip(vals["base"], vals["change"])
        )
        q = {side: statistics.quantiles(v, n=4) for side, v in vals.items()}
        med = {side: statistics.median(v) for side, v in vals.items()}
        spread = q["base"][2] - q["base"][0]
        holds = wins >= 0.9 * n and abs(med["change"] - med["base"]) > spread
        print(
            f"{name} [{m['unit']}, {better} is better]: "
            f"base median {med['base']:.6g} (q1 {q['base'][0]:.6g}, q3 {q['base'][2]:.6g}); "
            f"change median {med['change']:.6g} (q1 {q['change'][0]:.6g}, "
            f"q3 {q['change'][2]:.6g}); change {med['change'] / med['base'] - 1:+.1%}; "
            f"change won {wins} of {n} pairs; gain rule {'holds' if holds else 'does not hold'}"
        )
    for side, rs in runs.items():
        print(
            f"{side}: {sum(r['failed'] for r in rs)} failed of "
            f"{sum(r['attempted'] for r in rs)} ops and checks"
        )


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="ab_perfbench_")
    # a SIGTERM unwinds like an error, so the finally below removes tmp
    signal.signal(signal.SIGTERM, lambda _sig, _frame: sys.exit(143))
    try:
        roots = {"base": os.path.join(tmp, "base"), "change": os.path.join(tmp, "change")}
        sha = export_rev(args.base, roots["base"])
        copy_worktree(roots["change"])
        print(f"base {args.base} = {sha}; change = working tree of {ROOT}", flush=True)
        runs: dict[str, list[dict]] = {"base": [], "change": []}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_once(roots[side], args.workload, seed, bench["run_seconds"])
                runs[side].append(r)
                print(f"pair {i + 1} seed {seed} {side}: {json.dumps(r)}", flush=True)
        summarize(bench["end_to_end"], runs)
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
