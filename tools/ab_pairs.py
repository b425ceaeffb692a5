"""Alternated A/B runs of the benchmark: a base revision against the
working tree.

    python3 tools/ab_pairs.py [--base REV] [--pairs N] [--workload W ...]
                              [--seed0 S]

The base revision (default ``HEAD``) is exported with ``git archive`` into
a temporary directory (``TMPDIR`` decides where; it is removed at the
end).  For each workload named in ``BENCHMARK.json`` (or given with
``--workload``) it runs ``N`` pairs of the benchmark's command with
``--seconds <run_seconds> --trace 0``, one run per side on the same seed
(``seed0 + i``), alternating which side goes first.  It prints every pair,
then per end-to-end metric the medians, the base's interquartile range,
the change's wins and the verdict against the metric's ``BENCHMARK.json``
bound, and the failed-op share of each side.

It reads ``perfbench/`` and ``BENCHMARK.json`` and never edits them.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str) -> str:
    """The files of ``rev`` in a new temporary directory."""
    out = tempfile.mkdtemp(prefix="ab-base-")
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", out], input=archive, check=True)
    return out


def run_once(checkout: str, command: list, workload: str, seed: int,
             seconds: float) -> dict:
    """One benchmark run: its metric values and failed-op share."""
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        sys.exit(f"run failed in {checkout} ({workload}, seed {seed}):\n"
                 f"{proc.stderr[-2000:]}")
    last = json.loads(lines[-1])
    values = {k: v["value"] for k, v in last["metrics"].items()}
    values["failed_share"] = last["failed"] / max(1, last["attempted"])
    return values


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdicts(pairs: list, metrics: list) -> list:
    """Text lines: one per metric, then the failed-op shares."""
    out = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        base = [p["base"][name] for p in pairs]
        change = [p["change"][name] for p in pairs]
        mb, mc = statistics.median(base), statistics.median(change)
        q1, q3 = quartiles(base)
        wins = sum((c < b) if lower else (c > b) for b, c in zip(base, change))
        worse = mc > mb * (1 + m["bound"]) if lower else mc < mb * (1 - m["bound"])
        delta = (mc - mb) / mb * 100 if mb else 0.0
        out.append(f"  {name:16s} base {mb:10.3f} [{q1:.3f}-{q3:.3f}]  change "
                   f"{mc:10.3f}  {delta:+6.1f}%  wins {wins}/{len(pairs)}  "
                   f"bound {m['bound']:.2f}: {'WORSE' if worse else 'ok'}")
    fb = statistics.median(p["base"]["failed_share"] for p in pairs)
    fc = statistics.median(p["change"]["failed_share"] for p in pairs)
    out.append(f"  failed-op share base {fb:.3f} change {fc:.3f}: "
               f"{'WORSE' if fc > fb else 'ok'}")
    return out


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", default="HEAD", help="revision to compare against")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed0", type=int, default=2001)
    args = ap.parse_args(argv)

    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    base_dir = export(args.base)
    results = {}
    try:
        for w in workloads:
            pairs = []
            for i in range(args.pairs):
                seed = args.seed0 + i
                sides = [("base", base_dir), ("change", ROOT)]
                pair = {"seed": seed}
                for side, checkout in sides if i % 2 == 0 else sides[::-1]:
                    pair[side] = run_once(checkout, bench["command"], w, seed,
                                          bench["run_seconds"])
                pairs.append(pair)
                print(f"{w} pair {i + 1} seed {seed}: " + json.dumps(
                    {s: pair[s] for s in ("base", "change")}), flush=True)
            results[w] = pairs
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    for w, pairs in results.items():
        print(f"{w} ({len(pairs)} pairs, base {args.base}):")
        print("\n".join(verdicts(pairs, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
